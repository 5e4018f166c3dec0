package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** Live-heap probe shared by every JVM the benchmark starts. When the
  * file `heap.req` appears in the directory named by the system property
  * `perfbench.probe.dir`, the probe runs a full GC and writes the live
  * heap in MB to `heap.mb` there. A file handshake keeps the probe off
  * the RPC wire and needs no attach tooling.
  */
object HeapProbe {
  def start(): Unit = sys.props.get("perfbench.probe.dir").foreach { d =>
    val dir = Paths.get(d)
    val t = new Thread(() => loop(dir), "perfbench-heap-probe")
    t.setDaemon(true)
    t.start()
  }

  /** Heap in use after a full GC, a pause for Spark's ContextCleaner to
    * drop the blocks of RDDs that GC found unreachable, and another GC.
    */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def loop(dir: Path): Unit = {
    val req = dir.resolve("heap.req")
    while (true) {
      if (Files.exists(req)) {
        Files.delete(req)
        val tmp = dir.resolve("heap.mb.tmp")
        Files.writeString(tmp, liveHeapMb().toString)
        Files.move(tmp, dir.resolve("heap.mb"), StandardCopyOption.ATOMIC_MOVE)
      }
      Thread.sleep(50)
    }
  }
}

/** Runs the shipped `graft.api.RpcServer` main unchanged, with only the
  * heap probe beside it. Usage: same arguments as RpcServer.
  */
object Launch {
  def main(args: Array[String]): Unit = {
    HeapProbe.start()
    graft.api.RpcServer.main(args)
  }
}
