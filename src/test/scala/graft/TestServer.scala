package graft

/** Shared helper for specs that spawn the RPC server as a REAL child
  * JVM (process-boundary transport tests): the command line with the
  * JPMS --add-opens set Spark needs on Java 17, the test classpath, and
  * a small heap so lifecycle tests stay cheap.
  */
object TestServer {
  def serverCommand(transport: String, extraArgs: Seq[String] = Nil): Seq[String] = {
    val java = sys.props("java.home") + "/bin/java"
    val cp = sys.props("java.class.path")
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
      "java.base/java.io", "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
      "java.base/sun.util.calendar").flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    // Warehouse dir in tmp: qualified-name registration (CREATE
    // DATABASE in the session catalog) must not litter the repo cwd.
    val wh = _root_.java.nio.file.Files.createTempDirectory("graftwh").toString
    Seq(java) ++ addOpens ++ Seq(
      "-Xmx2g", "-Dgraft.rpc.master=local[2]",
      s"-Dspark.sql.warehouse.dir=$wh",
      "-cp", cp, "graft.api.RpcServer", "--transport", transport) ++ extraArgs
  }
}
