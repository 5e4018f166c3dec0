package perfbench

import java.io.{BufferedInputStream, InputStream, OutputStream}
import java.net.{ServerSocket, Socket}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.Base64
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.api.{GraftRpc, Json, RpcServer}
import graft.engine.{ExecutorMode, GraftSession}

/** The traced RPC server: the same `RpcServer.processMessage` over the
  * WebSocket transport, with a span around every call into a layer.
  *
  * Usage: `perfbench.TracedRpcServer --transport ws://localhost:PORT --spans FILE`
  *
  * The SparkSession is built by the shipped `RpcServer.main` itself
  * (started on a spare port nobody connects to), so the traced run uses
  * the server's own session settings. Spark listeners are registered
  * through Spark's listener configuration before that session exists.
  * Per request it records:
  *   - `api.json_parse`: `Json.parse` of the request text;
  *   - `engine.rewrite`: `GraftSession.rewriteBqSyntax` of a bq.query's SQL;
  *   - `api.process`: `RpcServer.processMessage`, with the response size
  *     and the persistent RDDs and cached blocks alive after it;
  *   - `api.json_write`: `Json.write` of the response value, replayed on
  *     the same payloads when the run ends so it adds no request latency.
  * Standard input closing ends the run: Spark stops (draining its
  * listener bus) and the spans are written to FILE as JSON lines.
  */
object TracedRpcServer {
  def main(args: Array[String]): Unit = {
    def arg(k: String) = args.sliding(2).collectFirst { case Array(`k`, v) => v }
      .getOrElse(throw new IllegalArgumentException(s"missing $k"))
    val transport = arg("--transport")
    val spansOut = arg("--spans")
    System.setProperty("spark.extraListeners", classOf[SparkTrace].getName)
    System.setProperty("spark.sql.queryExecutionListeners", classOf[QeTrace].getName)

    val spare = { val s = new ServerSocket(0); try s.getLocalPort finally s.close() }
    val shipped = new Thread(() => RpcServer.main(Array("--transport", s"ws://localhost:$spare")), "shipped-rpc-main")
    shipped.setDaemon(true)
    shipped.start()
    val spark = waitForSession()
    val rpc = new GraftRpc(spark, ExecutorMode.parse("mock"))
    val responses = new ConcurrentLinkedQueue[(String, String)]()

    def handle(msg: String): String = {
      val p0 = Trace.nowUs()
      val params = Json.parse(msg) match {
        case m: Map[String, Any] @unchecked => m
        case _ => Map.empty[String, Any]
      }
      val p1 = Trace.nowUs()
      val rid = String.valueOf(params.getOrElse("id", ""))
      val method = String.valueOf(params.getOrElse("method", ""))
      Trace.record("api.json_parse", rid, p0, p1)
      val ps = params.get("params") match {
        case Some(m: Map[String, Any] @unchecked) => m
        case _ => Map.empty[String, Any]
      }
      if (method == "bq.query" && ps.contains("sql"))
        Trace.span("engine.rewrite", rid)(GraftSession.rewriteBqSyntax(ps("sql").toString))
      val rows = ps.get("rows") match {
        case Some(rs: Seq[_]) => rs.size
        case _ => 0
      }
      val sc = spark.sparkContext
      val t0 = Trace.nowUs()
      val resp = Trace.tagged(sc, rid)(RpcServer.processMessage(msg, rpc))
      val t1 = Trace.nowUs()
      Trace.record("api.process", rid, t0, t1, Map(
        "method" -> method,
        "rows" -> rows,
        "response_bytes" -> resp.getBytes(UTF_8).length,
        "persistent_rdds" -> sc.getPersistentRDDs.size,
        "cached_blocks" -> sc.getRDDStorageInfo.map(_.numCachedPartitions).sum))
      responses.add(rid -> resp)
      resp
    }

    val port = transport.stripPrefix("ws://").split('/').head.split(':').last.toInt
    val server = new ServerSocket(port)
    val acceptor = new Thread(() => while (true) {
      val sock = server.accept()
      val t = new Thread(() => WsServer.serve(sock, handle), "traced-ws")
      t.setDaemon(true)
      t.start()
    }, "traced-ws-accept")
    acceptor.setDaemon(true)
    acceptor.start()
    System.err.println(s"perfbench: traced ws transport on $port")
    while (System.in.read() != -1) ()

    spark.stop()
    responses.asScala.foreach { case (rid, resp) =>
      val value = Json.parse(resp)
      Trace.span("api.json_write", rid)(Json.write(value))
    }
    Trace.writeJsonl(spansOut)
    System.exit(0)
  }

  private def waitForSession(): SparkSession = {
    val deadline = System.nanoTime() + 300L * 1000000000L
    while (System.nanoTime() < deadline) {
      SparkSession.getDefaultSession match {
        case Some(s) => return s
        case None => Thread.sleep(20)
      }
    }
    throw new IllegalStateException("shipped RpcServer main built no SparkSession")
  }
}

/** Server side of RFC 6455 for what the benchmark client sends:
  * unfragmented masked text frames, pings and a close frame.
  */
object WsServer {
  private val Guid = "258EAFA5-E914-47DA-95CA-C5AB0DC85B11"

  def serve(sock: Socket, handle: String => String): Unit =
    try {
      val in = new BufferedInputStream(sock.getInputStream)
      val out = sock.getOutputStream
      val key = readHeaders(in).collectFirst {
        case h if h.toLowerCase.startsWith("sec-websocket-key:") => h.split(":", 2)(1).trim
      }.getOrElse(throw new IllegalStateException("not a WebSocket upgrade"))
      val accept = Base64.getEncoder.encodeToString(
        MessageDigest.getInstance("SHA-1").digest((key + Guid).getBytes(UTF_8)))
      out.write(("HTTP/1.1 101 Switching Protocols\r\nUpgrade: websocket\r\nConnection: Upgrade\r\n" +
        s"Sec-WebSocket-Accept: $accept\r\n\r\n").getBytes(UTF_8))
      out.flush()
      var open = true
      while (open) {
        val b0 = in.read()
        if (b0 == -1) open = false
        else {
          val b1 = in.read()
          var len = (b1 & 0x7f).toLong
          if (len == 126) len = readN(in, 2).foldLeft(0L)((a, b) => (a << 8) | (b & 0xff))
          else if (len == 127) len = readN(in, 8).foldLeft(0L)((a, b) => (a << 8) | (b & 0xff))
          val mask = if ((b1 & 0x80) != 0) readN(in, 4) else Array.emptyByteArray
          val payload = readN(in, len.toInt)
          if (mask.nonEmpty) payload.indices.foreach(i => payload(i) = (payload(i) ^ mask(i % 4)).toByte)
          b0 & 0x0f match {
            case 0x1 => writeFrame(out, 0x1, handle(new String(payload, UTF_8)).getBytes(UTF_8))
            case 0x9 => writeFrame(out, 0xA, payload)
            case 0x8 => writeFrame(out, 0x8, payload); open = false
            case _ => ()
          }
        }
      }
    } catch { case NonFatal(_) => () }
    finally sock.close()

  private def readHeaders(in: InputStream): Seq[String] = {
    val buf = new StringBuilder
    while (!buf.endsWith("\r\n\r\n")) {
      val c = in.read()
      if (c == -1) throw new java.io.EOFException("connection closed during handshake")
      buf.append(c.toChar)
    }
    buf.toString.split("\r\n").toSeq.filter(_.nonEmpty)
  }

  private def readN(in: InputStream, n: Int): Array[Byte] = {
    val buf = new Array[Byte](n)
    var off = 0
    while (off < n) {
      val r = in.read(buf, off, n - off)
      if (r == -1) throw new java.io.EOFException("WebSocket stream closed mid-frame")
      off += r
    }
    buf
  }

  private def writeFrame(out: OutputStream, op: Int, payload: Array[Byte]): Unit = {
    val n = payload.length
    val head =
      if (n <= 125) Array(0x80 | op, n)
      else if (n <= 0xffff) Array(0x80 | op, 126, n >> 8, n & 0xff)
      else Array(0x80 | op, 127) ++ (7 to 0 by -1).map(i => ((n.toLong >> (8 * i)) & 0xff).toInt)
    out.write(head.map(_.toByte))
    out.write(payload)
    out.flush()
  }
}
