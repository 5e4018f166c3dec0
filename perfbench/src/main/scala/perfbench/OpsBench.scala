package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** In-process operator workload: calls `graft.SparkEntry.queries`
  * builders over one data directory and forces each result through the
  * noop sink, as `graft.Bench` does.
  *
  * Usage: `perfbench.OpsBench --data DIR --keys k1,k2 --out DIR --seconds N --min-passes M --warmup-passes W
  *        [--trace 1] [--setup-only]`
  *
  * Prints `READY <epoch us>` once the session is up (the end of set-up,
  * just before the first operator call) and waits for a `go` line on
  * standard input. Then:
  *   1. a cold pass that writes every key with an oracle query to
  *      OUT/<key> as parquet (untimed; the correctness check reads it)
  *      and OUT/oracle_sql.json;
  *   2. W untimed warm-up passes;
  *   3. at least M warm passes over all keys, and more until N seconds
  *      of passes have run, always finishing the pass in progress.
  * Prints one `RESULT <json>` line, then waits for standard input to
  * close so the caller can take a heap probe first.
  */
object OpsBench {
  def main(args: Array[String]): Unit = {
    def arg(k: String): Option[String] = args.sliding(2).collectFirst { case Array(`k`, v) => v }
    val dataDir = arg("--data").get
    val keys = arg("--keys").get.split(',').toSeq
    val outDir = arg("--out").get
    val seconds = arg("--seconds").get.toDouble
    val minPasses = arg("--min-passes").get.toInt
    val warmupPasses = arg("--warmup-passes").get.toInt
    val trace = arg("--trace").contains("1")
    if (trace) {
      System.setProperty("spark.extraListeners", classOf[SparkTrace].getName)
      System.setProperty("spark.sql.queryExecutionListeners", classOf[QeTrace].getName)
    }
    HeapProbe.start()
    val cpus = Runtime.getRuntime.availableProcessors().toString
    // Session settings copied from src/main/scala/graft/Bench.scala (the
    // operator bench's own posture; see the reasons there). Local dirs
    // come from the caller's java.io.tmpdir / spark.local.dir.
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", (4 * 1024 * 1024).toString)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ui.retainedExecutions", "3")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.cleaner.periodicGC.interval", "1min")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sc = spark.sparkContext
    val queries = SparkEntry.queries
    val oracle = SparkEntry.oracleSql
    val missing = keys.filterNot(queries.contains)
    require(missing.isEmpty, s"unknown keys: ${missing.mkString(",")}")
    println(s"READY ${Trace.nowUs()}")
    System.out.flush()
    if (args.contains("--setup-only")) System.exit(0)
    // The caller says "go" once the set-up probes started beside this
    // process are gone, so they do not contend with the cold pass.
    val stdin = new java.io.BufferedReader(new java.io.InputStreamReader(System.in))
    require(stdin.readLine() == "go", "expected go on standard input")

    // One operator call. Persistent RDDs and cached blocks are counted
    // before the cleanup that graft.Bench also does between keys.
    def call(key: String, rid: String, write: Option[String]): Map[String, Any] = {
      val t0 = Trace.nowUs()
      Trace.tagged(sc, rid) {
        val df = queries(key)(spark, dataDir)
        write match {
          case Some(path) => df.write.mode("overwrite").parquet(path)
          case None => df.write.format("noop").mode("overwrite").save()
        }
      }
      val t1 = Trace.nowUs()
      val rdds = sc.getPersistentRDDs.size
      val blocks = sc.getRDDStorageInfo.map(_.numCachedPartitions).sum
      Trace.record("ops.call", rid, t0, t1, Map("key" -> key, "persistent_rdds" -> rdds, "cached_blocks" -> blocks))
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      System.gc()
      Map("key" -> key, "s" -> (t1 - t0) / 1e6, "persistent_rdds" -> rdds, "cached_blocks" -> blocks)
    }

    val cold = keys.map(k => call(k, s"cold:$k", oracle.get(k).map(_ => s"$outDir/$k")))
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      graft.api.Json.write(keys.flatMap(k => oracle.get(k).map(k -> _)).toMap))

    (1 to warmupPasses).foreach(w => keys.foreach(k => call(k, s"warm$w:$k", None)))
    val passes = Seq.newBuilder[Seq[Map[String, Any]]]
    val t0 = System.nanoTime()
    var pass = 0
    while (pass < minPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
      pass += 1
      passes += keys.map(k => call(k, s"p$pass:$k", None))
    }
    if (trace) {
      spark.stop()
      Trace.writeJsonl(s"$outDir/spans.jsonl")
    }
    println("RESULT " + graft.api.Json.write(Map("cold" -> cold, "passes" -> passes.result())))
    System.out.flush()
    while (stdin.readLine() != null) ()
    System.exit(0)
  }
}
