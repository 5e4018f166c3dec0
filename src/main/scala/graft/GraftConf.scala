package graft

import org.apache.spark.sql.SparkSession

/** The one session posture. Every main (Bench, Verify, RpcServer,
  * ScaleGen) and the test fixture build their SparkSession from
  * `GraftConf.builder(appName, cores)`, so the tests, the oracle gate,
  * the bench and the server all run the same semantics. Callers add
  * only what is theirs: the master, scratch dirs, scan split size, and
  * Verify's shuffle-partition sweep.
  *
  * Settings that restate Spark defaults are not repeated here (AQE,
  * its partition coalescing and skew-join splitting, parquet filter
  * pushdown and runtime bloom filters are all on by default). The
  * BigQuery dialect is not installed into the root session: engine
  * sessions get it from `SessionManager.create`, and a cluster can opt
  * in for every session with `--conf spark.sql.extensions=
  * graft.GraftExtensions`.
  */
object GraftConf {

  /** One shuffle partition per core; AQE coalesces small shuffles and
    * splits skewed partitions at runtime.
    */
  def shufflePartitions(cores: Int): Int = {
    require(cores >= 1, s"cores must be positive, got $cores")
    cores
  }

  /** `cores` = total executor cores the app runs with. */
  def builder(appName: String, cores: Int): SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      .config("spark.sql.session.timeZone", "UTC")
      // BigQuery-style arithmetic: NULL on overflow or a bad cast, not
      // an error. The query builders and the parity specs assume it.
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.shuffle.partitions", shufflePartitions(cores).toString)
      // Let AQE re-plan inside cached plans too (default false): without
      // it every .cache() subtree plans with the static shuffle-partition
      // count (no coalescing, no runtime join re-selection) and each
      // cached-tier read pays a full wave of near-empty tasks. The
      // default only preserves cached output partitioning for consumers
      // that rely on co-partitioning, which no query here does (results
      // are partition-invariant by contract; Verify's
      // SPARK_GRAFT_SHUFFLE_PARTITIONS sweep pins it).
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.ui.enabled", "false")
      // The SQL status store keeps plan descriptions for up to 1000
      // executions even with the UI off. Several plans embed large
      // constant-folded literal arrays (IVF codebooks, LSH hyperplanes),
      // so hundreds of retained executions add up to GBs of heap in a
      // long-lived process. Keep only the last few.
      .config("spark.sql.ui.retainedExecutions", "3")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "1000")
      // The ContextCleaner frees broadcast blocks and shuffle state only
      // when a GC collects their weak references; on a large, lightly
      // collected heap that can take long enough for broadcasts to fill
      // the storage pool. Collect at least once a minute.
      .config("spark.cleaner.periodicGC.interval", "1min")
      .config("spark.log.level", "WARN")
}
