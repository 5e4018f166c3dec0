package graft

/** The shipped posture, read back from the live test fixture: SparkSpec
  * builds its session through [[GraftConf]], so these are the values
  * every spec, main and the server actually run with.
  */
class GraftConfSpec extends SparkSpec {

  private def conf(key: String): String = spark.conf.get(key)

  test("the fixture session runs the shipped posture") {
    assert(conf("spark.sql.session.timeZone") == "UTC")
    assert(conf("spark.sql.ansi.enabled") == "false")
    // Spark defaults the posture relies on without restating them.
    assert(conf("spark.sql.adaptive.enabled") == "true")
    assert(conf("spark.sql.adaptive.skewJoin.enabled") == "true")
    assert(conf("spark.sql.parquet.filterPushdown") == "true")
    assert(conf("spark.sql.optimizer.runtime.bloomFilter.enabled") == "true")
    assert(conf("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning") == "true")
    assert(conf("spark.sql.ui.retainedExecutions") == "3")
    // ANSI off in effect: a bad cast is NULL, not an error.
    assert(spark.sql("SELECT CAST('x' AS BIGINT) v").collect()(0).isNullAt(0))
  }

  test("the root session carries no BigQuery dialect overrides") {
    // Spark's SPLIT takes a regex ('.' matches every character); the
    // dialect's literal SPLIT lives only in engine child sessions.
    val r = spark.sql("SELECT SPLIT('a.b.c', '.') s").collect()(0).getSeq[String](0)
    assert(r.forall(_.isEmpty))
  }

  test("one shuffle partition per core") {
    assert(GraftConf.shufflePartitions(1) == 1)
    assert(GraftConf.shufflePartitions(4) == 4)
    assert(GraftConf.shufflePartitions(1000) == 1000)
    intercept[IllegalArgumentException](GraftConf.shufflePartitions(0))
  }
}
