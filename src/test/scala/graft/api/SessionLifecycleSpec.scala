package graft.api

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkSpec

/** A session owns what it creates: `bq.destroySession` releases its
  * views, insert snapshots and DAG work dir, and `bq.clearDag` deletes
  * the outputs of the tables it drops.
  */
class SessionLifecycleSpec extends SparkSpec {

  private lazy val rpc = new GraftRpc(spark)

  private def call(method: String, params: (String, Any)*): Any =
    rpc.dispatch(method, params.toMap)

  private def tmpDagDirs(): Set[Path] =
    Files.list(Paths.get(System.getProperty("java.io.tmpdir"))).iterator().asScala
      .filter(_.getFileName.toString.startsWith("graft-dag")).toSet

  private def persistentRddIds(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def sqlTree(): Path = {
    val root = graft.Scratch.dir("lifecycle")
    val ds = root.resolve("proj/mart")
    Files.createDirectories(ds)
    Files.writeString(ds.resolve("big_items.sql"), "SELECT id, tag FROM items WHERE id >= 2")
    root
  }

  test("destroySession releases the work dir, views and insert snapshots") {
    val dirsBefore = tmpDagDirs()
    val rddsBefore = persistentRddIds()
    val id = call("bq.createSession").asInstanceOf[Map[String, Any]]("sessionId").toString
    val gs = rpc.sessions.get(id).get
    call("bq.setDefaultProject", "sessionId" -> id, "project" -> "p1")
    call("bq.createTable", "sessionId" -> id, "tableName" -> "items",
      "schema" -> Seq(Map("name" -> "id", "type" -> "INT64"), Map("name" -> "tag", "type" -> "STRING")))
    call("bq.insert", "sessionId" -> id, "tableName" -> "items",
      "rows" -> Seq(Seq(1, "a"), Seq(2, "b"), Seq(3, "c")))
    call("bq.loadSqlDirectory", "sessionId" -> id, "rootPath" -> sqlTree().toString)
    call("bq.registerDag", "sessionId" -> id, "tables" -> Seq(
      Map("name" -> "src", "schema" -> Seq(Map("name" -> "v", "type" -> "INT64")),
        "rows" -> Seq(Seq(5), Seq(7))),
      Map("name" -> "doubled", "sql" -> "SELECT v * 2 AS v FROM src")))
    val run = call("bq.runDag", "sessionId" -> id).asInstanceOf[Map[String, Any]]
    assert(run("success") == true, run)
    val count = call("bq.query", "sessionId" -> id, "sql" -> "SELECT COUNT(*) FROM big_items")
      .asInstanceOf[Map[String, Any]]("rows").asInstanceOf[Seq[Map[String, Any]]]
      .head("f").asInstanceOf[Seq[Map[String, Any]]].head("v")
    assert(count == 2L)

    // The session's DAG outputs sit in one graft-dag* dir under java.io.tmpdir.
    val work = (tmpDagDirs() -- dirsBefore).toSeq match {
      case Seq(d) => d
      case other => fail(s"expected one new graft-dag dir, got $other")
    }
    assert(Files.isDirectory(work.resolve("big_items")) && Files.isDirectory(work.resolve("doubled")))
    val snapshots = persistentRddIds() -- rddsBefore
    assert(snapshots.nonEmpty, "inserts persist their snapshots")
    assert(gs.spark.catalog.listTables().collect().exists(_.name == "items"))

    assert(call("bq.destroySession", "sessionId" -> id) == Map("success" -> true))
    assert(!Files.exists(work), s"work dir $work left behind")
    assert(gs.spark.catalog.listTables().collect().forall(!_.isTemporary))
    assert((persistentRddIds() intersect snapshots).isEmpty)
    assert(call("bq.destroySession", "sessionId" -> id) == Map("success" -> false))

    val table = Seq(Map("name" -> "t", "sql" -> "SELECT 1 AS x"))
    val calls: Seq[(String, Seq[(String, Any)])] = Seq(
      "bq.query" -> Seq("sql" -> "SELECT 1"),
      "bq.createTable" -> Seq("tableName" -> "t", "schema" -> Seq(Map("name" -> "x", "type" -> "INT64"))),
      "bq.insert" -> Seq("tableName" -> "items", "rows" -> Seq(Seq(4, "d"))),
      "bq.registerDag" -> Seq("tables" -> table),
      "bq.runDag" -> Nil,
      "bq.retryDag" -> Nil,
      "bq.getDag" -> Nil,
      "bq.clearDag" -> Nil,
      "bq.loadParquet" -> Seq("tableName" -> "t", "path" -> "/nonexistent.parquet"),
      "bq.listTables" -> Nil,
      "bq.describeTable" -> Seq("tableName" -> "items"),
      "bq.setDefaultProject" -> Seq("project" -> "p2"),
      "bq.getDefaultProject" -> Nil,
      "bq.getProjects" -> Nil,
      "bq.getDatasets" -> Seq("project" -> "proj"),
      "bq.getTablesInDataset" -> Seq("project" -> "proj", "dataset" -> "mart"),
      "bq.loadParquetDirectory" -> Seq("rootPath" -> "/nonexistent"),
      "bq.loadSqlDirectory" -> Seq("rootPath" -> "/nonexistent"),
      "bq.loadDagFromDirectory" -> Seq("rootPath" -> "/nonexistent"))
    calls.foreach { case (method, params) =>
      val e = intercept[GraftError](call(method, ("sessionId" -> id) +: params: _*))
      assert(e.isInstanceOf[GraftError.UnknownSession], s"$method: $e")
    }
  }

  test("clearDag deletes the outputs of the tables it drops") {
    val dirsBefore = tmpDagDirs()
    val id = call("bq.createSession").asInstanceOf[Map[String, Any]]("sessionId").toString
    val gs = rpc.sessions.get(id).get
    call("bq.registerDag", "sessionId" -> id, "tables" -> Seq(
      Map("name" -> "src", "schema" -> Seq(Map("name" -> "v", "type" -> "INT64")),
        "rows" -> Seq(Seq(1), Seq(2))),
      Map("name" -> "plus_one", "sql" -> "SELECT v + 1 AS v FROM src"),
      Map("name" -> "total", "sql" -> "SELECT SUM(v) AS t FROM plus_one")))
    assert(call("bq.runDag", "sessionId" -> id).asInstanceOf[Map[String, Any]]("success") == true)
    val work = (tmpDagDirs() -- dirsBefore).toSeq match {
      case Seq(d) => d
      case other => fail(s"expected one new graft-dag dir, got $other")
    }
    val outputs = Seq("plus_one", "total").map(work.resolve)
    assert(outputs.forall(Files.isDirectory(_)))
    call("bq.clearDag", "sessionId" -> id)
    assert(outputs.forall(!Files.exists(_)), s"outputs left: ${outputs.filter(Files.exists(_))}")
    assert(!gs.spark.catalog.tableExists("plus_one"))
    call("bq.destroySession", "sessionId" -> id)
  }
}
