package graft

/** CROSS-JVM rewrite conflict detection, as a per-round spec: two
  * separate processes run row-level rewrites against one graft table —
  * MERGE vs MERGE (stale insert decisions → duplicated keys), MERGE
  * vs compact (a compaction truncating a committed merge away — the
  * classic snapshot-isolation lost update), and SQL `MERGE INTO`
  * through a catalog vs compact. Protection under test is
  * [[graft.sources.GraftConflicts]]: the cross-JVM rewrite lock around
  * the shrink-then-grow window plus read-snapshot validation at the
  * commit, refusing stale rewrites with a retryable
  * [[graft.sources.GraftConcurrentWriteException]].
  * [[RewriteRaceDryRun.race]] validates: no duplicated keys, every
  * private key holds its writer's last committed payload, seed rows
  * carried untouched, log gap-free; children must exit clean with
  * every refusal retried to success. */
class RewriteRaceSpec extends SparkSpec {

  test("two JVMs merging concurrently never lose or duplicate a key") {
    val line = RewriteRaceDryRun.race(spark, 4, "merge")
    assert(line.startsWith("RACE ok=true"), line)
  }

  test("a compaction racing a merge never truncates its commit away") {
    val line = RewriteRaceDryRun.race(spark, 4, "compact")
    assert(line.startsWith("RACE ok=true"), line)
  }

  test("a compaction racing a SQL MERGE INTO never loses or duplicates a key") {
    // writer a merges through the graft_lake catalog: the DSv2
    // copy-on-write commit that lake MERGEs and TableDrain epochs take
    val line = RewriteRaceDryRun.race(spark, 4, "compact",
      modeA = "sql-merge")
    assert(line.startsWith("RACE ok=true"), line)
    info(line)
  }

  /** Runs a row-level `op` whose `gate(...)` calls block until
    * `concurrent` has committed, then expects the retryable refusal
    * and the table exactly as `concurrent` left it. SQL statements
    * surface the refusal inside Spark's job-abort error; the Scala API
    * (`scalaApi = true`) must throw the conflict itself. */
  private def staleRefuses(path: String, scalaApi: Boolean = false)(
      op: => Unit)(concurrent: => Unit): Unit = {
    val fmt = "graft.sources.GraftParquetTableProvider"
    def rows = spark.read.format(fmt).option("path", path).load()
      .collect().map(_.toSeq).sortBy(_.mkString(",")).toSeq
    val started = new java.util.concurrent.CountDownLatch(1)
    val go = new java.util.concurrent.CountDownLatch(1)
    SqlGate.armed = Some((started, go))
    import scala.concurrent.ExecutionContext.Implicits.global
    val run = scala.concurrent.Future(op)
    try {
      assert(started.await(120, java.util.concurrent.TimeUnit.SECONDS),
        "the statement never reached its gate")
      concurrent
    } finally go.countDown()
    val after = (graft.sources.GraftTableLog.latestVersion(path), rows)
    val e = intercept[Throwable](scala.concurrent.Await.result(run,
      scala.concurrent.duration.Duration(180, "s")))
    if (scalaApi)
      assert(e.isInstanceOf[graft.sources.GraftConcurrentWriteException], e)
    else assert(Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[graft.sources.GraftConcurrentWriteException]), e)
    SqlGate.armed = None
    assert((graft.sources.GraftTableLog.latestVersion(path), rows) == after,
      "a refused row-level commit must leave the table untouched")
    op // the retry re-plans at the new head and commits
    assert(graft.sources.GraftTableLog.latestVersion(path) ==
      after._1.map(_ + 1))
  }

  test("a SQL MERGE or UPDATE whose read went stale refuses, table untouched") {
    val wh = java.nio.file.Files.createTempDirectory("graft_sql_stale")
      .toString
    spark.conf.set("spark.sql.catalog.stale_cat", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.stale_cat.warehouse", wh)
    spark.udf.register("gate", (x: Long) => { SqlGate.pass(); x })
    val fmt = "graft.sources.GraftParquetTableProvider"
    def seed(name: String): String = {
      val path = s"$wh/ns/$name"
      spark.range(0, 20).selectExpr("id AS k", "id * 10 AS v").coalesce(1)
        .write.format(fmt).option("path", path).mode("append").save()
      path
    }
    def append(path: String): Unit =
      spark.range(100, 103).selectExpr("id AS k", "id AS v").write
        .format(fmt).option("path", path).mode("append").save()
    // MERGE is serializable: a concurrent append invalidates its read
    val m = seed("m")
    spark.range(0, 3).selectExpr("gate(id) AS k", "-1L AS v")
      .createOrReplaceTempView("stale_src")
    staleRefuses(m)(spark.sql(
      """MERGE INTO stale_cat.ns.m t USING stale_src s
        |ON t.k = s.k WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin))(append(m))
    // the Scala API's MERGE: the gate sits on the payload column, which
    // its source-key audit prunes, so only the merge job itself blocks
    val sm = seed("sm")
    staleRefuses(sm, scalaApi = true)(graft.sources.GraftMaintenance.merge(
      spark, sm, spark.range(0, 3).selectExpr("id AS k",
        "gate(id) - id - 1 AS v"), "k"))(append(sm))
    // UPDATE commutes with appends; a compaction archiving its
    // candidate file after the read is what invalidates it
    val u = seed("u")
    staleRefuses(u)(spark.sql(
      "UPDATE stale_cat.ns.u SET v = gate(v) WHERE k < 5")) {
      graft.sources.GraftMaintenance.compact(spark, u)
    }
    val su = seed("su")
    staleRefuses(su, scalaApi = true)(graft.sources.GraftMaintenance.update(
      spark, su, org.apache.spark.sql.functions.col("k") < 5,
      Map("v" -> org.apache.spark.sql.functions.expr("gate(v)")))) {
      graft.sources.GraftMaintenance.compact(spark, su)
    }
  }

  test("a candidate archived between planning and read is a retryable conflict") {
    // the in-process form of the compact-vs-merge window: the rewrite
    // planned `files`, then a concurrent compaction archived one
    val dir = java.nio.file.Files.createTempDirectory("graft_vanish")
      .resolve("t").toString
    val fmt = "graft.sources.GraftParquetTableProvider"
    spark.range(10).toDF("key").coalesce(1).write.format(fmt)
      .option("path", dir).mode("append").save()
    val schema = spark.read.format(fmt).option("path", dir).load().schema
    val files = graft.sources.GraftParquetV2.listFiles(dir)
    assert(new java.io.File(new java.net.URI(files.head)).delete())
    intercept[graft.sources.GraftConcurrentWriteException](
      graft.sources.GraftMaintenance.readCandidates(spark, dir, schema,
        files, Map.empty))
  }
}

/** Blocks the first caller of the `gate` UDF until released — holds a
  * SQL statement between its read and its commit. */
object SqlGate {
  @volatile var armed: Option[(java.util.concurrent.CountDownLatch,
    java.util.concurrent.CountDownLatch)] = None
  def pass(): Unit = armed.foreach { case (started, go) =>
    started.countDown()
    go.await(120, java.util.concurrent.TimeUnit.SECONDS)
  }
}
