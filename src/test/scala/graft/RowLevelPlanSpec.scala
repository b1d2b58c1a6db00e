package graft

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.sources.{GraftDeletes, GraftMaintenance, GraftParquetTable, GraftParquetV2, GraftTableLog}

/** The Scala API's row-level commands ([[GraftMaintenance]] delete /
  * update / merge) and SQL `DELETE` all plan through Spark's DSv2
  * row-level rewrite: `ReplaceData` under copy-on-write, `WriteDelta`
  * under merge-on-read. On a range-clustered table each command that
  * touches one key range archives exactly the one file holding it, and
  * none writes a scratch table. */
class RowLevelPlanSpec extends SparkSpec {

  private val fmt = "graft.sources.GraftParquetTableProvider"

  /** Five appends of 20 keys each: file i holds k in [20i, 20i + 19]. */
  private def seed(path: String): String = {
    (0 until 5).foreach { i =>
      spark.range(20L * i, 20L * i + 20).selectExpr("id AS k", "id * 10 AS v")
        .coalesce(1).write.format(fmt).option("path", path)
        .mode("append").save()
    }
    assert(GraftParquetV2.listFiles(path).size == 5)
    path
  }

  private def freshTable(name: String): String = seed(
    java.nio.file.Files.createTempDirectory(s"graft_rowlevel_$name")
      .resolve("t").toString)

  private def rows(path: String): Map[Long, Long] =
    spark.read.format(fmt).option("path", path).load().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def archived(path: String): Int =
    GraftTableLog.archivedStatuses(path).size

  /** Runs `op` and returns the physical plan root of every query it
    * executed, as its node name, plus whether any plan wrote to a
    * `_rewrite-*` scratch table. */
  private def plansOf(op: => Unit): (Seq[String], Boolean) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        seen.add(qe)
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = seen.add(qe)
    }
    spark.listenerManager.register(l)
    try op finally {
      // listener events arrive on the bus asynchronously: wait for the
      // command's own event before unregistering
      val deadline = System.currentTimeMillis() + 20000
      def writes = seen.toArray(Array.empty[QueryExecution]).toSeq
        .map(_.executedPlan)
      while (!writes.exists(p => p.nodeName == "ReplaceData" ||
          p.nodeName == "WriteDelta") &&
          System.currentTimeMillis() < deadline) Thread.sleep(20)
      spark.listenerManager.unregister(l)
    }
    val plans = seen.toArray(Array.empty[QueryExecution]).toSeq
      .map(_.executedPlan)
    (plans.map(_.nodeName), plans.exists(_.toString.contains("_rewrite-")))
  }

  private def noScratch(path: String): Boolean =
    !new java.io.File(path).list().exists(_.startsWith("_rewrite-"))

  test("Scala delete/update/merge run as ReplaceData and archive one file each") {
    val p = freshTable("cow")
    val expect = collection.mutable.Map(rows(p).toSeq: _*)
    def check(what: String)(op: => Unit): Unit = {
      val before = archived(p)
      val (nodes, scratch) = plansOf(op)
      assert(nodes.contains("ReplaceData"), s"$what planned $nodes")
      assert(!scratch && noScratch(p), s"$what wrote a scratch table")
      assert(archived(p) - before == 1,
        s"$what must rewrite only the file holding its key range")
      assert(rows(p) == expect, what)
    }
    expect -= 50L
    check("delete") {
      GraftMaintenance.delete(spark, p, col("k") === 50)
    }
    expect(30L) = -3L
    check("update") {
      GraftMaintenance.update(spark, p, col("k") === 30,
        Map("v" -> lit(-3L)))
    }
    expect(70L) = -7L
    expect(75L) = -75L
    check("merge") {
      GraftMaintenance.merge(spark, p,
        spark.createDataFrame(Seq((70L, -7L), (75L, -75L))).toDF("k", "v"),
        "k")
    }
  }

  test("under merge-on-read a Scala delete runs as WriteDelta and archives no data file") {
    val p = freshTable("mor")
    val before = archived(p)
    spark.conf.set(GraftParquetTable.ModeConf, "merge-on-read")
    val (nodes, scratch) =
      try plansOf(GraftMaintenance.delete(spark, p, col("k") === 50))
      finally spark.conf.unset(GraftParquetTable.ModeConf)
    assert(nodes.contains("WriteDelta"), nodes)
    assert(!scratch && noScratch(p))
    assert(archived(p) == before, "a merge-on-read delete rewrites nothing")
    assert(GraftDeletes.liveDvFiles(p).size == 1)
    assert(rows(p).keySet == (0L until 100L).toSet - 50L)
  }

  test("a literal-true Scala delete truncates: every file archived in one version") {
    val p = freshTable("truncate")
    val head = GraftTableLog.latestVersion(p).get
    GraftMaintenance.delete(spark, p, lit(true))
    assert(GraftTableLog.latestVersion(p).contains(head + 1))
    assert(GraftParquetV2.listFiles(p).isEmpty && archived(p) == 5)
    assert(rows(p).isEmpty)
  }

  test("a simple-filter SQL DELETE runs as ReplaceData") {
    val wh = java.nio.file.Files.createTempDirectory("graft_rowlevel_wh")
      .toString
    spark.conf.set("spark.sql.catalog.rowlevel_cat",
      "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.rowlevel_cat.warehouse", wh)
    val p = seed(s"$wh/ns/t")
    val before = archived(p)
    val (nodes, _) = plansOf(
      spark.sql("DELETE FROM rowlevel_cat.ns.t WHERE k = 50"))
    assert(nodes.contains("ReplaceData"), nodes)
    assert(archived(p) - before == 1)
    assert(rows(p).keySet == (0L until 100L).toSet - 50L)
  }
}
