package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.sources.{GraftMaintenance, GraftMv, GraftTableLog, MvAgg}

/** Incrementally-maintained materialized views ([[graft.sources.GraftMv]]):
  * every refresh must land the SAME contents as a from-scratch recompute
  * of the source head — across inserts, COW deletes (the min/max rebuild
  * path), merges, repack-only compactions (watermark-only no-op), NULL
  * group keys, all-NULL aggregate inputs — and the state-CAS commit
  * protocol must keep crashed or racing refreshes invisible to readers.
  * Also pins the format-level DECIMAL column support the MV state table
  * rides on (INT64-backed ≤18 digits, BINARY above). */
class GraftMvSpec extends SparkSpec {

  private val fmt = "graft.sources.GraftParquetTableProvider"

  private def tmp(name: String): String = {
    val d = Files.createTempDirectory(s"graft_mv_$name").toFile
    d.delete()
    d.getAbsolutePath
  }

  private def docs = spark.read.parquet(s"$sfDir/documents.parquet")
    .select("doc_id", "lang", "n_chars", "source")

  private def slice(k: Int): DataFrame =
    docs.filter(pmod(col("doc_id"), lit(4)) === k)

  private val aggs = Seq(
    MvAgg("count", "*", "n"),
    MvAgg("count", "source", "n_src"),
    MvAgg("sum", "n_chars", "chars"),
    MvAgg("avg", "n_chars", "avg_chars"),
    MvAgg("min", "doc_id", "lo"),
    MvAgg("max", "doc_id", "hi"))

  /** From-scratch recompute with the same read()-side projection — the
    * parity oracle every refresh is held to. */
  private def recompute(src: String): Seq[Row] =
    spark.read.format(fmt).option("path", src).load()
      .groupBy("lang")
      .agg(count(lit(1)).as("n"), count(col("source")).as("n_src"),
        sum(col("n_chars").cast("decimal(38,0)")).cast("long").as("chars"),
        (sum(col("n_chars").cast("decimal(38,0)")).cast("double") /
          count(col("n_chars"))).as("avg_chars"),
        min("doc_id").as("lo"), max("doc_id").as("hi"))
      .orderBy("lang").collect().toSeq

  private def served(mv: String): Seq[Row] =
    GraftMv.read(spark, mv).orderBy("lang").collect().toSeq

  private def append(src: String, df: DataFrame): Unit =
    df.write.format(fmt).option("path", src).mode("append").save()

  test("create computes the full state; read serves the projection") {
    val src = tmp("create"); val mv = tmp("create_mv")
    append(src, slice(0))
    GraftMv.create(spark, mv, src, Seq("lang"), aggs)
    assert(served(mv) == recompute(src))
  }

  test("insert-only refresh folds arithmetically and merges extrema") {
    val src = tmp("ins"); val mv = tmp("ins_mv")
    append(src, slice(0))
    GraftMv.create(spark, mv, src, Seq("lang"), aggs)
    append(src, slice(1))
    append(src, slice(2))
    GraftMv.refresh(spark, mv)
    assert(served(mv) == recompute(src))
  }

  test("delete refresh rebuilds affected groups; extrema cannot survive") {
    val src = tmp("del"); val mv = tmp("del_mv")
    append(src, slice(0)); append(src, slice(1))
    GraftMv.create(spark, mv, src, Seq("lang"), aggs)
    // delete a doc_id band that includes per-group extrema
    GraftMaintenance.delete(spark, src,
      col("doc_id") < lit(100L) || col("doc_id") > lit(50000L))
    GraftMv.refresh(spark, mv)
    assert(served(mv) == recompute(src))
  }

  test("merge refresh applies update images as delete+insert") {
    val src = tmp("mrg"); val mv = tmp("mrg_mv")
    append(src, slice(0))
    GraftMv.create(spark, mv, src, Seq("lang"), aggs)
    val updates = slice(0).filter(pmod(col("doc_id"), lit(8)) === 0)
      .withColumn("n_chars", col("n_chars") + 7)
    GraftMaintenance.merge(spark, src,
      updates.unionByName(slice(3)), "doc_id")
    GraftMv.refresh(spark, mv)
    assert(served(mv) == recompute(src))
  }

  test("repack-only compaction advances the watermark, not the view") {
    val src = tmp("cpt"); val mv = tmp("cpt_mv")
    append(src, slice(0).repartition(4)); append(src, slice(1).repartition(4))
    GraftMv.create(spark, mv, src, Seq("lang"), aggs)
    val before = GraftMv.latestState(mv).get
    GraftMaintenance.compact(spark, src)
    GraftMv.refresh(spark, mv)
    val after = GraftMv.latestState(mv).get
    assert(after._3 == before._3, "MV version must not move on a repack")
    assert(after._2 > before._2, "watermark must advance past the repack")
    assert(served(mv) == recompute(src))
  }

  test("no-op refresh returns the current version without a new state") {
    val src = tmp("nop"); val mv = tmp("nop_mv")
    append(src, slice(0))
    val v = GraftMv.create(spark, mv, src, Seq("lang"), aggs)
    val st = GraftMv.latestState(mv).get
    assert(GraftMv.refresh(spark, mv) == v)
    assert(GraftMv.latestState(mv).get == st)
  }

  test("NULL is a group key and all-NULL inputs aggregate to NULL") {
    import spark.implicits._
    val src = tmp("nul"); val mv = tmp("nul_mv")
    // lang NULL rows form their own group; their n_chars are all NULL →
    // sum/avg must read back NULL (not 0), count-col skips them
    val part1 = Seq(
      (1L, Option("en"), Option(10L), Option("a")),
      (2L, Option("en"), Option(20L), None),
      (3L, Option.empty[String], Option.empty[Long], Option("b")))
      .toDF("doc_id", "lang", "n_chars", "source")
    val part2 = Seq(
      (4L, Option.empty[String], Option.empty[Long], None),
      (5L, Option("fr"), Option(5L), Option("c")))
      .toDF("doc_id", "lang", "n_chars", "source")
    append(src, part1)
    GraftMv.create(spark, mv, src, Seq("lang"), aggs)
    append(src, part2)
    GraftMv.refresh(spark, mv)
    assert(served(mv) == recompute(src))
    val nullGroup = GraftMv.read(spark, mv)
      .filter(col("lang").isNull).collect().toSeq
    assert(nullGroup.size == 1)
    assert(nullGroup.head.getAs[Any]("chars") == null,
      "all-NULL sum must be NULL")
    assert(nullGroup.head.getAs[Any]("avg_chars") == null,
      "all-NULL avg must be NULL")
    assert(nullGroup.head.getAs[Long]("n") == 2L)
    assert(nullGroup.head.getAs[Long]("n_src") == 1L)
  }

  test("groups vanish when their last row is deleted") {
    val src = tmp("gone"); val mv = tmp("gone_mv")
    append(src, slice(0))
    GraftMv.create(spark, mv, src, Seq("lang"), aggs)
    val langs = spark.read.format(fmt).option("path", src).load()
      .select("lang").distinct().collect().map(_.getString(0))
      .filter(_ != null).sorted
    GraftMaintenance.delete(spark, src, col("lang") === lit(langs.head))
    GraftMv.refresh(spark, mv)
    assert(served(mv) == recompute(src))
    assert(!GraftMv.read(spark, mv).collect()
      .exists(_.getString(0) == langs.head))
  }

  test("a crashed refresh's orphan commit is invisible to readers") {
    val src = tmp("orphan"); val mv = tmp("orphan_mv")
    append(src, slice(0))
    GraftMv.create(spark, mv, src, Seq("lang"), aggs)
    val good = served(mv)
    // simulate: a refresh that committed MV data but crashed before the
    // state CAS — the raw head moves, the recorded state does not
    GraftMv.stateSnapshot(spark, mv).limit(1)
      .write.format(fmt).option("path", mv).mode("overwrite").save()
    assert(served(mv) == good, "read() must pin the recorded state")
    // and the next refresh proceeds from the recorded watermark
    append(src, slice(1))
    GraftMv.refresh(spark, mv)
    assert(served(mv) == recompute(src))
  }

  test("a creation crash before the first state record heals on refresh") {
    val src = tmp("heal"); val mv = tmp("heal_mv")
    append(src, slice(0))
    GraftMv.create(spark, mv, src, Seq("lang"), aggs)
    // simulate the crash: definition exists, state records do not
    val dir = new org.apache.hadoop.fs.Path(mv, "_graft_mv")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(dir).filter(_.getPath.getName.startsWith("state."))
      .foreach(s => fs.delete(s.getPath, false))
    intercept[IllegalStateException](GraftMv.read(spark, mv))
    GraftMv.refresh(spark, mv)
    assert(served(mv) == recompute(src))
  }

  test("refresh after a source rollback lands the rolled-back contents") {
    val src = tmp("rb"); val mv = tmp("rb_mv")
    append(src, slice(0))
    GraftMv.create(spark, mv, src, Seq("lang"), aggs)
    append(src, slice(1))
    GraftMv.refresh(spark, mv)
    GraftMaintenance.rollback(src, 1L) // new head = v1 contents
    GraftMv.refresh(spark, mv)
    assert(served(mv) == recompute(src))
  }

  test("concurrent refreshes: one state wins, parity holds") {
    val src = tmp("race"); val mv = tmp("race_mv")
    append(src, slice(0))
    GraftMv.create(spark, mv, src, Seq("lang"), aggs)
    append(src, slice(1))
    val threads = (0 until 2).map { _ =>
      new Thread(() => GraftMv.refresh(spark, mv))
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(served(mv) == recompute(src))
    // exactly one watermark advance landed per source version processed
    val (_, srcV, _) = GraftMv.latestState(mv).get
    assert(srcV == GraftTableLog.latestVersion(src).get)
  }

  test("merge-mode concurrent refreshes never serve a double fold") {
    val src = tmp("mrace"); val mv = tmp("mrace_mv")
    append(src, slice(0))
    GraftMv.create(spark, mv, src, Seq("lang"), aggs, stateMerge = true)
    val before = served(mv)
    append(src, slice(1))
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 2).map { _ =>
      new Thread(() =>
        try GraftMv.refresh(spark, mv)
        catch { case e: Throwable => failures.add(e) })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    // a MERGE whose read went stale refuses (retryable); nothing else
    failures.forEach(e =>
      assert(e.isInstanceOf[graft.sources.GraftConcurrentWriteException], e))
    // served is the old state or the new one, never a fold applied twice
    val now = served(mv)
    assert(now == before || now == recompute(src), "double-folded state")
    GraftMv.refresh(spark, mv)
    assert(served(mv) == recompute(src))
    assert(GraftMv.latestState(mv).get._2 ==
      GraftTableLog.latestVersion(src).get)
  }

  test("merge-mode: a refresh committed between the head check and the state MERGE is never claimed twice") {
    val src = tmp("dbl"); val mv = tmp("dbl_mv")
    append(src, slice(0))
    GraftMv.create(spark, mv, src, Seq("lang"), aggs, stateMerge = true)
    val before = served(mv)
    append(src, slice(1))
    val (seq0, _, mvV0) = GraftMv.latestState(mv).get
    val fs = new org.apache.hadoop.fs.Path(mv)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val claim = new org.apache.hadoop.fs.Path(mv,
      f"_graft_mv/state.${seq0 + 1}%010d")
    // refresher A's whole MERGE lands inside B's window; A then stalls
    // before its state claim (the claim file is taken back: A never
    // made it). B's MERGE reads A's rows and folds the delta again
    val b = GraftMv.refresh(spark, mv, () => {
      assert(GraftMv.refresh(spark, mv) == mvV0 + 1)
      assert(fs.delete(claim, false))
    })
    assert(GraftTableLog.latestVersion(mv).get == mvV0 + 2,
      "B's MERGE must have committed on top of A's")
    assert(GraftMv.latestState(mv).get._1 == seq0,
      "B must not claim a commit that did not read the recorded state")
    assert(b == mvV0 && served(mv) == before)
    // the next refresh heals the double-folded head by one overwrite
    GraftMv.refresh(spark, mv)
    assert(served(mv) == recompute(src))
    // A claims in time: B returns A's version, which readers serve
    append(src, slice(2))
    val mvV1 = GraftMv.latestState(mv).get._3
    val headA = GraftTableLog.latestVersion(mv).get + 1
    val b2 = GraftMv.refresh(spark, mv, () => {
      assert(GraftMv.refresh(spark, mv) == headA)
    })
    assert(b2 == headA && GraftMv.latestState(mv).get._3 == headA &&
      headA > mvV1)
    assert(served(mv) == recompute(src))
  }

  test("definition is write-once and validated") {
    val src = tmp("val"); val mv = tmp("val_mv")
    append(src, slice(0))
    intercept[IllegalArgumentException](GraftMv.create(spark, mv, src,
      Seq("lang"), Seq(MvAgg("median", "n_chars", "m"))))
    intercept[IllegalArgumentException](GraftMv.create(spark, mv, src,
      Seq("nope"), Seq(MvAgg("count", "*", "n"))))
    intercept[IllegalArgumentException](GraftMv.create(spark, mv, src,
      Seq("lang"), Seq(MvAgg("sum", "source", "s"))))
    intercept[IllegalArgumentException](GraftMv.create(spark, mv, src,
      Seq("lang"), Seq(MvAgg("count", "*", "bad__alias"))))
    intercept[IllegalArgumentException](GraftMv.create(spark, mv, src,
      Seq("lang"), Seq(MvAgg("count", "*", "_mv_op"))))
    GraftMv.create(spark, mv, src, Seq("lang"), Seq(MvAgg("count", "*", "n")))
    intercept[IllegalStateException](GraftMv.create(spark, mv, src,
      Seq("lang"), Seq(MvAgg("count", "*", "n"))))
    // a definition that predates the reserved prefix refuses to refresh
    // with a clear message instead of an ambiguous-column failure
    val defFile = new org.apache.hadoop.fs.Path(mv, "_graft_mv/def")
    val fs = defFile.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val body = graft.sources.GraftFsContract.readBody(fs, defFile)
    val out = fs.create(defFile, true)
    try out.write(body.replace("agg=count:*:n", "agg=count:*:_mv_op")
      .getBytes("UTF-8")) finally out.close()
    append(src, slice(1))
    val e = intercept[IllegalStateException](GraftMv.refresh(spark, mv))
    assert(e.getMessage.contains("reserved '_mv_' prefix"), e.getMessage)
  }

  test("merge-mode refresh: full lifecycle parity, untouched files survive") {
    val src = tmp("mm"); val mv = tmp("mm_mv")
    append(src, slice(0)); append(src, slice(1))
    // pin the range-cluster partition count: at fixture scale AQE
    // correctly collapses the tiny state to one file, which would make
    // the untouched-files assertion below vacuous
    sys.props("graft.mv.statePartitions") = "4"
    try {
    GraftMv.create(spark, mv, src, Seq("lang"), aggs, stateMerge = true)
    assert(served(mv) == recompute(src))
    val filesBefore = graft.sources.GraftParquetV2.listFiles(mv).toSet
    assert(filesBefore.size > 1, "range-clustered state must span files")
    // touch ONE group: all docs of one lang get +1 char via merge
    val lang0 = spark.read.format(fmt).option("path", src).load()
      .select("lang").na.drop().limit(1).collect().head.getString(0)
    val upd = spark.read.format(fmt).option("path", src).load()
      .filter(col("lang") === lit(lang0))
      .withColumn("n_chars", col("n_chars") + 1)
    GraftMaintenance.merge(spark, src, upd, "doc_id")
    GraftMv.refresh(spark, mv)
    assert(served(mv) == recompute(src))
    val filesAfter = graft.sources.GraftParquetV2.listFiles(mv).toSet
    assert(filesBefore.intersect(filesAfter).nonEmpty,
      "a one-group refresh must not rewrite the whole state table")
    // delete path (min/max rebuild) and group-vanish under merge mode
    GraftMaintenance.delete(spark, src, col("lang") === lit(lang0))
    GraftMv.refresh(spark, mv)
    assert(served(mv) == recompute(src))
    assert(!GraftMv.read(spark, mv).collect()
      .exists(_.getString(0) == lang0), "vanished group must delete")
    // insert-only lap
    append(src, slice(2))
    GraftMv.refresh(spark, mv)
    assert(served(mv) == recompute(src))
    } finally sys.props.remove("graft.mv.statePartitions")
  }

  test("merge-mode state keys stay audit-clean (mergeTrustedKeys invariant)") {
    // The state MERGE runs no null/duplicate-key audit of its source:
    // the source is one row per touched group from a groupBy, keyed by
    // the injective length-prefixed keyExpr, with the range from the
    // same aggregate that sized the delta. Pin that promise at the
    // OBSERVABLE output: after every merge-mode refresh shape (insert
    // fold, delete-driven rebuild, group vanish, update images), the
    // state table must hold exactly one NON-NULL, UNIQUE _mv_key per
    // row. A future refactor that fed an audit-dirty source into the
    // MERGE would accumulate duplicate or null state keys and fail here
    // loudly instead of corrupting silently.
    val src = tmp("mtk"); val mv = tmp("mtk_mv")
    append(src, slice(0))
    GraftMv.create(spark, mv, src, Seq("lang"), aggs, stateMerge = true)
    def assertClean(stage: String): Unit = {
      val keys = GraftMv.stateSnapshot(spark, mv)
        .select(col("_mv_key")).collect()
        .map(r => if (r.isNullAt(0)) null else r.getString(0))
      assert(keys.forall(_ != null), s"$stage: null state key")
      assert(keys.distinct.length == keys.length,
        s"$stage: duplicate state keys — the trusted merge path was fed " +
          "a non-unique source")
    }
    assertClean("create")
    append(src, slice(1))
    GraftMv.refresh(spark, mv) // insert-only fold through trusted merge
    assertClean("insert fold")
    assert(served(mv) == recompute(src))
    val lang0 = spark.read.format(fmt).option("path", src).load()
      .select("lang").na.drop().limit(1).collect().head.getString(0)
    val upd = spark.read.format(fmt).option("path", src).load()
      .filter(col("lang") === lit(lang0))
      .withColumn("n_chars", col("n_chars") + 1)
    GraftMaintenance.merge(spark, src, upd, "doc_id")
    GraftMv.refresh(spark, mv) // update images: delete+insert per row
    assertClean("update images")
    GraftMaintenance.delete(spark, src, col("lang") === lit(lang0))
    GraftMv.refresh(spark, mv) // rebuild path + group vanish
    assertClean("delete/vanish")
    assert(served(mv) == recompute(src))
  }

  test("hll state folds incrementally on inserts, rebuilds on deletes") {
    val src = tmp("hll"); val mv = tmp("hll_mv")
    // parity oracle: direct HllAgg estimate over the current source —
    // folded sketch state must serve the IDENTICAL estimate (register
    // max over disjoint parts ≡ sketch of the union)
    def expect(): Seq[Row] =
      spark.read.format(fmt).option("path", src).load()
        .groupBy("lang")
        .agg(count(lit(1)).as("n"),
          graft.expr.HllAgg(graft.expr.Fingerprint64(
            col("source").cast("string")), GraftMv.HllStateP).as("nd_src"))
        .orderBy("lang").collect().toSeq
    append(src, slice(0))
    GraftMv.create(spark, mv, src, Seq("lang"), Seq(
      MvAgg("count", "*", "n"), MvAgg("hll", "source", "nd_src")))
    assert(served(mv) == expect())
    append(src, slice(1))                       // insert-only fold
    GraftMv.refresh(spark, mv)
    assert(served(mv) == expect())
    val lang0 = spark.read.format(fmt).option("path", src).load()
      .select("lang").na.drop().limit(1).collect().head.getString(0)
    GraftMaintenance.delete(spark, src,        // delete → group rebuild
      col("lang") === lit(lang0) && pmod(col("doc_id"), lit(2)) === 0)
    GraftMv.refresh(spark, mv)
    assert(served(mv) == expect())
    val upd = spark.read.format(fmt).option("path", src).load()
      .filter(pmod(col("doc_id"), lit(3)) === 0)
      .withColumn("source", concat(col("source"), lit("_u")))
    GraftMaintenance.merge(spark, src, upd, "doc_id")  // update images
    GraftMv.refresh(spark, mv)
    assert(served(mv) == expect())
  }

  test("refreshStream drains appends to the head; checkpoint restarts no-op") {
    val src = tmp("rs"); val mv = tmp("rs_mv"); val ck = tmp("rs_ck")
    append(src, slice(0))
    GraftMv.create(spark, mv, src, Seq("lang"), aggs)
    append(src, slice(1)); append(src, slice(2))
    GraftMv.refreshStream(spark, mv, ck).awaitTermination()
    assert(served(mv) == recompute(src))
    val st0 = GraftMv.latestState(mv).get
    assert(st0._2 == GraftTableLog.latestVersion(src).get,
      "drained watermark must equal the source head")
    // same checkpoint, nothing new: no batch fires, state untouched
    GraftMv.refreshStream(spark, mv, ck).awaitTermination()
    assert(GraftMv.latestState(mv).get == st0)
    // a ROW-LEVEL REWRITE commit flows as an ordinary version-feed
    // signal (the row stream's append-only contract would refuse here)
    val lang0 = spark.read.format(fmt).option("path", src).load()
      .select("lang").na.drop().limit(1).collect().head.getString(0)
    GraftMaintenance.delete(spark, src, col("lang") === lit(lang0))
    append(src, slice(3))
    GraftMv.refreshStream(spark, mv, ck).awaitTermination()
    assert(served(mv) == recompute(src))
  }

  test("merge-mode multi-group vanish deletes in the one MERGE; untouched groups survive") {
    val src = tmp("cap"); val mv = tmp("cap_mv")
    append(src, slice(0)); append(src, slice(1))
    sys.props("graft.mv.statePartitions") = "4"
    try {
      GraftMv.create(spark, mv, src, Seq("lang"), aggs, stateMerge = true)
      // retire SEVERAL whole groups: their DELETE clause and the key
      // range in ON must leave every untouched out-of-range group in
      // the state files the MERGE does not rewrite
      val langs = spark.read.format(fmt).option("path", src).load()
        .select("lang").na.drop().distinct().limit(3).collect()
        .map(_.getString(0)).toSeq
      assert(langs.size >= 2, "fixture needs several groups")
      GraftMaintenance.delete(spark, src, col("lang").isin(langs: _*))
      val before = GraftTableLog.versions(mv).size
      GraftMv.refresh(spark, mv)
      assert(GraftTableLog.versions(mv).size == before + 1,
        "a multi-group vanish must commit ONE MV version")
      assert(served(mv) == recompute(src),
        "untouched groups must survive the multi-group vanish")
    } finally sys.props.remove("graft.mv.statePartitions")
  }

  test("merge-mode: each refresh commits one MV version (vanish + update + insert, insert-only, compaction, merge-on-read)") {
    val src = tmp("one"); val mv = tmp("one_mv"); val mvAr = tmp("one_mv_ar")
    append(src, slice(0)); append(src, slice(1))
    // two views over one source: `aggs` (min/max) sends delete-touched
    // groups through the rebuild rows ('replace' / 'delete'); the
    // arithmetic-only view folds every group and vanishes one through
    // the MERGE's net-row-count DELETE clause
    val arith = aggs.filterNot(a => a.func == "min" || a.func == "max")
    val arithCols = Seq("lang") ++ arith.map(_.alias)
    def arithServed: Seq[Row] = GraftMv.read(spark, mvAr).orderBy("lang")
      .collect().toSeq
    def arithRecompute: Seq[Row] = recompute(src).map(r =>
      Row.fromSeq(arithCols.map(c => r.get(r.fieldIndex(c)))))
    sys.props("graft.mv.statePartitions") = "4"
    try {
      GraftMv.create(spark, mv, src, Seq("lang"), aggs, stateMerge = true)
      GraftMv.create(spark, mvAr, src, Seq("lang"), arith, stateMerge = true)
      def span(what: String, versions: Int)(change: => Unit): Unit = {
        change
        Seq(mv, mvAr).foreach { v =>
          val before = GraftTableLog.versions(v).size
          GraftMv.refresh(spark, v)
          assert(GraftTableLog.versions(v).size == before + versions,
            s"$what: $v must commit $versions MV version(s)")
        }
        assert(served(mv) == recompute(src), what)
        assert(arithServed == arithRecompute, what)
      }
      val langs = spark.read.format(fmt).option("path", src).load()
        .select("lang").na.drop().distinct().collect().map(_.getString(0))
        .sorted.toSeq
      assert(langs.size >= 3, "fixture needs several groups")
      span("vanish + update + insert", 1) {
        // one group vanishes, the others' rows update, one group is new
        GraftMaintenance.delete(spark, src, col("lang") === lit(langs.head))
        val upd = spark.read.format(fmt).option("path", src).load()
          .filter(pmod(col("doc_id"), lit(3)) === 0)
          .withColumn("n_chars", col("n_chars") + 5)
        val fresh = slice(3).limit(5).withColumn("lang", lit("zz_new"))
        GraftMaintenance.merge(spark, src, upd.unionByName(fresh), "doc_id")
      }
      assert(!served(mv).exists(_.getString(0) == langs.head))
      assert(served(mv).exists(_.getString(0) == "zz_new"))
      span("insert-only", 1)(append(src, slice(2)))
      span("compaction-only", 0)(GraftMaintenance.compact(spark, src))
      // merge-on-read: the source delete writes deletion vectors and the
      // state MERGE plans as WriteDelta — still one MV version
      spark.conf.set("spark.graft.rowLevelMode", "merge-on-read")
      try span("merge-on-read vanish", 1) {
        GraftMaintenance.delete(spark, src, col("lang") === lit(langs(1)))
      } finally spark.conf.unset("spark.graft.rowLevelMode")
      Seq(mv, mvAr).foreach(v => assert(GraftMv.latestState(v).get._2 ==
        GraftTableLog.latestVersion(src).get, s"$v watermark at the head"))
    } finally sys.props.remove("graft.mv.statePartitions")
  }

  test("merge-mode refresh names its jobs, runs one row-level command, restores the caller's description") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
    val src = tmp("desc"); val mv = tmp("desc_mv")
    append(src, slice(0))
    GraftMv.create(spark, mv, src, Seq("lang"), aggs, stateMerge = true)
    GraftMaintenance.delete(spark, src, pmod(col("doc_id"), lit(5)) === 0)
    append(src, slice(1))
    val sc = spark.sparkContext
    val group = s"graft-mv-desc-${java.util.UUID.randomUUID()}"
    val descs = new ConcurrentLinkedQueue[String]()
    val marker = new CountDownLatch(1)
    val jobs = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group) {
          val d = e.properties.getProperty("spark.job.description")
          if (d == "marker") marker.countDown() else descs.add(d)
        }
    }
    // the executed plan root of every query over the view's relation
    // (the source's own delete may report after registration)
    val plans = new ConcurrentLinkedQueue[String]()
    def note(qe: QueryExecution): Unit =
      if (qe.analyzed.toString.contains(s"graft_parquet($mv)"))
        plans.add(qe.executedPlan.nodeName)
    val qel = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        note(qe)
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = note(qe)
    }
    sc.addSparkListener(jobs)
    spark.listenerManager.register(qel)
    try {
      sc.setJobGroup(group, "caller's job")
      try {
        GraftMv.refresh(spark, mv)
        assert(sc.getLocalProperty("spark.job.description") == "caller's job",
          "refresh must restore the caller's job description")
        sc.setJobDescription("marker")
        sc.parallelize(Seq(1), 1).count()
      } finally sc.clearJobGroup()
      assert(marker.await(60, TimeUnit.SECONDS),
        "the listener never saw the marker job")
      val seen = descs.toArray(Array.empty[String]).toSet
      Seq("delta", "state merge").foreach { phase =>
        assert(seen.contains(s"graft mv refresh $mv: $phase"),
          s"no job described as the $phase phase: $seen")
      }
      // the command's own execution event can trail its jobs
      val deadline = System.currentTimeMillis() + 20000
      def rowLevel = plans.toArray(Array.empty[String]).toSeq
        .filter(n => n == "ReplaceData" || n == "WriteDelta")
      while (rowLevel.isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      assert(rowLevel == Seq("ReplaceData"),
        s"one row-level command per refresh, got $rowLevel")
    } finally {
      sc.removeSparkListener(jobs)
      spark.listenerManager.unregister(qel)
    }
    assert(served(mv) == recompute(src))
  }

  test("merge-mode heals an orphaned head by one full overwrite") {
    val src = tmp("mmo"); val mv = tmp("mmo_mv")
    append(src, slice(0))
    GraftMv.create(spark, mv, src, Seq("lang"), aggs, stateMerge = true)
    val good = served(mv)
    // orphan: raw head commit no state record points at
    GraftMv.stateSnapshot(spark, mv).limit(1)
      .write.format(fmt).option("path", mv).mode("overwrite").save()
    assert(served(mv) == good)
    append(src, slice(1))
    GraftMv.refresh(spark, mv) // must NOT merge onto the orphan
    assert(served(mv) == recompute(src))
  }

  test("CALL create_mv/refresh_mv drive the same state from SQL") {
    val cat = "graft_mv_sql"
    val warehouse = tmp("wh")
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", warehouse)
    val src = s"$warehouse/ns/src"
    append(src, slice(0))
    val created = spark.sql(s"CALL $cat.system.create_mv(" +
      "view => 'ns.v', source => 'ns.src', group_by => 'lang', " +
      "aggs => 'count:*:n,sum:n_chars:chars,min:doc_id:lo')").head()
    assert(created.getLong(1) == 1L, "watermark must be the source head")
    append(src, slice(1))
    val refreshed = spark.sql(
      s"CALL $cat.system.refresh_mv(view => 'ns.v')").head()
    assert(refreshed.getLong(1) == 2L)
    val got = GraftMv.read(spark, s"$warehouse/ns/v")
      .orderBy("lang").collect().toSeq
    val exp = spark.read.format(fmt).option("path", src).load()
      .groupBy("lang")
      .agg(count(lit(1)).as("n"),
        sum(col("n_chars").cast("decimal(38,0)")).cast("long").as("chars"),
        min("doc_id").as("lo"))
      .orderBy("lang").collect().toSeq
    assert(got == exp)
    // the view itself is a catalog table: VERSION AS OF the returned
    // view_version reads the committed state relation
    val pinned = spark.sql(s"SELECT count(*) FROM $cat.ns.v " +
      s"VERSION AS OF ${refreshed.getLong(0)}").head().getLong(0)
    assert(pinned == exp.size)
    // merge-mode + hll reach SQL too: state_merge flag, hll agg spec
    spark.sql(s"CALL $cat.system.create_mv(" +
      "view => 'ns.v2', source => 'ns.src', group_by => 'lang', " +
      "aggs => 'count:*:n,hll:source:nd_src', state_merge => true)")
    append(src, slice(2))
    spark.sql(s"CALL $cat.system.refresh_mv(view => 'ns.v2')")
    val (_, _, _, merge) = GraftMv.readDef(s"$warehouse/ns/v2")
    assert(merge, "state_merge => true must persist in the definition")
    val got2 = GraftMv.read(spark, s"$warehouse/ns/v2")
      .orderBy("lang").collect().toSeq
    val exp2 = spark.read.format(fmt).option("path", src).load()
      .groupBy("lang")
      .agg(count(lit(1)).as("n"),
        graft.expr.HllAgg(graft.expr.Fingerprint64(
          col("source").cast("string")), GraftMv.HllStateP).as("nd_src"))
      .orderBy("lang").collect().toSeq
    assert(got2 == exp2)
    // drop_mv removes the view whole; refresh then refuses; the name
    // is reusable (create's exclusive-create sees a clean slate)
    assert(spark.sql(s"CALL $cat.system.drop_mv(view => 'ns.v2')")
      .head().getBoolean(0))
    assert(intercept[Exception] {
      spark.sql(s"CALL $cat.system.refresh_mv(view => 'ns.v2')")
    }.getMessage != null)
    spark.sql(s"CALL $cat.system.create_mv(" +
      "view => 'ns.v2', source => 'ns.src', group_by => 'lang', " +
      "aggs => 'count:*:n')")
    assert(GraftMv.read(spark, s"$warehouse/ns/v2").count() > 0)
  }

  test("decimal columns round-trip through the connector (INT64 + BINARY)") {
    import spark.implicits._
    val dir = tmp("dec")
    val df = Seq(
      (1L, BigDecimal("12345.67"), BigDecimal("-9876543210.123456")),
      (2L, BigDecimal("-0.01"), BigDecimal("99999999999999999999.999999")),
      (3L, BigDecimal("0.00"), BigDecimal("0.000001")))
      .toDF("id", "small", "big")
      .select(col("id"), col("small").cast("decimal(18,2)").as("small"),
        col("big").cast("decimal(38,6)").as("big"))
    val withNull = df.unionByName(
      Seq(4L).toDF("id")
        .withColumn("small", lit(null).cast("decimal(18,2)"))
        .withColumn("big", lit(null).cast("decimal(38,6)")))
    withNull.write.format(fmt).option("path", dir).mode("append").save()
    val back = spark.read.format(fmt).option("path", dir).load()
    assert(back.schema("small").dataType.simpleString == "decimal(18,2)")
    assert(back.schema("big").dataType.simpleString == "decimal(38,6)")
    val exp = withNull.orderBy("id").collect().toSeq
    assert(back.orderBy("id").collect().toSeq == exp)
    // and external readers see real decimals (standard logical type)
    val ext = spark.read.parquet(dir).select("id", "small", "big")
    assert(ext.orderBy("id").collect().toSeq == exp)
  }

  test("decimal aggregation pushes through the connector scan unharmed") {
    import spark.implicits._
    val dir = tmp("dec_agg")
    val df = (1 to 1000).map(i => (i.toLong, (i % 7).toString,
      BigDecimal(i) * BigDecimal("0.01")))
      .toDF("id", "k", "v")
      .select(col("id"), col("k"), col("v").cast("decimal(38,6)").as("v"))
    df.write.format(fmt).option("path", dir).mode("append").save()
    val got = spark.read.format(fmt).option("path", dir).load()
      .groupBy("k").agg(sum("v").as("s")).orderBy("k").collect().toSeq
    val exp = df.groupBy("k").agg(sum("v").as("s")).orderBy("k")
      .collect().toSeq
    assert(got == exp)
  }
}
