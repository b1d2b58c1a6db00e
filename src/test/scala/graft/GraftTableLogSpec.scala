package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sources.{GraftMaintenance, GraftParquetV2, GraftTableLog}

/** The connector's TABLE-FORMAT layer ([[graft.sources.GraftTableLog]]):
  * every commit writes a version snapshot, truncate-overwrite archives
  * the replaced generation instead of deleting it, `versionAsOf` /
  * `changesSince` resolve versioned read targets, compaction bin-packs
  * a new version without losing history, and vacuum reclaims history
  * past the retention horizon — loudly, never silently. */
class GraftTableLogSpec extends SparkSpec {

  private val fmt = "graft.sources.GraftParquetTableProvider"

  private def tmp(name: String): String = {
    val d = Files.createTempDirectory(s"graft_log_$name").toFile
    d.delete()
    d.getAbsolutePath
  }

  private def docs = spark.read.parquet(s"$sfDir/documents.parquet")
    .select("doc_id", "source", "lang", "n_chars")

  private def slice(k: Int): DataFrame =
    docs.filter(pmod(col("doc_id"), lit(4)) === k)

  private def read(path: String, opts: (String, String)*): DataFrame = {
    val r = spark.read.format(fmt).option("path", path)
    opts.foldLeft(r) { case (acc, (k, v)) => acc.option(k, v) }.load()
  }

  private def ids(df: DataFrame): Seq[Long] =
    df.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq

  test("each commit writes one snapshot; history ledgers files and rows") {
    val dir = tmp("hist")
    slice(0).coalesce(1).write.format(fmt).option("path", dir)
      .mode("append").save()
    slice(1).repartition(2).write.format(fmt).option("path", dir)
      .mode("append").save()
    assert(GraftTableLog.versions(dir) == Seq(1L, 2L))
    val h = GraftMaintenance.history(dir)
    assert(h.map(_.version) == Seq(1L, 2L))
    assert(h(0).files == 1 && h(1).files == 3)
    assert(h(0).rows.contains(slice(0).count()))
    assert(h(1).rows.contains(slice(0).count() + slice(1).count()))
  }

  test("versionAsOf pins a snapshot; append deltas read with changesSince") {
    val dir = tmp("travel")
    slice(0).coalesce(1).write.format(fmt).option("path", dir)
      .mode("append").save()
    slice(1).coalesce(1).write.format(fmt).option("path", dir)
      .mode("append").save()
    slice(2).coalesce(1).write.format(fmt).option("path", dir)
      .mode("append").save()

    assert(ids(read(dir, "versionAsOf" -> "1")) == ids(slice(0)))
    assert(ids(read(dir, "versionAsOf" -> "2")) ==
      ids(slice(0).unionByName(slice(1))))
    // delta since v1 to latest = slices 1+2; bounded delta = slice 1
    assert(ids(read(dir, "changesSince" -> "1")) ==
      ids(slice(1).unionByName(slice(2))))
    assert(ids(read(dir, "changesSince" -> "1", "changesUntil" -> "2")) ==
      ids(slice(1)))
    // pushdown composes with travel: filters prune within the pinned set
    val filtered = read(dir, "versionAsOf" -> "2")
      .filter(col("doc_id") < 100L)
    assert(ids(filtered) == ids(slice(0).unionByName(slice(1))
      .filter(col("doc_id") < 100L)))
  }

  test("overwrite archives the old generation: live reads see ONLY the new one, versionAsOf still answers") {
    val dir = tmp("ovw")
    slice(0).coalesce(1).write.format(fmt).option("path", dir)
      .mode("append").save()
    slice(1).coalesce(1).write.format(fmt).option("path", dir)
      .mode("overwrite").save()
    // live: the new generation only — never the union of both
    assert(ids(read(dir)) == ids(slice(1)))
    // history: both versions; v1 resolves from the archive
    assert(GraftTableLog.versions(dir) == Seq(1L, 2L))
    assert(ids(read(dir, "versionAsOf" -> "1")) == ids(slice(0)))
    // the archived file physically exists under _graft_archive
    val arch = new java.io.File(dir, GraftTableLog.ArchiveDir)
    assert(arch.isDirectory && arch.listFiles().nonEmpty)
    // a change feed ACROSS the rewrite refuses loudly
    val e = intercept[Exception](ids(read(dir, "changesSince" -> "1")))
    assert(e.getMessage.contains("not append-only"))
  }

  test("compaction bin-packs a new version; data identical, old version intact, vacuum reclaims it") {
    val dir = tmp("compact")
    slice(0).repartition(6).write.format(fmt).option("path", dir)
      .mode("append").save()
    slice(1).repartition(4).write.format(fmt).option("path", dir)
      .mode("append").save()
    val before = GraftParquetV2.listFiles(dir)
    assert(before.size >= 8)
    val want = ids(slice(0).unionByName(slice(1)))

    val v = GraftMaintenance.compact(spark, dir)
    assert(v == 3L)
    val after = GraftParquetV2.listFiles(dir)
    assert(after.size < before.size, s"${after.size} !< ${before.size}")
    assert(ids(read(dir)) == want)                       // rows unchanged
    assert(ids(read(dir, "versionAsOf" -> "2")) == want) // history intact
    assert(ids(read(dir, "versionAsOf" -> "1")) == ids(slice(0)))
    // the compacted table still prunes: manifest covers the new files
    val manifest = GraftParquetV2.loadStatsManifest(dir)
    assert(after.map(f => new org.apache.hadoop.fs.Path(f).getName)
      .forall(manifest.contains))

    // vacuum to the head version: archived generations reclaimed,
    // dropped versions refuse loudly, live table untouched
    val deleted = GraftMaintenance.vacuum(dir, retainLast = 1)
    assert(deleted == before.size, s"expected ${before.size} got $deleted")
    assert(GraftTableLog.versions(dir) == Seq(3L))
    assert(ids(read(dir)) == want)
    val e = intercept[Exception](ids(read(dir, "versionAsOf" -> "1")))
    assert(e.getMessage.contains("not found") ||
      e.getMessage.contains("vacuumed"))
  }

  test("partitioned tables compact under their layout; travel composes with partition pruning") {
    val dir = tmp("part")
    slice(0).repartition(3).write.format(fmt).option("path", dir)
      .option("partitionBy", "lang").mode("append").save()
    slice(1).repartition(3).write.format(fmt).option("path", dir)
      .option("partitionBy", "lang").mode("append").save()
    val want = ids(slice(0).unionByName(slice(1)))
    val before = GraftParquetV2.listFiles(dir).size

    GraftMaintenance.compact(spark, dir)
    val files = GraftParquetV2.listFiles(dir)
    assert(files.size < before)
    // layout preserved: every file still under lang=
    assert(files.forall(_.contains("lang=")))
    assert(ids(read(dir)) == want)
    // versionAsOf of the pre-compaction snapshot, with a partition
    // filter — archived files' col=value paths still prune
    val v2en = read(dir, "versionAsOf" -> "2").filter(col("lang") === "en")
    assert(ids(v2en) == ids(slice(0).unionByName(slice(1))
      .filter(col("lang") === "en")))
  }

  test("the streaming sink's epochs are versions; streaming read refuses travel options") {
    val dir = tmp("stream")
    slice(0).coalesce(1).write.format(fmt).option("path", dir)
      .mode("append").save()
    val e = intercept[Exception] {
      spark.readStream.format(fmt).option("path", dir)
        .option("versionAsOf", "1")
        .schema(docs.schema).load()
        .writeStream.format("noop")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
    }
    assert(e.getMessage != null)
  }

  test("concurrent appends both commit: optimistic version claims, no lost rows") {
    val dir = tmp("conc")
    // 4 writers race: each appends a disjoint slice through the
    // connector from its own thread. The version-claim loop must
    // linearize them — 4 monotone versions, every row exactly once.
    val threads = (0 to 3).map { k =>
      new Thread(() => slice(k).coalesce(1).write.format(fmt)
        .option("path", dir).mode("append").save())
    }
    threads.foreach(_.start())
    threads.foreach(_.join(120000))
    assert(GraftTableLog.versions(dir) == Seq(1L, 2L, 3L, 4L))
    val want = ids(docs) // slices 0..3 partition the table
    assert(ids(read(dir)) == want)
    // the head snapshot covers every file (some possibly as bare
    // `present` rows — conservatively scanned, never lost)
    assert(ids(read(dir, "versionAsOf" -> "4")) == want)
    // version file counts are monotone (snapshots list the live dir at
    // METADATA-commit time; racing writers' data renames may land
    // before an earlier snapshot writes — more-covered, never less)
    val h = GraftMaintenance.history(dir)
    val counts = h.map(_.files)
    assert(counts.zip(counts.tail).forall { case (a, b) => a <= b } &&
      counts.last == 4, s"non-monotone history: $counts")
  }

  test("clustered compaction: range-disjoint files prune under a point filter") {
    val dir = tmp("cluster")
    // doc_id striped across files: before clustering, EVERY file's
    // zone map spans the whole id range, so nothing prunes
    docs.repartition(6).write.format(fmt).option("path", dir)
      .mode("append").save()
    val want = ids(docs)
    val lo = want.head
    // small target → several packed files, range-clustered on doc_id
    val bytes = graft.sources.GraftParquetV2.totalFileBytes(dir)
    GraftMaintenance.compact(spark, dir, targetFileBytes = bytes / 4,
      clusterBy = Seq("doc_id"))
    assert(ids(read(dir)) == want) // rows unchanged
    val files = GraftParquetV2.listFiles(dir)
    assert(files.size >= 2, s"expected a multi-file packed table: $files")
    // a point filter now plans a strict subset of the files
    val filtered = read(dir).filter(col("doc_id") === lo)
    val scan = filtered.queryExecution.executedPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.scan.asInstanceOf[graft.sources.GraftParquetScan]
    }.getOrElse(fail("no GraftParquetScan in the plan"))
    val planned = scan.planInputPartitions().length
    assert(planned < files.size,
      s"clustered zone maps must prune: planned $planned of ${files.size}")
    assert(ids(filtered) == Seq(lo))
  }

  test("selective delete: only files whose zone maps admit the predicate rewrite") {
    val dir = tmp("del")
    // two RANGE-DISJOINT files: A holds doc_id < split, B the rest
    val split = ids(docs)(ids(docs).size / 2)
    docs.filter(col("doc_id") < split).coalesce(1).write.format(fmt)
      .option("path", dir).mode("append").save()
    docs.filter(col("doc_id") >= split).coalesce(1).write.format(fmt)
      .option("path", dir).mode("append").save()
    val before = GraftParquetV2.listFiles(dir)
    assert(before.size == 2)
    val fileB = before.maxBy { f => // the high-range file
      spark.read.parquet(f).agg(max("doc_id")).head.getLong(0)
    }

    val cut = ids(docs).head + (split - ids(docs).head) / 2
    val v = GraftMaintenance.delete(spark, dir, col("doc_id") < cut)
    assert(v == 3L)
    // rows: exactly the predicate's complement
    assert(ids(read(dir)) == ids(docs.filter(col("doc_id") >= cut)))
    // file B was NOT rewritten: its exact path survives
    assert(GraftParquetV2.listFiles(dir).contains(fileB),
      "zone-map-disjoint file must be carried untouched")
    // pre-delete version intact (until vacuumed)
    assert(ids(read(dir, "versionAsOf" -> "2")) == ids(docs))
    // deleting a range no file can hold is a provable no-op: no new version
    assert(GraftMaintenance.delete(spark, dir,
      col("doc_id") < ids(docs).head - 1000) == 3L)
  }

  test("delete keeps NULL-predicate rows (SQL DELETE semantics)") {
    import spark.implicits._
    val dir = tmp("delnull")
    Seq((1L, Some(5.0)), (2L, None), (3L, Some(50.0)))
      .toDF("id", "v").coalesce(1).write.format(fmt)
      .option("path", dir).mode("append").save()
    GraftMaintenance.delete(spark, dir, col("v") > 10.0)
    val got = read(dir).select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(1L, 2L), s"NULL-cond row must survive: $got")
  }

  test("selective update: assignments on matches, disjoint files untouched") {
    val dir = tmp("upd")
    // two RANGE-DISJOINT files: A holds doc_id < split, B the rest
    val split = ids(docs)(ids(docs).size / 2)
    docs.filter(col("doc_id") < split).coalesce(1).write.format(fmt)
      .option("path", dir).mode("append").save()
    docs.filter(col("doc_id") >= split).coalesce(1).write.format(fmt)
      .option("path", dir).mode("append").save()
    val fileB = GraftParquetV2.listFiles(dir).maxBy { f =>
      spark.read.parquet(f).agg(max("doc_id")).head.getLong(0)
    }
    val cut = ids(docs).head + (split - ids(docs).head) / 2
    val v = GraftMaintenance.update(spark, dir, col("doc_id") < cut,
      Map("n_chars" -> (col("n_chars") + lit(1000000L))))
    assert(v == 3L)
    val want = docs.withColumn("n_chars",
      when(col("doc_id") < cut, col("n_chars") + 1000000L)
        .otherwise(col("n_chars")))
    assert(read(dir).orderBy("doc_id").collect().toSeq ==
      want.orderBy("doc_id").collect().toSeq)
    // file B was NOT rewritten: its exact path survives
    assert(GraftParquetV2.listFiles(dir).contains(fileB),
      "zone-map-disjoint file must be carried untouched")
    // pre-update version intact (until vacuumed)
    assert(read(dir, "versionAsOf" -> "2").agg(sum("n_chars")).head.get(0) ==
      docs.agg(sum("n_chars")).head.get(0))
    // a range no file can hold is a provable no-op: no new version
    assert(GraftMaintenance.update(spark, dir,
      col("doc_id") < ids(docs).head - 1000,
      Map("n_chars" -> lit(0L))) == 3L)
    // unknown SET target refuses
    val e = intercept[IllegalArgumentException](GraftMaintenance.update(
      spark, dir, lit(true), Map("nope" -> lit(1))))
    assert(e.getMessage.contains("not in schema"))
  }

  test("update keeps NULL-predicate rows and casts to the column type") {
    import spark.implicits._
    val dir = tmp("updnull")
    Seq((1L, Some(5.0)), (2L, None), (3L, Some(50.0)))
      .toDF("id", "v").coalesce(1).write.format(fmt)
      .option("path", dir).mode("append").save()
    // NULL condition rows keep their values; the int literal lands as
    // the column's DOUBLE
    GraftMaintenance.update(spark, dir, col("v") > 10.0,
      Map("v" -> lit(7)))
    val got = read(dir).orderBy("id").collect()
      .map(r => (r.getLong(0), Option(r.get(1)))).toSeq
    assert(got == Seq((1L, Some(5.0)), (2L, None), (3L, Some(7.0))), s"$got")
  }

  test("merge: updates replace, inserts land, disjoint files carried untouched") {
    val dir = tmp("merge")
    val split = ids(docs)(ids(docs).size / 2)
    val loDf = docs.filter(col("doc_id") < split)
    val hiDf = docs.filter(col("doc_id") >= split)
    loDf.coalesce(1).write.format(fmt).option("path", dir)
      .mode("append").save()
    hiDf.coalesce(1).write.format(fmt).option("path", dir)
      .mode("append").save()
    val fileB = GraftParquetV2.listFiles(dir).maxBy { f =>
      spark.read.parquet(f).agg(max("doc_id")).head.getLong(0)
    }
    // source: update half the LOW file's rows, insert brand-new ids
    // BELOW the low range — the high file's key range stays disjoint
    val updates = loDf.filter(pmod(col("doc_id"), lit(2)) === 0)
      .withColumn("n_chars", col("n_chars") + 1000000L)
    val inserts = loDf.limit(3)
      .withColumn("doc_id", -col("doc_id") - 1)
    val source = updates.unionByName(inserts)
    GraftMaintenance.merge(spark, dir, source, "doc_id")

    val want = loDf.withColumn("n_chars",
        when(pmod(col("doc_id"), lit(2)) === 0,
          col("n_chars") + 1000000L).otherwise(col("n_chars")))
      .unionByName(hiDf).unionByName(inserts)
    assert(read(dir).orderBy("doc_id").collect().toSeq ==
      want.orderBy("doc_id").collect().toSeq)
    assert(GraftParquetV2.listFiles(dir).contains(fileB),
      "key-range-disjoint file must be carried untouched")
    // ambiguous merges refuse
    val dup = source.unionByName(source)
    val e = intercept[Exception](
      GraftMaintenance.merge(spark, dir, dup, "doc_id"))
    assert(e.getMessage.contains("duplicate source keys"))
  }

  test("streaming startingVersion: the stream tails only what landed after the snapshot") {
    val dir = tmp("startv")
    val ckpt = tmp("startv_ckpt")
    slice(0).coalesce(1).write.format(fmt).option("path", dir)
      .mode("append").save()
    slice(1).coalesce(1).write.format(fmt).option("path", dir)
      .mode("append").save()
    slice(2).coalesce(1).write.format(fmt).option("path", dir)
      .mode("append").save()
    val seen = collection.mutable.ArrayBuffer.empty[Long]
    val q = spark.readStream.format(fmt).option("path", dir)
      .option("startingVersion", "1")
      .schema(docs.schema).load()
      .writeStream.option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) =>
        seen.synchronized {
          seen ++= b.select("doc_id").collect().map(_.getLong(0))
        }; ()
      }.start()
    q.awaitTermination()
    // exactly the post-v1 appends: slices 1 and 2, never slice 0
    assert(seen.sorted.toSeq == ids(slice(1).unionByName(slice(2))))
    // batch reads refuse the streaming-only option loudly
    val e = intercept[Exception](
      read(dir, "startingVersion" -> "1").count())
    assert(e.getMessage.contains("STREAMING read option"))
  }

  test("schema evolution across versions: old snapshots read under the widened schema") {
    import spark.implicits._
    val dir = tmp("evolve")
    Seq((1L, "a"), (2L, "b")).toDF("id", "name").coalesce(1)
      .write.format(fmt).option("path", dir).mode("append").save()
    // widen: an appended generation carries an extra column; the reader
    // supplies the union schema externally (the connector's add-column
    // evolution), old files read the new column as null
    val widened = org.apache.spark.sql.types.StructType(
      read(dir).schema.fields :+ org.apache.spark.sql.types.StructField(
        "score", org.apache.spark.sql.types.DoubleType))
    Seq((3L, "c", 1.5)).toDF("id", "name", "score").coalesce(1)
      .write.format(fmt).option("path", dir).mode("append").save()
    def readAs(opts: (String, String)*): DataFrame = {
      val r = spark.read.format(fmt).schema(widened).option("path", dir)
      opts.foldLeft(r) { case (acc, (k, v)) => acc.option(k, v) }.load()
    }
    // head: all three rows, null score for the v1 generation
    val head = readAs().orderBy("id").collect()
    assert(head.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(head(0).isNullAt(2) && head(1).isNullAt(2) &&
      head(2).getDouble(2) == 1.5)
    // time travel to v1 under the widened schema: the old generation
    // alone, score all-null — schema evolution composes with the log
    val v1 = readAs("versionAsOf" -> "1").orderBy("id").collect()
    assert(v1.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(v1.forall(_.isNullAt(2)))
  }

  test("row-level CDC feed: tails through a rewrite; compaction-only diff is empty") {
    val dir = tmp("cdc")
    slice(0).coalesce(1).write.format(fmt).option("path", dir)
      .mode("append").save()                                        // v1
    slice(1).coalesce(1).write.format(fmt).option("path", dir)
      .mode("append").save()                                        // v2
    // a DELETE rewrites one generation — file-level feed refuses,
    // CDC yields exactly the deleted rows
    val cut = ids(read(dir)).apply(ids(read(dir)).size / 2)
    GraftMaintenance.delete(spark, dir, col("doc_id") < cut)        // v3
    intercept[IllegalArgumentException](
      GraftTableLog.changedFiles(dir, 2, 3))
    val cdc = GraftMaintenance.changeFeedRows(spark, dir, 2, 3)
    val dels = cdc.filter(col("_change_type") === "delete")
    val ins = cdc.filter(col("_change_type") === "insert")
    assert(ids(dels) == ids(docs.filter(
      pmod(col("doc_id"), lit(4)) < 2 && col("doc_id") < cut)))
    assert(ins.count() == 0, "a pure DELETE must produce no insert rows")
    // compaction repacks rows without changing them: CDC must be EMPTY
    GraftMaintenance.compact(spark, dir)                            // v4
    assert(GraftMaintenance.changeFeedRows(spark, dir, 3, 4).count() == 0,
      "a row-preserving compaction must yield an empty CDC feed")
    // appends show up as pure inserts (the easy direction)
    slice(2).coalesce(1).write.format(fmt).option("path", dir)
      .mode("append").save()                                        // v5
    val app = GraftMaintenance.changeFeedRows(spark, dir, 4, 5)
    assert(app.filter(col("_change_type") === "delete").count() == 0)
    assert(ids(app) == ids(slice(2)))
  }

  test("rewrite-span CDC: row multiplicity past the cap fails loudly") {
    // r17 guard: the signed-count diff replicates each surviving image
    // |n| times through array_repeat — a span with a pathological
    // per-row multiplicity must refuse, not OOM or wrap the int cast.
    import spark.implicits._
    val dir = tmp("cdc_cap")
    Seq((1L, "keep"), (2L, "drop")).toDF("id", "name").coalesce(1)
      .write.format(fmt).option("path", dir).mode("append").save()  // v1
    // three byte-identical rows — multiplicity 3 through the diff
    Seq((9L, "dup"), (9L, "dup"), (9L, "dup")).toDF("id", "name")
      .coalesce(1)
      .write.format(fmt).option("path", dir).mode("append").save()  // v2
    GraftMaintenance.delete(spark, dir, col("name") === "drop")     // v3
    sys.props("graft.cdc.maxRowMultiplicity") = "2"
    try {
      val e = intercept[Exception](
        GraftMaintenance.changeFeedRows(spark, dir, 1, 3).collect())
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil
        else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains("multiplicity")),
        s"expected the multiplicity guard to fire, got: $e")
    } finally sys.props.remove("graft.cdc.maxRowMultiplicity")
    // default cap: the same span replays fine — 3 inserts + 1 delete
    val feed = GraftMaintenance.changeFeedRows(spark, dir, 1, 3)
    assert(feed.filter(col("_change_type") === "insert").count() == 3)
    assert(feed.filter(col("_change_type") === "delete").count() == 1)
  }

  test("rewrite-span CDC with duplicate images matches exceptAll both ways") {
    // A two-sided span (v3's append plus v4's DELETE rewrite) whose
    // duplicate row images ride through with multiplicity > 1: the
    // feed must equal an independent reference built from the two
    // full version reads, exceptAll both ways (duplicates preserved).
    val dir = tmp("cdc_dup")
    slice(0).coalesce(1).write.format(fmt).option("path", dir)
      .mode("append").save()                                        // v1
    slice(1).coalesce(1).write.format(fmt).option("path", dir)
      .mode("append").save()                                        // v2
    // the top ids survive v4's DELETE, so their doubled images are
    // inserts of multiplicity 2 in the feed
    val top = docs.filter(pmod(col("doc_id"), lit(4)) === 2)
      .orderBy(desc("doc_id")).limit(5)
    top.union(top).coalesce(1).write.format(fmt).option("path", dir)
      .mode("append").save()                                        // v3
    val cut = ids(read(dir)).apply(ids(read(dir)).size / 2)
    GraftMaintenance.delete(spark, dir, col("doc_id") < cut)        // v4
    def image(df: DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    val feed = GraftMaintenance.changeFeedRows(spark, dir, 2, 4)
    val v2 = read(dir, "versionAsOf" -> "2")
    val v4 = read(dir, "versionAsOf" -> "4").select(v2.columns.map(col): _*)
    val reference = v4.exceptAll(v2).withColumn("_change_type", lit("insert"))
      .unionByName(v2.exceptAll(v4).withColumn("_change_type", lit("delete")))
    val got = image(feed.select(reference.columns.map(col): _*))
    assert(got.exists(_.endsWith(",delete]")), "span must be two-sided")
    assert(got.filter(_.endsWith(",insert]")).groupBy(identity)
      .values.map(_.size).toSet == Set(2), "duplicate images must survive")
    assert(got == image(reference))
  }

  test("time-based vacuum retention; a pre-vacuum pinned read fails loudly") {
    val dir = tmp("vac_hours")
    // overwrite chain: each dropped version OWNS an archived generation
    // no retained version references, so the vacuum has real work
    slice(0).coalesce(1).write.format(fmt).option("path", dir)
      .mode("append").save()                                        // v1
    slice(1).coalesce(1).write.format(fmt).option("path", dir)
      .mode("overwrite").save()                                     // v2
    slice(2).coalesce(1).write.format(fmt).option("path", dir)
      .mode("overwrite").save()                                     // v3
    slice(3).coalesce(1).write.format(fmt).option("path", dir)
      .mode("append").save()                                        // v4
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // backdate v1+v2 past any time horizon; v3 stays recent
    Seq(1L, 2L).foreach(v => fs.setTimes(
      GraftTableLog.snapshotPath(dir, v), 1000000000000L, -1))      // 2001
    // a reader pins v2 BEFORE the vacuum (plan built, not collected)
    val pinned = read(dir, "versionAsOf" -> "2")
    // retain_last=1 would keep only v4, but the 24h window ALSO holds
    // v3 (recent commit) — the union rule
    val deleted = GraftMaintenance.vacuum(dir, retainLast = 1,
      retainHours = Some(24.0))
    assert(deleted > 0, "backdated generations must be reclaimed")
    assert(GraftTableLog.versions(dir) == Seq(3L, 4L),
      "time window must retain the recent v3 beyond retain_last=1")
    // v3 must still ANSWER (its files survived the vacuum)
    assert(ids(read(dir, "versionAsOf" -> "3")) ==
      ids(docs.filter(pmod(col("doc_id"), lit(4)) === 2)))
    // the pre-vacuum pin now fails LOUDLY — never a silent subset
    val e = intercept[Exception](ids(pinned))
    assert(e.getMessage.contains("not found") ||
      e.getMessage.contains("vacuumed"),
      s"expected a loud vacuumed-version refusal, got: ${e.getMessage}")
  }

  test("versionAsOf on a never-versioned table and unknown versions refuse loudly") {
    val dir = tmp("refuse")
    docs.limit(5).write.parquet(dir) // plain spark write: no log
    val e1 = intercept[Exception](ids(read(dir, "versionAsOf" -> "1")))
    assert(e1.getMessage.contains("no version log"))
    val dir2 = tmp("refuse2")
    slice(0).coalesce(1).write.format(fmt).option("path", dir2)
      .mode("append").save()
    val e2 = intercept[Exception](ids(read(dir2, "versionAsOf" -> "9")))
    assert(e2.getMessage.contains("not found"))
    val e3 = intercept[Exception](
      ids(read(dir2, "versionAsOf" -> "1", "changesSince" -> "1")))
    assert(e3.getMessage.contains("mutually exclusive"))
  }
}
