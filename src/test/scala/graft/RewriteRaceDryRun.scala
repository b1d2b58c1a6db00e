package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Round-16 CROSS-PROCESS rewrite-race check: two separate JVMs run
  * ROW-LEVEL REWRITES (MERGE vs MERGE, MERGE vs compact) against one
  * graft table. Appends have the optimistic version claim
  * ([[CommitRaceDryRun]]) and branch heads have CAS
  * ([[BranchRaceDryRun]]); this tool exercises the LAST writer class —
  * commits that remove files from the live set — whose protection is
  * the rewrite lock + read-snapshot validation in
  * [[graft.sources.GraftConflicts]]. The classic failure it must rule
  * out is the snapshot-isolation LOST UPDATE: a MERGE deciding
  * insert-vs-replace from a stale read (duplicated keys), or a
  * compaction truncating away a concurrently-committed merge.
  *
  * Each child RETRIES on [[graft.sources.GraftConcurrentWriteException]]
  * — the contract is "loser refuses cleanly and a re-plan succeeds" —
  * and prints its conflict count, so the RACE line records how often
  * the detection actually fired. Validated afterwards:
  *   - no duplicated keys (count == distinct keys): no merge ever
  *     built its insert decision on a stale read;
  *   - every PRIVATE key (touched by exactly one writer) carries that
  *     writer's LAST committed payload: nothing truncated a committed
  *     merge away;
  *   - every SHARED key carries a last-round payload from one of the
  *     two writers;
  *   - the head snapshot is readable and the log is gap-free.
  *
  * `runMain graft.RewriteRaceDryRun` prints one RACE line per mode for
  * SCALE.md; RewriteRaceSpec runs the same engine per-round. */
object RewriteRaceDryRun {

  /** Keys only writer a merges / only writer b merges / both merge. */
  private def privateKeys(tag: String): Range =
    if (tag == "a") 0 until 10 else 10 until 20
  private val SharedKeys: Range = 100 until 110
  private val SeedKeys: Range = 200 until 220

  def main(args: Array[String]): Unit = args.toList match {
    case "child" :: table :: tag :: mode :: n :: Nil =>
      child(table, tag, mode, n.toInt)
    case _ => drive()
  }

  private def isConflict(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(16)
      .exists(_.isInstanceOf[graft.sources.GraftConcurrentWriteException])

  /** Run `op` until it commits, counting conflict refusals; any other
    * failure propagates (children must die loudly on real bugs). */
  private def committed(op: => Unit): Int = {
    var conflicts = 0
    var done = false
    while (!done) {
      try { op; done = true }
      catch {
        case e: Throwable if isConflict(e) =>
          conflicts += 1
          require(conflicts < 500, s"livelocked after 500 conflicts: $e")
          Thread.sleep(20L)
      }
    }
    conflicts
  }

  /** One writer process: `n` rounds of MERGE (mode=merge — private +
    * shared keys, payload = (writer, seq)), the same MERGE as SQL
    * `MERGE INTO` through a `graft_lake` catalog whose warehouse holds
    * the table (mode=sql-merge — the DSv2 copy-on-write path lake
    * merges and drains take), or compact (mode=compact). */
  private def child(table: String, tag: String, mode: String,
      n: Int): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // sql-merge tables live at <warehouse>/<namespace>/<name>
    val f = new java.io.File(table)
    spark.conf.set("spark.sql.catalog.graft_lake", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_lake.warehouse",
      f.getParentFile.getParent)
    val target = s"graft_lake.${f.getParentFile.getName}.${f.getName}"
    var conflicts = 0
    (0 until n).foreach { seq =>
      mode match {
        case "merge" =>
          val keys = (privateKeys(tag) ++ SharedKeys).map(_.toLong)
          val src = spark.createDataFrame(
            keys.map(k => (k, tag, seq))).toDF("key", "writer", "seq")
          conflicts += committed {
            graft.sources.GraftMaintenance.merge(spark, table, src, "key")
          }
        case "sql-merge" =>
          val keys = (privateKeys(tag) ++ SharedKeys).map(_.toLong)
          spark.createDataFrame(keys.map(k => (k, tag, seq)))
            .toDF("key", "writer", "seq").createOrReplaceTempView("race_src")
          conflicts += committed {
            spark.sql(s"""MERGE INTO $target t USING race_src s
                         |ON t.key = s.key
                         |WHEN MATCHED THEN UPDATE SET *
                         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
          }
        case "compact" =>
          conflicts += committed {
            graft.sources.GraftMaintenance.compact(spark, table,
              targetFileBytes = 4L * 1024 * 1024)
          }
      }
      println(s"COMMIT $tag $seq")
    }
    println(s"CONFLICTS=$conflicts")
    spark.stop()
  }

  private def drive(): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    println(race(spark, 5, "merge"))
    println(race(spark, 5, "compact"))
    println(race(spark, 5, "compact", modeA = "sql-merge"))
    spark.stop()
  }

  /** Spawn writer a (`modeA`: "merge" or "sql-merge") and writer b
    * (`modeB`: "merge" or "compact") against one fresh seeded table;
    * validate no lost update; return the RACE summary line. Shared
    * with RewriteRaceSpec. */
  def race(spark: SparkSession, n: Int, modeB: String,
      modeA: String = "merge"): String = {
    // a warehouse root holding the table as namespace `race`, name `t`
    val root = s"/tmp/rewrite_race_${java.util.UUID.randomUUID()}"
    val table = s"$root/race/t"
    // seed: untouched keys prove carry-through; 4 files so compaction
    // and merges have real candidate sets to race over
    spark.createDataFrame(
      SeedKeys.map(k => (k.toLong, "seed", -1)))
      .toDF("key", "writer", "seq").repartition(4)
      .write.format("graft.sources.GraftParquetTableProvider")
      .option("path", table).mode("append").save()
    def spawn(tag: String, mode: String): Process = RaceHarness.spawn(
      "graft.RewriteRaceDryRun", table, tag, Seq(mode, n.toString))
    val t0 = System.nanoTime()
    val a = spawn("a", modeA)
    val b = spawn("b", modeB)
    val ea = a.waitFor()
    val eb = b.waitFor()
    val wall = (System.nanoTime() - t0) / 1e9
    require(ea == 0 && eb == 0,
      s"child writers must exit clean, got a=$ea b=$eb\n" +
        s"${RaceHarness.tail(table, "a")}\n${RaceHarness.tail(table, "b")}")
    def conflictsOf(tag: String): Int = {
      val src = scala.io.Source.fromFile(
        RaceHarness.childLog(table, tag), "UTF-8")
      try src.getLines().collectFirst {
        case l if l.startsWith("CONFLICTS=") =>
          l.stripPrefix("CONFLICTS=").trim.toInt
      }.getOrElse(-1)
      finally src.close()
    }
    val (ca, cb) = (conflictsOf("a"), conflictsOf("b"))
    require(ca >= 0 && cb >= 0, s"children must report CONFLICTS, " +
      s"got a=$ca b=$cb")
    val head = spark.read
      .format("graft.sources.GraftParquetTableProvider")
      .option("path", table).load()
    val rows = head.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getInt(2)))
    // 1. NO DUPLICATED KEYS: the lost-update symptom of a merge whose
    //    insert decision was built on a stale read
    val dup = rows.groupBy(_._1).filter(_._2.length > 1)
    require(dup.isEmpty, s"duplicated keys (lost-update insert): " +
      s"${dup.keys.toSeq.sorted.take(10).mkString(", ")}")
    val byKey = rows.map(t => t._1 -> ((t._2, t._3))).toMap
    // 2. PRIVATE keys hold their writer's LAST committed payload —
    //    a compaction/merge that truncated a committed merge away
    //    would leave a stale seq here
    val merges = Seq("a") ++ (if (modeB == "merge") Seq("b") else Nil)
    merges.foreach { w =>
      privateKeys(w).foreach { k =>
        require(byKey.get(k.toLong).contains((w, n - 1)),
          s"private key $k must hold ($w, ${n - 1}), " +
            s"got ${byKey.get(k.toLong)} — a committed merge was lost")
      }
    }
    // 3. SHARED keys: last round of one of the merge writers
    SharedKeys.foreach { k =>
      val v = byKey.get(k.toLong)
      require(v.exists(p => merges.contains(p._1) && p._2 == n - 1),
        s"shared key $k must hold a last-round payload, got $v")
    }
    // 4. seed keys carried through every rewrite untouched
    SeedKeys.foreach { k =>
      require(byKey.get(k.toLong).contains(("seed", -1)),
        s"seed key $k was damaged: ${byKey.get(k.toLong)}")
    }
    // 5. log gap-free and head snapshot readable
    val versions = graft.sources.GraftTableLog.versions(table)
    require(versions == (1L to versions.size.toLong),
      s"versions must be dense, got $versions")
    val line = f"RACE ok=true mode=$modeA-vs-$modeB rounds_each=$n " +
      f"conflicts_a=$ca conflicts_b=$cb versions=${versions.size} " +
      f"rows=${rows.length} wall_s=$wall%.1f"
    Seq("a", "b").foreach(t => // kept on failure
      RaceHarness.childLog(table, t).delete())
    val p = new org.apache.hadoop.fs.Path(root)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    line
  }
}
