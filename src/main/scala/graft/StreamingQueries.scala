package graft

import graft.core.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Streaming catalog entries — REAL Structured Streaming queries under
  * the DuckDB oracle gate. SURVEY §2.10's streaming surface was
  * previously spec-only (batch/stream MemoryStream parity); these
  * entries drain an actual `readStream` → stateful-aggregation →
  * `foreachBatch` pipeline to a final state and hash-check that state
  * against the oracle computing the same result relationally over the
  * same parquet — so the streaming runtime (file source, watermarked
  * window state store, update-mode incremental emission, AvailableNow
  * termination) is on the correctness hook, not just the logical plan.
  */
object StreamingQueries {

  /** Run `body` with the session's shuffle-partition count — the knob
    * that sizes a streaming job's STATE partitions (pinned into the
    * checkpoint at the first batch) — set to `n`, restored after.
    * State partitions must scale with STATE SIZE, not the host's CPU
    * count: the round-15 A/B (SCALE.md, "Round-15:
    * q_stream_join_error_purchase attribution") measured the
    * CPU-sized default (32) paying 2.5x the wall of a state-sized 8 on
    * identical results — HDFSBackedStateStore snapshot/delta
    * maintenance is pure per-instance fixed cost × partitions ×
    * batches × stores-per-operator, and a symmetric join carries FOUR
    * stores per partition. Production sizes this per streaming job
    * (each job owns its checkpoint); these entries do the same. At
    * real scale the same reasoning raises it: size to state volume. */
  private def withStatePartitions[T](spark: org.apache.spark.sql
      .SparkSession, n: Int)(body: => T): T = {
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", n.toString)
    try body
    finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }

  /** `events.ts`, whatever the parquet encodes, as a proper
    * TimestampType column for the streaming window machinery — the
    * TIMESTAMP twin of [[graft.core.Tables.eventsMicros]] (same three
    * encodings, same UTC-pinned session contract). */
  private[graft] def tsAsTimestamp(df: DataFrame): org.apache.spark.sql.Column =
    df.schema("ts").dataType match {
      case LongType         => timestamp_micros(expr("ts div 1000L"))
      case TimestampNTZType => col("ts").cast(TimestampType)
      case TimestampType    => col("ts")
      case other => throw new IllegalArgumentException(
        s"events.ts has unsupported type $other")
    }

  /** Tumbling 1-hour event counts + decimal-exact value sums, computed
    * BY THE STREAMING ENGINE: file-source readStream over the same
    * events parquet, watermark + `window()` aggregation (a real keyed
    * state store), update-mode emissions MERGE-upserted per epoch into
    * a graft catalog table ([[graft.streaming.TableDrain]] — the
    * CdcApply drain generalized to composite keys), AvailableNow
    * trigger to drain the source, then a relational READBACK of the
    * table as the result. Upsert-latest makes the result independent
    * of how the source splits micro-batches: each batch re-emits the
    * groups it changed, and the last emission per key IS that key's
    * final aggregate (decimal partial sums in state are order-exact).
    * The oracle is the SAME SQL as the batch twin
    * `q_events_tumbling_1h` minus nothing — if the streaming state
    * store dropped, duplicated, or mis-windowed one event, or the
    * drain lost an epoch, the hash breaks.
    *
    * Scale note (the round-14 migration off the driver-map drain):
    * per-batch state lives in the TABLE — one MERGE per epoch, scoped
    * by candidate-file pruning to touched keys; the driver holds only
    * the epoch-marker check, whatever the window × key cardinality. */
  val qStreamTumbling = QueryDef("q_stream_tumbling_1h",
    (spark, dir) => {
      val batchSchema = Tables.events(spark, dir).schema
      val (cat, warehouse) =
        graft.streaming.TableDrain.ensureCatalog(spark)
      val run = java.util.UUID.randomUUID().toString.replace("-", "")
      val tbl = s"t_tumb_$run"
      val target = s"$cat.sf.$tbl"
      val path = s"$warehouse/sf/$tbl"
      val ckpt = s"${sys.props("java.io.tmpdir")}/graft_stream_ckpt_$run"
      // the file stream source wants a DIRECTORY; glob-filter it down to
      // the events table (the other tables in the sf dir stay invisible)
      val src = spark.readStream.schema(batchSchema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir)
      // Watermark WIDER than the dataset's time span, deliberately: the
      // oracle gate needs the final state to be micro-batch-split
      // INVARIANT, and a tight watermark makes the result depend on file
      // arrival order (an event behind max-seen-ts − delay is dropped as
      // late — correct streaming semantics, wrong property for a
      // deterministic oracle row). The state-store machinery is still
      // fully exercised (EventTimeWatermark + keyed window state);
      // lateness DROPPING is covered by spec, not by this entry.
      val agg = src
        .withColumn("ts", tsAsTimestamp(src))
        .withWatermark("ts", "3650 days")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(28,10)")).as("total_value_dec"))
        .select(unix_micros(col("window.start")).as("window_start"),
          col("event_type"), col("n"),
          col("total_value_dec").cast("double").as("total_value"))
      graft.streaming.TableDrain.create(spark, target, agg.schema)
      val q = graft.streaming.TableDrain.upsertSink(spark, agg, target,
          path, s"tumb_$run", Seq("window_start", "event_type"),
          Seq("n", "total_value"))
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally {
        // checkpoint state is per-run scratch — the query result is the
        // drained table, not a resumable stream
        val p = new org.apache.hadoop.fs.Path(ckpt)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.delete(p, true)
        // the result is a lazy scan of the drain table: reap at exit
        fs.deleteOnExit(new org.apache.hadoop.fs.Path(path))
      }
      graft.streaming.TableDrain.read(spark, path)
        .orderBy("window_start", "event_type")
    },
    // identical mirror to the batch twin q_events_tumbling_1h: the
    // streaming engine must land on the very same result set
    Some("""SELECT epoch_us(ts)
           |         - (((epoch_us(ts) % 3600000000) + 3600000000) % 3600000000)
           |         AS window_start,
           |       event_type, CAST(count(*) AS BIGINT) AS n,
           |       CAST(sum(CAST(value AS DECIMAL(28,10))) AS DOUBLE) AS total_value
           |FROM events
           |GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin))

  /** Watermark LATENESS under the hash gate — the drop semantics
    * themselves, not just state aggregation. [[qStreamTumbling]]
    * deliberately neutralizes lateness with a span-wide watermark;
    * this entry makes arrival order DETERMINISTIC and the watermark
    * TIGHT, so specific rows are provably late and provably dropped:
    *
    *  - the events table is staged as THREE parquet files in a
    *    scratch ingest dir — (1) even `event_id`s, (2) odd ids from
    *    the last 10 days, (3) odd ids older than that — with strictly
    *    increasing mtimes, and `maxFilesPerTrigger=1` + oldest-first
    *    file ordering pins the micro-batch sequence 1→2→3;
    *  - three files, not two, because Spark's late-record filter uses
    *    the PREVIOUS planning pass's watermark (the late/eviction
    *    watermark split, SPARK-40925): a 2-file layout filters batch 2
    *    with batch 1's initial zero watermark and drops nothing
    *    (measured). File 1 explicitly includes the row carrying the
    *    GLOBAL max event time, so the watermark is already
    *    `floor(max_ts/1ms) − 360h` after batch 1 and batch 3's late
    *    filter sits at exactly that value under EITHER phase
    *    convention — the design is immune to the off-by-one;
    *  - watermark delay 360 h: batch-3 rows whose 1-hour window END ≤
    *    that cutoff (≈ the first half of the month) are DROPPED by
    *    the state store's late-data filter (measured: 2489 of 3340 at
    *    sf0.01), the rest aggregate normally;
    *  - the oracle re-derives exactly that: evens and recent odds all
    *    kept, late odds only where `window_end > (max_ts_us // 1000 −
    *    delay_ms) × 1000` — the ms-floor mirrors Spark's millisecond
    *    watermark bookkeeping over microsecond event time.
    *
    * A spec asserts the same drain with a span-wide watermark yields a
    * DIFFERENT result — the gate would catch a watermark that stopped
    * dropping. */
  /** The staged 3-file drain behind [[qStreamLate]], with the
    * watermark delay as a parameter so the spec can prove the delay is
    * LOAD-BEARING: `lateDrain(_, _, "360 hours")` (the catalog entry)
    * and a span-wide delay must disagree exactly on the dropped late
    * rows. */
  private[graft] def lateDrain(spark: org.apache.spark.sql.SparkSession,
      dir: String, delay: String): DataFrame = {
      val ev = Tables.events(spark, dir)
      val run = java.util.UUID.randomUUID().toString
      val runId = run.replace("-", "")
      val (cat, warehouse) = graft.streaming.TableDrain.ensureCatalog(spark)
      val tbl = s"t_late_$runId"
      val target = s"$cat.sf.$tbl"
      val drainPath = s"$warehouse/sf/$tbl"
      val tmp = sys.props("java.io.tmpdir")
      val ingest = s"$tmp/graft_stream_late_$run"
      val ckpt = s"$tmp/graft_stream_late_ckpt_$run"
      val conf = spark.sparkContext.hadoopConfiguration
      val fs = new org.apache.hadoop.fs.Path(ingest).getFileSystem(conf)
      def stage(name: String, cond: org.apache.spark.sql.Column,
          mtimeMs: Long): Unit = {
        val scratch = new org.apache.hadoop.fs.Path(s"$ingest/_stage_$name")
        ev.filter(cond).coalesce(1).write.parquet(scratch.toString)
        val part = fs.globStatus(
          new org.apache.hadoop.fs.Path(s"$scratch/part-*.parquet"))(0).getPath
        val dest = new org.apache.hadoop.fs.Path(s"$ingest/$name.parquet")
        require(fs.rename(part, dest), s"stage rename failed for $name")
        fs.delete(scratch, true)
        // mtime IS the arrival order: the file source takes oldest first
        fs.setTimes(dest, mtimeMs, -1)
      }
      try {
        val tsUs = unix_micros(tsAsTimestamp(ev))
        val maxUs = ev.select(max(tsUs)).head.getLong(0)
        val even = pmod(col("event_id"), lit(2)) === 0
        val recentCut = maxUs - 864000000000L // 10 days
        // the global-max row rides in file 1 regardless of parity: the
        // watermark is final after batch 1 under any phase convention
        stage("b1_even", even || tsUs === maxUs, 1000000L)
        stage("b2_odd_recent",
          !even && tsUs >= recentCut && tsUs =!= maxUs, 2000000L)
        stage("b3_odd_late", !even && tsUs < recentCut, 3000000L)
        val src = spark.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(ingest)
        val agg = src
          .withColumn("ts", tsAsTimestamp(src))
          .withWatermark("ts", delay)
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(28,10)")).as("total_value_dec"))
          .select(unix_micros(col("window.start")).as("window_start"),
            col("event_type"), col("n"),
            col("total_value_dec").cast("double").as("total_value"))
        // update-mode emissions MERGE-upserted per epoch into a graft
        // table (TableDrain) — the late-data filter's effect lands in
        // the table, never in a driver map
        graft.streaming.TableDrain.create(spark, target, agg.schema)
        val q = graft.streaming.TableDrain.upsertSink(spark, agg, target,
            drainPath, s"late_$runId", Seq("window_start", "event_type"),
            Seq("n", "total_value"))
          .outputMode("update")
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        graft.streaming.TableDrain.read(spark, drainPath)
          .orderBy("window_start", "event_type")
      } finally {
        fs.delete(new org.apache.hadoop.fs.Path(ingest), true)
        fs.delete(new org.apache.hadoop.fs.Path(ckpt), true)
        fs.deleteOnExit(new org.apache.hadoop.fs.Path(drainPath))
      }
  }

  val qStreamLate = QueryDef("q_stream_late_1h",
    (spark, dir) => lateDrain(spark, dir, "360 hours"),
    // the batch mirror WITH the drop rule spelled out: evens and
    // recent odds all kept; LATE odds only where the window outlives
    // the watermark established by the first two batches
    Some("""WITH e AS (
           |  SELECT epoch_us(ts) AS tus, event_id, event_type, value
           |  FROM events
           |), mx AS (SELECT max(tus) AS m FROM e),
           |kept AS (
           |  SELECT tus, event_type, value FROM e
           |  WHERE event_id % 2 = 0
           |     OR tus >= (SELECT m FROM mx) - 864000000000
           |     OR tus - (((tus % 3600000000) + 3600000000) % 3600000000)
           |        + 3600000000
           |        > (SELECT (m // 1000 - 1296000000) * 1000 FROM mx)
           |)
           |SELECT tus - (((tus % 3600000000) + 3600000000) % 3600000000)
           |         AS window_start,
           |       event_type, CAST(count(*) AS BIGINT) AS n,
           |       CAST(sum(CAST(value AS DECIMAL(28,10))) AS DOUBLE)
           |         AS total_value
           |FROM kept
           |GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin))

  /** SESSION WINDOWS under the hash gate — the third streaming state
    * shape (after tumbling windows and arbitrary keyed state): a real
    * `session_window(ts, 2h)` aggregation whose merging state store
    * must land on exactly the sessions a relational
    * gaps-and-islands derivation produces. The DuckDB oracle re-derives
    * sessionization the classic way — break when the inter-arrival gap
    * ≥ 2 h (`lag` window), running-sum the breaks into session ids,
    * aggregate per (user, session) — so a mis-merged, split, or
    * mis-extended session breaks the hash; at sf0.01 ~17% of events
    * merge into multi-event sessions, so the merge path is genuinely
    * load-bearing. Session end = last event + gap (Spark's contract),
    * mirrored as `max(ts) + gap`.
    *
    * The events table is staged as ONE coalesced file so the drain is
    * a single micro-batch: update-mode emissions are then final per
    * key, and the upsert key (user, session_start) is stable — the
    * cross-batch session-MERGE behavior (where a later batch can
    * subsume an earlier emission under a new start) is exercised by
    * the MemoryStream session spec instead, where arrival order is
    * explicit. Decimal partial sums keep total_value order-exact. */
  val qStreamSessions = QueryDef("q_stream_sessions_2h",
    (spark, dir) => {
      import spark.implicits._
      val ev = Tables.events(spark, dir)
      val run = java.util.UUID.randomUUID().toString
      val tmp = sys.props("java.io.tmpdir")
      val ingest = s"$tmp/graft_stream_sess_$run"
      val ckpt = s"$tmp/graft_stream_sess_ckpt_$run"
      val conf = spark.sparkContext.hadoopConfiguration
      val fs = new org.apache.hadoop.fs.Path(ingest).getFileSystem(conf)
      try {
        val scratch = new org.apache.hadoop.fs.Path(s"$ingest/_stage")
        ev.coalesce(1).write.parquet(scratch.toString)
        val part = fs.globStatus(
          new org.apache.hadoop.fs.Path(s"$scratch/part-*.parquet"))(0).getPath
        require(fs.rename(part,
          new org.apache.hadoop.fs.Path(s"$ingest/events.parquet")),
          "session stage rename failed")
        fs.delete(scratch, true)
        val src = spark.readStream.schema(ev.schema).parquet(ingest)
        val agg = src
          .withColumn("ts", tsAsTimestamp(src))
          .withWatermark("ts", "3650 days")
          .groupBy(session_window(col("ts"), "2 hours"), col("user_id"))
          .agg(count(lit(1)).as("n_events"),
            sum(col("value").cast("decimal(28,10)")).as("tv_dec"))
          .select(col("user_id"),
            unix_micros(col("session_window.start")).as("session_start"),
            unix_micros(col("session_window.end")).as("session_end"),
            col("n_events"),
            col("tv_dec").cast("double").as("total_value"))
        // session windows reject update mode (merging invalidates
        // emitted keys); COMPLETE re-emits the whole session state per
        // batch, so each epoch truncate-overwrites the drain table and
        // the LAST overwrite is exactly the final state — split-
        // invariant, making the single-file staging belt-and-braces
        // rather than load-bearing. Replays overwrite with identical
        // content; the driver holds nothing (TableDrain, round 14).
        val table = s"$tmp/graft_stream_sess_tbl_$run"
        val q = graft.streaming.TableDrain.overwriteSink(table)(agg)
          .outputMode("complete")
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        graft.streaming.TableDrain.read(spark, table)
          .orderBy("user_id", "session_start")
      } finally {
        fs.delete(new org.apache.hadoop.fs.Path(ingest), true)
        fs.delete(new org.apache.hadoop.fs.Path(ckpt), true)
        fs.deleteOnExit(new org.apache.hadoop.fs.Path(
          s"$tmp/graft_stream_sess_tbl_$run"))
      }
    },
    // gaps-and-islands sessionization: break at inter-arrival >= 2 h,
    // cumulative-sum breaks into session ids, aggregate per session
    Some("""WITH e AS (
           |  SELECT user_id, epoch_us(ts) AS tus, value FROM events
           |), o AS (
           |  SELECT user_id, tus, value,
           |    CASE WHEN lag(tus) OVER w IS NULL
           |         OR tus - lag(tus) OVER w >= 7200000000
           |         THEN 1 ELSE 0 END AS brk
           |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus)
           |), s AS (
           |  SELECT user_id, tus, value,
           |    sum(brk) OVER (PARTITION BY user_id ORDER BY tus
           |                   ROWS UNBOUNDED PRECEDING) AS sid
           |  FROM o
           |)
           |SELECT user_id, min(tus) AS session_start,
           |       max(tus) + 7200000000 AS session_end,
           |       CAST(count(*) AS BIGINT) AS n_events,
           |       CAST(sum(CAST(value AS DECIMAL(28,10))) AS DOUBLE)
           |         AS total_value
           |FROM s GROUP BY user_id, sid
           |ORDER BY user_id, session_start""".stripMargin))

  /** Streaming INCREMENTAL near-dup detection under the hash gate —
    * streaming STATE beyond windowed aggregation: documents arrive
    * through a file readStream, [[graft.streaming.StreamingNearDup
    * .candidatePairs]]'s `flatMapGroupsWithState` holds per-(band,
    * bucket) signature state and emits candidate pairs the moment the
    * second member lands; the drained candidate set is then verified
    * to EXACT Jaccard against the static corpus (the batch LSH
    * pipeline's own verify stage) and the result is hash-checked
    * against the SAME DuckDB mirror as `q_dedup_minhash_lsh` /
    * `q_dedup_jaccard`. If the state store lost a bucket entry,
    * emitted a pair twice with drifting keys, or missed a cross-batch
    * candidate, a verified pair disappears (or appears) and the hash
    * breaks.
    *
    * Determinism vs micro-batch split: the VERIFIED output is a pure
    * function of the candidate SET; the candidate set equals "all
    * pairs sharing any LSH band bucket" for any split, because
    * within-batch processing compares each arrival against both prior
    * state and earlier same-batch rows, and `minEstJaccard` = 0.03 is
    * strictly below one band's agreement floor r/k = 4/128 = 0.03125 —
    * every genuine bucket-sharer passes. `maxBucket` = 2^20 never
    * engages at test scale (the production cap story lives with the
    * operator); recall ≥ the batch path's 1 − 5e-8.
    *
    * Scale note: candidate pairs land in a graft TABLE through the
    * transactional streaming sink (nothing crosses the driver at any
    * cardinality — round-14 TableDrain migration); verification runs
    * as a distributed join at candidate cardinality over the
    * readback. */
  val qStreamNearDup = QueryDef("q_stream_neardup_pairs",
    (spark, dir) => {
      import spark.implicits._
      val batchSchema = Tables.documents(spark, dir).schema
      val ckpt = s"${sys.props("java.io.tmpdir")}/graft_stream_ckpt_" +
        java.util.UUID.randomUUID().toString
      val src = spark.readStream.schema(batchSchema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(dir)
      val cands = graft.streaming.StreamingNearDup.candidatePairs(
        src, "doc_id", "text", TextQueries.ShingleN,
        minEstJaccard = 0.03, maxBucket = 1 << 20)
      // candidates land in a graft table through the transactional
      // streaming sink (epoch commits) — the at-ingest dedup-alarm
      // table any downstream consumer would read; the driver holds
      // nothing (TableDrain migration, round 14). The readback
      // dedupes, restoring the former driver-set's SET semantics (a
      // pair can legitimately surface via several shared buckets).
      val table = s"${sys.props("java.io.tmpdir")}/graft_stream_nd_tbl_" +
        java.util.UUID.randomUUID().toString
      val q = cands.writeStream
        .format("graft.sources.GraftParquetTableProvider")
        .option("path", table)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally {
        val p = new org.apache.hadoop.fs.Path(ckpt)
        val fsys = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        fsys.delete(p, true)
        fsys.deleteOnExit(new org.apache.hadoop.fs.Path(table))
      }
      val pairs = graft.streaming.TableDrain.read(spark, table)
        .select("doc_a", "doc_b").distinct()
      // exact-verify stage — identical arithmetic to Dedup
      // .minhashLshPairs' verification join, at candidate cardinality
      val sets = graft.core.Tables.documents(spark, dir)
        .select(col("doc_id").cast("long").as("id"),
          graft.text.TextAnalysis.shingles(col("text"),
            TextQueries.ShingleN).as("sh"))
      pairs
        .join(sets.withColumnRenamed("id", "doc_a")
          .withColumnRenamed("sh", "sh_a"), "doc_a")
        .join(sets.withColumnRenamed("id", "doc_b")
          .withColumnRenamed("sh", "sh_b"), "doc_b")
        .withColumn("inter",
          size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
        .withColumn("jaccard", col("inter") /
          (size(col("sh_a")) + size(col("sh_b")) - col("inter"))
            .cast("double"))
        .filter(col("jaccard") >= TextQueries.MinJaccard)
        .select(col("doc_a"), col("doc_b"), col("jaccard"))
        .orderBy("doc_a", "doc_b")
    },
    Some(TextQueries.jaccardOracle))

  /** The connector as a STREAMING SINK, under the hash gate: events
    * stream in as three pinned micro-batches and land in a graft
    * parquet table through `writeStream.format(graft)` — three epoch
    * commits, each a transactional append owning the manifest, each
    * leaving a replay marker — and the table is then read back THROUGH
    * the connector and aggregated against the oracle computing the
    * same result straight from `events`. A lost epoch, duplicated
    * replay, or manifest tear surfaces as a count/sum drift. Columns
    * are the connector-writable subset (ts is TIMESTAMP_NTZ in the
    * current testdata generation — outside the write scope — and the
    * aggregation doesn't need it). */
  val qStreamSink = QueryDef("q_stream_sink_roundtrip",
    (spark, dir) => {
      val ev = Tables.events(spark, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"))
      val run = java.util.UUID.randomUUID().toString
      val tmp = sys.props("java.io.tmpdir")
      val ingest = s"$tmp/graft_stream_sink_in_$run"
      val table = s"$tmp/graft_stream_sink_out_$run"
      val ckpt = s"$tmp/graft_stream_sink_ckpt_$run"
      val conf = spark.sparkContext.hadoopConfiguration
      val fs = new org.apache.hadoop.fs.Path(ingest).getFileSystem(conf)
      def stage(name: String, parity: Int, mtimeMs: Long): Unit = {
        val scratch = new org.apache.hadoop.fs.Path(s"$ingest/_st_$name")
        ev.filter(pmod(col("event_id"), lit(3)) === parity)
          .coalesce(1).write.parquet(scratch.toString)
        val part = fs.globStatus(new org.apache.hadoop.fs.Path(
          s"$scratch/part-*.parquet"))(0).getPath
        val dest = new org.apache.hadoop.fs.Path(s"$ingest/$name.parquet")
        require(fs.rename(part, dest), s"sink stage rename failed: $name")
        fs.delete(scratch, true)
        fs.setTimes(dest, mtimeMs, -1)
      }
      try {
        stage("b1", 0, 1000000L)
        stage("b2", 1, 2000000L)
        stage("b3", 2, 3000000L)
        val src = spark.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(ingest)
        val q = src.writeStream
          .format("graft.sources.GraftParquetTableProvider")
          .option("path", table)
          .option("checkpointLocation", ckpt)
          .outputMode("append")
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        spark.read.format("graft.sources.GraftParquetTableProvider")
          .option("path", table).load()
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(28,10)")).cast("double")
              .as("total_value"),
            min("event_id").as("min_id"), max("event_id").as("max_id"))
          .orderBy("event_type")
      } finally {
        fs.delete(new org.apache.hadoop.fs.Path(ingest), true)
        fs.delete(new org.apache.hadoop.fs.Path(ckpt), true)
        // the RESULT is a lazy scan over the sink table — it must
        // outlive this lambda; UUID dir, reaped at JVM exit (the
        // q_dsv2_write_roundtrip convention)
        fs.deleteOnExit(new org.apache.hadoop.fs.Path(table))
      }
    },
    Some("""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           |       CAST(sum(CAST(value AS DECIMAL(28,10))) AS DOUBLE)
           |         AS total_value,
           |       min(event_id) AS min_id, max(event_id) AS max_id
           |FROM events
           |GROUP BY event_type ORDER BY event_type""".stripMargin))

  /** STREAM-STREAM JOIN under the hash gate — the symmetric-join state
    * store, the one streaming state shape the gated family didn't yet
    * cover (windowed agg, lateness, session merge, arbitrary keyed
    * state, and the sink are [[qStreamTumbling]]..[[qStreamSink]]).
    * The events table is staged as three pinned-order files
    * (event_id mod 3, the [[qStreamSink]] staging) and read by TWO
    * independent file readStreams — an `error` side and a `purchase`
    * side — inner-joined on user with the event-time range
    * `purchase.ts ∈ [error.ts, error.ts + 24 h]`: with
    * `maxFilesPerTrigger = 1` forcing three micro-batches, a batch-1
    * error can only meet its batch-3 purchase through rows BUFFERED in
    * the symmetric join state, so cross-batch state is load-bearing,
    * not incidental. Matches emit in append mode, drained
    * AvailableNow. If the state store dropped a buffered row, emitted
    * a match twice, or mis-evaluated the range condition, the pair set
    * (853 rows at sf0.01) drifts and the hash breaks.
    *
    * Split invariance: an append-mode INNER join emits exactly the
    * match set for any micro-batch split PROVIDED nothing is evicted —
    * so the watermark is span-wide, the same deliberate choice (and
    * the same spec-vs-entry split of concerns) as [[qStreamTumbling]]:
    * state-CLEANUP semantics belong to the MemoryStream specs where
    * arrival order is explicit; the oracle row pins the join result.
    *
    * Scale note: the matched-pair set lands in a graft TABLE through
    * the transactional streaming sink (nothing crosses the driver at
    * any match cardinality — round-14 TableDrain migration); rows
    * never collect before or after the join. */
  val qStreamJoin = QueryDef("q_stream_join_error_purchase",
    (spark, dir) => {
      import spark.implicits._
      val ev = Tables.events(spark, dir)
      val run = java.util.UUID.randomUUID().toString
      val tmp = sys.props("java.io.tmpdir")
      val ingest = s"$tmp/graft_stream_join_in_$run"
      val ckpt = s"$tmp/graft_stream_join_ckpt_$run"
      val conf = spark.sparkContext.hadoopConfiguration
      val fs = new org.apache.hadoop.fs.Path(ingest).getFileSystem(conf)
      // three staged files (event_id mod 3) with pinned arrival order +
      // maxFilesPerTrigger=1, so matches genuinely SPAN micro-batches:
      // an error arriving in batch 1 can only meet its batch-3 purchase
      // through the buffered symmetric join state
      def stage(name: String, parity: Int, mtimeMs: Long): Unit = {
        val scratch = new org.apache.hadoop.fs.Path(s"$ingest/_st_$name")
        ev.filter(pmod(col("event_id"), lit(3)) === parity)
          .coalesce(1).write.parquet(scratch.toString)
        val part = fs.globStatus(new org.apache.hadoop.fs.Path(
          s"$scratch/part-*.parquet"))(0).getPath
        val dest = new org.apache.hadoop.fs.Path(s"$ingest/$name.parquet")
        require(fs.rename(part, dest), s"join stage rename failed: $name")
        fs.delete(scratch, true)
        fs.setTimes(dest, mtimeMs, -1)
      }
      stage("b1", 0, 1000000L)
      stage("b2", 1, 2000000L)
      stage("b3", 2, 3000000L)
      def side(tag: String): DataFrame = {
        val s = spark.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(ingest)
        s.withColumn("ts", tsAsTimestamp(s))
          .withWatermark("ts", "3650 days")
          .filter(col("event_type") === tag)
      }
      val errors = side("error")
        .select(col("event_id").as("error_id"),
          col("user_id"), col("ts").as("e_ts"))
      val purchases = side("purchase")
        .select(col("event_id").as("purchase_id"),
          col("user_id").as("p_user"), col("ts").as("p_ts"))
      val joined = errors.join(purchases,
        col("user_id") === col("p_user") &&
          col("p_ts") >= col("e_ts") &&
          col("p_ts") <= col("e_ts") + expr("interval 24 hours"))
        .select(col("error_id"), col("purchase_id"), col("user_id"),
          (unix_micros(col("p_ts")) - unix_micros(col("e_ts")))
            .as("gap_us"))
      // matches land in a graft table through the transactional
      // streaming sink — append-mode inner-join output, one row per
      // match, epoch-committed; the driver holds nothing (TableDrain
      // migration, round 14). A double emission from the symmetric
      // state store would now FAIL the hash instead of being silently
      // absorbed by a driver set — a strictly stronger gate.
      val table = s"$tmp/graft_stream_join_tbl_$run"
      // state partitions sized to the STATE, not the host CPU count
      // (SCALE.md "Round-15: q_stream_join_error_purchase
      // attribution": 32 partitions × 4 stores × batches of
      // HDFSBackedStateStore maintenance cost 2.5x the wall of 8 on
      // identical results) — the per-job sizing every production
      // deployment does through its own session conf
      withStatePartitions(spark, 8) {
        val q = joined.writeStream
          .format("graft.sources.GraftParquetTableProvider")
          .option("path", table)
          .outputMode("append")
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .start()
        try q.awaitTermination() finally {
          fs.delete(new org.apache.hadoop.fs.Path(ingest), true)
          fs.delete(new org.apache.hadoop.fs.Path(ckpt), true)
          fs.deleteOnExit(new org.apache.hadoop.fs.Path(table))
        }
      }
      graft.streaming.TableDrain.read(spark, table)
        .orderBy("error_id", "purchase_id")
    },
    Some("""WITH e AS (
           |  SELECT event_id AS error_id, user_id, epoch_us(ts) AS tus
           |  FROM events WHERE event_type = 'error'
           |), p AS (
           |  SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS tus
           |  FROM events WHERE event_type = 'purchase'
           |)
           |SELECT e.error_id, p.purchase_id, e.user_id,
           |       p.tus - e.tus AS gap_us
           |FROM e JOIN p ON e.user_id = p.user_id
           | AND p.tus >= e.tus AND p.tus <= e.tus + 86400000000
           |ORDER BY error_id, purchase_id""".stripMargin))

  /** STREAM-STATIC ENRICHMENT under the hash gate — the remaining
    * streaming plan surface (the MemoryStream enrich spec's file-source
    * twin): events stream through a BROADCAST join against the static
    * stations dimension (re-planned per micro-batch, the stream-static
    * contract) into keyed aggregate state WITHOUT a window — the
    * unwindowed groupBy state shape none of the other gated entries
    * use. The event→station key is the synthetic `user_id mod
    * |stations|` (the rides-table convention — declared semantics both
    * engines compute). Count + decimal sums are arrival-order
    * invariant, so the drained update-mode state is micro-batch-split
    * invariant and must equal the relational join+aggregate exactly; a
    * dropped batch, a double-applied update, or a mis-broadcast dim
    * row drifts a count or a latitude and breaks the hash. */
  val qStreamEnrich = QueryDef("q_stream_enrich_stations",
    (spark, dir) => {
      val batchSchema = Tables.events(spark, dir).schema
      val (cat, warehouse) = graft.streaming.TableDrain.ensureCatalog(spark)
      val run = java.util.UUID.randomUUID().toString.replace("-", "")
      val tbl = s"t_enrich_$run"
      val target = s"$cat.sf.$tbl"
      val path = s"$warehouse/sf/$tbl"
      val ckpt =
        s"${sys.props("java.io.tmpdir")}/graft_stream_enrich_ckpt_$run"
      val stations = graft.core.Tables.stationsById(spark, dir)
        .select(col("id"), col("latitude"))
      val nStations = stations.count()
      val src = spark.readStream.schema(batchSchema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir)
      val agg = src
        .withColumn("sid", pmod(col("user_id"), lit(nStations)))
        .join(broadcast(stations), col("sid") === col("id"))
        .groupBy(col("sid"), col("latitude"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(28,10)")).as("tv_dec"))
        .select(col("sid"), col("latitude"), col("n"),
          col("tv_dec").cast("double").as("total_value"))
      // update-mode emissions MERGE-upserted per epoch into a graft
      // table keyed by sid (TableDrain, round 14) — the unwindowed
      // keyed state's latest aggregates live in the table, not a
      // driver map
      graft.streaming.TableDrain.create(spark, target, agg.schema)
      val q = graft.streaming.TableDrain.upsertSink(spark, agg, target,
          path, s"enrich_$run", Seq("sid"),
          Seq("latitude", "n", "total_value"))
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally {
        val p = new org.apache.hadoop.fs.Path(ckpt)
        val fsys = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        fsys.delete(p, true)
        fsys.deleteOnExit(new org.apache.hadoop.fs.Path(path))
      }
      graft.streaming.TableDrain.read(spark, path).orderBy("sid")
    },
    Some(s"""WITH ${graft.Catalog.stationsSql},
            |e AS (
            |  SELECT user_id % (SELECT count(*) FROM supplier) AS sid,
            |         value
            |  FROM events
            |)
            |SELECT e.sid, s.latitude, CAST(count(*) AS BIGINT) AS n,
            |       CAST(sum(CAST(value AS DECIMAL(28,10))) AS DOUBLE)
            |         AS total_value
            |FROM e JOIN stations s ON e.sid = s.id
            |GROUP BY e.sid, s.latitude
            |ORDER BY e.sid""".stripMargin))

  /** The FULL STREAMING PIPE through the connector — sink and source
    * composed: events stream INTO a graft table via
    * `writeStream.format(graft)` (three epoch commits, each a
    * transactional append owning the manifest), and a SECOND streaming
    * query then streams OUT of that table via the connector's
    * micro-batch source (admission-controlled, multi-batch drain
    * asserted) into distributed per-batch partials merged with exact
    * decimal addition. This is the pipelines-feeding-pipelines shape a
    * table format exists for: epoch-committed files must be exactly
    * the files the source's offsets admit — a torn epoch, a manifest
    * tear, or an offset slip drifts a count against the oracle
    * aggregating the events table directly. */
  val qStreamPipe = QueryDef("q_dsv2_stream_pipe",
    (spark, dir) => {
      import spark.implicits._
      val ev = Tables.events(spark, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"))
      val run = java.util.UUID.randomUUID().toString
      val tmp = sys.props("java.io.tmpdir")
      val ingest = s"$tmp/graft_pipe_in_$run"
      val table = s"$tmp/graft_pipe_tbl_$run"
      val ckptIn = s"$tmp/graft_pipe_ck1_$run"
      val ckptOut = s"$tmp/graft_pipe_ck2_$run"
      val conf = spark.sparkContext.hadoopConfiguration
      val fs = new org.apache.hadoop.fs.Path(ingest).getFileSystem(conf)
      def stage(name: String, parity: Int, mtimeMs: Long): Unit = {
        val scratch = new org.apache.hadoop.fs.Path(s"$ingest/_st_$name")
        ev.filter(pmod(col("event_id"), lit(3)) === parity)
          .coalesce(1).write.parquet(scratch.toString)
        val part = fs.globStatus(new org.apache.hadoop.fs.Path(
          s"$scratch/part-*.parquet"))(0).getPath
        val dest = new org.apache.hadoop.fs.Path(s"$ingest/$name.parquet")
        require(fs.rename(part, dest), s"pipe stage rename failed: $name")
        fs.delete(scratch, true)
        fs.setTimes(dest, mtimeMs, -1)
      }
      try {
        stage("b1", 0, 1000000L)
        stage("b2", 1, 2000000L)
        stage("b3", 2, 3000000L)
        // leg 1: parquet files → connector STREAMING SINK (3 epochs)
        val qIn = spark.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(ingest)
          .writeStream
          .format("graft.sources.GraftParquetTableProvider")
          .option("path", table)
          .option("checkpointLocation", ckptIn)
          .outputMode("append")
          .trigger(Trigger.AvailableNow())
          .start()
        qIn.awaitTermination()
        // leg 2: connector STREAMING SOURCE → per-batch DISTRIBUTED
        // partials (count, decimal Σv, min, max per event type),
        // MERGE-upserted into a PARTIALS TABLE keyed by (event_type,
        // epoch) — replay re-sets the same values, so the drain is
        // idempotent where a plain per-batch append would double-count
        // (TableDrain migration, round 14; decimals ride as strings —
        // an exact textual round-trip through the connector's
        // primitive-only write schema). The final result re-aggregates
        // the partials RELATIONALLY: decimal sums are exact and
        // associative, so the total is bit-identical to a batch pass
        // whatever the admission split — the same claim the former
        // driver-side BigDecimal merge made, now with no driver state.
        val src = spark.readStream
          .format("graft.sources.GraftParquetTableProvider")
          .option("path", table)
          .option("maxFilesPerTrigger", "2")
          .schema(ev.schema)
          .load()
        val (cat, warehouse) =
          graft.streaming.TableDrain.ensureCatalog(spark)
        val runId = run.replace("-", "")
        val pt = s"t_pipe_part_$runId"
        val ptTarget = s"$cat.sf.$pt"
        val ptPath = s"$warehouse/sf/$pt"
        def partialize(batch: DataFrame, bid: Long): DataFrame =
          batch.groupBy("event_type")
            .agg(count(lit(1)).as("n"),
              sum(col("value").cast("decimal(28,10)")).cast("string")
                .as("tv"),
              min("event_id").as("mn"), max("event_id").as("mx"))
            .withColumn("epoch", lit(bid))
        graft.streaming.TableDrain.create(spark, ptTarget,
          partialize(ev.limit(0), 0L).schema)
        val qOut = graft.streaming.TableDrain.upsertSink(spark, src,
            ptTarget, ptPath, s"pipe_$runId", Seq("event_type", "epoch"),
            Seq("n", "tv", "mn", "mx"), transform = partialize)
          .option("checkpointLocation", ckptOut)
          .trigger(Trigger.AvailableNow())
          .start()
        qOut.awaitTermination()
        val partials = graft.streaming.TableDrain.read(spark, ptPath)
        val nEpochs = partials.select("epoch").distinct().count()
        require(nEpochs >= 2,
          s"the source leg must drain in multiple batches, got $nEpochs")
        partials.groupBy("event_type")
          .agg(sum("n").as("n"),
            sum(col("tv").cast("decimal(38,10)")).cast("double")
              .as("total_value"),
            min("mn").as("min_id"), max("mx").as("max_id"))
          .orderBy("event_type")
      } finally {
        fs.delete(new org.apache.hadoop.fs.Path(ingest), true)
        fs.delete(new org.apache.hadoop.fs.Path(table), true)
        fs.delete(new org.apache.hadoop.fs.Path(ckptIn), true)
        fs.delete(new org.apache.hadoop.fs.Path(ckptOut), true)
        // the result is a lazy scan of the partials table: reap at exit
        fs.deleteOnExit(new org.apache.hadoop.fs.Path(
          s"${sys.props("java.io.tmpdir")}/graft_warehouse/sf/" +
            s"t_pipe_part_${run.replace("-", "")}"))
      }
    },
    Some("""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           |       CAST(sum(CAST(value AS DECIMAL(28,10))) AS DOUBLE)
           |         AS total_value,
           |       min(event_id) AS min_id, max(event_id) AS max_id
           |FROM events
           |GROUP BY event_type ORDER BY event_type""".stripMargin))

  /** STREAMING MOMENTS under the hash gate — the exact-power-sum
    * surface ([[graft.operators.Moments]]) proven stream ≡ batch the
    * strong way: each micro-batch contributes DECIMAL-EXACT per-type
    * partials (count, Σv, Σv²) MERGE-upserted into a partials TABLE
    * keyed by (event_type, epoch), and the final result re-aggregates
    * them relationally — decimal addition is exact and associative, so
    * the totals are bit-identical to a batch pass no matter how
    * admission control slices the files, with no driver-side state
    * (TableDrain, round 14) — then runs the shared IEEE formula tree
    * over the merged sums. Spark's own streaming float aggregates
    * could not make this claim: their merge ORDER depends on the batch
    * split. Multi-batch drain is require-asserted (maxFilesPerTrigger=2
    * over 3 files → ≥2 distinct epochs in the partials table). */
  val qStreamMoments = QueryDef("q_stream_moments",
    (spark, dir) => {
      import spark.implicits._
      val ev = Tables.events(spark, dir)
        .select(col("event_id"), col("event_type"), col("value"))
      val run = java.util.UUID.randomUUID().toString
      val tmp = sys.props("java.io.tmpdir")
      val table = s"$tmp/graft_mom_tbl_$run"
      val ckpt = s"$tmp/graft_mom_ck_$run"
      val conf = spark.sparkContext.hadoopConfiguration
      val fs = new org.apache.hadoop.fs.Path(table).getFileSystem(conf)
      try {
        (0 until 3).foreach { i =>
          ev.filter(pmod(col("event_id"), lit(3)) === i)
            .write.format("graft.sources.GraftParquetTableProvider")
            .option("path", table).mode("append").save()
        }
        val src = spark.readStream
          .format("graft.sources.GraftParquetTableProvider")
          .option("path", table)
          .option("maxFilesPerTrigger", "2")
          .schema(ev.schema)
          .load()
        val v = col("value").cast("decimal(12,2)")
        // per-batch DISTRIBUTED decimal partials (count, Σv, Σv²) per
        // event type, MERGE-upserted into a partials table keyed by
        // (event_type, epoch) — the TableDrain migration (round 14):
        // decimal sums are exact and associative, so re-aggregating
        // the partials relationally is bit-identical to the former
        // driver-side BigDecimal merge, for any admission split, with
        // no driver state. Decimals ride as strings (exact textual
        // round-trip through the connector's primitive write schema);
        // count(v), not count(*): n must count exactly the values the
        // sums saw, or an all-NULL slice would skew the mean.
        val (cat, warehouse) =
          graft.streaming.TableDrain.ensureCatalog(spark)
        val pt = s"t_mom_part_${run.replace("-", "")}"
        val ptTarget = s"$cat.sf.$pt"
        val ptPath = s"$warehouse/sf/$pt"
        def partialize(batch: DataFrame, bid: Long): DataFrame =
          batch.groupBy("event_type")
            .agg(count(v).as("cnt"),
              sum(v).cast("string").as("sv"),
              sum(v * v).cast("string").as("svv"))
            .withColumn("epoch", lit(bid))
        graft.streaming.TableDrain.create(spark, ptTarget,
          partialize(ev.limit(0), 0L).schema)
        val q = graft.streaming.TableDrain.upsertSink(spark, src,
            ptTarget, ptPath, s"mom_${run.replace("-", "")}",
            Seq("event_type", "epoch"), Seq("cnt", "sv", "svv"),
            transform = partialize)
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        val partials = graft.streaming.TableDrain.read(spark, ptPath)
        val nEpochs = partials.select("epoch").distinct().count()
        require(nEpochs >= 2,
          s"maxFilesPerTrigger=2 over 3 files must split the drain, got $nEpochs")
        val totals = partials.groupBy("event_type")
          .agg(sum("cnt").as("cnt"),
            // sv is decimal(22,2), svv decimal(35,4) per batch — 38
            // digits of headroom cover both sums exactly
            sum(col("sv").cast("decimal(38,2)")).as("svd"),
            sum(col("svv").cast("decimal(38,4)")).as("svvd"))
          .filter(col("cnt") > 0)
        // the shared IEEE tree over exact totals — mirrors the oracle
        val nD = col("cnt").cast("double")
        val sx = col("svd").cast("double")
        val sxx = col("svvd").cast("double")
        totals.select(col("event_type"), col("cnt").as("n_events"),
            (sx / nD).as("mean_value"),
            sqrt((nD * sxx - sx * sx) / (nD * nD)).as("stddev_value"))
          .orderBy("event_type")
      } finally {
        fs.delete(new org.apache.hadoop.fs.Path(table), true)
        fs.delete(new org.apache.hadoop.fs.Path(ckpt), true)
        // the result is a lazy scan of the partials table: reap at exit
        fs.deleteOnExit(new org.apache.hadoop.fs.Path(
          s"${sys.props("java.io.tmpdir")}/graft_warehouse/sf/" +
            s"t_mom_part_${run.replace("-", "")}"))
      }
    },
    Some("""WITH sums AS (
           |  SELECT event_type,
           |         CAST(count(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS n,
           |         CAST(count(CAST(value AS DECIMAL(12,2))) AS BIGINT) AS cnt,
           |         CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sx,
           |         CAST(sum(CAST(value AS DECIMAL(12,2)) *
           |                  CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sxx
           |  FROM events GROUP BY event_type
           |  HAVING count(CAST(value AS DECIMAL(12,2))) > 0
           |)
           |SELECT event_type, cnt AS n_events,
           |       sx / n AS mean_value,
           |       sqrt((n*sxx - sx*sx) / (n*n)) AS stddev_value
           |FROM sums ORDER BY event_type""".stripMargin))

  /** MODEL-IN-STREAM scoring under the hash gate: the trained quality
    * classifier ([[graft.text.QualityClassifier]]) applied to a
    * streamed corpus — train batch-side (deterministic, so the weights
    * equal `q_quality_classifier`'s bit for bit), broadcast the model,
    * score each micro-batch inside `foreachBatch` (per-batch batch
    * semantics compose exactly because a file source delivers every
    * doc once), and the union of batch outputs must hash-match the
    * all-at-once batch scoring — the oracle re-derives every margin
    * from the exported weights, exactly as in the batch entry. This is
    * the production ingest shape: new corpus slices stream in, the
    * frozen classifier gates them on arrival. */
  val StreamQcWeightsPath = "/tmp/graft_stream_qc_weights.parquet"

  val qStreamQuality = QueryDef("q_stream_quality_scores",
    (spark, dir) => {
      import spark.implicits._
      val docs = graft.core.Tables.documents(spark, dir)
      // trainCached: bit-identical to a fresh train (deterministic
      // weights), so when the batch twin already trained this corpus
      // in-process, the stream entry serves the frozen model — the
      // production train-once/score-arrivals split made literal
      val model = graft.text.QualityClassifier.trainCached(
        docs.withColumn("y",
          (col("lang") === "en").cast("double")),
        "doc_id", "text", "y", dim = graft.TextQueries.QcDim,
        iters = 8, lr = 4.0)
      graft.text.QualityClassifier.exportModel(
        spark, model, StreamQcWeightsPath)
      val batchSchema = Tables.documents(spark, dir).schema
      val (cat, warehouse) = graft.streaming.TableDrain.ensureCatalog(spark)
      val run = java.util.UUID.randomUUID().toString.replace("-", "")
      val tbl = s"t_qc_$run"
      val target = s"$cat.sf.$tbl"
      val path = s"$warehouse/sf/$tbl"
      val ckpt = s"${sys.props("java.io.tmpdir")}/graft_stream_qc_ckpt_$run"
      val src = spark.readStream.schema(batchSchema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(dir)
      // per-batch scoring (batch semantics inside foreachBatch — the
      // per-batch gate the production ingest runs), MERGE-upserted by
      // doc_id into a graft table: the scored corpus lives in the
      // TABLE at corpus cardinality, the driver holds only the epoch
      // marker (TableDrain migration, round 14 — this entry was the
      // largest driver-map drain, per-document rows)
      def scoreBatch(batch: DataFrame, bid: Long): DataFrame =
        graft.text.QualityClassifier.score(batch, "doc_id", "text", model)
      graft.streaming.TableDrain.create(spark, target,
        scoreBatch(docs.limit(0), 0L).schema)
      val q = graft.streaming.TableDrain.upsertSink(spark, src, target,
          path, s"qc_$run", Seq("doc_id"), Seq("margin", "score", "keep"),
          transform = scoreBatch)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally {
        val p = new org.apache.hadoop.fs.Path(ckpt)
        val fsys = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        fsys.delete(p, true)
        fsys.deleteOnExit(new org.apache.hadoop.fs.Path(path))
      }
      graft.streaming.TableDrain.read(spark, path).orderBy("doc_id")
    },
    Some(graft.TextQueries.classifierOracle(StreamQcWeightsPath)))

  /** PARTITIONED table as a STREAMING SOURCE, under the hash gate
    * (round 12): a `o_orderstatus=…` graft table streams through the
    * connector source with `maxFilesPerTrigger = 1` (one micro-batch
    * per partition file — the per-file footer-proof admission path runs
    * for every one), lands in a memory sink, and is aggregated BY THE
    * PARTITION COLUMN — values the flat splits could only have carried
    * from inside the data files (the Iceberg write convention). The
    * oracle recomputes the aggregate straight from `orders`; a dropped
    * partition file, a null-filled partition value, or a double-
    * admitted batch breaks the hash. */
  val qStreamPartitionedSource = QueryDef("q_stream_partitioned_source",
    (spark, dir) => {
      val fmt = "graft.sources.GraftParquetTableProvider"
      val orders = Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"), col("o_orderpriority"))
        .filter(pmod(col("o_orderkey"), lit(4)) === 0)
      val run = java.util.UUID.randomUUID().toString.replace("-", "")
      val tmp = sys.props("java.io.tmpdir")
      val table = s"$tmp/graft_stream_part_$run"
      val ckpt = s"$tmp/graft_stream_part_ckpt_$run"
      val conf = spark.sparkContext.hadoopConfiguration
      val fs = new org.apache.hadoop.fs.Path(table).getFileSystem(conf)
      orders.coalesce(1).write.format(fmt).option("path", table)
        .option("partitionBy", "o_orderstatus").mode("append").save()
      try {
        val q = spark.readStream.format(fmt).option("path", table)
          .option("maxFilesPerTrigger", 1)
          .schema(orders.schema).load()
          .writeStream.format("memory").queryName(s"part_src_$run")
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        spark.table(s"part_src_$run")
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
              .as("total_price"),
            min("o_orderkey").as("min_key"),
            max("o_orderkey").as("max_key"))
          .orderBy("o_orderstatus")
      } finally {
        fs.delete(new org.apache.hadoop.fs.Path(ckpt), true)
        fs.deleteOnExit(new org.apache.hadoop.fs.Path(table))
      }
    },
    Some("""SELECT o_orderstatus, count(*) AS n,
           |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
           |         AS total_price,
           |       min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
           |FROM orders WHERE o_orderkey % 4 = 0
           |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin))

  /** STREAMING CDC APPLY under the hash gate ([[graft.streaming.CdcApply]])
    * — the canonical lakehouse ingestion pattern and the scale-safe
    * replacement for driver-map result drains: a keyed update stream
    * (op ∈ I/U/D, absolute values, a seq ordinal) arrives as three
    * pinned micro-batches and is MERGE'd into a graft catalog table
    * once per batch, each application claiming an epoch marker.
    *
    * The three batches exercise the full op surface IN ORDER (order is
    * load-bearing — b3 updates rows b2 inserted, and deletes rows b1
    * updated): b1 updates every 8th seeded key (price ×2), b2 inserts
    * the disjoint slice-1 keys, b3 deletes every 16th seeded key AND
    * updates every 8th slice-1 key (price ×3). b3 also carries TWO CDC
    * rows for each deleted key (a stale update at seq 3, the delete at
    * seq 4) so last-writer-wins compaction is on the hook, not just
    * the merge. After the drain, the LAST batch is re-applied verbatim
    * (the restart-replay simulation): the epoch marker must make it a
    * no-op — require-asserted on both the skip and the table version
    * count. The merged head must equal the oracle's CASE-rewritten
    * union; a lost epoch, double-applied insert, resurrected delete,
    * or wrong-order LWW pick breaks the hash. */
  val qStreamCdcApply = QueryDef("q_stream_cdc_apply",
    (spark, dir) => {
      val fmt = "graft.sources.GraftParquetTableProvider"
      val cat = "graft_lake"
      val warehouse = s"${sys.props("java.io.tmpdir")}/graft_warehouse"
      spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      spark.conf.set(s"spark.sql.catalog.$cat.warehouse", warehouse)
      val run = java.util.UUID.randomUUID().toString.replace("-", "")
      val tbl = s"t_cdc_$run"
      val path = s"$warehouse/sf/$tbl"
      val tmp = sys.props("java.io.tmpdir")
      val cdcDir = s"$tmp/graft_cdc_in_$run"
      val ckpt = s"$tmp/graft_cdc_ckpt_$run"
      val conf = spark.sparkContext.hadoopConfiguration
      val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(conf)
      val orders = Tables.orders(spark, dir)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      def slice(k: Int) =
        orders.filter(pmod(col("o_orderkey"), lit(4)) === k)
      def cdc(df: DataFrame, op: String, seq: Int): DataFrame =
        df.withColumn("op", lit(op)).withColumn("seq", lit(seq.toLong))
      val b1 = cdc(slice(0).filter(pmod(col("o_orderkey"), lit(8)) === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 2), "U", 1)
      val b2 = cdc(slice(1), "I", 2)
      val b3 = cdc(slice(0).filter(pmod(col("o_orderkey"), lit(16)) === 0)
          .withColumn("o_totalprice", col("o_totalprice") * 9), "U", 3)
        .unionByName(cdc(
          slice(0).filter(pmod(col("o_orderkey"), lit(16)) === 0), "D", 4))
        .unionByName(cdc(
          slice(1).filter(pmod(col("o_orderkey"), lit(8)) === 1)
            .withColumn("o_totalprice", col("o_totalprice") * 3), "U", 5))
      def stage(name: String, df: DataFrame, mtimeMs: Long): Unit = {
        val scratch = new org.apache.hadoop.fs.Path(s"$cdcDir/_st_$name")
        df.coalesce(1).write.parquet(scratch.toString)
        val part = fs.globStatus(new org.apache.hadoop.fs.Path(
          s"$scratch/part-*.parquet"))(0).getPath
        val dest = new org.apache.hadoop.fs.Path(s"$cdcDir/$name.parquet")
        require(fs.rename(part, dest), s"cdc stage rename failed: $name")
        fs.delete(scratch, true)
        fs.setTimes(dest, mtimeMs, -1)
      }
      try {
        slice(0).coalesce(2).write.format(fmt).option("path", path)
          .mode("append").save()
        stage("b1", b1, 1000000L)
        stage("b2", b2, 2000000L)
        stage("b3", b3, 3000000L)
        val src = spark.readStream.schema(b1.schema)
          .option("maxFilesPerTrigger", 1).parquet(cdcDir)
        val q = graft.streaming.CdcApply.sink(spark, src,
            s"$cat.sf.$tbl", path, s"cdc_$run", "o_orderkey", "op",
            "seq", Seq("o_orderstatus", "o_totalprice"))
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        // RESTART-REPLAY: redeliver the last epoch verbatim (what a
        // recovery does when the foreachBatch commit wasn't yet
        // checkpointed) — the marker must make it a metadata no-op
        val versionsBefore =
          graft.sources.GraftTableLog.versions(path).size
        val replayed = graft.streaming.CdcApply.applyBatch(spark,
          s"$cat.sf.$tbl", path,
          spark.read.parquet(s"$cdcDir/b3.parquet"), s"cdc_$run", 2L,
          "o_orderkey", "op", "seq", Seq("o_orderstatus", "o_totalprice"))
        require(!replayed,
          "cdc apply: epoch marker failed to dedupe a replayed batch")
        require(graft.sources.GraftTableLog.versions(path).size
            == versionsBefore,
          "cdc apply: replayed batch churned a table version")
        spark.read.format(fmt).option("path", path).load()
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
              .as("total_price"),
            min("o_orderkey").as("min_key"),
            max("o_orderkey").as("max_key"))
          .orderBy("o_orderstatus")
      } finally {
        fs.delete(new org.apache.hadoop.fs.Path(cdcDir), true)
        fs.delete(new org.apache.hadoop.fs.Path(ckpt), true)
        fs.deleteOnExit(new org.apache.hadoop.fs.Path(path))
      }
    },
    Some("""WITH merged AS (
           |  SELECT o_orderkey, o_orderstatus,
           |         CASE WHEN o_orderkey % 8 = 0 THEN o_totalprice * 2
           |              ELSE o_totalprice END AS o_totalprice
           |  FROM orders WHERE o_orderkey % 4 = 0 AND o_orderkey % 16 <> 0
           |  UNION ALL
           |  SELECT o_orderkey, o_orderstatus,
           |         CASE WHEN o_orderkey % 8 = 1 THEN o_totalprice * 3
           |              ELSE o_totalprice END AS o_totalprice
           |  FROM orders WHERE o_orderkey % 4 = 1
           |)
           |SELECT o_orderstatus, count(*) AS n,
           |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
           |         AS total_price,
           |       min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
           |FROM merged
           |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin))

  /** STREAMING EXACT DEDUPLICATION under the hash gate — the streaming
    * face of `q_dedup_exact` and the one stateful shape the gated
    * family didn't yet cover: `dropDuplicatesWithinWatermark` keyed on
    * a 64-bit record fingerprint, its state store holding one 8-byte
    * key per record inside the watermark horizon (the property that
    * makes streaming dedup deployable at 100 TB — state is bounded by
    * the horizon, never by the corpus).
    *
    * Three pinned micro-batches with CROSS-BATCH verbatim
    * redeliveries — b2 re-delivers half of b1's docs, b3 half of
    * b2's — so the dedup STATE STORE, not within-batch distinct, is
    * load-bearing: a b2 redelivery can only be dropped against state
    * remembered from b1. Each batch carries its own arrival timestamp
    * (10 min apart, inside the 1 h delay), the watermark advances
    * batch-wise, and nothing is late — eviction semantics belong to
    * the MemoryStream specs; this entry pins the dedup RESULT.
    * Survivors append to a graft table via the transactional streaming
    * sink (epoch commits — the scale-safe drain, no driver map), and
    * the table read back must aggregate to exactly the distinct
    * document set: a dropped first-arrival, a surviving redelivery, or
    * a lost epoch drifts a count/sum and breaks the hash. */
  val qStreamExactDedup = QueryDef("q_stream_exact_dedup",
    (spark, dir) => {
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"), col("n_chars"), col("text"))
      val run = java.util.UUID.randomUUID().toString
      val tmp = sys.props("java.io.tmpdir")
      val ingest = s"$tmp/graft_sdedup_in_$run"
      val table = s"$tmp/graft_sdedup_out_$run"
      val ckpt = s"$tmp/graft_sdedup_ckpt_$run"
      val conf = spark.sparkContext.hadoopConfiguration
      val fs = new org.apache.hadoop.fs.Path(ingest).getFileSystem(conf)
      // per-batch arrival time BAKED into the staged file: the
      // watermark clock is the stream's own event-time column, 10 min
      // between batches against a 1 h dedup horizon
      def stage(name: String, df: DataFrame, arrivalUs: Long,
          mtimeMs: Long): Unit = {
        val scratch = new org.apache.hadoop.fs.Path(s"$ingest/_st_$name")
        df.withColumn("arrival_us", lit(arrivalUs))
          .coalesce(1).write.parquet(scratch.toString)
        val part = fs.globStatus(new org.apache.hadoop.fs.Path(
          s"$scratch/part-*.parquet"))(0).getPath
        val dest = new org.apache.hadoop.fs.Path(s"$ingest/$name.parquet")
        require(fs.rename(part, dest), s"dedup stage rename failed: $name")
        fs.delete(scratch, true)
        fs.setTimes(dest, mtimeMs, -1)
      }
      try {
        val m3 = pmod(col("doc_id"), lit(3))
        val m6 = pmod(col("doc_id"), lit(6))
        val hourUs = 3600L * 1000000
        val tenMinUs = 600L * 1000000
        stage("b1", docs.filter(m3 === 0), hourUs, 1000000L)
        stage("b2", docs.filter(m3 === 1)
          .unionByName(docs.filter(m6 === 0)), // redelivers half of b1
          hourUs + tenMinUs, 2000000L)
        stage("b3", docs.filter(m3 === 2)
          .unionByName(docs.filter(m6 === 1)), // redelivers half of b2
          hourUs + 2 * tenMinUs, 3000000L)
        val srcSchema = docs.withColumn("arrival_us", lit(0L)).schema
        val src = spark.readStream.schema(srcSchema)
          .option("maxFilesPerTrigger", 1).parquet(ingest)
        val deduped = src
          .withColumn("fp", xxhash64(col("doc_id"), col("text")))
          .withColumn("arrival_ts", timestamp_micros(col("arrival_us")))
          .withWatermark("arrival_ts", "1 hour")
          .dropDuplicatesWithinWatermark("fp")
          .select("doc_id", "lang", "n_chars")
        val q = deduped.writeStream
          .format("graft.sources.GraftParquetTableProvider")
          .option("path", table)
          .option("checkpointLocation", ckpt)
          .outputMode("append")
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        // three non-empty micro-batches => three epoch commits; fewer
        // means the drain coalesced and cross-batch state went untested
        val nVersions = graft.sources.GraftTableLog.versions(table).size
        require(nVersions >= 3,
          s"stream dedup: expected >= 3 epoch commits, got $nVersions")
        spark.read.format("graft.sources.GraftParquetTableProvider")
          .option("path", table).load()
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("doc_id")).as("sum_doc_id"),
            sum(col("n_chars")).as("sum_chars"))
          .orderBy("lang")
      } finally {
        fs.delete(new org.apache.hadoop.fs.Path(ingest), true)
        fs.delete(new org.apache.hadoop.fs.Path(ckpt), true)
        fs.deleteOnExit(new org.apache.hadoop.fs.Path(table))
      }
    },
    Some("""SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           |       CAST(sum(doc_id) AS BIGINT) AS sum_doc_id,
           |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
           |FROM documents
           |GROUP BY lang ORDER BY lang""".stripMargin))

  def all: Seq[QueryDef] =
    Seq(qStreamTumbling, qStreamLate, qStreamSessions, qStreamNearDup,
      qStreamSink, qStreamJoin, qStreamEnrich, qStreamPipe, qStreamMoments,
      qStreamQuality, qStreamPartitionedSource, qStreamCdcApply,
      qStreamExactDedup)
      // fixed-cost-dominated streaming entries run with STATE-SIZED
      // shuffle partitions (see withStatePartitions): their stateful
      // exchanges and drain-table writes plan under 8 partitions, while
      // the returned DataFrame (the drained-table readback) is LAZY and
      // materializes after the conf is restored — batch-side plans keep
      // the session's CPU-sized parallelism. CPU-BOUND state kernels
      // are excluded: q_stream_neardup_pairs' minhash/bucket kernel and
      // q_stream_quality_scores' scoring are wall-bound by per-row
      // state WORK, not per-instance store maintenance — shrinking
      // their partitions would serialize real CPU (the r13 multimodal
      // lesson in streaming form); they keep the CPU-sized default.
      .map(q =>
        if (q.name == "q_stream_neardup_pairs" ||
            q.name == "q_stream_quality_scores") q
        else q.copy(run = (s, d) => withStatePartitions(s, 8)(q.run(s, d))))
}
