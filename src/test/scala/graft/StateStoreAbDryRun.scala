package graft

import org.apache.spark.sql.SparkSession

/** Round-16 A/B: the STATE-HEAVY streaming entries under
  * `RocksDBStateStoreProvider` vs the default
  * `HDFSBackedStateStoreProvider`. The round-15 state-partition lever
  * (size partitions to state volume, not CPU count —
  * SCALE.md "Round-15: q_stream_join_error_purchase attribution",
  * `StreamingQueries.withStatePartitions`) was
  * derived entirely on the HDFS-backed store, whose cost model is
  * per-instance snapshot/delta maintenance × partitions × batches ×
  * stores-per-operator. A 100 TB deployment runs RocksDB, where the
  * fixed cost per instance is a native DB open + changelog/snapshot
  * upload — different arithmetic, so the lever must be shown to
  * transfer (or its limits recorded) on the store real jobs use.
  *
  * For each entry the tool runs BOTH providers back-to-back in one
  * session (fresh per-run checkpoints — the provider is pinned into a
  * checkpoint at first batch, so each run gets its own) and:
  *   - asserts HASH PARITY: the drained result rows are identical
  *     across providers (canonicalized sort — the provider must be
  *     invisible in results);
  *   - prints one AB line (hdfs_s, rocksdb_s, rows) for SCALE.md.
  *
  * `runMain graft.StateStoreAbDryRun [sfDir]`. */
object StateStoreAbDryRun {

  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
  private val Hdfs =
    "org.apache.spark.sql.execution.streaming.state." +
      "HDFSBackedStateStoreProvider"
  private val Rocks =
    "org.apache.spark.sql.execution.streaming.state." +
      "RocksDBStateStoreProvider"

  /** The state-heavy spot set: symmetric join (4 stores/partition),
    * flatMapGroupsWithState near-dup, CDC apply, exact dedup. */
  private val Entries = Seq(
    "q_stream_join_error_purchase",
    "q_stream_neardup_pairs",
    "q_stream_cdc_apply",
    "q_stream_exact_dedup")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val leverOnly = args.lift(1).contains("lever")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.core.GraftSession.adopt(spark)
    spark.read.parquet(s"$sfDir/events.parquet").count() // warm
    if (!leverOnly)
      Entries.foreach(name => println(ab(spark, sfDir, name)))
    // the r15 state-partition LEVER under RocksDB: the symmetric join
    // (4 stores per partition — the shape the lever was derived on)
    // across providers × {CPU-sized 32, state-sized 8} partitions
    println(leverMatrix(spark, sfDir))
    spark.stop()
  }

  /** providers × {32, 8} state partitions on the symmetric-join entry
    * (run UNWRAPPED so this tool owns the partition count), min-of-2
    * each — does the state-sized-partition lever transfer to RocksDB? */
  def leverMatrix(spark: SparkSession, sfDir: String): String = {
    val q = StreamingQueries.qStreamJoin
    val cells = for (prov <- Seq(Hdfs, Rocks); parts <- Seq(32, 8)) yield {
      val beforeP = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
      spark.conf.set(ProviderKey, prov)
      try {
        val secs = (1 to 2).map { _ =>
          val t0 = System.nanoTime()
          q.run(spark, sfDir).collect()
          (System.nanoTime() - t0) / 1e9
        }.min
        f"${if (prov == Hdfs) "hdfs" else "rocksdb"}@$parts=$secs%.2f"
      } finally {
        spark.conf.set("spark.sql.shuffle.partitions", beforeP)
        spark.conf.unset(ProviderKey)
      }
    }
    s"LEVER entry=q_stream_join_error_purchase ${cells.mkString(" ")}"
  }

  /** Collect an entry's result in canonical (sorted-row-string) form
    * with its wall seconds. */
  private def timedRun(spark: SparkSession, sfDir: String,
      name: String): (Double, Seq[String]) = {
    val q = StreamingQueries.all.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"no streaming entry $name"))
    val t0 = System.nanoTime()
    val rows = q.run(spark, sfDir).collect().map(_.toString).sorted.toSeq
    ((System.nanoTime() - t0) / 1e9, rows)
  }

  /** One provider A/B for `name`: min-of-2 per provider (the first
    * run of a session pays codegen/drain warmup that would otherwise
    * bill whichever provider goes first), hash parity asserted;
    * returns the AB summary line. Shared with StateStoreAbSpec. */
  def ab(spark: SparkSession, sfDir: String, name: String): String = {
    val before = spark.conf.getOption(ProviderKey)
    def under(provider: String): (Double, Seq[String]) = {
      spark.conf.set(ProviderKey, provider)
      try {
        val (s1, r1) = timedRun(spark, sfDir, name)
        val (s2, r2) = timedRun(spark, sfDir, name)
        require(r1 == r2, s"$name: nondeterministic across reruns")
        (math.min(s1, s2), r1)
      } finally before match {
        case Some(v) => spark.conf.set(ProviderKey, v)
        case None => spark.conf.unset(ProviderKey)
      }
    }
    val (hs, hRows) = under(Hdfs)
    val (rs, rRows) = under(Rocks)
    require(hRows == rRows,
      s"$name: provider changed the RESULT — hdfs ${hRows.size} rows vs " +
        s"rocksdb ${rRows.size} rows; first diff: " +
        s"${hRows.diff(rRows).headOption.orElse(rRows.diff(hRows)
          .headOption).getOrElse("<order>")}")
    f"AB entry=$name hdfs_s=$hs%.2f rocksdb_s=$rs%.2f " +
      f"rows=${hRows.size} parity=ok"
  }
}
