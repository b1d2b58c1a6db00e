package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.expr.{CosineSim, NearestCentroidD2, NearestCentroidId, TopKAgg}

/** Distributed k-means (Lloyd's algorithm) over an `array<float>` column,
  * and the multi-probe IVF search built on it — the trained counterpart
  * of [[graft.VectorQueries]]'s label-as-quantizer IVF entry.
  *
  * Scale design (100 TB): centroids live on the DRIVER as a k×dim float
  * matrix (model-scale — the same legitimacy as the scalar convergence
  * probes in [[Dedup.duplicateClusters]]). Assignment is a map-side
  * codegen kernel over that matrix ([[graft.expr.NearestCentroidId]]),
  * so NO exchange ever carries a corpus vector: the only shuffle per
  * Lloyd iteration is the (cid, dim) partial-mean aggregate, whose
  * map-side combine reduces each task's output to ≤ k·dim rows. This is
  * the zero-corpus-shuffle assignment MLlib's KMeans uses, kept inside
  * whole-stage codegen.
  *
  * Determinism: seeds are the k smallest-id vectors; the argmin
  * tie-break is (distance, cid) lexicographic — the kernel breaks ties
  * by matrix position and [[fit]] keeps the matrix sorted by cid — so
  * re-runs and executor retries assign identically and the trained
  * index is reproducible (the same property every other graft kernel
  * keeps).
  */
object KMeans {

  /** Lloyd iterations. Returns (centroids, assignments):
    * centroids = (cid, cv: array<float>) — cid is the SEED VECTOR's id
    * (stable across iterations; no global ordering pass needed);
    * assignments = (id, v, cid).
    *
    * @param maxIter fixed iteration count (k-means converges
    *        monotonically in SSE; specs assert the decrease) */
  def fit(vectors: DataFrame, idCol: String, vecCol: String,
      k: Int, maxIter: Int): (DataFrame, DataFrame) = {
    val spark = vectors.sparkSession
    // PERSIST for the duration of training: Lloyd is iterative, and
    // without a cache every meansByDim().collect() below re-reads the
    // corpus from source — maxIter + 2 full scans where one suffices
    // (MLlib's KMeans caches its input for exactly this reason; same
    // materialize-once discipline as duplicateClusters' edge set). The
    // cache populates on the first iteration's aggregate; subsequent
    // iterations and the seeding TakeOrdered touch memory/local disk
    // only. Unpersisted in the finally — the returned lazy assignment
    // re-derives from source (one scan) when the caller consumes it.
    val v = vectors.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // deterministic seeding: the k smallest ids (TakeOrderedAndProject —
      // no shuffle of the full corpus). k rows collected; ascending id
      // order IS the kernel's tie-break order.
      val seeds = v.orderBy("id").limit(k).collect()
      val cids: Array[Long] = seeds.map(_.getLong(0))
      var cents: Array[Array[Float]] = seeds.map(_.getSeq[Float](1).toArray)
      var iter = 0
      while (iter < maxIter) {
        // update: per-(cid, dim) mean. Assignment happens inside the scan
        // via the codegen kernel; the exchange carries only (cid, dim)
        // partial sums, and the k·dim result rows come back to the driver
        // to refresh the matrix (model-scale, like the matrix itself).
        // decimal accumulation: double addition is order-sensitive and a
        // shuffled aggregate merges in nondeterministic order — decimal
        // sums are associative, so the trained centroids really are
        // identical across reruns/retries (same convention as the
        // engine's other double-summing aggregates)
        val means = meansByDim(v, cids, cents).collect()
        val byCid = means.groupBy(_.getLong(0)).map { case (cid, rs) =>
          cid -> rs.sortBy(_.getInt(1)).map(_.getDouble(2).toFloat)
        }
        // A cluster that lost every point has no mean rows; it KEEPS its
        // previous position (the standard empty-cluster rule) rather than
        // silently shrinking k.
        cents = cids.zip(cents).map { case (cid, old) => byCid.getOrElse(cid, old) }
        iter += 1
      }
      import spark.implicits._
      val centsDf = cids.zip(cents.map(_.toSeq)).toSeq.toDF("cid", "cv")
      // assignment derives from the UNCACHED projection so the cache can
      // be dropped now rather than leaking past fit()'s return
      val assigned = assignWith(
        vectors.select(col(idCol).cast("long").as("id"), col(vecCol).as("v")),
        cids, cents)
      (centsDf, assigned)
    } finally v.unpersist(blocking = false)
  }

  /** The per-iteration update aggregate: map-side argmin assignment, then
    * (cid, dim) partial means. Package-visible so specs can assert the
    * plan's exchanges carry no vector column. */
  private[graft] def meansByDim(v: DataFrame, cids: Array[Long],
      cents: Array[Array[Float]]): DataFrame =
    v.select(NearestCentroidId(col("v"), cids, cents).as("cid"),
        posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy("cid", "dim")
      // exact decimal sum, then ONE double division — not avg(decimal),
      // whose internal decimal division has engine-specific scale rules.
      // This exact-sum/ieee-divide form is what a SQL oracle can replay
      // bit-for-bit (see q_semantic_dedup's unrolled Lloyd mirror); the
      // float→double cast first pins the decimal conversion to the same
      // double value both engines see.
      .agg((sum(col("x").cast("double").cast("decimal(38,15)")).cast("double") /
        count(lit(1))).as("m"))

  private def assignWith(v: DataFrame, cids: Array[Long],
      cents: Array[Array[Float]]): DataFrame =
    v.select(col("id"), col("v"), NearestCentroidId(col("v"), cids, cents).as("cid"))

  /** Nearest-centroid assignment against a centroid FRAME (k rows,
    * driver-collected into the kernel matrix) — the standalone entry for
    * assigning a new corpus to an already-trained index. Shuffle-free:
    * the plan is scan → project. */
  def assign(v: DataFrame, cents: DataFrame): DataFrame = {
    val (cids, m) = collectCentroids(cents)
    assignWith(v, cids, m)
  }

  /** Collect a (cid, cv) frame into the kernel's sorted matrix form —
    * k rows, model-scale. */
  private def collectCentroids(cents: DataFrame): (Array[Long], Array[Array[Float]]) = {
    val rows = cents.select(col("cid").cast("long"), col("cv"))
      .collect().sortBy(_.getLong(0))
    (rows.map(_.getLong(0)), rows.map(_.getSeq[Float](1).toArray))
  }

  /** Within-cluster sum of squared distances — the Lloyd objective;
    * exposed so convergence is observable (specs assert monotone
    * decrease over iterations). Map-side kernel + one scalar aggregate:
    * no join, no exchange with vectors. */
  def sse(assigned: DataFrame, cents: DataFrame): Double = {
    val (_, m) = collectCentroids(cents)
    assigned.select(NearestCentroidD2(col("v"), m).as("d2"))
      .agg(coalesce(sum("d2"), lit(0.0))).collect()(0).getDouble(0)
  }

  /** Persist a trained IVF index: centroids plus the inverted lists,
    * with assignments PARTITIONED BY cid on disk — each centroid's
    * bucket is its own directory, so a search that probes `nprobe`
    * buckets scans only those directories (`PartitionFilters` prune the
    * rest at planning time; spec-asserted). This is what makes a
    * persisted 100 TB index useful: query cost scales with the probed
    * fraction of the corpus, not its size. Layout is plain parquet —
    * no sidecar format; [[loadIndex]] + [[ivfTopK]] reproduce the
    * in-memory results exactly (vectors and assignments are
    * deterministic, so save/load is bit-transparent). */
  def saveIndex(cents: DataFrame, assigned: DataFrame, path: String): Unit = {
    cents.write.mode("overwrite").parquet(s"$path/centroids")
    assigned.write.mode("overwrite")
      .partitionBy("cid").parquet(s"$path/assignments")
  }

  /** Load a persisted index: (centroids, assignments) — the inputs
    * [[ivfTopK]] expects. */
  def loadIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): (DataFrame, DataFrame) = {
    val cents = spark.read.parquet(s"$path/centroids")
    val assigned = spark.read.parquet(s"$path/assignments")
      .select(col("id"), col("v"), col("cid"))
    (cents, assigned)
  }

  /** Multi-probe IVF top-k: each query scores ONLY the vectors assigned
    * to its `nprobe` nearest centroids. nprobe = k ⇒ every bucket is
    * probed and the result is EXACTLY brute force (the oracle-checked
    * configuration); nprobe < k trades recall for a corpus-scan
    * reduction of ~nprobe/k (the production configuration — recall
    * measured in specs).
    *
    * @param corpusAssigned (id, v, cid) from [[fit]]
    * @param queries        (query_id, qv) — small, broadcast side
    */
  def ivfTopK(corpusAssigned: DataFrame, cents: DataFrame,
      queries: DataFrame, k: Int, nprobe: Int): DataFrame = {
    // per-query nprobe nearest centroids via the bounded-heap aggregate
    // (k-row side; the TopKAgg keeps the plan window-free)
    val probes = queries.crossJoin(broadcast(cents))
      .select(col("query_id"), col("qv"),
        negate(graft.expr.L2Distance(col("qv"), col("cv"))).as("negd"), col("cid"))
      .groupBy("query_id")
      .agg(TopKAgg(col("negd"), col("cid"), nprobe).as("top"),
        first(col("qv")).as("qv"))
      .select(col("query_id"), col("qv"),
        explode(expr("transform(top, e -> e.payload)")).as("cid"))
    // MATERIALIZE the probe set (≤ |queries| × nprobe rows — the
    // queries are the declared-small broadcast side) and prefilter the
    // inverted lists with a STATIC `cid IN (…)`: on a persisted
    // cid-partitioned index this is a plan-time PartitionFilter, so
    // the scan reads ONLY the probed directories. The bucket join
    // alone restricts the same rows semantically, but a broadcast hash
    // join prunes nothing at planning — measured on a 100× corpus, the
    // probe cost sat flat vs nprobe=k until this filter (a removed
    // IvfScaleDryRun that SCALE.md's header says how to recover; the
    // pruning design is SCALE.md "Round-8 continuation", IVF-PQ
    // bullet). createDataFrame pins the collected
    // probes so the tiny aggregate runs ONCE, not once per downstream
    // use.
    val spark = corpusAssigned.sparkSession
    val probeRows = probes.collect()
    val probedCids = probeRows.map(_.getLong(2)).distinct.toSeq
    val probesDf = spark.createDataFrame(
      java.util.Arrays.asList(probeRows: _*), probes.schema)
    corpusAssigned.filter(col("cid").isin(probedCids: _*))
      .join(broadcast(probesDf), "cid")
      .filter(col("id") =!= col("query_id"))
      .select(col("query_id"), col("id").as("neighbor_id"),
        round(CosineSim(col("qv"), col("v")), 6).as("cosine"))
      .transform(Similarity.topKPerQuery(_, k))
  }
}
