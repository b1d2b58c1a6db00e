package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.expr.{Fingerprint64, LshBands, MinHashSig, SimHash64, TopKAgg}
import graft.text.TextAnalysis

/** Deduplication operators for LLM-training-data pipelines: exact
  * (content-hash groupBy), n-gram Jaccard, MinHash+LSH, and SimHash.
  *
  * Scale design (100 TB): every path below shuffles *hashes or pairs*,
  * never document bodies —
  *   - exact: 8-byte fingerprint per row through one hash-agg shuffle;
  *   - jaccard: explode to (shingle, doc_id) — the inverted index — and
  *     self-join on shingle. Exact but quadratic in per-shingle doc
  *     frequency, so it's the verify/oracle path, not the scale path;
  *   - minhash LSH: constant-size signature (k longs) per doc, candidates
  *     from band-bucket equi-joins (shuffle keyed by 8-byte bucket), then
  *     exact-Jaccard verification ONLY on candidates. This is the path
  *     whose cost stays linear-ish as the corpus grows; stop-shingle
  *     skew (a shingle appearing in millions of docs) never explodes it
  *     because bucket width is governed by band hashes, not shingle DF.
  *   - simhash: one long per doc; near-dups differ in ≤ maxHamming bits,
  *     candidates from chunk-equality buckets (pigeonhole over
  *     maxHamming+1 chunks), verified with bit_count(xor).
  *
  * No counterpart exists in the reference (its only join is the station
  * cross join, `/root/reference/pipelines/stations.py:62-77`); this is
  * graft's LLM-pipeline extension surface.
  */
object Dedup {

  /** Exact duplicate groups keyed by 64-bit content fingerprint: one row
    * per distinct content with the keeper (min id) and the copy count.
    * NULL-text rows are excluded — "no content" is not "equal content",
    * and grouping them would silently merge every null-text document
    * into one group (same convention as [[dedupAgainst]]).
    * `groupBy(fingerprint)` shuffles 16 bytes/row regardless of document
    * size; collision probability at 10^10 docs is ~3e-3 (birthday, 64-bit)
    * — acceptable for training-data dedup where a false merge loses one
    * document; use a 128-bit pair of fingerprints where it is not. */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol), Fingerprint64(col(textCol)).as("fp"))
      .filter(col("fp").isNotNull)
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("n_copies"))
      .select(col("keeper_id"), col("n_copies"))

  /** Rows surviving exact dedup (the keeper of every duplicate group).
    * NULL-text rows ALL survive — they carry no content to be a
    * duplicate of (previously they silently collapsed into one
    * "duplicate group" and all but one were dropped).
    * Two-phase: tiny (fp → keeper) map, then a semi-join back — so full
    * rows travel once, in the final join, not through the agg shuffle. */
  def exactDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keepers = docs
      .select(col(idCol), Fingerprint64(col(textCol)).as("fp"))
      .filter(col("fp").isNotNull)
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as(idCol))
      .select(col(idCol))
    docs.join(keepers, Seq(idCol), "left_semi")
      .unionByName(docs.filter(col(textCol).isNull))
  }

  /** Incremental exact dedup: rows of `batch` whose content was NOT
    * already seen in `corpus` (and is unique within the batch, keeping
    * min id). The daily-ingest shape: the corpus side reduces to its
    * distinct 8-byte fingerprints (at 100 TB: precompute/maintain that
    * fingerprint table instead of re-scanning), the batch anti-joins
    * against it — no corpus payload is ever read past the projection. */
  def dedupAgainst(corpus: DataFrame, batch: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    // internal key name — never collides with caller columns
    val fp = "__graft_fp"
    // null text is dropped on BOTH sides (fingerprint of nothing is
    // meaningless, and equi-join vs groupBy null semantics would
    // otherwise disagree)
    val seen = corpus.select(Fingerprint64(col(textCol)).as(fp))
      .filter(col(fp).isNotNull).distinct()
    // (fp, keeper id) map — 16 bytes/row through every shuffle below;
    // full batch rows travel exactly once, in the final id semi-join
    val keepers = batch
      .select(col(idCol), Fingerprint64(col(textCol)).as(fp))
      .filter(col(fp).isNotNull)
      .groupBy(col(fp)).agg(min(col(idCol)).as(idCol))
    val freshIds = keepers.join(seen, Seq(fp), "left_anti").select(col(idCol))
    batch.join(freshIds, Seq(idCol), "left_semi")
  }

  /** CPU-heavy text kernels (shingling, the 128-hash MinHash signature,
    * SimHash, winnowing) must not inherit the SCAN's partitioning: a
    * corpus small in BYTES arrives as 1-2 file partitions (a single
    * parquet row group is one task no matter what maxPartitionBytes
    * says), and the kernel serializes onto as many cores — the round-13
    * sf1 sweep measured the minhash signature stage running 2 tasks ×
    * 27 s on a 32-core host. Spreading the raw (id, text) rows costs one
    * byte-cheap shuffle and lets kernel parallelism follow CORES, not
    * file bytes; on a real many-file corpus the scan already has more
    * partitions than this and the rebalance is a near-no-op. */
  private def spread(docs: DataFrame): DataFrame =
    docs.repartition(docs.sparkSession.sparkContext.defaultParallelism)

  /** Exploded inverted index: one (id, shingle) row per distinct shingle
    * per doc. */
  private def shingleIndex(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    spread(docs).select(col(idCol).as("id"),
      explode(TextAnalysis.shingles(col(textCol), n)).as("shingle"))

  /** All document pairs (a < b) with shingle-Jaccard ≥ minJaccard, exact.
    * Output: (doc_a, doc_b, jaccard). The join explodes per-shingle doc
    * lists — exact ground truth for tests/oracles; prefer
    * [[minhashLshPairs]] beyond ~10^6 docs. */
  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int, minJaccard: Double): DataFrame = {
    val idx = shingleIndex(docs, idCol, textCol, n)
    val sizes = idx.groupBy("id").agg(count(lit(1)).as("n_sh"))
    val inter = idx.as("a")
      .join(idx.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("doc_a"), col("b.id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    // no broadcast hint: `sizes` is one row PER DOCUMENT — corpus
    // cardinality, not a dimension. AQE broadcasts it when it happens to
    // be small; at scale these are shuffle joins keyed on the doc id.
    inter
      .join(sizes.withColumnRenamed("id", "doc_a")
        .withColumnRenamed("n_sh", "n_a"), "doc_a")
      .join(sizes.withColumnRenamed("id", "doc_b")
        .withColumnRenamed("n_sh", "n_b"), "doc_b")
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("n_a") + col("n_b") - col("inter")).cast("double"))
      .filter(col("jaccard") >= minJaccard)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Membership cap per LSH band bucket — see [[minhashCandidates]]. */
  val DefaultMaxBucket = 4096

  /** Candidate pairs from MinHash banding: docs sharing ≥1 of `bands`
    * band-bucket keys. k = hashes in the signature (bands must divide k).
    * P[candidate | jaccard=s] = 1 − (1 − s^(k/bands))^bands.
    *
    * The id column must be INTEGRAL (int/long — it is cast to long here;
    * the bounded-heap aggregate carries 8-byte payloads). A non-numeric
    * id fails the cast loudly at runtime under ANSI mode; output
    * `doc_a`/`doc_b` are always long.
    *
    * Skew guard: bucket membership is collected with the k-BOUNDED heap
    * aggregate ([[TopKAgg]] keyed on −id), NOT `collect_list` — a
    * pathological bucket (millions of byte-identical docs that skipped
    * exact dedup) can therefore never OOM a task; memory per bucket is
    * O(maxBucket) at every stage, including the partial aggregates.
    * A capped bucket keeps its `maxBucket` SMALLEST doc ids
    * (deterministic), so pairs are lost only between docs whose EVERY
    * shared band bucket overflowed — run exact dedup first and the cap is
    * unreachable by honest data. Overflow is observable two ways:
    *   - the returned frame carries an `observe` metric `metricName /
    *     overflowed_buckets` (collected on any action over the result);
    *     pass a distinct `metricName` per call when composing this
    *     operator twice in one plan (observed-metric names must be
    *     unique within a query);
    *   - with `failOnOverflow=true` a bucket past the cap FAILS the query
    *     (in-plan assert) instead of silently dropping pairs — use this
    *     on any oracle-checked path, where a silently engaged cap would
    *     surface as an inscrutable hash mismatch. */
  def minhashCandidates(docs: DataFrame, idCol: String, textCol: String,
      n: Int, k: Int, bands: Int, seed: Long,
      maxBucket: Int = DefaultMaxBucket,
      metricName: String = "graft_minhash_lsh",
      failOnOverflow: Boolean = false): DataFrame = {
    val sigs = spread(docs).select(col(idCol).cast("long").as("id"),
      LshBands(MinHashSig(TextAnalysis.shingles(col(textCol), n), k, seed), bands)
        .as("bandkeys"))
    val buckets = sigs.select(col("id"),
      posexplode(col("bandkeys")).as(Seq("band", "key")))
    // group each band bucket and emit its member pairs — signatures are
    // computed ONCE (a self-join would re-derive them on both sides) and
    // the only shuffle moves (band, key, id) triples. Bucket width is
    // governed by the band hash, so a stop-shingle never floods a bucket.
    // TopKAgg on −id ⇒ the smallest maxBucket ids, in ascending order.
    // (ids round-trip a double's 53-bit mantissa — fine for any realistic
    // doc-id space; ids beyond 2^53 would need a long-keyed variant.)
    val aggregated = buckets.groupBy("band", "key")
      .agg(TopKAgg(negate(col("id").cast("double")), col("id"), maxBucket).as("top"),
        count(lit(1)).as("n_members"))
      .filter(col("n_members") > 1)
      .withColumn("ids", expr("transform(top, e -> e.payload)"))
      .observe(metricName,
        sum(when(col("n_members") > maxBucket, 1L).otherwise(0L))
          .as("overflowed_buckets"))
    // assert_true returns NULL when the predicate holds, throws otherwise:
    // filtering on isNull keeps every row while forcing the check per row
    val grouped =
      if (failOnOverflow)
        aggregated.filter(assert_true(col("n_members") <= lit(maxBucket),
          concat(lit(s"graft: LSH band bucket exceeded maxBucket=$maxBucket" +
            " (n_members="), col("n_members"),
            lit("); raise maxBucket or run exact dedup first"))).isNull)
      else aggregated
    grouped
      .select(col("ids"), posexplode(col("ids")).as(Seq("i", "a")))
      .select(col("i"), col("a"), posexplode(col("ids")).as(Seq("j", "b")))
      .filter(col("i") < col("j"))
      .select(least(col("a"), col("b")).as("doc_a"),
        greatest(col("a"), col("b")).as("doc_b"))
      .distinct()
  }

  /** Near-dup pairs via MinHash LSH, verified: candidates from banding,
    * then EXACT Jaccard (array_intersect over the two shingle sets) —
    * so false positives are eliminated and the only approximation is
    * band-miss probability (e.g. k=128, bands=32: P[miss | s=0.8] ≈ 5e-8).
    * Output identical in shape/semantics to [[jaccardPairs]]. */
  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int, minJaccard: Double, k: Int = 128, bands: Int = 32,
      seed: Long = 42L, maxBucket: Int = DefaultMaxBucket,
      metricName: String = "graft_minhash_lsh",
      failOnOverflow: Boolean = false): DataFrame = {
    val cands = minhashCandidates(docs, idCol, textCol, n, k, bands, seed,
      maxBucket, metricName, failOnOverflow)
    // shuffle_hash on the shingle-set side: the sets table is one row
    // per DOCUMENT carrying its full shingle array — corpus-sized, so a
    // broadcast of it scales with the corpus (the sf1 plan built two
    // ~11 s single-task broadcast stages of it). SHJ shuffles candidate
    // ids against it and builds per-partition maps — scale-safe both
    // sides (the embedding-LSH lesson, SCALE.md r13).
    val sets = spread(docs).select(col(idCol).cast("long").as("id"),
      TextAnalysis.shingles(col(textCol), n).as("sh"))
      .hint("shuffle_hash")
    cands
      .join(sets.withColumnRenamed("id", "doc_a").withColumnRenamed("sh", "sh_a"), "doc_a")
      .join(sets.withColumnRenamed("id", "doc_b").withColumnRenamed("sh", "sh_b"), "doc_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
      .withColumn("jaccard",
        col("inter") / (size(col("sh_a")) + size(col("sh_b")) - col("inter")).cast("double"))
      .filter(col("jaccard") >= minJaccard)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Cross-corpus near-duplicate detection — DECONTAMINATION: find every
    * training document that near-duplicates an evaluation/probe document
    * (Brown et al., "Language Models are Few-Shot Learners", NeurIPS
    * 2020, App. C popularized exactly this n-gram-overlap sweep; every
    * serious LLM pipeline runs one before training).
    *
    * Same MinHash-LSH shape as [[minhashCandidates]], but the bucket
    * join is BETWEEN corpora instead of a self-join: both sides band
    * their signatures with the SAME (k, bands, seed) — a must, or
    * buckets don't align — and candidates are (train, probe) id pairs
    * sharing any band bucket, verified with exact Jaccard. Identical
    * documents share every bucket, so exact contamination is a subset
    * of the output (jaccard = 1.0 rows).
    *
    * Scale: the cross join never happens — the only corpus-sized
    * shuffles move (band, key, id) triples from each side into the
    * bucket join, and verification joins at candidate cardinality. The
    * probe side (an eval suite) is typically tiny next to the training
    * corpus; Catalyst broadcasts its bucket table when it fits.
    *
    * Ids are per-corpus (train and probe may reuse the same id space);
    * output columns are (train_id, probe_id, jaccard), unrounded — the
    * Jaccard of integer set sizes is an exact rational, cross-engine
    * stable (same convention as [[jaccardPairs]]).
    */
  def crossCorpusNearDups(train: DataFrame, probe: DataFrame, idCol: String,
      textCol: String, n: Int, minJaccard: Double, k: Int = 128,
      bands: Int = 32, seed: Long = 42L,
      maxBucket: Int = DefaultMaxBucket,
      failOnOverflow: Boolean = false): DataFrame = {
    // Bounded buckets, same contract as [[minhashCandidates]]: a flooded
    // band bucket (boilerplate shared across half the corpus) would make
    // the cross join fan out as |t_bucket|·|p_bucket| — cap the TRAIN
    // side's membership per bucket (the probe/eval side is small by
    // role). With failOnOverflow the cap engaging is a loud failure, the
    // required mode on oracle-checked paths (the oracle is exhaustive).
    def buckets(df: DataFrame, side: String) = spread(df)
      .select(col(idCol).cast("long").as(side),
        LshBands(MinHashSig(TextAnalysis.shingles(col(textCol), n), k, seed), bands)
          .as("bk"))
      .select(col(side), posexplode(col("bk")).as(Seq("band", "key")))
    def sets(df: DataFrame, side: String, sh: String) = spread(df)
      .select(col(idCol).cast("long").as(side),
        TextAnalysis.shingles(col(textCol), n).as(sh))
      .hint("shuffle_hash") // corpus-sized shingle table — never broadcast
    val tAgg = buckets(train, "train_id").groupBy("band", "key")
      .agg(TopKAgg(negate(col("train_id").cast("double")), col("train_id"),
        maxBucket).as("top"), count(lit(1)).as("n_members"))
    val tCapped =
      if (failOnOverflow)
        tAgg.filter(assert_true(col("n_members") <= lit(maxBucket),
          concat(lit(s"graft: cross-corpus band bucket exceeded " +
            s"maxBucket=$maxBucket (n_members="), col("n_members"),
            lit("); raise maxBucket or exact-dedup the corpus first"))).isNull)
      else tAgg
    val tBuckets = tCapped
      .select(col("band"), col("key"),
        explode(expr("transform(top, e -> e.payload)")).as("train_id"))
    val cands = tBuckets
      .join(buckets(probe, "probe_id"), Seq("band", "key"))
      .select(col("train_id"), col("probe_id")).distinct()
    cands
      .join(sets(train, "train_id", "sh_t"), "train_id")
      .join(sets(probe, "probe_id", "sh_p"), "probe_id")
      .withColumn("inter", size(array_intersect(col("sh_t"), col("sh_p"))).cast("double"))
      .withColumn("jaccard",
        col("inter") / (size(col("sh_t")) + size(col("sh_p")) - col("inter")).cast("double"))
      .filter(col("jaccard") >= minJaccard)
      .select(col("train_id"), col("probe_id"), col("jaccard"))
  }

  /** The keeper composition of [[crossCorpusNearDups]]: the training
    * corpus with every contaminated document REMOVED (any doc with
    * near-dup evidence against the probe/eval set). Anti-join on the
    * 8-byte id — the corpus payload never moves for the decision. */
  def decontaminate(train: DataFrame, probe: DataFrame, idCol: String,
      textCol: String, n: Int, minJaccard: Double, k: Int = 128,
      bands: Int = 32, seed: Long = 42L,
      maxBucket: Int = DefaultMaxBucket,
      failOnOverflow: Boolean = false): DataFrame = {
    val contaminated =
      crossCorpusNearDups(train, probe, idCol, textCol, n, minJaccard, k,
        bands, seed, maxBucket, failOnOverflow)
        .select(col("train_id").as(idCol)).distinct()
    train.join(contaminated, Seq(idCol), "left_anti")
  }

  /** Connected components over near-dup pairs: every document in any
    * pair is labeled with the minimum doc id reachable through the pair
    * graph — the cluster keeper. This is the step that turns pairwise
    * near-dup evidence into "keep one per cluster" decisions.
    *
    * Algorithm: alternating LARGE-STAR / SMALL-STAR edge contraction
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC 2014). Edges are kept canonical (bigger id, smaller id); one
    * round runs both operations:
    *   - large-star: per vertex u, every strictly LARGER neighbor is
    *     re-pointed at m(u) = min of u's closed neighborhood;
    *   - small-star: per vertex u over its SMALLER neighbors N, every
    *     v ∈ N ∪ {u} is pointed at min(N).
    * Both ops preserve connectivity exactly (every emitted edge links
    * two vertices already in the same component) and monotonically pull
    * edges toward component minima; the fixpoint is a star per
    * component — every vertex directly linked to its minimum. Unlike
    * min-label pointer jumping (the previous algorithm here), the round
    * bound is O(log² n) REGARDLESS of how ids are ordered along paths:
    * a chain halves in depth every round whether its ids ascend toward
    * the keeper, descend, or zig-zag — the adversarial orderings that
    * degenerated pointer jumping to O(diameter) contract at the same
    * rate as friendly ones (spec'd with the keeper hung off the far end
    * of an ascending chain). Real near-dup graphs (cliques, short
    * chains) still fix in 1–2 rounds.
    *
    * The driver loop only COORDINATES rounds; all data work is
    * distributed joins/aggregates over the candidate-pair edge set
    * (near-dup evidence — orders of magnitude below corpus scale). The
    * re-point joins concentrate onto component minima as convergence
    * nears — a skewed many-to-one join by design; AQE skew-join
    * splitting handles it.
    *
    * Convergence detection is EXACT: a round that leaves the edge set
    * unchanged (same count and no new edges — one anti-join over the
    * edge set, checked only when counts already match) has hit the
    * star fixpoint. No proxy metric, so a plateau can never be mistaken
    * for convergence; confirmation costs one extra round, same as the
    * previous Σ-labels scheme.
    *
    * NON-CONVERGENCE IS LOUD: if the fixpoint is not confirmed within
    * `maxIter` rounds this THROWS (`IllegalStateException`) rather than
    * returning partially-contracted labels — truncated labels would
    * silently split clusters and let duplicates through the downstream
    * keeper selection. Use [[duplicateClustersDetail]] to inspect rounds
    * and convergence without the throw.
    *
    * @param pairs (doc_a, doc_b) near-dup pairs, a < b
    * @param reliableCheckpoint use `checkpoint()` (HDFS-durable, survives
    *        executor loss — set `sparkContext.setCheckpointDir` first)
    *        instead of `localCheckpoint()` (executor-local blocks; fine
    *        single-node, fragile on a real cluster)
    * @return (doc_id, cluster) — cluster = min doc id of the component
    */
  /** Canonical-edge count at or below which [[duplicateClustersDetail]]
    * contracts in ONE single-task local union-find instead of the
    * distributed loop. Default 1M edges ≈ 16 MB of (long, long) plus
    * hash-map overhead in one task — comfortably single-machine work,
    * the same measured-count gating idiom as the graph loops' broadcast
    * cap. 0 forces the loop (specs exercising
    * contraction behavior pin it). */
  private def localCcCap: Long =
    sys.props.get("graft.dedup.localCcCap").map(_.toLong)
      .getOrElse(1000000L)

  /** One-task union-find over canonical (u, v) edges: every vertex maps
    * to its component MINIMUM — union by min root keeps each root the
    * smallest id seen in its component, and path halving keeps finds
    * near-constant. Exactly the label the star-contraction fixpoint
    * emits, computed without rounds. */
  private def localComponentMins(
      it: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      var p = parent(r)
      while (p != r) { // path halving
        val gp = parent(p)
        parent(r) = gp
        r = gp
        p = parent(r)
      }
      r
    }
    it.foreach { case (u, v) =>
      if (!parent.contains(u)) parent(u) = u
      if (!parent.contains(v)) parent(v) = v
      val ru = find(u); val rv = find(v)
      if (ru != rv) {
        if (ru < rv) parent(rv) = ru else parent(ru) = rv
      }
    }
    // snapshot keys before the final finds: path halving writes to the
    // map, and LongMap iteration is not mutation-safe
    val keys = parent.keysIterator.toArray
    keys.iterator.map(x => (x, find(x)))
  }

  def duplicateClusters(pairs: DataFrame, maxIter: Int = 20,
      reliableCheckpoint: Boolean = false): DataFrame = {
    val (labels, rounds, converged) =
      duplicateClustersDetail(pairs, maxIter, reliableCheckpoint)
    if (!converged)
      throw new IllegalStateException(
        s"duplicateClusters: label fixpoint not confirmed after $rounds rounds " +
          s"(maxIter=$maxIter) — returning would silently mislabel clusters. " +
          "Raise maxIter (rounds grow ~log2 of component depth).")
    labels
  }

  /** [[duplicateClusters]] without the non-convergence throw: returns
    * (labels, roundsRun, converged). `converged` is only true once a
    * round leaves the edge set unchanged (star fixpoint CONFIRMED — so
    * the minimum is 2 rounds for a non-trivial graph: one to contract,
    * one to confirm; a graph that is already all stars confirms in 1). */
  def duplicateClustersDetail(pairs: DataFrame, maxIter: Int = 20,
      reliableCheckpoint: Boolean = false): (DataFrame, Int, Boolean) = {
    // LAZY checkpoints: every frame persisted here is followed by (or
    // feeds a plan that ends in) an explicit count(), so the checkpoint
    // blocks are written by THAT job instead of a separate eager
    // materialization job — one Spark job per contraction round instead
    // of two. Fixed job overhead dominates the contraction tail at any
    // scale (the edge set shrinks geometrically), so halving the job
    // count halves the tail cost.
    def persistRound(df: DataFrame): DataFrame =
      if (reliableCheckpoint) df.checkpoint(eager = false)
      else df.localCheckpoint(eager = false)
    // Materialize the RAW pair set first: both derivations below (edges
    // AND vertices) would otherwise each re-run the whole upstream pair
    // plan (shingles → minhash → buckets → verify) — measured as a full
    // 2x of the LSH derivation cost at sf0.1 before this checkpoint.
    // (Lazy — persisted by the `initial` count below, which scans it.)
    val raw = persistRound(pairs.select(col("doc_a"), col("doc_b")))
    // canonical distinct edges (bigger, smaller); self-pairs carry no
    // connectivity and are dropped here (the vertex set below still
    // remembers their endpoints). Materialized once — every round takes
    // passes over it.
    val initial = persistRound(
      raw.select(greatest(col("doc_a"), col("doc_b")).as("u"),
          least(col("doc_a"), col("doc_b")).as("v"))
        .filter(col("u") =!= col("v")).distinct())
    // the full vertex set, kept from the ORIGINAL pairs: the final
    // star edges label every non-isolated vertex, but self-pairs and
    // belt-and-braces coverage come from re-joining against this.
    // Derived lazily from the `raw` checkpoint — it has exactly one
    // consumer (the final labels join), so an eager materialization
    // here would only add a job's worth of fixed overhead per call
    val vertices =
      raw.select(col("doc_a").as("id"))
        .union(raw.select(col("doc_b").as("id"))).distinct()

    // large-star: every neighbor of u LARGER than u re-points at
    // m(u) = min(closed neighborhood). Output stays canonical: the
    // emitted (v, m) has v > u ≥ m. The trailing distinct dedups the
    // fanout BEFORE smallStar re-shuffles it (measured neutral-to-better
    // than letting duplicates ride into smallStar's join).
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(col("u"), col("v"))
        .union(e.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy("u").agg(min("v").as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      sym.join(mins, "u").filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v")).distinct()
    }
    // small-star: over u's SMALLER neighbors N (edges are canonical, so
    // that's every edge grouped by its big end), point every v ∈ N∪{u}
    // at min(N). Output canonical: v ∈ N \ {m} has v > m, and u > m.
    def smallStar(e: DataFrame): DataFrame = {
      val mins = e.groupBy("u").agg(min("v").as("m"))
      e.join(mins, "u").filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .union(mins.select(col("u"), col("m").as("v")))
        .distinct()
    }

    var edges = initial
    var prevCount = edges.count()
    // SCALE-GATED SINGLE-TASK CONTRACTION (r17, guide §1.2/§2.4): below
    // `localCcCap` canonical edges — measured, not estimated; the count
    // above is paid by both paths to materialize the checkpoint — the
    // whole fixpoint runs as ONE task's union-find over the edge set
    // instead of the distributed loop. At sf0.1 the loop costs ~50 AQE
    // stage jobs of pure scheduling (~60 ms each) over a few hundred
    // edges; the local kernel is one job. This is the graph trio's
    // broadcast-gate discipline applied to the closure: near-dup
    // evidence below the cap is single-machine work BY MEASUREMENT, and
    // a corpus whose evidence outgrows the cap takes the unchanged
    // O(log²) Kiveris loop (AQE skew splitting intact). Labels are
    // IDENTICAL by construction — union-by-min-root makes every root
    // the component minimum, the exact label the star fixpoint yields.
    // Data never crosses the driver (the task runs executor-side); the
    // integral-id restriction keeps the Long kernel honest — other id
    // types (none in the catalog) take the loop.
    val idIntegral = initial.schema("u").dataType match {
      case org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType => true
      case _ => false
    }
    if (idIntegral && prevCount <= localCcCap) {
      val spark = pairs.sparkSession
      val idType = initial.schema("u").dataType
      val minsRdd = initial
        .select(col("u").cast("long"), col("v").cast("long"))
        .rdd.map(r => (r.getLong(0), r.getLong(1)))
        .coalesce(1)
        .mapPartitions(localComponentMins)
        .map { case (id, mn) => org.apache.spark.sql.Row(id, mn) }
      val minsDf = spark.createDataFrame(minsRdd,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("mn",
            org.apache.spark.sql.types.LongType, nullable = false))))
        .select(col("id").cast(idType).as("id"),
          col("mn").cast(idType).as("mn"))
      val labels = vertices.join(minsDf, Seq("id"), "left")
        .select(col("id"),
          least(col("id"), coalesce(col("mn"), col("id"))).as("cluster"))
      return (labels, 0, true)
    }
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // one job: the count materializes the lazy checkpoint
      val next = persistRound(smallStar(largeStar(edges)))
      val nextCount = next.count()
      // exact fixpoint test: same cardinality and nothing new — the
      // anti-join only runs once counts already agree
      converged = nextCount == prevCount &&
        next.except(edges).limit(1).count() == 0
      edges = next
      prevCount = nextCount
      iter += 1
    }
    // labels from the star edges: min over the closed neighborhood is
    // the component minimum at fixpoint (and the vertex itself for
    // component minima / isolated self-pair vertices)
    val sym = edges.select(col("u"), col("v"))
      .union(edges.select(col("v").as("u"), col("u").as("v")))
    val starLabels = sym.groupBy(col("u").as("id"))
      .agg(min("v").as("mn"))
    val labels = vertices.join(starLabels, Seq("id"), "left")
      .select(col("id"),
        least(col("id"), coalesce(col("mn"), col("id"))).as("cluster"))
    (labels, iter, converged)
  }

  /** Partial-copy (CONTAINMENT) pairs via winnowing sketches: documents
    * sharing ≥ `minShared` winnow fingerprints. Catches what both exact
    * dedup and whole-doc Jaccard miss — a long passage copied into an
    * otherwise-different document (boilerplate, quoted text, template
    * reuse): the winnowing guarantee says any shared run of ≥ k+w−1
    * characters yields ≥ 1 shared fingerprint, so `minShared` tunes the
    * evidence threshold, not the detectable copy length.
    *
    * Scale design: the inverted-index self-join on the 8-byte
    * fingerprint (same shape as [[jaccardPairs]]); `maxDocFreq` drops
    * STOP fingerprints (boilerplate shared by more than that many docs)
    * before the join — the df cap bounds every fp group, so the join
    * fans out at most maxDocFreq² per fingerprint instead of n².
    * Dropping ubiquitous fingerprints is also semantically right: they
    * are evidence of boilerplate, not of copying.
    *
    * @param k         winnow k-gram length (characters)
    * @param w         winnow window (hashes)
    * @param minShared min common fingerprints to emit a pair
    * @param maxDocFreq drop fingerprints occurring in more docs than
    *        this; ≤ 0 disables the filter
    * @param reliableCheckpoint materialize the (id, fp) index with
    *        `checkpoint()` (HDFS-durable — survives executor loss on a
    *        real cluster; set `sparkContext.setCheckpointDir` first)
    *        instead of `localCheckpoint()` (executor-local blocks;
    *        fine single-node). Same switch as [[duplicateClusters]].
    * @return (doc_a, doc_b, n_shared), a < b
    */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
      k: Int, w: Int, minShared: Int, maxDocFreq: Int = 0,
      reliableCheckpoint: Boolean = false): DataFrame = {
    // checkpoint: the (id, fp) index feeds the doc-freq aggregate,
    // the semi-join probe, and BOTH self-join sides — without
    // materialization the O(doc-length) sketch kernel re-runs per
    // consumer (exchange reuse only partially dedups it). Checkpoint
    // blocks are reclaimed by the ContextCleaner when the plan is
    // GC'd, unlike `persist`, whose CacheManager entry would leak one
    // cached copy per invocation for the session lifetime.
    val index = spread(docs).select(col(idCol).cast("long").as("id"),
      explode(graft.expr.WinnowSketch(col(textCol), k, w)).as("fp"))
    val fps = if (reliableCheckpoint) index.checkpoint()
      else index.localCheckpoint()
    val kept =
      if (maxDocFreq <= 0) fps
      else {
        // sketches are per-doc distinct, so count(*) per fp IS doc freq
        val keep = fps.groupBy("fp")
          .agg(count(lit(1)).as("df"))
          .filter(col("df") <= maxDocFreq)
          .select("fp")
        fps.join(keep, Seq("fp"), "left_semi")
      }
    kept.as("a")
      .join(kept.as("b"),
        col("a.fp") === col("b.fp") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("doc_a"), col("b.id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Containment-aware dedup: rows surviving partial-copy resolution —
    * [[containmentPairs]] evidence → [[duplicateClusters]] connected
    * components → keep the min-id document of every cluster. The
    * composition a pipeline actually calls ("drop partial copies, keep
    * one"), built entirely from the operators above. */
  def containmentDedup(docs: DataFrame, idCol: String, textCol: String,
      k: Int, w: Int, minShared: Int, maxDocFreq: Int = 0,
      maxIter: Int = 20, reliableCheckpoint: Boolean = false): DataFrame = {
    val pairs = containmentPairs(docs, idCol, textCol, k, w, minShared,
      maxDocFreq, reliableCheckpoint)
    val drops = duplicateClusters(pairs, maxIter, reliableCheckpoint)
      .filter(col("id") =!= col("cluster"))
      .select(col("id").as(idCol))
    docs.join(drops, Seq(idCol), "left_anti")
  }

  /** Exact duplicated-SPAN removal — the substring-level member of the
    * dedup family (Lee et al. 2021, "Deduplicating training data makes
    * language models better": their ExactSubstr dedup, re-expressed
    * over token L-grams so it stays relational). Between
    * [[exactDedup]] (whole documents) and [[containmentPairs]]
    * (detects partial copies but resolves whole documents), this
    * SURGICALLY CUTS the duplicated material itself: every token
    * covered by an `spanTokens`-gram that occurs in more than
    * `maxDf` distinct documents is removed from every document, the
    * unique remainder survives. The C4/RefinedWeb-style remedy when
    * partial copies shouldn't cost a whole page (syndicated quotes,
    * license blocks, templated paragraphs).
    *
    * Scale design: the corpus-wide gram-frequency pass shuffles ONLY
    * (8-byte gram fingerprint, doc id) pairs; flagged fingerprints
    * semi-join back to gram positions, covered token offsets fan out
    * n rows per FLAGGED gram (duplicated material only — bounded by
    * the duplication volume, not the corpus), and reassembly is one
    * per-doc aggregate. Within-doc repetition is NOT flagged (df
    * counts distinct docs — a doc quoting itself is not corpus
    * duplication), matching [[graft.text.Boilerplate]]'s line rule.
    * Deterministic pure function of the corpus; the catalog oracle
    * re-derives it from raw gram strings, so it doubles as a
    * fingerprint-faithfulness check like [[exactDedup]]'s.
    *
    * Every input doc gets an output row (the engine-wide empty-doc
    * contract): a fully-duplicated doc returns clean_text = '' rather
    * than vanishing.
    *
    * @param spanTokens L, the minimum duplicated run length in tokens
    *        (Lee et al. use 50 BPE tokens; pick by corpus grain)
    * @param maxDf a span kept may appear in at most this many distinct
    *        docs (default 1 = any cross-doc duplication is removed)
    * @return (idCol, clean_text, n_kept, n_removed) per input doc
    */
  def dropDuplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
      spanTokens: Int, maxDf: Int = 1): DataFrame = {
    require(spanTokens >= 2,
      s"dropDuplicatedSpans: spanTokens must be >= 2, got $spanTokens")
    require(maxDf >= 1, s"dropDuplicatedSpans: maxDf must be >= 1, got $maxDf")
    val toks = spread(docs)
      .filter(col(textCol).isNotNull)
      .select(col(idCol), posexplode(TextAnalysis.tokens(col(textCol)))
        .as(Seq("pos", "tok")))
    // POSITIONAL token L-grams via the codegen kernel (NOT
    // TextAnalysis.shingles — that kernel dedups and adds a short-doc
    // whole-text fallback, both of which would break the gpos →
    // covered-token arithmetic; and not the composed transform/
    // element_at form, which runs interpreted and measured ~10× slower
    // here). fingerprint64 of the space-joined gram is the 8-byte
    // shuffle key (the oracle re-derives from raw grams).
    val grams = spread(docs)
      .filter(col(textCol).isNotNull)
      .select(col(idCol), posexplode(
        graft.expr.PositionalShinglesExpr(col(textCol), spanTokens))
        .as(Seq("gpos", "gram")))
      .select(col(idCol), col("gpos"), col("gram"),
        graft.expr.Fingerprint64(col("gram")).as("gfp"))
    // pass 1: corpus-wide df on the 8-byte fingerprint only (column
    // pruning keeps the gram strings out of this shuffle)
    val dupFps = grams.select(col("gfp"), col(idCol)).distinct()
      .groupBy("gfp").agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf)
      .select("gfp")
    // pass 2: exact recount by RAW gram at candidate cardinality — a
    // 64-bit collision (expected past ~4B distinct grams at corpus
    // scale) can inflate a fingerprint's df but can never condemn an
    // innocent span (same collision immunity as Boilerplate's line
    // sweep)
    val dupGrams = grams.join(dupFps, Seq("gfp"), "left_semi")
      .select(col("gram"), col(idCol)).distinct()
      .groupBy("gram").agg(count(lit(1)).as("gdf"))
      .filter(col("gdf") > maxDf)
      .select(col("gram"))
    // covered token offsets: n rows per flagged gram occurrence only
    val covered = grams.join(dupGrams, Seq("gram"), "left_semi")
      .select(col(idCol),
        explode(sequence(col("gpos"), col("gpos") + (spanTokens - 1)))
          .as("pos"))
      .distinct()
    val tagged = toks.join(
      covered.withColumn("__cut", lit(true)), Seq(idCol, "pos"), "left")
    graft.text.Boilerplate.reassemble(
      docs.select(col(idCol)), tagged, idCol, "tok", " ", "n_removed")
  }

  /** Cross-corpus CONTAINMENT contamination — the passage-level
    * decontamination sweep: train documents that contain a significant
    * fraction of a probe/eval document's winnow fingerprints. This
    * catches what [[crossCorpusNearDups]] (whole-doc Jaccard) misses by
    * construction: an eval QUESTION embedded verbatim inside a long
    * training page has tiny doc-level Jaccard but near-total
    * containment of the probe's sketch.
    *
    * The evidence threshold is ABSOLUTE (`minShared` fingerprints ≈ a
    * shared run of ~5·minShared characters at winnow density 2/(w+1)) —
    * the same contract as [[containmentPairs]]; `contained_frac` =
    * shared / probe sketch size rides along as an exact integer ratio
    * (cross-engine stable, no rounding) for callers who additionally
    * cut on the contained fraction (short probes). The optional
    * `maxDocFreq` cap drops boilerplate fingerprints on the TRAIN side
    * (df computed over the train corpus), bounding the join fanout the
    * way [[containmentPairs]] does.
    *
    * Scale: both sketch indexes shuffle 8-byte fingerprints; the join
    * output is bounded by true fingerprint co-occurrence (capped by
    * `maxDocFreq`); the probe side (an eval suite) is tiny by role.
    *
    * @return (train_id, probe_id, n_shared, contained_frac),
    *         n_shared ≥ minShared
    */
  def crossCorpusContainment(train: DataFrame, probe: DataFrame,
      idCol: String, textCol: String, k: Int, w: Int, minShared: Int,
      maxDocFreq: Int = 0, reliableCheckpoint: Boolean = false): DataFrame = {
    require(minShared >= 1,
      s"crossCorpusContainment: minShared must be >= 1, got $minShared")
    def persist(df: DataFrame) =
      if (reliableCheckpoint) df.checkpoint() else df.localCheckpoint()
    def idx(df: DataFrame, side: String) = spread(df).select(
      col(idCol).cast("long").as(side),
      explode(graft.expr.WinnowSketch(col(textCol), k, w)).as("fp"))
    // both indexes feed two consumers (df cap / sizes, then the join) —
    // materialize once, same rationale as containmentPairs
    val tIdx = persist(idx(train, "train_id"))
    val pIdx = persist(idx(probe, "probe_id"))
    val tKept =
      if (maxDocFreq <= 0) tIdx
      else tIdx.join(
        tIdx.groupBy("fp").agg(count(lit(1)).as("df"))
          .filter(col("df") <= maxDocFreq).select("fp"),
        Seq("fp"), "left_semi")
    val pSizes = pIdx.groupBy("probe_id").agg(count(lit(1)).as("p_n"))
    tKept.join(pIdx, "fp")
      .groupBy("train_id", "probe_id")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .join(pSizes, "probe_id")
      .withColumn("contained_frac",
        col("n_shared").cast("double") / col("p_n").cast("double"))
      .select(col("train_id"), col("probe_id"), col("n_shared"),
        col("contained_frac"))
  }

  /** Per-doc 64-bit SimHash (token multiset, occurrence-weighted). */
  def simhashes(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    spread(docs).select(col(idCol).as("id"),
      SimHash64(TextAnalysis.tokens(col(textCol))).as("simhash"))

  /** Near-dup pairs with hamming(simhash_a, simhash_b) ≤ maxHamming.
    * Pigeonhole blocking: split the 64-bit hash into maxHamming+1 chunks —
    * any pair within the radius agrees on ≥1 whole chunk, so candidates
    * come from chunk-equality buckets, then exact bit_count verification. */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int): DataFrame = {
    val chunks = maxHamming + 1
    val width = 64 / chunks
    val hashes = simhashes(docs, idCol, textCol)
    val chunkCols: Column = array((0 until chunks).map { c =>
      // chunk c = bits [c*width, (c+1)*width) (last chunk takes the rest)
      val w = if (c == chunks - 1) 64 - c * width else width
      val mask = if (w == 64) -1L else (1L << w) - 1L
      shiftrightunsigned(col("simhash"), c * width).bitwiseAND(lit(mask))
    }: _*)
    val buckets = hashes.select(col("id"), col("simhash"),
      posexplode(chunkCols).as(Seq("chunk", "key")))
    buckets.as("a")
      .join(buckets.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.key") === col("b.key") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }
}
