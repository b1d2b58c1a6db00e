package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** ADVERSARIAL SKEW for cluster contraction: one duplicate cluster
  * spanning ~HALF the corpus — the boilerplate-heavy real-world shape
  * (a shared template makes hundreds of thousands of docs mutually
  * near-dup) that kills naive connected-components: label propagation
  * needs diameter rounds, and any groupBy-key materialization of the
  * giant component OOMs the executor holding the hot label.
  *
  * The large-star/small-star contraction must stay logarithmic-round
  * and keep per-round state edge-shaped (no per-label row
  * materialization), whatever fraction of the corpus one cluster
  * swallows. SCALE.md ("Round-13 addendum: half-corpus duplicate
  * cluster") records the 10× walls; this spec pins the shape at test
  * scale.
  */
class SkewClusterSpec extends SparkSpec {

  /** Giant component over vertices [0, n): a template hub (every
    * 64th doc links to doc 0 — the boilerplate anchor) + local chains
    * (i ↔ i+1 within blocks of 64, so depth exists too). Mirrors what
    * LSH emits on template-dominated corpora: bounded pairs per doc,
    * one component, mixed shallow/deep structure. */
  private def giantComponent(n: Long) = {
    import spark.implicits._
    val chain = spark.range(n - 1)
      .filter(pmod(col("id") + 1, lit(64)) =!= 0) // break at block ends
      .select(col("id").as("doc_a"), (col("id") + 1).as("doc_b"))
    val hub = spark.range(n / 64)
      .select(lit(0L).as("doc_a"), (col("id") * 64).as("doc_b"))
      .filter(col("doc_b") =!= 0)
    chain.unionByName(hub)
  }

  test("a cluster spanning half the corpus contracts in O(log n) rounds") {
    val half = 32768L // giant cluster: half of a 65k-doc corpus
    import spark.implicits._
    // other half: 16k disjoint 2-clusters (the normal near-dup tail)
    val tail = spark.range(half / 2).select(
      (col("id") * 2 + half).as("doc_a"),
      (col("id") * 2 + half + 1).as("doc_b"))
    val pairs = giantComponent(half).unionByName(tail)
    // pin the DISTRIBUTED loop: this spec exists to certify the
    // contraction's round bound and state shape at skew, which the
    // r17 single-task local path (in-cap here) would bypass
    sys.props("graft.dedup.localCcCap") = "0"
    val (labels, rounds, converged) =
      try Dedup.duplicateClustersDetail(pairs, maxIter = 20)
      finally sys.props.remove("graft.dedup.localCcCap")
    assert(converged, s"half-corpus cluster did not converge ($rounds)")
    // block depth 64 halves per round (~6) + hub fold-in + confirm:
    // logarithmic, nowhere near diameter (would be ~96 rounds)
    assert(rounds <= 12, s"took $rounds rounds — contraction must stay " +
      "logarithmic under a half-corpus cluster")
    val byLabel = labels.groupBy("cluster").count()
      .orderBy(desc("count")).limit(2).collect()
    assert(byLabel(0).getLong(1) == half,
      s"giant cluster must hold exactly $half docs: ${byLabel(0)}")
    assert(byLabel(1).getLong(1) == 2L,
      s"tail clusters must stay pairs: ${byLabel(1)}")
    // total label count: 1 giant + 16384 pairs
    assert(labels.select("cluster").distinct().count() == 1L + half / 2)
  }

  test("keeper selection on the giant cluster stays distributed " +
    "(one row per doc, never a per-label list)") {
    val half = 8192L
    val pairs = giantComponent(half)
    val labels = Dedup.duplicateClusters(pairs, maxIter = 20)
    // the canonical keeper join: min doc per label via aggregate —
    // state is one row per LABEL (bounded), membership stays row-wise
    val keepers = labels.groupBy("cluster")
      .agg(min("id").as("keeper"))
    val out = labels.join(broadcast(keepers), "cluster")
      .filter(col("id") =!= col("keeper"))
    assert(out.count() == half - 1,
      "every non-keeper doc of the giant cluster drops exactly once")
  }
}
