package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import graft.operators.Graphs
import graft.sources.Sources

/** Exact triangle counting: hand-checkable graphs, canonicalization, and
  * input-order/orientation invariance. */
class GraphsSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("s", LongType, nullable = true),
    StructField("t", LongType, nullable = true)))

  private def g(edges: (Long, Long)*) =
    Sources.inMemory(spark, edges.map(e => Row(e._1, e._2)), schema)

  test("K4 has 4 triangles, every node in 3") {
    val k4 = g(1L -> 2L, 1L -> 3L, 1L -> 4L, 2L -> 3L, 2L -> 4L, 3L -> 4L)
    val tri = rows(Graphs.triangles(k4, "s", "t"))
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(tri == Set((1L, 2L, 3L), (1L, 2L, 4L), (1L, 3L, 4L), (2L, 3L, 4L)))
    val perNode = rows(Graphs.trianglesPerNode(k4, "s", "t"))
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(perNode == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("canonicalization: direction, duplicates, self-loops, nulls don't distort") {
    // the same single triangle expressed messily: reversed edges, dups,
    // a self-loop, a null endpoint, and a dangling edge
    val withNull = Sources.inMemory(spark,
      Seq(Row(2L, 1L), Row(1L, 2L), Row(2L, 3L), Row(3L, 1L), Row(3L, 3L),
        Row(1L, 9L), Row(null, 5L)), schema)
    val tri = rows(Graphs.triangles(withNull, "s", "t"))
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(tri == Seq((1L, 2L, 3L)))
  }

  test("hub graph: star has zero triangles; star + rim edge has exactly one") {
    // a degree-100 hub — the shape whose wedges explode without
    // degree-ordered orientation; count must still be exact
    val star = g((1L to 100L).map(i => 0L -> i): _*)
    assert(rows(Graphs.triangles(star, "s", "t")).isEmpty)
    val withRim = g(((1L to 100L).map(i => 0L -> i) :+ (7L -> 8L)): _*)
    val tri = rows(Graphs.triangles(withRim, "s", "t"))
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(tri == Seq((0L, 7L, 8L)))
  }

  test("pageRank: conservation, symmetry, hub dominance, dangling mass, determinism") {
    // 2-cycle: perfect symmetry → both exactly 0.5 at every iteration
    val cycle = g(1L -> 2L, 2L -> 1L)
    val pc = rows(Graphs.pageRank(cycle, "s", "t", iters = 5))
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(pc(1L) == 0.5 && pc(2L) == 0.5)

    // star with backlinks: the hub outranks every leaf; ranks sum to 1
    // (leaf 10 is DANGLING — no out-edge — its mass must recirculate,
    // not leak)
    val star = g(((1L to 9L).map(i => i -> 10L) ++
      (1L to 9L).map(i => 10L -> i)) :+ (11L -> 10L): _*)
    val ps = rows(Graphs.pageRank(star, "s", "t", iters = 20))
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(ps.values.sum - 1.0) < 1e-9, s"mass leak: ${ps.values.sum}")
    assert(ps(10L) > ps(1L) && ps(10L) > ps(11L), s"hub must dominate: $ps")
    // node 11 has no in-links: exactly the teleport floor + dangling share
    assert(ps(11L) < ps(1L))

    // bit-exact determinism across partitionings (the decimal-sum policy)
    val edges = (1L to 60L).map(i => i -> ((i * 7) % 60 + 1))
    val a = rows(Graphs.pageRank(g(edges: _*).repartition(1), "s", "t", 8))
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val b = rows(Graphs.pageRank(
      g(scala.util.Random.shuffle(edges): _*).repartition(11), "s", "t", 8))
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(a == b, "pageRank must be bit-identical across partitionings")
  }

  test("pageRank runs ONE action per iteration (in-plan dangling mass)") {
    // a DANGLING graph — the configuration that used to add a blocking
    // .head() probe per iteration. Raw job counts are an AQE artifact
    // (each shuffle stage runs as its own job), so the invariant is
    // counted in SQL EXECUTIONS (driver actions): each extra iteration
    // must add exactly ONE (its checkpoint materialization) — the old
    // probe was a second, blocking execution per iteration.
    val edges = ((1L to 30L).map(i => i -> (i % 30 + 1)) :+ (5L -> 77L)) // 77 dangles
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(
          e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case _: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          counter.incrementAndGet()
        case _ => ()
      }
    }
    def executionsFor(iters: Int): Int = {
      spark.sparkContext.addSparkListener(listener)
      counter.set(0)
      try {
        Graphs.pageRank(g(edges: _*), "s", "t", iters).queryExecution
          .toRdd.count()
        // listener bus is async (drain API is private[spark]) — give
        // queued events time to land
        Thread.sleep(2000)
        counter.get()
      } finally spark.sparkContext.removeSparkListener(listener)
    }
    val e3 = executionsFor(3)
    val e6 = executionsFor(6)
    assert(e6 - e3 == 3,
      s"each extra iteration must cost exactly one driver action: " +
        s"iters=3 → $e3, iters=6 → $e6")
  }

  test("bfsDistances: hop distances on a known graph; undirected; " +
    "maxHops truncates; unreachable nodes absent; duplicate edges benign") {
    // path 1-2-3-4, branch 2-5, cycle back 5-3, island 8-9; a self-loop
    // and a duplicate edge must not disturb anything
    val edges = g(1L -> 2L, 2L -> 3L, 3L -> 4L, 2L -> 5L, 5L -> 3L,
      8L -> 9L, 4L -> 4L, 3L -> 2L)
    def run(src: Long, hops: Int): Map[Long, Int] =
      rows(Graphs.bfsDistances(edges, "s", "t", src, hops))
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(run(1L, 8) == Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 3, 5L -> 2))
    // undirected: from 4 the path runs backwards
    assert(run(4L, 8) == Map(4L -> 0, 3L -> 1, 2L -> 2, 5L -> 2, 1L -> 3))
    // truncation: maxHops 1 keeps only the source's neighborhood
    assert(run(1L, 1) == Map(1L -> 0, 2L -> 1))
    assert(run(1L, 0) == Map(1L -> 0))
    // the island is its own component
    assert(run(8L, 8) == Map(8L -> 0, 9L -> 1))
  }

  test("triangle set is partitioning-invariant") {
    val edges = (for (a <- 1L to 12L; b <- a + 1 to 12L
      if (a + b) % 3 != 0) yield (a, b))
    val df1 = g(edges: _*).repartition(1)
    val df7 = g(scala.util.Random.shuffle(edges): _*).repartition(7)
    val t1 = rows(Graphs.triangles(df1, "s", "t"))
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val t7 = rows(Graphs.triangles(df7, "s", "t"))
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(t1 == t7 && t1.nonEmpty)
  }

  test("ssspDistances: cheap detours beat expensive direct edges; " +
    "refusals and convergence guard hold") {
    import spark.implicits._
    import graft.operators.Graphs
    // 0-1 direct costs 10; 0-2-1 costs 2+3=5; 3 hangs off 1; 4 isolated-ish
    val edges = Seq(
      (0L, 1L, 10L), (0L, 2L, 2L), (2L, 1L, 3L), (1L, 3L, 1L),
      (5L, 6L, 7L)).toDF("u", "v", "w")
    val got = Graphs.ssspDistances(edges, "u", "v", "w", 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 0L, 1L -> 5L, 2L -> 2L, 3L -> 6L),
      s"got $got") // 5/6 unreachable from 0 -> absent; detour 0-2-1 wins
    // undirected: from node 3 the same paths run backwards
    val rev = Graphs.ssspDistances(edges, "u", "v", "w", 3L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rev(0L) == 6L && rev(2L) == 4L, s"rev $rev")
    // zero-weight edges are legal (non-negative contract)
    val z = Graphs.ssspDistances(
      Seq((0L, 1L, 0L), (1L, 2L, 4L)).toDF("u", "v", "w"), "u", "v", "w", 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(z == Map(0L -> 0L, 1L -> 0L, 2L -> 4L))
    // negative weights refused loudly
    val neg = intercept[IllegalArgumentException] {
      Graphs.ssspDistances(
        Seq((0L, 1L, -1L)).toDF("u", "v", "w"), "u", "v", "w", 0L)
    }
    assert(neg.getMessage.contains("negative"))
    // non-convergence throws rather than returning a half-relaxed answer
    val chain = Seq((0L, 1L, 1L), (1L, 2L, 1L), (2L, 3L, 1L))
      .toDF("u", "v", "w")
    val nc = intercept[IllegalArgumentException] {
      Graphs.ssspDistances(chain, "u", "v", "w", 0L, maxRounds = 2)
    }
    assert(nc.getMessage.contains("not converged"))
    // and equals BFS when every weight is 1
    val uni = Seq((0L, 1L, 1L), (1L, 2L, 1L), (0L, 3L, 1L))
      .toDF("u", "v", "w")
    val viaSssp = Graphs.ssspDistances(uni, "u", "v", "w", 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaBfs = Graphs.bfsDistances(uni, "u", "v", 0L, 8)
      .collect().map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    assert(viaSssp == viaBfs)
  }
}
