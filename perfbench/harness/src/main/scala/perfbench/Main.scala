package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** A workload: set-up (not timed as operations) and its fixed operation
  * sequence. `round` tells the untraced and traced halves of a traced run
  * apart, so each can start from fresh state. */
trait Workload {
  def prepare(round: Int): Unit
  def warmup(): Unit
  def run(round: Int, op: (String, String) => (() => Long) => Unit): Unit
  def report(): Map[String, Any] = Map.empty
}

/** Benchmark harness: runs one workload closed-loop from a single client
  * thread and writes every op's timing (and, traced, every span) as JSON.
  *
  *   perfbench.Main --workload rides --input DIR --work DIR --out FILE
  *     --passes N --lake-ops N --trace 0|1 --cpus N --seed N
  */
object Main {
  def main(args: Array[String]): Unit = {
    val mainStartMs = System.currentTimeMillis()
    val a = args.grouped(2).map(x => x(0).stripPrefix("--") -> x(1)).toMap
    val work = a("work")
    val trace = a("trace") == "1"
    val cpus = a("cpus")
    val t0 = System.nanoTime()
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
    if (trace)
      builder.config("spark.hadoop.fs.file.impl", classOf[CountingFileSystem].getName)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.core.GraftSession.adopt(spark)
    if (trace) {
      spark.sparkContext.addSparkListener(new SchedulerListener)
      spark.listenerManager.register(new PhaseListener)
      spark.streams.addListener(new ProgressListener)
    }
    val sessionS = (System.nanoTime() - t0) / 1e9

    val workload: Workload = a("workload") match {
      case "rides" => new Lanes(spark, a("input"), work, Lanes.rides, a("passes").toInt, a("seed").toLong)
      case "lake" => new Lake(spark, a("input"), work, a("lake-ops").toInt)
    }
    val probe = new HostProbe(cpus.toInt)
    val t1 = System.nanoTime()
    workload.prepare(0)
    workload.warmup()
    val warmupS = (System.nanoTime() - t1) / 1e9

    // Every finished op is also appended to a log as it ends, so a run cut
    // short by its time limit still shows how far it got and how fast.
    val om = new ObjectMapper()
    val opLog = Files.newBufferedWriter(Paths.get(a("out") + ".ops.jsonl"))
    // A traced run measures the sequence twice: untraced, then traced.
    val rounds = (if (trace) Seq(0, 1) else Seq(0)).map { round =>
      if (round > 0) workload.prepare(round)
      Trace.on = round == 1
      val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
      val probes = (1 to 100).map(_ => probe.run()).drop(50)
      val w0 = System.nanoTime()
      workload.run(round, (kind, name) => body => {
        val id = s"op:${ops.size}"
        spark.sparkContext.setJobGroup(id, s"$kind $name")
        val bytes0 = bytesWritten()
        Trace.currentOp = id
        val s = Trace.nowMs
        val (ok, rows, err) =
          try { val n = body(); (n >= 0, n, if (n >= 0) "" else "wrong row count") }
          catch { case e: Throwable => (false, -1L, s"${e.getClass.getName}: ${e.getMessage}") }
        val e = Trace.nowMs
        Trace.currentOp = ""
        spark.sparkContext.clearJobGroup()
        if (!ok) System.err.println(s"[perfbench] $kind $name failed: $err")
        val rec = Map("id" -> id, "kind" -> kind, "name" -> name, "start" -> s,
          "end" -> e, "ok" -> ok, "rows" -> rows, "error" -> err,
          "bytes_written" -> (bytesWritten() - bytes0))
        ops += rec
        opLog.write(om.writeValueAsString(toJava(rec + ("round" -> round))))
        opLog.newLine()
        opLog.flush()
      })
      Map("wall_s" -> (System.nanoTime() - w0) / 1e9,
        "ops" -> ops.toSeq, "probe_ms" -> probes,
        "workload" -> workload.report())
    }
    opLog.close()
    if (trace) org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    Trace.on = false

    val heapPeakMb = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
      .asScala.filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
    // what the session still holds after the workload: heap after full GCs
    (1 to 2).foreach(_ => System.gc())
    val heapRetainedMb = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0
    val out = Map[String, Any](
      "session_s" -> sessionS,
      "warmup_s" -> warmupS,
      "main_start_ms" -> mainStartMs,
      "heap_peak_mb" -> heapPeakMb,
      "heap_retained_mb" -> heapRetainedMb,
      "rss_peak_mb" -> vmHwmMb(),
      "spark_version" -> spark.version,
      "jvm_version" -> System.getProperty("java.version"),
      "rounds" -> rounds)
    spark.streams.active.foreach(_.stop())
    spark.stop()
    Files.writeString(Paths.get(a("out")), om.writeValueAsString(toJava(out)))
    if (trace) {
      val w = Files.newBufferedWriter(Paths.get(a("out") + ".spans.jsonl"))
      Trace.all.foreach { s =>
        w.write(om.writeValueAsString(toJava(Map("id" -> s.id, "parent" -> s.parent,
          "layer" -> s.layer, "name" -> s.name, "start" -> s.start, "end" -> s.end,
          "attrs" -> s.attrs))))
        w.newLine()
      }
      w.close()
    }
  }

  /** Bytes the Hadoop "file" scheme has written so far, process-wide. */
  private def bytesWritten(): Long =
    Option(org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.get("file"))
      .flatMap(s => Option(s.getLong("bytesWritten"))).map(_.longValue).getOrElse(0L)

  private def vmHwmMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(-1.0)

  def toJava(v: Any): Any = v match {
    case m: Map[_, _] => m.map { case (k, x) => k.toString -> toJava(x) }.asJava
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case x => x
  }
}

/** Executed-plan metrics of a finished query, adaptive plans included. */
object PlanMetrics extends AdaptiveSparkPlanHelper {
  def sum(plan: SparkPlan, name: String): Long =
    collectWithSubqueries(plan) { case p => p.metrics.get(name).map(_.value).getOrElse(0L) }.sum
}

/** Catalog lanes run as repeated passes in a seeded order. The warm-up
  * pass writes each distinct lane's result for the oracle check; every
  * timed run must return the same number of rows. */
final class Lanes(spark: SparkSession, input: String, work: String,
    names: Seq[String], passes: Int, seed: Long) extends Workload {
  private val fns = graft.SparkEntry.queries
  private val expectRows = mutable.Map.empty[String, Long]
  private val files = mutable.Map.empty[String, Long]

  private def frame(name: String): DataFrame = fns(name)(spark, input)

  def prepare(round: Int): Unit = ()

  def warmup(): Unit = {
    val oracle = graft.SparkEntry.oracleSql
    val sql = names.map(n => n -> oracle(n))
    names.foreach { n =>
      val dst = s"$work/results/$n"
      frame(n).write.mode("overwrite").parquet(dst)
      expectRows(n) = spark.read.parquet(dst).count()
    }
    Files.writeString(Paths.get(s"$work/results/oracle_sql.json"),
      new ObjectMapper().writeValueAsString(sql.toMap.asJava))
  }

  def run(round: Int, op: (String, String) => (() => Long) => Unit): Unit = {
    val rnd = new scala.util.Random(seed)
    for (_ <- 1 to passes; n <- rnd.shuffle(names))
      op("lane", n) { () =>
        val qe = frame(n).queryExecution
        val rows = qe.toRdd.count()
        Trace.recordPhases(qe, Trace.currentOp)
        if (Trace.on) files(Trace.currentOp) = PlanMetrics.sum(qe.executedPlan, "numFiles")
        if (rows == expectRows(n)) rows else -1L
      }
  }

  override def report(): Map[String, Any] = Map("scan_files" -> files.toMap)
}

object Lanes {
  val rides = Seq("q_easy_top_routes_sql", "q_hard_top_routes",
    "q_dist_pairs_geodesic", "q_total_distance", "q_ride_counts",
    "q_dist_within_radius", "q1_pricing_summary", "q3_shipping_priority",
    "q5_local_supplier_volume", "q18_large_orders", "q_region_revenue")
}

/** One writer on a fresh graft_lake table, driven by the seeded op stream
  * in `lake_ops.json`. Every read, MV refresh and the final table are
  * returned for the model check. */
final class Lake(spark: SparkSession, input: String, work: String, nOps: Int)
    extends Workload {
  import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
  import spark.implicits._
  implicit private val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private val warehouse = s"$work/lake"
  private val mode = "spark.graft.rowLevelMode"
  private val opsJson = new ObjectMapper().readTree(Paths.get(s"$input/lake_ops.json").toFile)
  private var mem: MemoryStream[(Long, Int, Long)] = _
  private var stream: org.apache.spark.sql.streaming.StreamingQuery = _
  private val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val versions = mutable.ArrayBuffer.empty[Long]

  private def table(round: Int) = s"graft_lake.bench.t$round"
  private def path(round: Int) = s"$warehouse/bench/t$round"
  private def mv(round: Int) = s"$warehouse/mv/t$round"

  def prepare(round: Int): Unit = {
    spark.conf.set("spark.sql.catalog.graft_lake", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_lake.warehouse", warehouse)
    if (stream != null) stream.stop()
    spark.read.parquet(s"$input/lake_base.parquet").createOrReplaceTempView("lake_base")
    spark.sql(s"CREATE TABLE ${table(round)} (k BIGINT, g INT, v BIGINT)")
    spark.sql(s"INSERT INTO ${table(round)} SELECT k, g, v FROM lake_base")
    graft.sources.GraftMv.create(spark, mv(round), path(round), Seq("g"), Seq(
      graft.sources.MvAgg("count", "*", "cnt"),
      graft.sources.MvAgg("sum", "v", "total")), stateMerge = true)
    mem = MemoryStream[(Long, Int, Long)]
    stream = graft.streaming.TableDrain.upsertSink(spark,
        mem.toDF().toDF("k", "g", "v"), table(round), path(round),
        s"drain$round", Seq("k"), Seq("g", "v"))
      .option("checkpointLocation", s"$work/lake-ckpt/$round").start()
  }

  /** Warms the JIT on the append, MERGE and read paths of a scratch table,
    * so the timed sequence does not start cold. */
  def warmup(): Unit = {
    val t = "graft_lake.bench.warm"
    spark.sql(s"CREATE TABLE $t (k BIGINT, g INT, v BIGINT)")
    for (i <- 1 to 20) {
      spark.sql(s"INSERT INTO $t VALUES ($i, 1, 1), (${i + 1000}, 2, 2)")
      if (i % 10 == 0) {
        spark.sql(s"MERGE INTO $t t USING (SELECT * FROM VALUES (${i}L, 3, 3L) AS s(k, g, v)) s " +
          "ON t.k = s.k WHEN MATCHED THEN UPDATE SET g = s.g, v = s.v " +
          "WHEN NOT MATCHED THEN INSERT (k, g, v) VALUES (s.k, s.g, s.v)")
        spark.sql(s"SELECT * FROM $t VERSION AS OF 2").collect()
        spark.sql(s"SELECT * FROM $t WHERE k IN (1, 2)").collect()
      }
    }
    spark.sql(s"DROP TABLE $t")
  }

  private def rowsOf(rs: Array[Row]): Seq[Seq[Long]] =
    rs.toSeq.map(r => (0 until r.length).map(i => r.getAs[Number](i).longValue))
      .sortBy(_.mkString(","))

  private def values(rows: com.fasterxml.jackson.databind.JsonNode): String =
    rows.elements().asScala.map { r =>
      s"(${r.get(0).asLong}L, ${r.get(1).asInt}, ${r.get(2).asLong}L)"
    }.mkString(", ")

  private def keys(op: com.fasterxml.jackson.databind.JsonNode): String =
    op.get("keys").elements().asScala.map(_.asLong).mkString(", ")

  def run(round: Int, op: (String, String) => (() => Long) => Unit): Unit = {
    val t = table(round)
    lastRound = round
    versions.clear()
    checks.clear()
    for ((o, i) <- opsJson.elements().asScala.take(nOps).zipWithIndex) {
      val kind = o.get("kind").asText
      op(kind, kind) { () =>
        kind match {
          case "append" =>
            spark.sql(s"INSERT INTO $t VALUES ${values(o.get("rows"))}"); 1L
          case "merge" =>
            spark.sql(s"MERGE INTO $t t USING (SELECT * FROM VALUES ${values(o.get("rows"))} " +
              "AS s(k, g, v)) s ON t.k = s.k WHEN MATCHED THEN UPDATE SET g = s.g, v = s.v " +
              "WHEN NOT MATCHED THEN INSERT (k, g, v) VALUES (s.k, s.g, s.v)"); 1L
          case "delete" =>
            spark.conf.set(mode, "merge-on-read")
            try spark.sql(s"DELETE FROM $t WHERE k IN (${keys(o)})")
            finally spark.conf.unset(mode)
            1L
          case "drain" =>
            mem.addData(o.get("rows").elements().asScala.map(r =>
              (r.get(0).asLong, r.get(1).asInt, r.get(2).asLong)).toSeq)
            stream.processAllAvailable(); 1L
          case "refresh_mv" =>
            graft.sources.GraftMv.refresh(spark, mv(round))
            val rs = graft.sources.GraftMv.read(spark, mv(round)).select("g", "cnt", "total").collect()
            checks += Map("i" -> i, "kind" -> kind, "rows" -> rowsOf(rs)); rs.length
          case "read_version" =>
            val v = versions(i - o.get("back").asInt)
            val rs = spark.sql(s"SELECT k, g, v FROM $t VERSION AS OF $v").collect()
            checks += Map("i" -> i, "kind" -> kind, "at" -> (i - o.get("back").asInt),
              "rows" -> rowsOf(rs)); rs.length
          case "read_keys" =>
            val rs = spark.sql(s"SELECT k, g, v FROM $t WHERE k IN (${keys(o)})").collect()
            checks += Map("i" -> i, "kind" -> kind, "rows" -> rowsOf(rs)); rs.length
        }
      }
      versions += (if (kind == "append" || kind == "merge" || kind == "delete" || kind == "drain")
        graft.sources.GraftTableLog.latestVersion(path(round)).getOrElse(-1L)
      else versions.last)
    }
    val finalRows = rowsOf(spark.sql(s"SELECT k, g, v FROM $t").collect())
    checks += Map("i" -> nOps, "kind" -> "final", "rows" -> finalRows)
    if (Trace.on) {
      val times = (1 to 5).map { _ =>
        val s = System.nanoTime()
        graft.sources.GraftTableLog.versions(path(round))
        (System.nanoTime() - s) / 1e6
      }.sorted
      listMs = times(2)
    }
  }

  private var listMs = 0.0
  private var lastRound = 0

  override def report(): Map[String, Any] = Map("checks" -> checks.toSeq,
    "versions_list_ms" -> listMs, "table_path" -> path(lastRound),
    "mv_path" -> mv(lastRound))
}

/** A fixed CPU and memory kernel on every core at once, run just before
  * the timed sequence: a record of how fast the host ran, to help tell host
  * drift from drift in the code. It does not scale any timing. Its speed
  * depends on what the CPU did just before it (timed between ops, it ran up
  * to 40% faster after a CPU-busy op than after a mostly idle one), so it
  * cannot stand in for the host's speed during the ops. Each probe is the
  * fastest of three, so a GC pause or a JIT compile that lands on one does
  * not read as a slow host. */
final class HostProbe(threads: Int) {
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(threads, { r =>
    val t = new Thread(r, "perfbench-probe"); t.setDaemon(true); t
  })
  private val data = Array.fill(threads)(new Array[Long](1 << 17))

  private def kernel(a: Array[Long]): Long = {
    var x = 88172645463325252L
    var i = 0
    while (i < a.length) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; a(i) = x; i += 1 }
    var s = 0L
    i = 0
    while (i < a.length) { s += a(((a(i) >>> 1) % a.length).toInt); i += 1 }
    s
  }

  def run(): Double = (1 to 3).map { _ =>
    val t0 = System.nanoTime()
    data.map(a => pool.submit(() => kernel(a))).foreach(_.get())
    (System.nanoTime() - t0) / 1e6
  }.min
}
