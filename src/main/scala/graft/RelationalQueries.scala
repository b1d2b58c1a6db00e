package graft

import org.apache.spark.sql.functions._
import graft.core.Tables

/** Relational-breadth catalog entries over the TPC-H-ish tables: semi/anti
  * joins, multi-way join + agg + top-N, and set operations — the operator
  * families a user of a general-purpose engine reaches for beyond the
  * reference's four workloads. */
object RelationalQueries {

  /** Customers without orders, per nation — anti join (plus the count of
    * those with orders — semi join) in one result. Anti/semi never
    * materialize the probe side's payload: at scale the orders side is
    * reduced to its distinct custkeys before the join. */
  val qSemiAnti = QueryDef("q_cust_order_presence",
    (spark, dir) => {
      val cust = Tables.customer(spark, dir)
      val orders = Tables.orders(spark, dir).select(col("o_custkey")).distinct()
      val nation = Tables.nation(spark, dir)
      val withO = cust.join(orders, col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy("c_nationkey").agg(count(lit(1)).as("with_orders"))
      val withoutO = cust.join(orders, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("c_nationkey").agg(count(lit(1)).as("without_orders"))
      nation.select(col("n_nationkey"), col("n_name"))
        .join(withO, col("n_nationkey") === withO("c_nationkey"), "left")
        .drop("c_nationkey")
        .join(withoutO, col("n_nationkey") === withoutO("c_nationkey"), "left")
        .drop("c_nationkey")
        .select(col("n_name"),
          coalesce(col("with_orders"), lit(0L)).as("with_orders"),
          coalesce(col("without_orders"), lit(0L)).as("without_orders"))
        .orderBy("n_name")
    },
    // LEFT JOIN from nation: the Spark side emits (name, 0, 0) for a
    // customerless nation; an inner-join mirror would omit that row
    Some("""SELECT n_name,
           |  CAST(sum(CASE WHEN c.c_custkey IS NOT NULL AND EXISTS
           |        (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
           |      THEN 1 ELSE 0 END) AS BIGINT) AS with_orders,
           |  CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 0 WHEN EXISTS
           |        (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
           |      THEN 0 ELSE 1 END) AS BIGINT) AS without_orders
           |FROM nation n LEFT JOIN customer c ON n.n_nationkey = c.c_nationkey
           |GROUP BY n_name ORDER BY n_name""".stripMargin))

  /** Revenue top-10 customers: lineitem ⋈ orders ⋈ customer, exact
    * decimal-summed revenue (TPC-H Q3/Q10 family). Join order matters at
    * scale: lineitem→orders first (both huge, co-partitioned on orderkey),
    * then the customer dimension — which AQE turns into a broadcast. */
  val qTopCustomers = QueryDef("q_top_customers_revenue",
    (spark, dir) => {
      val li = Tables.lineitem(spark, dir)
        .select(col("l_orderkey"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast("decimal(28,6)").as("rev"))
      val ord = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey"))
      val cust = Tables.customer(spark, dir).select(col("c_custkey"), col("c_name"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_custkey"), col("c_name"))
        .agg(sum(col("rev")).cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .select(col("c_custkey"), col("c_name"),
          round(col("revenue"), 4).as("revenue"), col("n_items"))
        .orderBy(desc("revenue"), col("c_custkey"))
        .limit(10)
    },
    Some("""SELECT c_custkey, c_name,
           |  ROUND(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,6))) AS DOUBLE), 4) AS revenue,
           |  CAST(count(*) AS BIGINT) AS n_items
           |FROM lineitem
           |JOIN orders ON l_orderkey = o_orderkey
           |JOIN customer ON o_custkey = c_custkey
           |GROUP BY c_custkey, c_name
           |ORDER BY revenue DESC, c_custkey LIMIT 10""".stripMargin))

  /** Set operations: countries appearing as customer nations UNION/
    * INTERSECT/EXCEPT supplier nations (SURVEY §2.9 notes the reference
    * has none — this is engine-breadth coverage). */
  val qSetOps = QueryDef("q_nation_set_ops",
    (spark, dir) => {
      val custN = Tables.customer(spark, dir).select(col("c_nationkey").as("nk")).distinct()
      val suppN = Tables.supplier(spark, dir).select(col("s_nationkey").as("nk")).distinct()
      // scalar count per branch (not groupBy) so an EMPTY set still
      // yields its zero row — groupBy would silently drop it
      def counted(name: String, df: org.apache.spark.sql.DataFrame) =
        df.agg(count(lit(1)).as("n")).select(lit(name).as("set_op"), col("n"))
      counted("union", custN.union(suppN).distinct())
        .union(counted("intersect", custN.intersect(suppN)))
        .union(counted("except", custN.except(suppN)))
        .orderBy("set_op")
    },
    Some("""WITH c AS (SELECT DISTINCT c_nationkey AS nk FROM customer),
           |     s AS (SELECT DISTINCT s_nationkey AS nk FROM supplier),
           |     u AS (SELECT 'union' AS set_op, count(*) AS n
           |           FROM (SELECT nk FROM c UNION SELECT nk FROM s)),
           |     i AS (SELECT 'intersect' AS set_op, count(*) AS n
           |           FROM (SELECT nk FROM c INTERSECT SELECT nk FROM s)),
           |     e AS (SELECT 'except' AS set_op, count(*) AS n
           |           FROM (SELECT nk FROM c EXCEPT SELECT nk FROM s))
           |SELECT set_op, CAST(n AS BIGINT) AS n FROM (
           |  SELECT * FROM u UNION ALL SELECT * FROM i UNION ALL SELECT * FROM e
           |) ORDER BY set_op""".stripMargin))

  /** TPC-H Q5-shaped chain: 5-way join narrowed by a region filter.
    * Catalyst pushes the region predicate through the join chain; the
    * small dimension tables broadcast, lineitem⋈orders shuffles on
    * orderkey. */
  val qRegionRevenue = QueryDef("q_region_revenue",
    (spark, dir) => {
      val li = Tables.lineitem(spark, dir).select(col("l_orderkey"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(28,6)").as("rev"))
      Tables.region(spark, dir).filter(col("r_name") === "EUROPE")
        .join(Tables.nation(spark, dir),
          col("r_regionkey") === col("n_regionkey"))
        .join(Tables.customer(spark, dir),
          col("n_nationkey") === col("c_nationkey"))
        .join(Tables.orders(spark, dir), col("c_custkey") === col("o_custkey"))
        .join(li, col("o_orderkey") === col("l_orderkey"))
        .groupBy("n_name")
        .agg(sum("rev").cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("n_name")
    },
    Some("""SELECT n_name,
           |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS revenue,
           |  CAST(count(*) AS BIGINT) AS n_items
           |FROM region
           |JOIN nation ON r_regionkey = n_regionkey
           |JOIN customer ON n_nationkey = c_nationkey
           |JOIN orders ON c_custkey = o_custkey
           |JOIN lineitem ON o_orderkey = l_orderkey
           |WHERE r_name = 'EUROPE'
           |GROUP BY n_name ORDER BY n_name""".stripMargin))

  /** Correlated subquery: parts priced above their type's average —
    * Catalyst decorrelates into an aggregate + join automatically. */
  // decimal-summed average: avg() over raw doubles accumulates in
  // partition/merge order, and a part priced within a ulp of its type's
  // mean would flip the strict > differently per engine (or per run).
  // Decimal sums are exact and associative; the single double division
  // happens identically on both sides. Same SQL text runs on both.
  private val aboveAvgSql: String =
    """SELECT p_type, CAST(count(*) AS BIGINT) AS n_above
      |FROM part p
      |WHERE p_retailprice >
      |  (SELECT CAST(sum(CAST(p2.p_retailprice AS DECIMAL(28,6))) AS DOUBLE)
      |            / count(*)
      |   FROM part p2 WHERE p2.p_type = p.p_type)
      |GROUP BY p_type ORDER BY p_type""".stripMargin

  val qAboveAvg = QueryDef("q_parts_above_type_avg",
    (spark, dir) => {
      Tables.part(spark, dir).createOrReplaceTempView("part")
      spark.sql(aboveAvgSql)
    },
    Some(aboveAvgSql))

  /** Documents scanned through the graft DataSource V2 connector
    * ([[graft.sources.GraftParquetTableProvider]]) — the engine-surface
    * analog of the reference's query-pushdown source (S1,
    * `/root/reference/pipelines/sql_cycle_rides.py:43-46`): the filter
    * and the projection are honored INSIDE the connector (spec-asserted
    * on the scan node), Spark only sees survivors of (lang, n_chars)
    * predicates and the two aggregate inputs. */
  val qDsv2Pushdown = QueryDef("q_dsv2_pushdown",
    (spark, dir) => spark.read
      .format("graft.sources.GraftParquetTableProvider")
      .option("path", s"$dir/documents.parquet").load()
      .filter(col("lang") === "en" && col("n_chars") > 500L)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"))
      .orderBy("source"),
    Some("""SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           |       CAST(sum(n_chars) AS BIGINT) AS total_chars
           |FROM documents WHERE lang = 'en' AND n_chars > 500
           |GROUP BY source ORDER BY source""".stripMargin))

  /** Global aggregates through the DSv2 connector's AGGREGATE pushdown
    * ([[graft.sources.GraftScanBuilder.pushAggregation]]) — the S1
    * "external engine runs the whole query" story at the aggregation
    * layer (`sql_cycle_rides.py:43-46` has BigQuery do agg+sort). Two
    * scopes in one result: the unfiltered half is answered ENTIRELY
    * from parquet footer metadata (row counts + row-group min/max
    * stats — zero data pages decoded); the filtered half exercises the
    * per-file partial-aggregate row scan under the same merge contract.
    * Spec asserts the scan node carries PushedAggregation. */
  val qDsv2AggPushdown = QueryDef("q_dsv2_agg_pushdown",
    (spark, dir) => {
      def half(scope: String,
          f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame) =
        f(spark.read.format("graft.sources.GraftParquetTableProvider")
          .option("path", s"$dir/lineitem.parquet").load())
          .agg(count(lit(1)).as("n_rows"),
            count(col("l_quantity")).as("n_qty"),
            min("l_orderkey").as("min_key"), max("l_orderkey").as("max_key"),
            min("l_quantity").as("min_qty"), max("l_quantity").as("max_qty"))
          .select(lit(scope).as("scope"), col("n_rows"), col("n_qty"),
            col("min_key"), col("max_key"), col("min_qty"), col("max_qty"))
      half("all", identity)
        .unionByName(half("filtered", _.filter(col("l_quantity") >= 30.0)))
        .orderBy("scope")
    },
    Some("""SELECT 'all' AS scope, CAST(count(*) AS BIGINT) AS n_rows,
           |       CAST(count(l_quantity) AS BIGINT) AS n_qty,
           |       min(l_orderkey) AS min_key, max(l_orderkey) AS max_key,
           |       min(l_quantity) AS min_qty, max(l_quantity) AS max_qty
           |FROM lineitem
           |UNION ALL
           |SELECT 'filtered', CAST(count(*) AS BIGINT),
           |       CAST(count(l_quantity) AS BIGINT),
           |       min(l_orderkey), max(l_orderkey),
           |       min(l_quantity), max(l_quantity)
           |FROM lineitem WHERE l_quantity >= 30.0
           |ORDER BY scope""".stripMargin))

  /** Integral SUM through the DSv2 aggregate pushdown (kept separate
    * from [[qDsv2AggPushdown]] so that query's unfiltered half retains
    * its footer-metadata-only story — sums always need the row scan).
    * Long sums are exact at any partial-merge grouping; floating sums
    * are declined by the connector by design. */
  val qDsv2SumPushdown = QueryDef("q_dsv2_sum_pushdown",
    (spark, dir) => spark.read
      .format("graft.sources.GraftParquetTableProvider")
      .option("path", s"$dir/lineitem.parquet").load()
      .filter(col("l_quantity") >= 30.0)
      .agg(count(lit(1)).as("n_rows"),
        sum("l_orderkey").as("sum_key"),
        sum("l_linenumber").as("sum_line"),
        min("l_suppkey").as("min_supp")),
    Some("""SELECT CAST(count(*) AS BIGINT) AS n_rows,
           |       CAST(sum(l_orderkey) AS BIGINT) AS sum_key,
           |       CAST(sum(l_linenumber) AS BIGINT) AS sum_line,
           |       min(l_suppkey) AS min_supp
           |FROM lineitem WHERE l_quantity >= 30.0""".stripMargin))

  /** GROUPED aggregates through the DSv2 connector — the completion of
    * the S1 story: the reference's defining query
    * (`sql_cycle_rides.py:35-41`) is a GROUP BY + count + sort pushed
    * into the external engine, and with
    * [[graft.sources.GraftScanBuilder.pushAggregation]] now accepting
    * grouped COUNT/MIN/MAX/SUM, this connector runs the same shape at
    * the source: each file emits one partial row per group (group keys
    * lead the scan schema, per the V2 partial contract) and Spark's
    * final merge re-groups — so the result is exact at any file
    * fan-out. The spec additionally asserts the scan node advertises
    * PushedGroupBy and that float group keys decline. */
  val qDsv2GroupPushdown = QueryDef("q_dsv2_group_pushdown",
    (spark, dir) => spark.read
      .format("graft.sources.GraftParquetTableProvider")
      .option("path", s"$dir/documents.parquet").load()
      .filter(col("n_chars") > 200L)
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
        count(col("text")).as("n_texts"),
        min("n_chars").as("min_chars"), max("n_chars").as("max_chars"),
        sum("n_chars").as("total_chars"))
      .orderBy("lang", "source"),
    Some("""SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
           |       CAST(count(text) AS BIGINT) AS n_texts,
           |       min(n_chars) AS min_chars, max(n_chars) AS max_chars,
           |       CAST(sum(n_chars) AS BIGINT) AS total_chars
           |FROM documents WHERE n_chars > 200
           |GROUP BY lang, source ORDER BY lang, source""".stripMargin))

  /** Star join through the DSv2 connector with RUNTIME FILTERING
    * ([[graft.sources.GraftParquetScan]]'s `SupportsRuntimeFiltering`):
    * the fact (lineitem) probes a broadcast of the filtered supplier
    * dim, and Spark's dynamic-pruning machinery delivers the surviving
    * supplier keys to the connector as an `In(l_suppkey, …)` filter
    * after the broadcast materializes — so the fact scan drops
    * non-matching rows (and, on a suppkey-clustered layout, whole row
    * groups) AT THE SOURCE instead of shipping them to the join. The
    * correctness story is oracle-checked here; the pruning mechanics
    * (skip telemetry on sorted data, parity with the built-in source)
    * are spec-asserted in SourcesV2Spec. */
  val qDsv2RuntimeFilter = QueryDef("q_dsv2_runtime_filter",
    (spark, dir) => spark.read
      .format("graft.sources.GraftParquetTableProvider")
      .option("path", s"$dir/lineitem.parquet").load()
      .join(Tables.supplier(spark, dir).filter(col("s_nationkey") < 5),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy("s_nationkey")
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity").cast("decimal(28,2)")).cast("double")
          .as("total_qty"))
      .orderBy("s_nationkey"),
    Some("""SELECT s_nationkey, CAST(count(*) AS BIGINT) AS n_items,
           |       CAST(sum(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE)
           |         AS total_qty
           |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
           |WHERE s_nationkey < 5
           |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin))

  /** TopN (ORDER BY + LIMIT) through the DSv2 connector
    * ([[graft.sources.GraftScanBuilder.pushTopN]]) — the ORDERING layer
    * of the reference-S1 "the engine runs the whole query" story
    * (`sql_cycle_rides.py:35-41` ends in ORDER BY + LIMIT inside
    * BigQuery): each file's reader keeps only its top rows in a bounded
    * heap (per-file I/O to the exchange drops from file-rows to the
    * limit), Spark's retained global Sort merges. doc_id tie-break
    * makes the result fully deterministic for the hash gate. */
  val qDsv2TopNPushdown = QueryDef("q_dsv2_topn_pushdown",
    (spark, dir) => spark.read
      .format("graft.sources.GraftParquetTableProvider")
      .option("path", s"$dir/documents.parquet").load()
      .filter(col("lang") === "en")
      .select("doc_id", "source", "n_chars")
      .orderBy(desc("n_chars"), col("doc_id"))
      .limit(50),
    Some("""SELECT doc_id, source, n_chars
           |FROM documents WHERE lang = 'en'
           |ORDER BY n_chars DESC, doc_id LIMIT 50""".stripMargin))

  /** End-to-end DSv2 WRITE path under the oracle gate
    * ([[graft.sources.GraftParquetWrite]]): seed a manifested table with
    * half the rows via [[graft.sources.Sinks.parquetWithStats]], APPEND
    * the other half through the connector's `SupportsWrite` (which must
    * carry the manifest forward transactionally — the r6 verdict's
    * append-staleness hole), then read the table back through the
    * connector with a pushed filter and aggregate. The result is
    * hash-checked against DuckDB computing the same slices straight from
    * `orders` — so a write that lost rows, duplicated a staged file, or
    * corrupted a value would fail the gate, and a manifest regression
    * surfaces in GraftParquetWriteSpec's pruning asserts. Long sums are
    * exact at any file fan-out; no floats cross the aggregate. */
  /** The connector as a STREAMING SOURCE, under the hash gate — the
    * read half of the DSv2 streaming story ([[graft.sources
    * .GraftMicroBatchStream]]; the write half is `q_stream_sink
    * _roundtrip`): three batch APPENDS build a graft table, then
    * `readStream.format(graft)` replays it with
    * `maxFilesPerTrigger = 2` forcing a multi-batch drain (asserted —
    * a single-batch drain would leave admission control untested).
    * Each micro-batch aggregates DISTRIBUTED (per-type count /
    * decimal sum / min / max partials) and the driver merges partials
    * with exact BigDecimal addition — rows never collect, the
    * established drain discipline. A file read twice, a file skipped
    * between offsets, or an admission-control slice that dropped rows
    * drifts a count or extremum against the oracle aggregating the
    * events table directly. */
  val qDsv2StreamSource = QueryDef("q_dsv2_stream_source",
    (spark, dir) => {
      import spark.implicits._
      val ev = Tables.events(spark, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"))
      val run = java.util.UUID.randomUUID().toString
      val table = s"${sys.props("java.io.tmpdir")}/graft_dsv2_src_$run"
      val ckpt = s"${sys.props("java.io.tmpdir")}/graft_dsv2_src_ckpt_$run"
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
        val acc = collection.mutable.Map.empty[
          String, (Long, java.math.BigDecimal, Long, Long)]
        var batches = 0
        val q = src.writeStream
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
            val partials = batch.groupBy("event_type")
              .agg(count(lit(1)).as("n"),
                sum(col("value").cast("decimal(28,10)")).as("tv"),
                min("event_id").as("mn"), max("event_id").as("mx"))
              .collect()
            acc.synchronized {
              batches += 1
              partials.foreach { r =>
                val (n0, tv0, mn0, mx0) = acc.getOrElse(r.getString(0),
                  (0L, java.math.BigDecimal.ZERO, Long.MaxValue, Long.MinValue))
                acc(r.getString(0)) = (n0 + r.getLong(1),
                  tv0.add(Option(r.getDecimal(2))
                    .getOrElse(java.math.BigDecimal.ZERO)),
                  math.min(mn0, r.getLong(3)), math.max(mx0, r.getLong(4)))
              }
            }
          }
          .start()
        q.awaitTermination()
        require(batches >= 2,
          s"maxFilesPerTrigger=2 over >=3 files must split the drain, got $batches")
        acc.toSeq
          .map { case (t, (n, tv, mn, mx)) =>
            (t, n, tv.doubleValue, mn, mx) }
          .toDF("event_type", "n", "total_value", "min_id", "max_id")
          .orderBy("event_type")
      } finally {
        fs.delete(new org.apache.hadoop.fs.Path(table), true)
        fs.delete(new org.apache.hadoop.fs.Path(ckpt), true)
      }
    },
    Some("""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           |       CAST(sum(CAST(value AS DECIMAL(28,10))) AS DOUBLE)
           |         AS total_value,
           |       min(event_id) AS min_id, max(event_id) AS max_id
           |FROM events
           |GROUP BY event_type ORDER BY event_type""".stripMargin))

  /** The CSV sink (SURVEY §2.2 K1) + Spark's reader, ROUND-TRIPPED
    * under the hash gate — K1–K3 were CLI-smoke-only until now: the
    * supplier table writes through [[graft.sources.Sinks.csvWithHeader]]
    * into a per-run scratch dir and is read back with the explicit
    * schema; the aggregate fingerprints every column (counts, integer
    * sums, a decimal-exact double sum, name lengths, distinct names),
    * so a quoting slip, a locale-formatted double, a dropped header, or
    * a truncated shard breaks the hash against the oracle computing the
    * same aggregate straight from the parquet table. Doubles survive
    * because Spark writes shortest-round-trip representations — the
    * property this entry keeps pinned. */
  val qCsvRoundtrip = QueryDef("q_csv_roundtrip",
    (spark, dir) => {
      val sup = Tables.supplier(spark, dir)
      val out = s"${sys.props("java.io.tmpdir")}/graft_csv_rt_" +
        java.util.UUID.randomUUID().toString
      graft.sources.Sinks.csvWithHeader(sup, out)
      val p = new org.apache.hadoop.fs.Path(out)
      // the RESULT lazily scans the csv — UUID dir, reaped at JVM exit
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).deleteOnExit(p)
      spark.read.option("header", "true").schema(sup.schema).csv(out)
        .agg(
          count(lit(1)).as("n"),
          sum("s_suppkey").as("sum_key"),
          sum("s_nationkey").cast("long").as("sum_nat"),
          sum(col("s_acctbal").cast("decimal(28,4)")).cast("double")
            .as("sum_bal"),
          sum(length(col("s_name"))).as("sum_name_len"),
          countDistinct(col("s_name")).as("n_names"))
    },
    Some("""SELECT CAST(count(*) AS BIGINT) AS n,
           |       CAST(sum(s_suppkey) AS BIGINT) AS sum_key,
           |       CAST(sum(s_nationkey) AS BIGINT) AS sum_nat,
           |       CAST(sum(CAST(s_acctbal AS DECIMAL(28,4))) AS DOUBLE)
           |         AS sum_bal,
           |       CAST(sum(length(s_name)) AS BIGINT) AS sum_name_len,
           |       CAST(count(DISTINCT s_name) AS BIGINT) AS n_names
           |FROM supplier""".stripMargin))

  /** The JSONL sink ([[graft.sources.Sinks.jsonlSharded]] — sharded
    * writer + sidecar manifest) round-tripped under the hash gate with
    * the documents table: free text exercises JSON STRING ESCAPING
    * (quotes, backslashes, control characters) and null `text` rows
    * exercise null-field omission — the reader must reconstruct both
    * exactly, fingerprinted by per-column sums/lengths/null counts.
    * The underscore-prefixed manifest is invisible to the reader by
    * Spark's own convention, which this entry also keeps pinned. */
  val qJsonlRoundtrip = QueryDef("q_jsonl_roundtrip",
    (spark, dir) => {
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"), col("text"))
      val out = s"${sys.props("java.io.tmpdir")}/graft_jsonl_rt_" +
        java.util.UUID.randomUUID().toString
      graft.sources.Sinks.jsonlSharded(docs, out, 8, col("doc_id"))
      val p = new org.apache.hadoop.fs.Path(out)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).deleteOnExit(p)
      spark.read.schema(docs.schema).json(out)
        .agg(
          count(lit(1)).as("n"),
          sum("doc_id").as("sum_id"),
          sum(length(col("text"))).as("sum_text_len"),
          count(when(col("text").isNull, lit(1))).as("n_null_text"),
          countDistinct(col("source")).as("n_sources"))
    },
    Some("""SELECT CAST(count(*) AS BIGINT) AS n,
           |       CAST(sum(doc_id) AS BIGINT) AS sum_id,
           |       CAST(sum(length(text)) AS BIGINT) AS sum_text_len,
           |       CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END)
           |            AS BIGINT) AS n_null_text,
           |       CAST(count(DISTINCT source) AS BIGINT) AS n_sources
           |FROM documents""".stripMargin))

  /** The ORC sink + source ([[graft.sources.Sinks.orc]] /
    * `Sources.orc`) round-tripped under the hash gate, completing the
    * format family beside parquet (native), CSV, and JSONL: the
    * lineitem table — the widest type mix (longs, ints, doubles,
    * strings, timestamps) — writes to ORC and is read back, with the
    * aggregate fingerprinting every column INCLUDING the timestamp as
    * epoch microseconds, so a type-mapping slip, a timezone shear, or
    * a precision loss in the columnar encoding breaks the hash against
    * the oracle reading the parquet directly. */
  val qOrcRoundtrip = QueryDef("q_orc_roundtrip",
    (spark, dir) => {
      val li = Tables.lineitem(spark, dir)
      val out = s"${sys.props("java.io.tmpdir")}/graft_orc_rt_" +
        java.util.UUID.randomUUID().toString
      graft.sources.Sinks.orc(li, out)
      val p = new org.apache.hadoop.fs.Path(out)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).deleteOnExit(p)
      graft.sources.Sources.orc(spark, out)
        .agg(
          count(lit(1)).as("n"),
          sum("l_orderkey").as("sum_ok"),
          sum("l_linenumber").cast("long").as("sum_ln"),
          sum(col("l_quantity").cast("decimal(28,4)")).cast("double")
            .as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(28,4)")).cast("double")
            .as("sum_price"),
          sum(length(col("l_returnflag"))).as("sum_rf_len"),
          countDistinct(col("l_linestatus")).as("n_status"),
          // NTZ → TIMESTAMP under the pinned-UTC session: identical
          // wall-clock micros (the eventsMicros convention); min/max,
          // not sum — 60k × 1.7e15 µs overflows a long
          min(unix_micros(col("l_shipdate").cast("timestamp")))
            .as("min_ship_us"),
          max(unix_micros(col("l_shipdate").cast("timestamp")))
            .as("max_ship_us"))
    },
    Some("""SELECT CAST(count(*) AS BIGINT) AS n,
           |       CAST(sum(l_orderkey) AS BIGINT) AS sum_ok,
           |       CAST(sum(l_linenumber) AS BIGINT) AS sum_ln,
           |       CAST(sum(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE)
           |         AS sum_qty,
           |       CAST(sum(CAST(l_extendedprice AS DECIMAL(28,4))) AS DOUBLE)
           |         AS sum_price,
           |       CAST(sum(length(l_returnflag)) AS BIGINT) AS sum_rf_len,
           |       CAST(count(DISTINCT l_linestatus) AS BIGINT) AS n_status,
           |       CAST(min(epoch_us(l_shipdate)) AS BIGINT) AS min_ship_us,
           |       CAST(max(epoch_us(l_shipdate)) AS BIGINT) AS max_ship_us
           |FROM lineitem""".stripMargin))

  val qDsv2WriteRoundtrip = QueryDef("q_dsv2_write_roundtrip",
    (spark, dir) => {
      val fmt = "graft.sources.GraftParquetTableProvider"
      // per-run UUID scratch dir (like StreamingQueries' checkpoints):
      // hashCode-derived names could collide across sf dirs or let two
      // concurrent runs delete each other's live table mid-query
      val out = s"${sys.props("java.io.tmpdir")}/graft_dsv2_write_" +
        java.util.UUID.randomUUID().toString
      val p = new org.apache.hadoop.fs.Path(out)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(p, true) // fresh table per run — the query IS the write
      fs.deleteOnExit(p) // UUID dirs are single-use: reap at JVM exit
      val base = Tables.orders(spark, dir).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderpriority")
      graft.sources.Sinks.parquetWithStats(
        base.filter(col("o_orderkey") % 4 === 0), out)
      base.filter(col("o_orderkey") % 4 === 1)
        .write.format(fmt).option("path", out).mode("append").save()
      spark.read.format(fmt).option("path", out).load()
        .filter(col("o_totalprice") > 150000.0)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"), sum("o_custkey").as("sum_cust"),
          min("o_orderkey").as("min_key"), max("o_orderkey").as("max_key"))
        .orderBy("o_orderpriority")
    },
    Some("""SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
           |       CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
           |       min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
           |FROM orders
           |WHERE o_orderkey % 4 IN (0, 1) AND o_totalprice > 150000.0
           |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin))

  /** PARTITIONED DSv2 write under the oracle gate
    * ([[graft.sources.GraftParquetWrite]]'s `partitionBy` option): the
    * orders slice lands in a Hive-style `o_orderpriority=<v>/` layout
    * (values in the directory name AND in the files — the Iceberg
    * convention), the manifest covers every partitioned file, and the
    * read-back filters ON the partition column — so planning prunes
    * whole directories from the listing before the zone maps are even
    * consulted (spec-asserted with the manifest removed), and a write
    * that misrouted a row to the wrong partition directory changes
    * which files survive pruning and breaks the hash. */
  val qDsv2PartitionedWrite = QueryDef("q_dsv2_partitioned_write",
    (spark, dir) => {
      val fmt = "graft.sources.GraftParquetTableProvider"
      val out = s"${sys.props("java.io.tmpdir")}/graft_dsv2_part_" +
        java.util.UUID.randomUUID().toString
      val p = new org.apache.hadoop.fs.Path(out)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(p, true)
      fs.deleteOnExit(p) // UUID dirs are single-use: reap at JVM exit
      Tables.orders(spark, dir).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderpriority")
        .write.format(fmt).option("path", out)
        .option("partitionBy", "o_orderpriority").mode("append").save()
      spark.read.format(fmt).option("path", out).load()
        .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH") &&
          col("o_totalprice") > 100000.0)
        .groupBy("o_orderpriority", "o_orderstatus")
        .agg(count(lit(1)).as("n_orders"), sum("o_custkey").as("sum_cust"),
          min("o_orderkey").as("min_key"), max("o_orderkey").as("max_key"))
        .orderBy("o_orderpriority", "o_orderstatus")
    },
    Some("""SELECT o_orderpriority, o_orderstatus,
           |       CAST(count(*) AS BIGINT) AS n_orders,
           |       CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
           |       min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
           |FROM orders
           |WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
           |  AND o_totalprice > 100000.0
           |GROUP BY o_orderpriority, o_orderstatus
           |ORDER BY o_orderpriority, o_orderstatus""".stripMargin))

  /** TPC-H Q3 ("shipping priority") adapted to this schema: segment-
    * filtered customers ⋈ date-bounded orders ⋈ ship-date-bounded
    * lineitems, revenue per open order, top 10. The canonical selective-
    * join-then-rank shape: both date filters reach their scans
    * (PushedFilters), the customer side is broadcast, and the final
    * ranking is a TakeOrderedAndProject, not a global sort. */
  val Q3Cutoff = "1998-06-01"
  val qShippingPriority = QueryDef("q3_shipping_priority",
    (spark, dir) => {
      val li = Tables.lineitem(spark, dir)
        .filter(col("l_shipdate") > lit(Q3Cutoff))
        .select(col("l_orderkey"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast("decimal(28,6)").as("rev"))
      Tables.customer(spark, dir)
        .filter(col("c_mktsegment") === "BUILDING")
        .join(Tables.orders(spark, dir)
            .filter(col("o_orderdate") < lit(Q3Cutoff)),
          col("c_custkey") === col("o_custkey"))
        .join(li, col("o_orderkey") === col("l_orderkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(sum("rev").cast("double").as("revenue"))
        .orderBy(desc("revenue"), col("l_orderkey"))
        .limit(10)
        .select(col("l_orderkey"), col("revenue"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"))
    },
    Some(s"""SELECT l_orderkey,
            |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS revenue,
            |  strftime(o_orderdate, '%Y-%m-%d') AS order_date
            |FROM customer
            |JOIN orders ON c_custkey = o_custkey
            |JOIN lineitem ON o_orderkey = l_orderkey
            |WHERE c_mktsegment = 'BUILDING'
            |  AND o_orderdate < TIMESTAMP '$Q3Cutoff'
            |  AND l_shipdate > TIMESTAMP '$Q3Cutoff'
            |GROUP BY l_orderkey, o_orderdate
            |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin))

  /** TPC-H Q5 shape (local supplier volume): the star join with TWO
    * independent paths to nation — customer's nation must equal the line
    * item's SUPPLIER nation — which no single join chain expresses; the
    * c_nationkey = s_nationkey condition rides the lineitem–supplier
    * join. Scale: region/nation/supplier broadcast (small dims); the
    * orders⋈lineitem spine is the only shuffled join, keyed on orderkey.
    * Distinct from [[qRegionRevenue]], which has the single
    * customer-path only. */
  val qLocalSupplierVolume = QueryDef("q5_local_supplier_volume",
    (spark, dir) => {
      val li = Tables.lineitem(spark, dir).select(col("l_orderkey"),
        col("l_suppkey"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(28,6)").as("rev"))
      Tables.region(spark, dir).filter(col("r_name") === "ASIA")
        .join(Tables.nation(spark, dir),
          col("r_regionkey") === col("n_regionkey"))
        .join(Tables.customer(spark, dir),
          col("n_nationkey") === col("c_nationkey"))
        .join(Tables.orders(spark, dir), col("c_custkey") === col("o_custkey"))
        .join(li, col("o_orderkey") === col("l_orderkey"))
        .join(Tables.supplier(spark, dir),
          col("l_suppkey") === col("s_suppkey") &&
            col("s_nationkey") === col("c_nationkey"))
        .groupBy("n_name")
        .agg(sum("rev").cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(desc("revenue"), col("n_name"))
    },
    Some("""SELECT n_name,
           |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS revenue,
           |  CAST(count(*) AS BIGINT) AS n_items
           |FROM region
           |JOIN nation ON r_regionkey = n_regionkey
           |JOIN customer ON n_nationkey = c_nationkey
           |JOIN orders ON c_custkey = o_custkey
           |JOIN lineitem ON o_orderkey = l_orderkey
           |JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
           |WHERE r_name = 'ASIA'
           |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin))

  /** Total quantity that flags a "large" order — low enough that a few
    * hundred orders qualify at sf0.01 (TPC-H uses 300+ at its row
    * counts; this corpus has ~4 lineitems/order). */
  val Q18MinQty = 120.0

  /** TPC-H Q18 shape (large-volume customers): the HAVING-subquery semi
    * join — orders whose TOTAL lineitem quantity exceeds a threshold,
    * joined back to customer and re-aggregated. The qualifying-key set
    * comes from an aggregate (groupBy + having), then drives a semi-ish
    * join — the "filter a fact by an aggregate of itself" shape, which
    * Catalyst plans as one aggregate + one join rather than a correlated
    * rescan. Quantity totals are decimal-summed (order-independent
    * exact) before the threshold test and the double cast, like every
    * other summed column in the catalog. */
  val qLargeOrders = QueryDef("q18_large_orders",
    (spark, dir) => {
      val li = Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_quantity").cast("decimal(18,2)").as("q"))
      val big = li.groupBy("l_orderkey")
        .agg(sum("q").as("total_q"))
        .filter(col("total_q") > Q18MinQty)
        .select(col("l_orderkey").as("big_orderkey"),
          col("total_q").cast("double").as("total_qty"))
      Tables.orders(spark, dir)
        .join(big, col("o_orderkey") === col("big_orderkey"))
        .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          year(col("o_orderdate")).cast("long").as("o_year"),
          col("o_totalprice"), col("total_qty"))
        .orderBy(desc("o_totalprice"), col("o_orderkey"))
        .limit(100)
    },
    Some(s"""SELECT c_name, c_custkey, o_orderkey,
            |       CAST(year(o_orderdate) AS BIGINT) AS o_year,
            |       o_totalprice,
            |       CAST(total_q AS DOUBLE) AS total_qty
            |FROM orders
            |JOIN (SELECT l_orderkey,
            |             sum(CAST(l_quantity AS DECIMAL(18,2))) AS total_q
            |      FROM lineitem GROUP BY l_orderkey
            |      HAVING total_q > $Q18MinQty) big
            |  ON o_orderkey = big.l_orderkey
            |JOIN customer ON o_custkey = c_custkey
            |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin))

  /** Column profile of the documents table — the pre-training data-
    * quality pass as a catalog entry ([[graft.operators.Profile]]). */
  val qProfileDocuments = QueryDef("q_profile_documents",
    (spark, dir) => graft.operators.Profile.profile(
        Tables.documents(spark, dir),
        Seq("doc_id", "text", "lang", "source", "n_chars"))
      .orderBy("col_name"),
    Some {
      val branches = Seq("doc_id", "text", "lang", "source", "n_chars")
        .map(c =>
          s"""SELECT '$c' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(count(*) - count($c) AS BIGINT) AS n_nulls,
             |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct
             |FROM documents""".stripMargin)
        .mkString("\nUNION ALL\n")
      s"$branches\nORDER BY col_name"
    })

  /** Morton z-values for the station grid — the data-layout kernel
    * behind [[graft.sources.Sinks.parquetZOrdered]], hash-checked
    * bit-for-bit: DuckDB re-derives the same codes via the same
    * binary-magic-number spreading ([[graft.expr.ZOrderKernels]]).
    * Quantization arithmetic is IEEE-identical cross-engine (the lat/lon
    * synthesis is integer-derived, the scale factors are powers of two
    * where rounding could bite). `cell` = z >> 8 is the coarse bucket a
    * file-pruning layout would group by. */
  val qZorderCells = QueryDef("q_zorder_cells",
    (spark, dir) => {
      import org.apache.spark.sql.Column
      def cell(c: Column, lo: Double, hi: Double) =
        least(lit(65535L), greatest(lit(0L),
          floor((c - lit(lo)) / lit(hi - lo) * 65536).cast("long")))
      Tables.stationsById(spark, dir)
        .select(col("id"), graft.expr.InterleaveBits16(
          cell(col("latitude"), 51.0, 51.5),
          cell(col("longitude"), -0.5, 0.5)).as("zvalue"))
        .withColumn("cell", shiftright(col("zvalue"), 8))
        .orderBy("id")
    },
    Some(s"""WITH ${Catalog.stationsSql},
            |cells AS (
            |  SELECT id,
            |    least(65535, greatest(0,
            |      CAST(floor((latitude - 51.0) / 0.5 * 65536) AS BIGINT))) AS cx,
            |    least(65535, greatest(0,
            |      CAST(floor((longitude - (-0.5)) / 1.0 * 65536) AS BIGINT))) AS cy
            |  FROM stations
            |),
            |z1 AS (SELECT id, (cx | (cx << 8)) & 16711935 AS cx,
            |               (cy | (cy << 8)) & 16711935 AS cy FROM cells),
            |z2 AS (SELECT id, (cx | (cx << 4)) & 252645135 AS cx,
            |               (cy | (cy << 4)) & 252645135 AS cy FROM z1),
            |z3 AS (SELECT id, (cx | (cx << 2)) & 858993459 AS cx,
            |               (cy | (cy << 2)) & 858993459 AS cy FROM z2),
            |z4 AS (SELECT id, (cx | (cx << 1)) & 1431655765 AS cx,
            |               (cy | (cy << 1)) & 1431655765 AS cy FROM z3)
            |SELECT id, cx | (cy << 1) AS zvalue,
            |       (cx | (cy << 1)) >> 8 AS cell
            |FROM z4 ORDER BY id""".stripMargin))

  /** Hilbert indices for the station grid — the locality-preserving
    * layout sibling of [[qZorderCells]] ([[graft.expr.HilbertKernels]]:
    * consecutive indices are always grid NEIGHBORS, so per-file
    * bounding boxes stay connected where Morton's quadrant seams
    * fragment them — the reason engines added Hilbert beside ZORDER).
    * Same quantization arithmetic as the Morton entry; the oracle
    * replays all 16 quadrant/rotation steps through generated CTEs
    * ([[graft.expr.HilbertIndex16.iterationSql]] — one step
    * definition, two engines), so the index is hash-checked
    * bit-for-bit. `cell` = d >> 8 is the coarse bucket a file-pruning
    * layout would group by. */
  val qHilbertCells = QueryDef("q_hilbert_cells",
    (spark, dir) => {
      import org.apache.spark.sql.Column
      def cell(c: Column, lo: Double, hi: Double) =
        least(lit(65535L), greatest(lit(0L),
          floor((c - lit(lo)) / lit(hi - lo) * 65536).cast("long")))
      Tables.stationsById(spark, dir)
        .select(col("id"), graft.expr.HilbertIndex16(
          cell(col("latitude"), 51.0, 51.5),
          cell(col("longitude"), -0.5, 0.5)).as("hvalue"))
        .withColumn("cell", shiftright(col("hvalue"), 8))
        .orderBy("id")
    },
    Some(s"""WITH ${Catalog.stationsSql},
            |cells AS (
            |  SELECT id,
            |    least(65535, greatest(0,
            |      CAST(floor((latitude - 51.0) / 0.5 * 65536) AS BIGINT))) AS x,
            |    least(65535, greatest(0,
            |      CAST(floor((longitude - (-0.5)) / 1.0 * 65536) AS BIGINT))) AS y
            |  FROM stations
            |),
            |${graft.expr.HilbertIndex16.iterationSql("cells", "h")}
            |SELECT id, d AS hvalue, d >> 8 AS cell
            |FROM h16 ORDER BY id""".stripMargin))

  /** The triangle analysis runs on the BACKBONE graph — the
    * [[BackboneEdges]] strongest routes by ride count (ties broken on the
    * station pair). Exact triangle counting is cubic-ish in density;
    * analyzing the strongest-K backbone is both the meaningful question
    * (structure among ROUTES THAT MATTER) and the formulation whose cost
    * is bounded at every corpus scale — the raw graph's density grows
    * with SF until exact counting is the wrong tool. */
  val BackboneEdges = 5000

  /** The top-[[BackboneEdges]] undirected route backbone — ONE
    * derivation shared by every graph-family query (triangles, BFS);
    * a drift between two copies would silently have them analyze
    * different graphs. Columns (u, v, c), ordered (c desc, u, v). */
  def backboneEdges(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    Tables.rides(spark, dir)
      .filter(col("start_station_id") =!= col("end_station_id"))
      .groupBy(
        least(col("start_station_id"), col("end_station_id")).as("u"),
        greatest(col("start_station_id"), col("end_station_id")).as("v"))
      .agg(count(lit(1)).as("c"))
      .orderBy(desc("c"), col("u"), col("v"))
      .limit(BackboneEdges)

  /** SQL mirror of [[backboneEdges]] (u, v, c — same order/tie-break). */
  private val backboneSql: String =
    s"""SELECT least(start_station_id, end_station_id) AS u,
       |       greatest(start_station_id, end_station_id) AS v,
       |       count(*) AS c
       |FROM rides WHERE start_station_id <> end_station_id
       |GROUP BY 1, 2
       |ORDER BY c DESC, u, v LIMIT $BackboneEdges""".stripMargin

  /** Per-station triangle participation in the backbone rides graph —
    * exact distributed triangle counting ([[graft.operators.Graphs]],
    * degree-ordered orientation). The oracle recounts with the
    * orientation-free canonical 3-way join: agreement proves the
    * degree-ordered plan (the one that scales) loses/duplicates
    * nothing. */
  val qTriangles = QueryDef("q_ride_triangles",
    (spark, dir) => {
      graft.operators.Graphs.trianglesPerNode(
        backboneEdges(spark, dir), "u", "v")
        .select(col("node").as("station_id"), col("n_triangles"))
        .orderBy("station_id")
    },
    Some(s"""WITH ${Catalog.ridesSql},
            |ed AS (
            |  SELECT u, v FROM ($backboneSql)
            |),
            |tri AS (
            |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
            |  FROM ed e1
            |  JOIN ed e2 ON e2.u = e1.v
            |  JOIN ed e3 ON e3.u = e1.u AND e3.v = e2.v
            |),
            |nodes AS (
            |  SELECT a AS n FROM tri
            |  UNION ALL SELECT b FROM tri
            |  UNION ALL SELECT c FROM tri
            |)
            |SELECT n AS station_id, CAST(count(*) AS BIGINT) AS n_triangles
            |FROM nodes GROUP BY n ORDER BY n""".stripMargin))

  /** BFS hop budget for [[qBfsStations]]: enough to settle the whole
    * backbone component at every SF (its diameter is small — heavy
    * routes form a dense core), while still exercising the truncation
    * contract in the spec. */
  val BfsMaxHops = 8

  /** Single-source BFS over the backbone rides graph
    * ([[graft.operators.Graphs.bfsDistances]]): hop distance from the
    * hub of the HEAVIEST route (deterministically tie-broken) to every
    * station within [[BfsMaxHops]]. The oracle replays it with a
    * recursive CTE — `min(d)` over the deduplicated (node, depth)
    * expansion is exactly the BFS distance, and the hop cap bounds the
    * recursion in lockstep with the loop. The one driver action (the
    * source pick off the 5000-row backbone head) is model-scale. */
  val qBfsStations = QueryDef("q_bfs_stations",
    (spark, dir) => {
      val backbone = backboneEdges(spark, dir)
      val srcNode = backbone.select("u").head().getLong(0)
      graft.operators.Graphs.bfsDistances(backbone, "u", "v",
        srcNode, BfsMaxHops)
        .select(col("node").as("station_id"), col("dist"))
        .orderBy("station_id")
    },
    Some(s"""WITH RECURSIVE ${Catalog.ridesSql},
            |edb AS (
            |  $backboneSql
            |),
            |adj AS (
            |  SELECT u AS a, v AS b FROM edb
            |  UNION ALL SELECT v, u FROM edb
            |),
            |srcn AS (SELECT u AS s FROM edb ORDER BY c DESC, u, v LIMIT 1),
            |bfs(node, d) AS (
            |  SELECT s, 0 FROM srcn
            |  UNION
            |  SELECT adj.b, bfs.d + 1
            |  FROM bfs JOIN adj ON adj.a = bfs.node
            |  WHERE bfs.d < $BfsMaxHops
            |)
            |SELECT node AS station_id, CAST(min(d) AS INTEGER) AS dist
            |FROM bfs GROUP BY node ORDER BY station_id""".stripMargin))

  /** Distance-closure cap for [[qSsspWeighted]]'s oracle: the recursive
    * (node, d) expansion only explores d ≤ this, which provably covers
    * every true shortest distance because the backbone's hop diameter is
    * ≤ [[BfsMaxHops]] (the settled BFS result) and weights are ≤ 9, so
    * shortest weighted dist ≤ 8·9 = 72 < 96. The Spark side ASSERTS the
    * bound on its own result — if a regenerated graph ever violated it,
    * the query throws loudly instead of hash-mismatching mysteriously. */
  val SsspCapD = 96L

  /** Weighted single-source shortest paths over the backbone rides graph
    * ([[graft.operators.Graphs.ssspDistances]] — the Dijkstra
    * generalization of [[qBfsStations]]'s BFS): deterministic integer
    * edge weights derived from the canonical endpoints
    * (w = (7u + 13v) mod 9 + 1, so cheap multi-hop detours genuinely
    * beat expensive direct edges and the weighted result differs from
    * hop distance), same deterministically tie-broken source. The
    * oracle re-derives distances with a BOUNDED (node, d) recursive
    * closure — every walk of weight ≤ [[SsspCapD]] — and takes min(d)
    * per node; with all true distances under the cap (asserted Spark-
    * side) that min IS the shortest-path distance. */
  val qSsspWeighted = QueryDef("q_sssp_weighted",
    (spark, dir) => {
      val backbone = backboneEdges(spark, dir)
        .withColumn("w", pmod(col("u") * 7 + col("v") * 13, lit(9L)) + 1L)
      val srcNode = backbone.select("u").head().getLong(0)
      val out = graft.operators.Graphs.ssspDistances(
        backbone, "u", "v", "w", srcNode)
        .select(col("node").as("station_id"), col("dist"))
      // the oracle's closure cap must dominate every true distance —
      // model-scale aggregate probe on the (already checkpointed) result
      val maxD = out.agg(max("dist")).head().getLong(0)
      require(maxD <= SsspCapD,
        s"q_sssp_weighted: max distance $maxD exceeds the oracle cap " +
          s"$SsspCapD — the graph changed shape; raise SsspCapD in lockstep")
      out.orderBy("station_id")
    },
    Some(s"""WITH RECURSIVE ${Catalog.ridesSql},
            |edb AS (
            |  $backboneSql
            |),
            |wadj AS (
            |  SELECT u AS a, v AS b, ((u * 7 + v * 13) % 9) + 1 AS w FROM edb
            |  UNION ALL
            |  SELECT v, u, ((u * 7 + v * 13) % 9) + 1 FROM edb
            |),
            |srcn AS (SELECT u AS s FROM edb ORDER BY c DESC, u, v LIMIT 1),
            |sp(node, d) AS (
            |  SELECT s, CAST(0 AS BIGINT) FROM srcn
            |  UNION
            |  SELECT wadj.b, sp.d + wadj.w
            |  FROM sp JOIN wadj ON wadj.a = sp.node
            |  WHERE sp.d + wadj.w <= $SsspCapD
            |)
            |SELECT node AS station_id, CAST(min(d) AS BIGINT) AS dist
            |FROM sp GROUP BY node ORDER BY station_id""".stripMargin))

  /** Power iterations for [[qPageRank]] — enough for ~1e-6 convergence
    * on the rides graph, small enough for a readable unrolled oracle. */
  val PrIters = 10

  /** PageRank over the directed rides graph
    * ([[graft.operators.Graphs.pageRank]]) — the graph-quality-weighting
    * signal of web-corpus curation. The oracle UNROLLS the identical 10
    * iterations as a CTE chain: same decimal-quantized contribution
    * sums, same dangling-mass redistribution, same IEEE constants — so
    * ranks match bit-for-bit before the output rounding. */
  val qPageRank = QueryDef("q_pagerank_stations",
    (spark, dir) => graft.operators.Graphs.pageRank(
      Tables.rides(spark, dir), "start_station_id", "end_station_id", PrIters)
      .select(col("node").as("station_id"), round(col("pr"), 10).as("pr"))
      .orderBy("station_id"),
    Some {
      val iterCtes = (0 until PrIters).map { t =>
        s"""c$t AS MATERIALIZED (
           |  SELECT e.dst AS node,
           |         CAST(p.pr / CAST(o.od AS DOUBLE) AS DECIMAL(28,12)) AS q
           |  FROM ed e JOIN p$t p ON p.node = e.src JOIN od o ON o.src = e.src
           |), s$t AS MATERIALIZED (
           |  SELECT node, CAST(SUM(q) AS DOUBLE) AS s FROM c$t GROUP BY node
           |), d$t AS MATERIALIZED (
           |  SELECT COALESCE(CAST(SUM(CAST(pr AS DECIMAL(28,12))) AS DOUBLE), 0.0) AS m
           |  FROM p$t WHERE node NOT IN (SELECT src FROM od)
           |), p${t + 1} AS MATERIALIZED (
           |  SELECT nd2.node,
           |         (1.0 - 0.85) / cnt.nn
           |           + 0.85 * (COALESCE(s.s, 0.0) + d.m / cnt.nn) AS pr
           |  FROM nd nd2 LEFT JOIN s$t s ON s.node = nd2.node, d$t d, cnt
           |)""".stripMargin
      }.mkString(",\n")
      s"""WITH ${Catalog.ridesSql},
         |ed AS MATERIALIZED (
         |  SELECT DISTINCT start_station_id AS src, end_station_id AS dst
         |  FROM rides
         |),
         |nd AS MATERIALIZED (SELECT src AS node FROM ed UNION SELECT dst FROM ed),
         |cnt AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS nn FROM nd),
         |od AS MATERIALIZED (SELECT src, count(*) AS od FROM ed GROUP BY src),
         |p0 AS MATERIALIZED (SELECT node, 1.0 / cnt.nn AS pr FROM nd, cnt),
         |$iterCtes
         |SELECT node AS station_id, round(pr, 10) AS pr
         |FROM p$PrIters ORDER BY station_id""".stripMargin
    })

  def all: Seq[QueryDef] = Seq(
    qSemiAnti, qTopCustomers, qSetOps, qRegionRevenue, qAboveAvg,
    qDsv2Pushdown, qDsv2AggPushdown, qDsv2SumPushdown, qDsv2GroupPushdown,
    qDsv2RuntimeFilter, qDsv2WriteRoundtrip, qDsv2TopNPushdown,
    qDsv2PartitionedWrite, qDsv2StreamSource,
    qCsvRoundtrip, qJsonlRoundtrip, qOrcRoundtrip,
    qShippingPriority,
    qLocalSupplierVolume,
    qLargeOrders, qProfileDocuments, qZorderCells, qHilbertCells,
    qTriangles, qPageRank, qBfsStations, qSsspWeighted)
}
