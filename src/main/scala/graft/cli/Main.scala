package graft.cli

import org.apache.spark.sql.functions._
import graft.core.{GraftSession, Tables}
import graft.operators.{RideCounts, StationDistances, TotalDistance}
import graft.sources.Sinks

/** Command-line entry points mirroring the reference's four pipeline mains
  * and their flags (`--output`, `--top_n`, `--input_col` —
  * `/root/reference/pipelines/cycle_rides.py:17-24`,
  * `/root/reference/pipelines/total_distance.py:62-67`), so a user of the
  * reference can run the same jobs against the same kind of arguments:
  *
  * {{{
  * runMain graft.cli.Main sql-top-routes --input DIR --output PATH [--limit N]
  * runMain graft.cli.Main top-routes --input DIR --output PATH [--top-n N]
  * runMain graft.cli.Main station-distances --input DIR --output PATH
  *         [--input-col id|name] [--distinct]
  * runMain graft.cli.Main total-distance --input DIR --output PATH
  * runMain graft.cli.Main stream-routes --output PATH [--seconds N]
  *         [--rows-per-second N] [--source rate|file --input DIR]
  * runMain graft.cli.Main stream-neardup --input DIR --output PATH
  *         [--min-est-jaccard X]
  * runMain graft.cli.Main dedup --input DIR --output PATH [--mode exact|near]
  * runMain graft.cli.Main clean --input DIR --output PATH
  * }}}
  *
  * Sinks reproduce the reference's WriteToText shapes (SURVEY §2.2):
  * headered CSV (K1), plain CSV (K2), single-file CSV (K3).
  *
  * `stream-routes` is the unified-model entry point (SURVEY §2.10): the
  * SAME windowed-count transform the batch catalog uses, driven by an
  * unbounded source — `rate` (synthetic route events) or `file`
  * (streaming the lineitem parquet as a file source, event-time from
  * l_shipdate) — with watermarked tumbling windows, drained to the CSV
  * sink when the run window closes.
  */
object Main {

  private def parseFlags(args: Array[String]): Map[String, String] = {
    @annotation.tailrec
    def go(rest: List[String], acc: Map[String, String]): Map[String, String] =
      rest match {
        case k :: v :: tail if k.startsWith("--") && !v.startsWith("--") =>
          go(tail, acc + (k.stripPrefix("--") -> v))
        case k :: tail if k.startsWith("--") => // boolean flag (--distinct)
          go(tail, acc + (k.stripPrefix("--") -> "true"))
        case other :: _ => sys.error(s"unexpected argument: $other")
        case Nil => acc
      }
    go(args.toList, Map.empty)
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: <command> --input DIR --output PATH [flags]")
    val cmd = args.head
    val flags = parseFlags(args.tail)
    // stream-routes with the default rate source has no --input; for
    // the maintenance commands --input is the graft TABLE path
    def input = flags.getOrElse("input",
      sys.error("--input <testdata sf dir — or, for history/compact/" +
        "vacuum, the graft table path> is required"))
    // lazy like input: the maintenance commands (history/compact/
    // vacuum) operate in place and take no --output
    def output = flags.getOrElse("output", sys.error("--output <path> is required"))
    // lazy too: history and vacuum are pure filesystem-metadata ops —
    // they must not pay (or require) a Spark driver
    var sparkStarted = false
    lazy val spark = {
      sparkStarted = true
      GraftSession.getOrCreate(s"graft-$cmd")
    }

    cmd match {
      case "sql-top-routes" => // Q-easy (sql_cycle_rides.py) — SQL, K2 sink
        Tables.lineitem(spark, input).createOrReplaceTempView("lineitem")
        Tables.supplier(spark, input).createOrReplaceTempView("supplier")
        val limit = flags.getOrElse("limit", "100").toInt
        val limited = graft.Catalog.easySql.replace("LIMIT 100", s"LIMIT $limit")
        // loud coupling: if the catalog SQL's literal ever changes, the
        // user's --limit must fail rather than be silently ignored
        require(limit == 100 || limited != graft.Catalog.easySql,
          "--limit could not be applied: catalog SQL no longer ends in LIMIT 100")
        Sinks.csv(spark.sql(limited), output)

      case "top-routes" => // Q-hard-1 (cycle_rides.py) — engine ops, K1 sink
        val topN = flags.getOrElse("top-n", "100000").toInt
        Sinks.csvWithHeader(
          RideCounts.topRoutes(Tables.rides(spark, input),
            "start_station_id", "end_station_id", topN),
          output)

      case "station-distances" => // Q-dist (stations.py) — K2 sink
        val stations = flags.getOrElse("input-col", "id") match {
          case "name" => Tables.stationsByName(spark, input) -> "name"
          case _ => Tables.stationsById(spark, input) -> "id"
        }
        val pairs =
          if (flags.contains("distinct"))
            StationDistances.pairwiseDistinct(stations._1, stations._2)
          else StationDistances.pairwise(stations._1, stations._2)
        Sinks.csv(pairs, output)

      case "total-distance" => // Q-total (total_distance.py) — K3 single file
        val rides = Tables.rides(spark, input)
        val counts = RideCounts.countPerPair(
          rides, "start_station_id", "end_station_id", "cnt")
        val dists = StationDistances.pairwise(Tables.stationsById(spark, input), "id")
        Sinks.csvSingleFile(
          TotalDistance.totalKm(counts, dists,
            "start_station_id", "end_station_id", "cnt"),
          output)

      case "stream-routes" => // §2.10 unified model — stream → window → sink
        val seconds = flags.getOrElse("seconds", "8").toInt
        var staged: Option[java.nio.file.Path] = None
        val (rides, windowDur, watermark) = flags.getOrElse("source", "rate") match {
          case "file" =>
            // stream the bounded lineitem parquet AS an unbounded file
            // source: schema from a static read (file sources require it),
            // event-time from l_shipdate — monthly tumbling windows
            val path = s"$input/lineitem.parquet"
            val schema = Tables.lineitem(spark, input).schema
            // the file stream source tails a DIRECTORY (new files become
            // new micro-batches); testdata ships single parquet files, so
            // stage one into a temp ingest dir — exactly the landing-zone
            // shape a production file stream watches
            val ingestDir = java.nio.file.Files.createTempDirectory("graft_ingest")
            staged = Some(ingestDir)
            java.nio.file.Files.copy(java.nio.file.Paths.get(path),
              ingestDir.resolve("lineitem-000.parquet"))
            val li = spark.readStream.schema(schema).parquet(ingestDir.toString)
              .select(
                col("l_shipdate").cast("timestamp").as("ts"),
                col("l_suppkey").as("start_station_id"),
                pmod(col("l_partkey"), lit(100)).as("end_station_id"))
            (li, "30 days", "1 day")
          case _ =>
            val rate = spark.readStream
              .format("rate")
              .option("rowsPerSecond", flags.getOrElse("rows-per-second", "500").toInt)
              .load()
              .select(
                col("timestamp").as("ts"),
                pmod(col("value"), lit(20)).as("start_station_id"),
                pmod(col("value") * 7 + 3, lit(20)).as("end_station_id"))
            (rate, "5 seconds", "2 seconds")
        }
        val counts = graft.streaming.StreamingRoutes.windowedRouteCounts(
          rides, "ts", "start_station_id", "end_station_id", windowDur, watermark)
        val q = counts.writeStream
          .format("memory").queryName("graft_stream_routes")
          .outputMode("complete")
          .start()
        try {
          Thread.sleep(seconds * 1000L)
          q.processAllAvailable()
        } finally {
          q.stop()
          // remove the staged ingest copy — repeated runs must not
          // accumulate lineitem copies in the temp dir
          staged.foreach { dir =>
            java.nio.file.Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
              .forEach(p => java.nio.file.Files.deleteIfExists(p))
          }
        }
        // drain the final windowed counts through the reference's K1 sink
        Sinks.csvWithHeader(
          spark.table("graft_stream_routes")
            .orderBy(desc("amount_of_rides"), col("window_start"),
              col("start_station_id"), col("end_station_id")),
          output)

      case "stream-neardup" => // §2.10: at-ingest near-dup candidates
        // the streaming deployment of the MinHash-LSH dedup: documents
        // land in an ingest directory, and each micro-batch's docs are
        // checked against the banded state of everything seen before —
        // same staging shape as stream-routes' file source
        val minEst = flags.getOrElse("min-est-jaccard", "0.8").toDouble
        val path = s"$input/documents.parquet"
        val schema = Tables.documents(spark, input).schema
        val ingestDir = java.nio.file.Files.createTempDirectory("graft_neardup")
        java.nio.file.Files.copy(java.nio.file.Paths.get(path),
          ingestDir.resolve("documents-000.parquet"))
        val docs = spark.readStream.schema(schema).parquet(ingestDir.toString)
        val cands = graft.streaming.StreamingNearDup.candidatePairs(
          docs.toDF(), "doc_id", "text",
          graft.TextQueries.ShingleN, minEst)
        val q = cands.toDF().writeStream
          .format("memory").queryName("graft_stream_neardup")
          .outputMode("append")
          .start()
        try q.processAllAvailable()
        finally {
          q.stop()
          java.nio.file.Files.walk(ingestDir)
            .sorted(java.util.Comparator.reverseOrder())
            .forEach(p => java.nio.file.Files.deleteIfExists(p))
        }
        Sinks.csvWithHeader(
          spark.table("graft_stream_neardup")
            .orderBy("doc_a", "doc_b", "band"),
          output)

      case "dedup" => // extension surface: corpus dedup → kept docs
        val docs = Tables.documents(spark, input)
        val kept = flags.getOrElse("mode", "exact") match {
          case "exact" => graft.operators.Dedup.exactDedup(docs, "doc_id", "text")
          case "near" =>
            val pairs = graft.operators.Dedup.minhashLshPairs(docs, "doc_id",
              "text", graft.TextQueries.ShingleN, graft.TextQueries.MinJaccard)
            val drops = graft.operators.Dedup.duplicateClusters(pairs)
              .filter(col("id") =!= col("cluster"))
              .select(col("id").as("doc_id"))
            docs.join(drops, Seq("doc_id"), "left_anti")
          case m => sys.error(s"--mode must be exact|near, got $m")
        }
        Sinks.parquet(kept.select("doc_id", "lang", "source", "n_chars"), output)

      case "boilerplate" => // extension surface: C4-style line-df sweep
        val maxDf = flags.getOrElse("max-line-df", "10").toInt
        val docs = Tables.documents(spark, input)
          .filter(col("text").isNotNull)
        Sinks.parquet(graft.text.Boilerplate.dropFrequentLines(
          docs, "doc_id", "text", maxDf), output)

      case "export" => // extension surface: sharded JSONL + manifest
        val shards = flags.getOrElse("shards", "8").toInt
        val docs = Tables.documents(spark, input)
          .filter(col("text").isNotNull)
        Sinks.jsonlSharded(docs, output, shards, col("doc_id"))

      case "clean" => // extension surface: normalize + redact text
        val docs = Tables.documents(spark, input)
          .filter(col("text").isNotNull)
        Sinks.parquet(docs.select(col("doc_id"),
          graft.text.Normalize.redacted(
            graft.text.Normalize.cleaned(col("text"))).as("text"),
          col("lang"), col("source")), output)

      // ——— table-format maintenance (the SQL CALL surface's CLI twin;
      //     --input here is the graft TABLE path, not an sf dir) ———
      case "history" =>
        graft.sources.GraftMaintenance.history(input).foreach(h =>
          println(s"version=${h.version} files=${h.files} " +
            s"rows=${h.rows.map(_.toString).getOrElse("unknown")}"))

      case "compact" =>
        val target = flags.getOrElse("target-bytes",
          (128L * 1024 * 1024).toString).toLong
        val cluster = flags.get("cluster-by").toSeq
          .flatMap(_.split(',').map(_.trim).filter(_.nonEmpty))
        val v = graft.sources.GraftMaintenance.compact(
          spark, input, target, cluster)
        println(s"compacted: new version $v")

      case "vacuum" =>
        val retain = flags.getOrElse("retain-last", "1").toInt
        val deleted = graft.sources.GraftMaintenance.vacuum(input, retain)
        println(s"vacuumed: $deleted archived file(s) reclaimed; " +
          s"versions now ${graft.sources.GraftTableLog.versions(input)
            .mkString("[", ", ", "]")}")

      case other => sys.error(s"unknown command: $other")
    }
    if (sparkStarted) spark.stop()
  }
}
