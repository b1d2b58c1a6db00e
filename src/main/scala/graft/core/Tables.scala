package graft.core

import scala.jdk.CollectionConverters._

import graft.sources.{GraftParquetIO, GraftParquetWrite}
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated testdata tables (TESTDATA.md) plus the
  * reference-shaped "rides"/"stations" analog views.
  *
  * The reference (`/root/reference/pipelines/total_distance.py:87-90,103-106`)
  * reads two BigQuery tables: `cycle_hire` (rides keyed by start/end station)
  * and `cycle_stations` (station id/name/lat/lon). The driver testdata is a
  * TPC-H-ish star schema, so we derive the same shapes deterministically:
  *   - rides   := lineitem with (start, end) station ids derived from
  *                l_suppkey / l_partkey (modulo the station count, so every
  *                scale factor stays self-consistent);
  *   - stations:= supplier (id-keyed, `--input_col` id variant) or nation
  *                (name-keyed variant), with synthetic-but-deterministic
  *                WGS-84 coordinates derived from the key.
  * Both derivations are pure column arithmetic, so DuckDB can reproduce them
  * verbatim for the oracle compare.
  */
object Tables {

  /** The testdata corpus (TESTDATA.md): one parquet file per table. */
  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Read one testdata table — the ONE loader for corpus files. A file's
    * schema comes from its own footer, read on the driver (about 1 ms)
    * and converted exactly as Spark's inference converts each footer
    * (`readSchemaFromFooter` under the session's parquet flags, so
    * `nanosAsLong` and the Spark row-metadata key still apply). A bare
    * `spark.read.parquet` would launch a one-task schema-inference job
    * per table on every query build. A directory of parts keeps Spark's
    * own inference, because only there does Spark choose among files. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    footer(spark, path) match {
      case Some(meta) => spark.read.schema(ParquetFileFormat.readSchemaFromFooter(
        new Footer(new Path(path), meta),
        new ParquetToSparkSchemaConverter(spark.sessionState.conf))).parquet(path)
      case None => spark.read.parquet(path)
    }
  }

  /** Number of stations (supplier rows): the footer's row-group counts,
    * which sum to `count(*)` exactly, so no job runs for it. */
  def stationCount(spark: SparkSession, sfDir: String): Long =
    footer(spark, s"$sfDir/supplier.parquet") match {
      case Some(meta) => meta.getBlocks.asScala.map(_.getRowCount).sum
      case None => supplier(spark, sfDir).count()
    }

  /** The footer of `path` when it is a single file; None otherwise. */
  private def footer(spark: SparkSession, path: String): Option[ParquetMetadata] = {
    val p = new Path(path)
    val conf = GraftParquetWrite.sessionConf(spark)
    val isFile =
      try p.getFileSystem(conf).getFileStatus(p).isFile
      catch { case _: java.io.FileNotFoundException => false }
    if (!isFile) None
    else {
      val reader = GraftParquetIO.open(p, conf)
      try Some(reader.getFooter) finally reader.close()
    }
  }

  def lineitem(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "region")
  def events(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "events")

  /** Events with `ts` as epoch-MICROSECOND BIGINT — the single reader all
    * event-time queries share, adaptive to how the parquet encodes time.
    * Time arithmetic is normalized to MICROsecond resolution because the
    * DuckDB oracle's TIMESTAMP is microsecond-resolved (mirror with
    * epoch_us(ts) in oracle SQL); the three parquet encodings seen across
    * testdata generations all land on the same epoch-micros BIGINT:
    *   - TIMESTAMP(NANOS) → INT64 under the nanosAsLong flag → `div 1000`;
    *   - TIMESTAMP(MICROS, isAdjustedToUTC=false) → TIMESTAMP_NTZ →
    *     cast through TIMESTAMP (session tz pinned to UTC, so the wall
    *     clock IS the instant — exactly DuckDB's epoch_us reading);
    *   - TIMESTAMP(MICROS, isAdjustedToUTC=true) → TIMESTAMP → unix_micros.
    *
    * The nanosAsLong conf itself is set ONCE at session construction
    * ([[GraftSession]]) — a loader must not mutate session state on
    * every call. */
  def eventsMicros(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val ev = events(spark, sfDir)
    val micros = ev.schema("ts").dataType match {
      case LongType         => expr("ts div 1000L")
      case TimestampNTZType => unix_micros(col("ts").cast(TimestampType))
      case TimestampType    => unix_micros(col("ts"))
      case other => throw new IllegalArgumentException(
        s"events.ts has unsupported type $other; expected INT64 nanos or a timestamp")
    }
    ev.withColumn("ts", micros)
  }
  def documents(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "embeddings")

  /** Deterministic synthetic latitude from an integer key: London-ish band.
    * Pure integer arithmetic + one division → bit-identical across engines. */
  def synthLat(key: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    lit(51.0) + pmod(key * 7, lit(100)).cast("double") / lit(200.0)

  /** Deterministic synthetic longitude from an integer key. */
  def synthLon(key: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    lit(-0.5) + pmod(key * 13, lit(100)).cast("double") / lit(100.0)

  /** Station table, id-keyed (supplier analog of `cycle_stations`;
    * cf. reference `pipelines/total_distance.py:103-106`). */
  def stationsById(spark: SparkSession, sfDir: String): DataFrame =
    supplier(spark, sfDir).select(
      col("s_suppkey").as("id"),
      col("s_name").as("name"),
      synthLat(col("s_suppkey")).as("latitude"),
      synthLon(col("s_suppkey")).as("longitude"))

  /** Station table, name-keyed (nation analog;
    * cf. reference `pipelines/stations.py:57-59`). */
  def stationsByName(spark: SparkSession, sfDir: String): DataFrame =
    nation(spark, sfDir).select(
      col("n_name").as("name"),
      synthLat(col("n_nationkey")).as("latitude"),
      synthLon(col("n_nationkey")).as("longitude"))

  /** Rides analog: one row per lineitem, (start, end) station ids in
    * [0, stationCount). End derives from l_partkey so pairs repeat with a
    * skewed-but-covering distribution, like real ride data. */
  def rides(spark: SparkSession, sfDir: String): DataFrame =
    lineitem(spark, sfDir).select(
      col("l_suppkey").as("start_station_id"),
      pmod(col("l_partkey"), lit(stationCount(spark, sfDir)))
        .cast("long").as("end_station_id"))
}
