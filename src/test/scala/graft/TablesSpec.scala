package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import graft.core.Tables
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, TimestampNTZType,
  TimestampType}

/** The corpus loader: schemas from the footer on the driver, no Spark
  * job while a frame is built, and one loader for every corpus read. */
class TablesSpec extends SparkSpec {

  /** sf0.001, sf0.01 and sf0.1, beside [[sfDir]]. */
  private val sfDirs = Seq("sf0.001", "sf0.01", "sf0.1")
    .map(sf => s"${new java.io.File(sfDir).getParent}/$sf")

  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  test("every corpus table's schema equals Spark's inference, nullability included") {
    for (dir <- sfDirs; name <- Tables.names) {
      val inferred = spark.read.parquet(s"$dir/$name.parquet").schema
      assert(Tables.table(spark, dir, name).schema == inferred, s"$dir/$name")
    }
    // events.ts still lands on a type eventsMicros adapts, whatever the
    // generation's encoding
    for (dir <- sfDirs) {
      assert(Set[DataType](LongType, TimestampNTZType, TimestampType)
        .contains(Tables.events(spark, dir).schema("ts").dataType), dir)
      assert(Tables.eventsMicros(spark, dir).schema("ts").dataType == LongType)
    }
  }

  test("a directory of parquet parts still loads through Spark's inference") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_tables_dir")
    try {
      val src = spark.read.parquet(s"$sfDir/supplier.parquet")
      src.repartition(3).write.parquet(s"$tmp/supplier.parquet")
      val loaded = Tables.supplier(spark, tmp.toString)
      assert(loaded.schema == spark.read.parquet(s"$tmp/supplier.parquet").schema)
      assert(sameRows(loaded, src))
      assert(Tables.stationCount(spark, tmp.toString) == src.count())
    } finally {
      java.nio.file.Files.walk(tmp).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("rides with the footer station count equals the counted construction") {
    for (dir <- sfDirs.take(2)) {
      val n = Tables.supplier(spark, dir).agg(count(lit(1)).as("n"))
      val counted = Tables.lineitem(spark, dir)
        .select(col("l_suppkey"), col("l_partkey"))
        .crossJoin(broadcast(n))
        .select(
          col("l_suppkey").as("start_station_id"),
          pmod(col("l_partkey"), col("n")).cast("long").as("end_station_id"))
      val rides = Tables.rides(spark, dir)
      assert(rides.schema == counted.schema, dir)
      assert(sameRows(rides, counted), dir)
      assert(Tables.stationCount(spark, dir) ==
        Tables.supplier(spark, dir).count(), dir)
    }
  }

  test("building every Tables frame runs no Spark job") {
    val sc = spark.sparkContext
    val group = s"graft-tables-${java.util.UUID.randomUUID()}"
    val before = new ConcurrentLinkedQueue[String]()
    val marker = new CountDownLatch(1)
    // the listener bus delivers events in order: once the marker's start
    // is seen, every job started before it has been seen too
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group) {
          if (e.properties.getProperty("spark.job.description") == "marker")
            marker.countDown()
          else if (marker.getCount > 0)
            before.add(s"job ${e.jobId}: ${e.stageInfos.map(_.name).mkString(", ")}")
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "build Tables frames")
      try {
        for (dir <- sfDirs.take(2)) {
          Tables.names.foreach(Tables.table(spark, dir, _))
          Tables.rides(spark, dir)
          Tables.stationsById(spark, dir)
          Tables.stationsByName(spark, dir)
          Tables.eventsMicros(spark, dir)
        }
        sc.setJobDescription("marker")
        sc.parallelize(Seq(1), 1).count()
      } finally sc.clearJobGroup()
      assert(marker.await(60, TimeUnit.SECONDS),
        "the listener never saw the marker job")
      assert(before.isEmpty, s"jobs ran while building frames: $before")
    } finally sc.removeSparkListener(listener)
  }

  test("corpus tables are read with spark.read.parquet only in Tables") {
    // any other direct read pays its own schema-inference job; the guard
    // matches a literal `<dir>/<corpus name>.parquet` path
    val direct = ("""read\s*\.parquet\(\s*s?"[^"]*/(""" +
      Tables.names.mkString("|") + """)\.parquet"""").r
    assert(direct.findFirstIn("""spark.read.parquet(s"$dir/events.parquet")""").nonEmpty)
    assert(direct.findFirstIn("spark.read\n  .parquet(s\"$d/orders.parquet\")").nonEmpty)
    val root = java.nio.file.Paths.get("src", "main", "scala")
    assert(java.nio.file.Files.isDirectory(root),
      s"main sources not found under ${root.toAbsolutePath}")
    val walk = java.nio.file.Files.walk(root)
    val sites = try {
      import scala.jdk.CollectionConverters._
      walk.iterator.asScala
        .filter(_.toString.endsWith(".scala"))
        .filter(f => direct.findFirstIn(
          new String(java.nio.file.Files.readAllBytes(f), "UTF-8")).nonEmpty)
        .map(f => root.relativize(f).toString)
        .toSet
    } finally walk.close()
    assert((sites - "graft/core/Tables.scala").isEmpty,
      s"corpus tables read outside graft.core.Tables: $sites")
  }
}
