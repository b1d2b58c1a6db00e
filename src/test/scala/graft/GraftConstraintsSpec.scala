package graft

import org.apache.spark.sql.functions._
import graft.sources.{GraftConstraints, GraftMaintenance, GraftParquetTable, GraftTableLog}

/** Writer-enforced CHECK constraints ([[graft.sources.GraftConstraints]]):
  * add validates the backlog, every write route refuses violating rows
  * by constraint name, NULL passes (SQL semantics), DDL that would
  * orphan enforcement refuses, and drop restores writability. */
class GraftConstraintsSpec extends SparkSpec {

  private val fmt = "graft.sources.GraftParquetTableProvider"
  private val cat = "graft_ck_spec"
  private lazy val warehouse = {
    val d = java.nio.file.Files
      .createTempDirectory("graft_ck_warehouse_").toFile.getAbsolutePath
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", d)
    d
  }

  private def docs = spark.read.parquet(s"$sfDir/documents.parquet")
    .select("doc_id", "lang", "n_chars")

  private def mkTable(name: String): String = {
    val p = s"$warehouse/corp/$name"
    docs.coalesce(1).write.format(fmt).option("path", p)
      .mode("append").save()
    p
  }

  private def read(p: String) =
    spark.read.format(fmt).option("path", p).load()

  test("add validates the backlog; a violating batch refuses by name") {
    val p = mkTable("c1")
    val n = spark.sql(s"CALL $cat.system.add_constraint(" +
      "table => 'corp.c1', name => 'chars_positive', " +
      "expression => 'n_chars >= 0')").head()
    assert(n.getString(0) == "chars_positive" &&
      n.getLong(1) == docs.count())
    // a valid append passes
    docs.limit(3).withColumn("doc_id", col("doc_id") + 10000L)
      .coalesce(1).write.format(fmt).option("path", p)
      .mode("append").save()
    // a violating append refuses, NAMING the constraint, and commits
    // nothing (count unchanged)
    val before = read(p).count()
    val e = intercept[Exception] {
      docs.limit(2).withColumn("n_chars", lit(-5L)).coalesce(1)
        .write.format(fmt).option("path", p).mode("append").save()
    }
    def rootMsg(t: Throwable): String =
      (Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).mkString(" | "))
    assert(rootMsg(e).contains("chars_positive"), rootMsg(e).take(300))
    assert(read(p).count() == before,
      "a refused write must commit nothing")
  }

  test("backlog violations refuse the ADD itself, with counts") {
    mkTable("c2")
    val e = intercept[Exception] {
      spark.sql(s"CALL $cat.system.add_constraint(table => 'corp.c2', " +
        "name => 'impossible', expression => 'n_chars > 100000000')")
    }
    assert(e.getMessage.contains("existing rows violate"),
      e.getMessage.take(200))
    assert(spark.sql(s"CALL $cat.system.constraints(table => 'corp.c2')")
      .count() == 0)
  }

  test("NULL passes (SQL CHECK semantics); SQL UPDATE cannot break a constraint") {
    mkTable("c3")
    spark.sql(s"CALL $cat.system.add_constraint(table => 'corp.c3', " +
      "name => 'lang_known', expression => " +
      "'lang IN (''de'',''en'',''es'',''fr'',''zh'')')")
    // a null lang row passes the check
    val p = s"$warehouse/corp/c3"
    docs.limit(1).withColumn("lang", lit(null).cast("string"))
      .withColumn("doc_id", col("doc_id") + 20000L)
      .coalesce(1).write.format(fmt).option("path", p)
      .mode("append").save()
    assert(read(p).filter(col("lang").isNull).count() == 1)
    // COW UPDATE to a violating value refuses; to a valid one passes
    val e = intercept[Exception] {
      spark.sql(s"UPDATE $cat.corp.c3 SET lang = 'xx' WHERE doc_id = 0")
    }
    assert((e.getMessage + Option(e.getCause).map(_.getMessage)
      .getOrElse("")).contains("lang_known"))
    spark.sql(s"UPDATE $cat.corp.c3 SET lang = 'de' WHERE doc_id = 0")
    assert(read(p).filter(col("doc_id") === 0).head().getString(1) == "de")
    // the Scala API's UPDATE and a MERGE replacing a MATCHED row bind
    // the same constraints: refused by name, no version committed
    def refusedByName(op: => Unit): Unit = {
      val head = GraftTableLog.latestVersion(p)
      val e = intercept[Exception](op)
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(c => String.valueOf(c.getMessage).contains("lang_known")), e)
      assert(GraftTableLog.latestVersion(p) == head)
    }
    refusedByName(GraftMaintenance.update(spark, p, col("doc_id") === 0,
      Map("lang" -> lit("xx"))))
    refusedByName(GraftMaintenance.merge(spark, p,
      read(p).filter(col("doc_id") === 0).withColumn("lang", lit("xx")),
      "doc_id"))
    assert(read(p).filter(col("doc_id") === 0).head().getString(1) == "de")
    // MOR update images are enforced too
    spark.conf.set(GraftParquetTable.ModeConf, "merge-on-read")
    try {
      val e2 = intercept[Exception] {
        spark.sql(s"UPDATE $cat.corp.c3 SET lang = 'yy' WHERE doc_id = 2")
      }
      assert((e2.getMessage + Option(e2.getCause).map(_.getMessage)
        .getOrElse("")).contains("lang_known"))
    } finally spark.conf.set(GraftParquetTable.ModeConf, "copy-on-write")
  }

  test("RENAME/DROP of a referenced column refuses until the constraint drops") {
    mkTable("c4")
    spark.sql(s"CALL $cat.system.add_constraint(table => 'corp.c4', " +
      "name => 'chars_pos', expression => 'n_chars >= 0')")
    val e = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.corp.c4 RENAME COLUMN n_chars TO cc")
    }
    assert(e.getMessage.contains("chars_pos"), e.getMessage.take(200))
    val e2 = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.corp.c4 DROP COLUMN n_chars")
    }
    assert(e2.getMessage.contains("chars_pos"))
    spark.sql(s"CALL $cat.system.drop_constraint(table => 'corp.c4', " +
      "name => 'chars_pos')")
    spark.sql(s"ALTER TABLE $cat.corp.c4 RENAME COLUMN n_chars TO cc")
    assert(read(s"$warehouse/corp/c4").schema.fieldNames.contains("cc"))
  }

  test("refusals: duplicates, unknown columns, non-boolean, non-deterministic") {
    val p = mkTable("c5")
    GraftConstraints.add(spark, p, "ck", "n_chars >= 0")
    intercept[IllegalArgumentException](
      GraftConstraints.add(spark, p, "ck", "n_chars >= 1"))
    intercept[IllegalArgumentException](
      GraftConstraints.add(spark, p, "c_unknown", "nope > 0"))
    intercept[IllegalArgumentException](
      GraftConstraints.add(spark, p, "c_type", "n_chars + 1"))
    intercept[IllegalArgumentException](
      GraftConstraints.add(spark, p, "c_rand", "rand() > 0.5"))
    intercept[IllegalArgumentException](
      GraftConstraints.drop(p, "never_there"))
  }

  /** The sidecar is newline-separated and tab-split: expression TEXT
    * carrying either character would corrupt it and brick EVERY later
    * write planning (read() runs uncached per write). add() refuses
    * the characters up front; a hand-mangled sidecar fails read() with
    * a named, actionable error instead of a substring crash. */
  test("multi-line/tab expression text refuses; malformed sidecar fails loudly") {
    val p = mkTable("c7")
    intercept[IllegalArgumentException](
      GraftConstraints.add(spark, p, "ck_nl", "n_chars >= 0\n  AND n_chars < 10"))
    intercept[IllegalArgumentException](
      GraftConstraints.add(spark, p, "ck_tab", "n_chars\t>= 0"))
    // the SQL escape spelling still expresses tab/newline CONTENT
    GraftConstraints.add(spark, p, "ck_esc", "lang != 'a\\tb'")
    assert(GraftConstraints.read(p).map(_._1) == Seq("ck_esc"))
    // valid writes still pass through the surviving constraint
    docs.limit(1).withColumn("doc_id", col("doc_id") + 50000L)
      .coalesce(1).write.format(fmt).option("path", p)
      .mode("append").save()
    // a hand-corrupted sidecar (no tab separator) fails by NAME at the
    // next write planning, pointing at the file
    // through the Hadoop FS (not raw NIO) so the local filesystem's
    // .crc checksum sidecar tracks the corruption instead of masking
    // the parse error behind a ChecksumException
    val hf = new org.apache.hadoop.fs.Path(p,
      GraftConstraints.ConstraintsFile)
    val hfs = hf.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = hfs.create(hf, true)
    try out.write("broken line without separator".getBytes("UTF-8"))
    finally out.close()
    val e = intercept[Exception] {
      docs.limit(1).coalesce(1).write.format(fmt).option("path", p)
        .mode("append").save()
    }
    def rootMsg(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
    assert(rootMsg(e).contains("malformed line"), rootMsg(e).take(300))
    // repair restores writability
    hfs.delete(hf, false)
    docs.limit(1).withColumn("doc_id", col("doc_id") + 60000L)
      .coalesce(1).write.format(fmt).option("path", p)
      .mode("append").save()
  }

  test("streaming epochs enforce constraints too") {
    val p = mkTable("c6")
    GraftConstraints.add(spark, p, "chars_pos", "n_chars >= 0")
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String, Long)]
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_ck_stream_").toFile.getAbsolutePath
    val q = mem.toDF().toDF("doc_id", "lang", "n_chars")
      .writeStream.format(fmt).option("path", p)
      .option("checkpointLocation", ckpt).start()
    try {
      mem.addData((90001L, "en", 5L))
      q.processAllAvailable() // valid epoch commits
      assert(read(p).filter(col("doc_id") === 90001L).count() == 1)
      mem.addData((90002L, "en", -1L))
      val e = intercept[Exception](q.processAllAvailable())
      def chain(t: Throwable): String =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
          .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
      assert(chain(e).contains("chars_pos"), chain(e).take(300))
      assert(read(p).filter(col("doc_id") === 90002L).count() == 0,
        "the violating epoch must commit nothing")
    } finally q.stop()
  }
}
