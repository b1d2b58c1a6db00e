package graft

import org.apache.spark.sql.functions._
import graft.sources.{GraftParquetV2, GraftTableLog}

/** The SQL face of the table format ([[graft.sources.GraftCatalog]]):
  * identifier-addressed graft tables, native `VERSION AS OF` /
  * `TIMESTAMP AS OF` time travel, SQL INSERT INTO appends, listing,
  * rename and drop. */
class GraftCatalogSpec extends SparkSpec {

  private val fmt = "graft.sources.GraftParquetTableProvider"
  private val cat = "graft_lake_spec"
  private lazy val warehouse = {
    val d = java.nio.file.Files
      .createTempDirectory("graft_warehouse_").toFile.getAbsolutePath
    spark.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", d)
    d
  }

  private def docs = spark.read.parquet(s"$sfDir/documents.parquet")
    .select("doc_id", "lang", "n_chars")

  private def write(table: String, k: Int, mode: String): Unit =
    docs.filter(pmod(col("doc_id"), lit(3)) === k)
      .coalesce(1).write.format(fmt)
      .option("path", s"$warehouse/corp/$table").mode(mode).save()

  private def ids(sql: String): Seq[Long] =
    spark.sql(sql).select("doc_id").collect().map(_.getLong(0)).sorted.toSeq

  private def idsOf(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq

  test("identifier reads, VERSION AS OF, and the live head after overwrite") {
    write("t1", 0, "append")
    write("t1", 1, "append")
    write("t1", 2, "overwrite")
    assert(ids(s"SELECT doc_id FROM $cat.corp.t1") ==
      idsOf(docs.filter(pmod(col("doc_id"), lit(3)) === 2)))
    assert(ids(s"SELECT doc_id FROM $cat.corp.t1 VERSION AS OF 2") ==
      idsOf(docs.filter(pmod(col("doc_id"), lit(3)) < 2)))
    assert(ids(s"SELECT doc_id FROM $cat.corp.t1 VERSION AS OF 1") ==
      idsOf(docs.filter(pmod(col("doc_id"), lit(3)) === 0)))
  }

  test("TIMESTAMP AS OF resolves by snapshot commit time") {
    write("t2", 0, "append")
    write("t2", 1, "append")
    // backdate v1's snapshot so a timestamp between the two pins it
    val p = s"$warehouse/corp/t2"
    val fs = new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.setTimes(GraftTableLog.snapshotPath(p, 1L), 1000000000000L, -1) // 2001
    fs.setTimes(GraftTableLog.snapshotPath(p, 2L), 1700000000000L, -1) // 2023
    assert(ids(s"SELECT doc_id FROM $cat.corp.t2 " +
      "TIMESTAMP AS OF '2010-01-01 00:00:00'") ==
      idsOf(docs.filter(pmod(col("doc_id"), lit(3)) === 0)))
    assert(ids(s"SELECT doc_id FROM $cat.corp.t2 " +
      "TIMESTAMP AS OF '2026-01-01 00:00:00'") ==
      idsOf(docs.filter(pmod(col("doc_id"), lit(3)) < 2)))
    val e = intercept[Exception](ids(s"SELECT doc_id FROM $cat.corp.t2 " +
      "TIMESTAMP AS OF '1999-01-01 00:00:00'"))
    assert(e.getMessage.contains("no version"))
  }

  test("SQL INSERT INTO is a transactional append; aggregates push through the catalog") {
    write("t3", 0, "append")
    spark.sql(s"INSERT INTO $cat.corp.t3 " +
      s"SELECT doc_id, lang, n_chars FROM parquet.`$sfDir/documents.parquet` " +
      "WHERE doc_id % 3 = 1")
    assert(ids(s"SELECT doc_id FROM $cat.corp.t3") ==
      idsOf(docs.filter(pmod(col("doc_id"), lit(3)) < 2)))
    // the INSERT was a version commit
    assert(GraftTableLog.versions(s"$warehouse/corp/t3") == Seq(1L, 2L))
    // count(*) through the catalog still answers from footer metadata
    val n = spark.sql(s"SELECT count(*) AS n FROM $cat.corp.t3")
      .head.getLong(0)
    assert(n == docs.filter(pmod(col("doc_id"), lit(3)) < 2).count())
  }

  test("SQL DELETE FROM: zone-map-selective rewrite committed as a version; TRUNCATE archives everything") {
    write("t5", 0, "append")
    write("t5", 1, "append")
    val path = s"$warehouse/corp/t5"
    val both = docs.filter(pmod(col("doc_id"), lit(3)) < 2)
    val cut = idsOf(both)(idsOf(both).size / 2)
    spark.sql(s"DELETE FROM $cat.corp.t5 WHERE doc_id < $cut AND n_chars >= 0")
    assert(ids(s"SELECT doc_id FROM $cat.corp.t5") ==
      idsOf(both.filter(col("doc_id") >= cut)))
    // the delete committed a version; pre-delete state still answers
    assert(GraftTableLog.versions(path).size == 3)
    assert(ids(s"SELECT doc_id FROM $cat.corp.t5 VERSION AS OF 2") ==
      idsOf(both))
    spark.sql(s"TRUNCATE TABLE $cat.corp.t5")
    assert(spark.sql(s"SELECT * FROM $cat.corp.t5").count() == 0)
    assert(ids(s"SELECT doc_id FROM $cat.corp.t5 VERSION AS OF 3") ==
      idsOf(both.filter(col("doc_id") >= cut)))
    // the EMPTY post-truncate version is itself a travel target (zero
    // rows under the archived schema)
    assert(spark.sql(
      s"SELECT * FROM $cat.corp.t5 VERSION AS OF 4").count() == 0)
  }

  test("SQL DELETE with an arithmetic predicate: the copy-on-write fallback") {
    // every SQL DELETE plans Spark's group-based copy-on-write rewrite
    // (SupportsRowLevelOperations); an arithmetic predicate (doc_id % 3)
    // prunes no file by zone maps, so every file is a candidate, and
    // the rewrite re-applies it per row
    write("t8", 0, "append")
    write("t8", 1, "append")
    val both = docs.filter(pmod(col("doc_id"), lit(3)) < 2)
    spark.sql(s"DELETE FROM $cat.corp.t8 WHERE doc_id % 3 = 0")
    assert(ids(s"SELECT doc_id FROM $cat.corp.t8") ==
      idsOf(both.filter(pmod(col("doc_id"), lit(3)) === 1)))
    // the rewrite committed a version; the pre-delete state still answers
    val path = s"$warehouse/corp/t8"
    assert(GraftTableLog.versions(path).size == 3)
    assert(ids(s"SELECT doc_id FROM $cat.corp.t8 VERSION AS OF 2") ==
      idsOf(both))
  }

  test("SQL UPDATE: copy-on-write row-level rewrite committed as a version") {
    write("t9", 0, "append")
    write("t9", 1, "append")
    val path = s"$warehouse/corp/t9"
    val both = docs.filter(pmod(col("doc_id"), lit(3)) < 2)
    val cut = idsOf(both)(idsOf(both).size / 2)
    spark.sql(s"UPDATE $cat.corp.t9 SET lang = 'xx', " +
      s"n_chars = n_chars + 1000000 WHERE doc_id < $cut")
    // rows below the cut carry the assignments; the rest are untouched
    val got = spark.sql(s"SELECT doc_id, lang, n_chars FROM $cat.corp.t9")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    val want = both.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .map { case (id, lang, n) =>
        if (id < cut) (id, "xx", n + 1000000L) else (id, lang, n)
      }.sortBy(_._1).toSeq
    assert(got == want)
    // the update committed a version; time travel sees the pre-update rows
    assert(GraftTableLog.versions(path).size == 3)
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.corp.t9 " +
      s"VERSION AS OF 2 WHERE lang = 'xx'").head.getLong(0) == 0L)
    // row counts identical across the rewrite (UPDATE never adds/drops)
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.corp.t9")
      .head.getLong(0) == both.count())
  }

  test("SQL MERGE INTO: upsert through the row-level machinery") {
    write("t10", 0, "append")
    val base = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
    val baseIds = idsOf(base)
    val half = baseIds(baseIds.size / 2)
    // source: updates for ids >= half (lang -> 'zz'), plus brand-new ids
    spark.sql(s"MERGE INTO $cat.corp.t10 t USING (" +
      s"SELECT doc_id, 'zz' AS lang, n_chars FROM " +
      s"parquet.`$sfDir/documents.parquet` " +
      s"WHERE doc_id % 3 = 0 AND doc_id >= $half " +
      s"UNION ALL SELECT doc_id + 1000000 AS doc_id, 'new' AS lang, " +
      s"n_chars FROM parquet.`$sfDir/documents.parquet` WHERE doc_id % 7 = 0" +
      ") s ON t.doc_id = s.doc_id " +
      "WHEN MATCHED THEN UPDATE SET t.lang = s.lang " +
      "WHEN NOT MATCHED THEN INSERT (doc_id, lang, n_chars) " +
      "VALUES (s.doc_id, s.lang, s.n_chars)")
    val got = spark.sql(s"SELECT doc_id, lang FROM $cat.corp.t10")
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    val news = idsOf(docs.filter(pmod(col("doc_id"), lit(7)) === 0))
      .map(id => (id + 1000000L, "new"))
    val want = (base.collect().map(r => (r.getLong(0), r.getString(1)))
      .map { case (id, lang) => if (id >= half) (id, "zz") else (id, lang) }
      .toSeq ++ news).sortBy(_._1)
    assert(got == want)
  }

  test("CALL system.compact / vacuum / history: SQL-callable maintenance") {
    write("t6", 0, "append")
    write("t6", 1, "append")
    write("t6", 2, "overwrite")
    val want = idsOf(docs.filter(pmod(col("doc_id"), lit(3)) === 2))
    // history before: 3 versions
    val hist = spark.sql(
      s"CALL $cat.system.history(table => 'corp.t6')").collect()
    assert(hist.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    // compact: commits a version; rows unchanged
    val c = spark.sql(
      s"CALL $cat.system.compact(table => 'corp.t6')").head
    assert(c.getLong(0) == 4L)
    assert(ids(s"SELECT doc_id FROM $cat.corp.t6") == want)
    // vacuum to head: archived generations reclaimed, old versions gone
    val v = spark.sql(
      s"CALL $cat.system.vacuum(table => 'corp.t6', retain_last => 1)").head
    assert(v.getInt(0) > 0, "vacuum must reclaim the archived files")
    assert(GraftTableLog.versions(s"$warehouse/corp/t6") == Seq(4L))
    assert(ids(s"SELECT doc_id FROM $cat.corp.t6") == want)
    val e = intercept[Exception](spark.sql(
      s"CALL $cat.system.nope(table => 'corp.t6')").collect())
    assert(e.getMessage.contains("unknown procedure") ||
      e.getMessage.contains("nope"))
  }

  test("CALL system.vacuum(retain_hours): time-based retention from SQL") {
    write("t7", 0, "append")
    write("t7", 1, "overwrite")
    write("t7", 2, "overwrite")
    val path = s"$warehouse/corp/t7"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // backdate v1; v2 stays recent — the 24h window must hold it even
    // though retain_last=1 alone would drop it
    fs.setTimes(GraftTableLog.snapshotPath(path, 1L), 1000000000000L, -1)
    val v = spark.sql(s"CALL $cat.system.vacuum(table => 'corp.t7', " +
      "retain_last => 1, retain_hours => 24.0)").head
    assert(v.getInt(0) > 0, "the backdated generation must be reclaimed")
    assert(GraftTableLog.versions(path) == Seq(2L, 3L),
      "retain_hours must hold the recent v2 beyond retain_last=1")
  }

  test("ALTER TABLE ADD COLUMN: schema-carrier version; old rows NULL; travel narrow") {
    write("t11", 0, "append")
    val path = s"$warehouse/corp/t11"
    spark.sql(s"ALTER TABLE $cat.corp.t11 ADD COLUMN score DOUBLE")
    // the alter committed a version
    assert(GraftTableLog.versions(path) == Seq(1L, 2L))
    // head reads under the widened schema, existing rows NULL
    val head = spark.sql(
      s"SELECT doc_id, score FROM $cat.corp.t11").collect()
    assert(head.nonEmpty && head.forall(_.isNullAt(1)))
    // new rows with the column land and read back
    spark.sql(s"INSERT INTO $cat.corp.t11 " +
      s"SELECT doc_id, lang, n_chars, CAST(doc_id AS DOUBLE) / 10 AS score " +
      s"FROM parquet.`$sfDir/documents.parquet` WHERE doc_id % 3 = 1")
    val scored = spark.sql(s"SELECT count(*) FROM $cat.corp.t11 " +
      "WHERE score IS NOT NULL").head.getLong(0)
    assert(scored == docs.filter(pmod(col("doc_id"), lit(3)) === 1).count())
    // pre-alter version presents the schema as written (no score)
    assert(!spark.sql(s"SELECT * FROM $cat.corp.t11 VERSION AS OF 1")
      .schema.fieldNames.contains("score"))
    // refusals: duplicate column; type changes (DROP/RENAME are
    // supported since round 11 — SchemaEvolutionSpec covers them)
    val e1 = intercept[Exception](spark.sql(
      s"ALTER TABLE $cat.corp.t11 ADD COLUMN score DOUBLE"))
    assert(e1.getMessage.contains("already exists"))
    val e2 = intercept[Exception](spark.sql(
      s"ALTER TABLE $cat.corp.t11 ALTER COLUMN score TYPE STRING"))
    assert(e2.getMessage.contains("out of scope") ||
      e2.getMessage.contains("TYPE"))
  }

  test("CREATE TABLE and CTAS: schema-carrier v1, data on top") {
    val path = s"$warehouse/corp/t12" // touches the lazy catalog conf
    spark.sql(s"CREATE TABLE $cat.corp.t12 (doc_id BIGINT, lang STRING)")
    // the empty table is immediately readable under its declared schema
    assert(spark.sql(s"SELECT * FROM $cat.corp.t12").count() == 0)
    assert(spark.table(s"$cat.corp.t12").schema.fieldNames.toSeq ==
      Seq("doc_id", "lang"))
    assert(GraftTableLog.versions(path) == Seq(1L))
    spark.sql(s"INSERT INTO $cat.corp.t12 " +
      s"SELECT doc_id, lang FROM parquet.`$sfDir/documents.parquet` " +
      "WHERE doc_id % 3 = 0")
    assert(ids(s"SELECT doc_id FROM $cat.corp.t12") ==
      idsOf(docs.filter(pmod(col("doc_id"), lit(3)) === 0)))
    assert(GraftTableLog.versions(path) == Seq(1L, 2L))
    // CTAS: create + data in one statement
    spark.sql(s"CREATE TABLE $cat.corp.t13 AS " +
      s"SELECT doc_id, lang, n_chars FROM " +
      s"parquet.`$sfDir/documents.parquet` WHERE doc_id % 3 = 2")
    assert(ids(s"SELECT doc_id FROM $cat.corp.t13") ==
      idsOf(docs.filter(pmod(col("doc_id"), lit(3)) === 2)))
    // refusals: duplicate create; partitioning away every data column
    val e1 = intercept[Exception](spark.sql(
      s"CREATE TABLE $cat.corp.t12 (x INT)"))
    assert(e1.getMessage.toLowerCase.contains("already exists"))
    val e2 = intercept[Exception](spark.sql(
      s"CREATE TABLE $cat.corp.t14 (x INT, y INT) PARTITIONED BY (x, y)"))
    assert(e2.getMessage.contains("no data columns"))
  }

  test("CREATE TABLE PARTITIONED BY: catalog-held spec drives INSERT " +
      "layout; contradicting write option refuses; transforms refuse") {
    spark.sql(s"CREATE TABLE $cat.corp.t15 " +
      "(doc_id BIGINT, lang STRING, n_chars BIGINT) PARTITIONED BY (lang)")
    spark.sql(s"INSERT INTO $cat.corp.t15 " +
      s"SELECT doc_id, lang, n_chars FROM parquet.`$sfDir/documents.parquet`")
    // the spec drove the layout: col=value directories, no option given
    val root = new java.io.File(s"$warehouse/corp/t15")
    val langDirs = root.listFiles.filter(f =>
      f.isDirectory && f.getName.startsWith("lang="))
    assert(langDirs.nonEmpty, "INSERT must land in lang= directories")
    // exact read-back and a pruned partition read
    assert(ids(s"SELECT doc_id FROM $cat.corp.t15") == idsOf(docs))
    val en = docs.filter(col("lang") === "en")
    assert(ids(s"SELECT doc_id FROM $cat.corp.t15 WHERE lang = 'en'") ==
      idsOf(en))
    // DESCRIBE surfaces the declared partitioning
    val desc = spark.sql(s"DESCRIBE TABLE $cat.corp.t15")
      .collect().map(_.getString(0))
    assert(desc.exists(_.contains("Partitioning")) ||
      desc.exists(_.contains("lang")),
      s"DESCRIBE must mention the partitioning: ${desc.mkString("|")}")
    // a write option CONTRADICTING the declared spec refuses loudly
    val e = intercept[Exception] {
      docs.limit(1).write.format(fmt)
        .option("path", s"$warehouse/corp/t15")
        .option("partitionBy", "doc_id").mode("append").save()
    }
    assert(e.getMessage.contains("contradicts"),
      s"divergent partitionBy must refuse, got: ${e.getMessage}")
    // an AGREEING option is fine (idempotent declaration)
    docs.limit(1).write.format(fmt)
      .option("path", s"$warehouse/corp/t15")
      .option("partitionBy", "lang").mode("append").save()
    // non-identity transforms refuse
    val e2 = intercept[Exception](spark.sql(
      s"CREATE TABLE $cat.corp.t16 (x BIGINT, y STRING) " +
        "PARTITIONED BY (bucket(4, x))"))
    assert(e2.getMessage.contains("identity"),
      s"bucket transform must refuse, got: ${e2.getMessage}")
    // partitioned CTAS: create-with-spec then data lands partitioned
    spark.sql(s"CREATE TABLE $cat.corp.t17 PARTITIONED BY (lang) AS " +
      s"SELECT doc_id, lang FROM parquet.`$sfDir/documents.parquet` " +
      "WHERE doc_id < 100")
    val ctasDirs = new java.io.File(s"$warehouse/corp/t17")
      .listFiles.filter(f => f.isDirectory && f.getName.startsWith("lang="))
    assert(ctasDirs.nonEmpty, "CTAS data must land in lang= directories")
    assert(ids(s"SELECT doc_id FROM $cat.corp.t17") ==
      idsOf(docs.filter(col("doc_id") < 100)))
  }

  test("listTables, rename, drop, and loud refusals") {
    write("t4", 0, "append")
    val listed = spark.sql(s"SHOW TABLES IN $cat.corp").collect()
      .map(_.getString(1)).toSet
    assert(listed.contains("t4"))
    spark.sql(s"ALTER TABLE $cat.corp.t4 RENAME TO corp.t4_renamed")
    assert(ids(s"SELECT doc_id FROM $cat.corp.t4_renamed") ==
      idsOf(docs.filter(pmod(col("doc_id"), lit(3)) === 0)))
    spark.sql(s"DROP TABLE $cat.corp.t4_renamed")
    assert(!new java.io.File(s"$warehouse/corp/t4_renamed").exists())
    val e = intercept[Exception](
      spark.sql(s"SELECT * FROM $cat.corp.nope").collect())
    assert(e.getMessage != null)
    // CREATE TABLE is first-class since the CTAS round: a fresh name
    // is born empty (schema-carrier v1) and immediately queryable
    spark.sql(s"CREATE TABLE $cat.corp.fresh (id BIGINT) USING graft")
    assert(spark.sql(s"SELECT * FROM $cat.corp.fresh").count() == 0L)
    spark.sql(s"DROP TABLE $cat.corp.fresh")
  }

  test("the main artifact's entry points are exactly Verify, Bench and the CLI") {
    // dev probes and race tools live under src/test; the main artifact
    // ships only the engine and these three entry points
    val root = java.nio.file.Paths.get("src", "main", "scala")
    assert(java.nio.file.Files.isDirectory(root),
      s"main sources not found under ${root.toAbsolutePath}")
    val walk = java.nio.file.Files.walk(root)
    val mains = try {
      import scala.jdk.CollectionConverters._
      walk.iterator.asScala
        .filter(_.toString.endsWith(".scala"))
        .filter(f => new String(java.nio.file.Files.readAllBytes(f),
          "UTF-8").contains("def main("))
        .map(f => root.relativize(f).toString)
        .toSet
    } finally walk.close()
    assert(mains ==
      Set("graft/Verify.scala", "graft/Bench.scala", "graft/cli/Main.scala"))
  }
}
