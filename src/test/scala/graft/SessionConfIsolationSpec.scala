package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.unsafe.types.UTF8String
import graft.sources.{GraftBloom, GraftCatalog, GraftCommitMessage,
  GraftDataWriter, GraftDeletes, GraftParquetWrite, GraftSerConf}

/** The cached per-session Hadoop conf ([[GraftParquetWrite.sessionConf]])
  * is SHARED and must stay read-only; so must a task's shipped
  * [[GraftSerConf]] value, which every file of the task shares. The
  * plausible mutator is a parquet write support storing its state into
  * the conf its writer is built on (`GroupWriteSupport.setSchema(conf)`,
  * which earlier parquet releases' example writer called) during writer
  * construction (snapshot/manifest/DV/schema-carrier and task data
  * writers) — if that wrote through to a shared conf, two concurrent
  * commits could interleave setSchema/init and persist metadata or data
  * under the WRONG schema.
  *
  * It cannot write through: [[graft.sources.GraftParquetIO.writer]]
  * builds every writer on a private copy of the caller's conf, and every
  * other parquet construction site is forbidden (the guard test below),
  * so the copy cannot be bypassed. Readers
  * ([[graft.sources.GraftParquetIO.open]]) build their read options from
  * the shared conf without writing to it. This spec exercises every
  * writer and a task-side footer read-back, then asserts neither conf
  * carries a writer schema.
  */
class SessionConfIsolationSpec extends SparkSpec {

  private val fmt = "graft.sources.GraftParquetTableProvider"
  private val SchemaKey = "parquet.example.schema"

  private def tmp(name: String): String = {
    val d = Files.createTempDirectory(s"graft_confiso_$name").toFile
    d.delete()
    d.getAbsolutePath
  }

  test("metadata writer construction never mutates the shared session conf") {
    spark.sparkContext // force the lazy session so sessionConf caches it
    val shared = GraftParquetWrite.sessionConf()
    assert(shared.get(SchemaKey) == null,
      "precondition: shared conf already carries a writer schema")

    // 1) table write → snapshot writer (logSchema) + manifest writer
    //    (manifestSchema) both build against driver-side confs
    val dir = tmp("write")
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "source", "lang", "n_chars")
      .limit(50).coalesce(1)
      .write.format(fmt).option("path", dir).mode("append").save()

    // 2) schema carrier (dataless DDL path — GraftCatalog writer)
    val carrierDir = tmp("carrier")
    new java.io.File(carrierDir).mkdirs()
    GraftCatalog.commitSchemaCarrier(carrierDir,
      StructType(Seq(StructField("k", LongType),
        StructField("v", StringType))), shared)

    // 3) DV writer (dvSchema)
    val dvOut = new org.apache.hadoop.fs.Path(tmp("dv"), "dv.parquet")
    val (w, factory) = GraftDeletes.openDvWriter(dvOut, shared)
    val g = factory.newGroup()
    g.add(0, "part-00000.parquet"); g.add(1, 3L)
    w.write(g); w.close()

    // three DIFFERENT schemas went through writer construction against
    // (or alongside) the shared conf — none may have written through
    assert(GraftParquetWrite.sessionConf().get(SchemaKey) == null,
      "shared session conf was mutated by a parquet writer builder — " +
        "concurrent driver-side commits could persist wrong-schema metadata")
    assert(shared eq GraftParquetWrite.sessionConf(),
      "session conf cache no longer returns the same instance")

    // and the table written in step 1 still reads back coherently
    assert(spark.read.format(fmt).option("path", dir).load().count() == 50)
  }

  test("task data writer and write-time bloom build leave both confs unmutated") {
    spark.sparkContext
    val shared = GraftParquetWrite.sessionConf()
    // the conf a task receives: the shipped copy, rebuilt on first use
    val shipped = GraftSerConf.session()
    val dir = tmp("task")
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("v", StringType)))
    val w = new GraftDataWriter(dir, schema, "confiso", 0, 0L,
      bloomSpec = Some((Seq("k", "v"), 0.01)), serConf = shipped)
    (1L to 20L).foreach(i =>
      w.write(InternalRow(i, UTF8String.fromString(s"v$i"))))
    val msg = w.commit().asInstanceOf[GraftCommitMessage]
    w.close()
    // the data writer built, the footer read-back produced manifest
    // entries, and buildForStaged read the file back for both columns
    assert(msg.files.size == 1)
    assert(msg.stats.map(_.column).toSet == Set("k", "v"))
    val sidecars = new java.io.File(dir, GraftBloom.BloomDir).listFiles()
      .map(_.getName).filter(_.endsWith(".bloom"))
    assert(sidecars.length == 2, sidecars.mkString(", "))

    assert(shipped.value.get(SchemaKey) == null,
      "the task's shipped conf was mutated by the data writer builder — " +
        "every later file of the task would inherit its schema")
    assert(shared.get(SchemaKey) == null,
      "shared session conf was mutated by a task-side writer")
  }

  test("parquet readers and writers are built only through GraftParquetIO") {
    // the direct entry points each allocate and parse a fresh Hadoop
    // conf per call, and a writer built on a shared conf may store its
    // state into it; GraftParquetIO is the one place that avoids both
    val root = java.nio.file.Paths.get("src", "main", "scala")
    assert(java.nio.file.Files.isDirectory(root),
      s"main sources not found under ${root.toAbsolutePath}")
    val walk = java.nio.file.Files.walk(root)
    val sites = try {
      import scala.jdk.CollectionConverters._
      walk.iterator.asScala
        .filter(_.toString.endsWith(".scala"))
        .filter { f =>
          val src = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
          src.contains("ParquetFileReader.open(") ||
            src.contains("ExampleParquetWriter")
        }
        .map(f => root.relativize(f).toString)
        .toSet
    } finally walk.close()
    assert(sites == Set("graft/sources/GraftParquetIO.scala"))
  }

  test("src/main builds no bare Hadoop Configuration beyond sessionConf's fallback") {
    // a bare conf drops spark.hadoop.* settings and re-parses Hadoop's
    // XML defaults; driver code takes the session's cached conf, task
    // code the shipped GraftSerConf. The one exception is the
    // no-session fallback of GraftParquetWrite.sessionConf itself.
    val bare = """new (org\.apache\.hadoop\.conf\.)?Configuration\(\)""".r
    val root = java.nio.file.Paths.get("src", "main", "scala")
    val walk = java.nio.file.Files.walk(root)
    val sites = try {
      import scala.jdk.CollectionConverters._
      walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
        .flatMap { f =>
          java.nio.file.Files.readAllLines(f).asScala.map(_.trim)
            .filterNot(l => l.startsWith("*") || l.startsWith("//"))
            .filter(l => bare.findFirstIn(l).isDefined)
            .map(l => s"${root.relativize(f)}: $l")
        }
    } finally walk.close()
    assert(sites == Seq(
      "graft/sources/GraftParquetWrite.scala: case None => new Configuration()"),
      sites.mkString("\n"))
  }
}
