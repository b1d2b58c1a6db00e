package graft

import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.Path
import graft.sources.{GraftDeletes, GraftParquetV2, GraftParquetWrite,
  GraftSwap, GraftTableLog}

/** [[GraftSwap]] is the one routine that moves staged files into a
  * graft table or archives its live files. These specs pin its undo —
  * a grow that fails partway leaves the table exactly as it was, and
  * the next commit succeeds — and guard that no other commit path
  * hand-copies the sequence again. */
class GraftSwapSpec extends SparkSpec {

  private val fmt = "graft.sources.GraftParquetTableProvider"

  /** A four-file table of 40 rows (v1). */
  private def seeded(name: String): String = {
    val dir = Files.createTempDirectory(s"graft_swap_$name")
      .resolve("t").toString
    spark.range(0, 40).selectExpr("id AS key", "id % 7 AS v")
      .repartition(4).write.format(fmt).option("path", dir)
      .mode("append").save()
    dir
  }

  private def readBack(dir: String): Map[(Long, Long), Int] =
    spark.read.format(fmt).option("path", dir).load().collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(identity)
      .map { case (k, v) => k -> v.length }

  /** Head version, live data files, live DVs and the read-back rows. */
  private def state(dir: String) =
    (GraftTableLog.latestVersion(dir), GraftParquetV2.listFiles(dir).toSet,
      GraftDeletes.liveDvRels(dir).toSet, readBack(dir))

  /** Stage rows as a scratch graft table under the table root (how
    * rewrites stage) and return (staging dir, data rels, entries). */
  private def stage(dir: String, from: Long, to: Long) = {
    val staging = s"$dir/_staging-${java.util.UUID.randomUUID()}"
    spark.range(from, to).selectExpr("id AS key", "id % 7 AS v")
      .coalesce(1).write.format(fmt).option("path", staging)
      .mode("append").save()
    val rels = GraftParquetV2.listFiles(staging)
      .map(GraftTableLog.relativize(staging, _))
    (new Path(staging), rels, GraftParquetWrite.rawManifestEntries(staging))
  }

  private def writeId = java.util.UUID.randomUUID().toString

  test("a failed grow after archiving candidates is undone; the retry commits") {
    val dir = seeded("archive")
    val before = state(dir)
    val candidates = GraftParquetV2.listFiles(dir).sorted.take(2)
    val (staging, rels, entries) = stage(dir, 100, 110)
    assert(rels.size == 1)
    // the real staged file renames in, then the second cannot: the
    // swap has archived both candidates and moved one file by then
    val e = intercept[Exception](
      GraftSwap.commit(dir, writeId, staging, rels :+ "part-missing.parquet",
        entries, archive = candidates))
    assert(e.getMessage.contains("part-missing"), e.getMessage)
    assert(state(dir) == before)
    assert(new java.io.File(new Path(staging, rels.head).toUri.getPath).exists(),
      "the moved staged file must return to staging")
    // the next commit of the same swap succeeds
    GraftSwap.commit(dir, writeId, staging, rels, entries,
      archive = candidates)
    assert(GraftTableLog.latestVersion(dir) == before._1.map(_ + 1))
    val gone = candidates.map(f => new Path(f).getName).toSet
    assert(GraftParquetV2.listFiles(dir).map(f => new Path(f).getName)
      .toSet == before._2.map(f => new Path(f).getName) -- gone +
      new Path(rels.head).getName)
    assert(readBack(dir).keySet.count(_._1 >= 100) == 10)
  }

  test("a failed grow after renaming a staged DV in is undone; the retry commits") {
    val dir = seeded("dv")
    val before = state(dir)
    val target = new Path(GraftParquetV2.listFiles(dir).sorted.head).getName
    val staging = new Path(dir, s"_staging-$writeId")
    val dvName = s"dv-00000-0-$writeId.parquet"
    GraftDeletes.writeDvFile(new Path(new Path(staging, "_dv"), dvName),
      Iterator((target, 0L), (target, 1L), (target, 2L)))
    val e = intercept[Exception](
      GraftSwap.commit(dir, writeId, staging, Seq("part-missing.parquet"),
        Nil, dvNames = Seq(dvName)))
    assert(e.getMessage.contains("part-missing"), e.getMessage)
    assert(state(dir) == before)
    GraftSwap.commit(dir, writeId, staging, Nil, Nil, dvNames = Seq(dvName))
    assert(GraftTableLog.latestVersion(dir) == before._1.map(_ + 1))
    assert(GraftDeletes.liveDvRels(dir) ==
      Seq(s"${GraftDeletes.DeletesDir}/$dvName"))
    assert(readBack(dir).values.sum == 37)
  }

  /** (file, member's first line) of every matching non-comment line
    * under the table format's sources; a member is the nearest
    * preceding `def` at class-member indent, its region runs from there
    * to the line. */
  private def sites(matches: (String, String) => Boolean)
      : Set[(String, String)] = {
    val root = Paths.get("src", "main", "scala", "graft", "sources")
    assert(Files.isDirectory(root),
      s"table format sources not found under ${root.toAbsolutePath}")
    val Member = """^  (?:[a-z\[\]]+ )*def \w+.*""".r
    import scala.jdk.CollectionConverters._
    Files.list(root).iterator.asScala.toSeq
      .filter(_.toString.endsWith(".scala")).flatMap { f =>
        val lines = Files.readAllLines(f).asScala.toVector
        var member = -1
        lines.indices.flatMap { i =>
          if (Member.matches(lines(i))) member = i
          val line = lines(i).trim
          val comment = line.startsWith("*") || line.startsWith("//") ||
            line.startsWith("/*")
          if (member < 0 || comment ||
            !matches(line, lines.slice(member, i + 1).mkString("\n"))) None
          else Some((f.getFileName.toString, lines(member).trim))
        }
      }.toSet
  }

  test("only the swap renames staged files into a table or archives live ones") {
    val staged = sites((line, region) => line.contains(".rename(") &&
      Seq("_staging-", "_rewrite-", "staging").exists(region.contains))
    val swap = ("GraftSwap.scala",
      "def commit(table: String, writeId: String, staging: Path,")
    assert(staged == Set(swap),
      "a commit renames staged files outside GraftSwap.commit")
    // dropBranch archives a dropped branch's invisible lineage files:
    // it touches no live file and commits no version
    val archives = sites((line, _) =>
      line.contains("GraftTableLog.archiveFile("))
    assert(archives == Set(swap, ("GraftMaintenance.scala",
      "def dropBranch(table: String, branch: String): Int = {")),
      "a commit archives live files outside GraftSwap.commit")
  }
}
