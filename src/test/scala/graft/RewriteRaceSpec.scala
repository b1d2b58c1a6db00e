package graft

/** CROSS-JVM rewrite conflict detection, as a per-round spec: two
  * separate processes run row-level rewrites against one graft table —
  * MERGE vs MERGE (stale insert decisions → duplicated keys) and MERGE
  * vs compact (a compaction truncating a committed merge away — the
  * classic snapshot-isolation lost update). Protection under test is
  * [[graft.sources.GraftConflicts]]: the cross-JVM rewrite lock around
  * the shrink-then-grow window plus read-snapshot validation at the
  * commit, refusing stale rewrites with a retryable
  * [[graft.sources.GraftConcurrentWriteException]].
  * [[RewriteRaceDryRun.race]] validates: no duplicated keys, every
  * private key holds its writer's last committed payload, seed rows
  * carried untouched, log gap-free; children must exit clean with
  * every refusal retried to success. */
class RewriteRaceSpec extends SparkSpec {

  test("two JVMs merging concurrently never lose or duplicate a key") {
    val line = RewriteRaceDryRun.race(spark, 4, "merge")
    assert(line.startsWith("RACE ok=true"), line)
  }

  test("a compaction racing a merge never truncates its commit away") {
    val line = RewriteRaceDryRun.race(spark, 4, "compact")
    assert(line.startsWith("RACE ok=true"), line)
  }

  test("a candidate archived between planning and read is a retryable conflict") {
    // the in-process form of the compact-vs-merge window: the rewrite
    // planned `files`, then a concurrent compaction archived one
    val dir = java.nio.file.Files.createTempDirectory("graft_vanish")
      .resolve("t").toString
    val fmt = "graft.sources.GraftParquetTableProvider"
    spark.range(10).toDF("key").coalesce(1).write.format(fmt)
      .option("path", dir).mode("append").save()
    val schema = spark.read.format(fmt).option("path", dir).load().schema
    val files = graft.sources.GraftParquetV2.listFiles(dir)
    assert(new java.io.File(new java.net.URI(files.head)).delete())
    intercept[graft.sources.GraftConcurrentWriteException](
      graft.sources.GraftMaintenance.readCandidates(spark, dir, schema,
        files, Map.empty))
  }
}
