package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The graft table's VERSION LOG — the table-format layer that turns the
  * connector's directory-of-parquet into a versioned table with time
  * travel, an incremental change feed, compaction, and vacuum.
  *
  * Layout (all underscore-prefixed, so [[GraftParquetV2.listFiles]] —
  * the live read path — never sees any of it):
  *
  *   - `_graft_log/v%010d.parquet` — one SNAPSHOT file per
  *     committed version: (rel_path, file, column, kind, bounds…) rows,
  *     i.e. the complete file listing of the table at that version plus
  *     each file's zone-map manifest entries. A file with no footer
  *     stats still appears, as a single `kind = "present"` row — the
  *     snapshot's file list is total even where its stats are not.
  *     Snapshots are SELF-CONTAINED (Iceberg's model, not Delta's
  *     replay-the-deltas model): reading version N opens exactly one
  *     log file, never a chain.
  *   - `_graft_archive/<rel_path>` — data files a truncate-overwrite
  *     (or compaction) removed from the live table. Overwrite ARCHIVES
  *     instead of deleting: O(1) renames, invisible to live scans, and
  *     every prior version stays readable until [[GraftMaintenance
  *     .vacuum]] reclaims it. File basenames carry the originating
  *     write's UUID, so archive names never collide across generations.
  *
  * Read modes resolved against the log
  * ([[GraftParquetScan]] honors them as read options):
  *   - `versionAsOf = N` — the file set of snapshot N, each rel path
  *     resolved live-first then archive; a file in neither place means
  *     the version was vacuumed, refused loudly.
  *   - `changesSince = A` (optionally `changesUntil = B`, default
  *     latest) — the APPEND DELTA files(B) \ files(A), the incremental-
  *     ingest feed a downstream pipeline tails. Requires
  *     files(A) ⊆ files(B): an overwrite or compaction between the two
  *     versions rewrote history, and a silent "delta" across it would
  *     double-count rewritten rows — refused loudly instead.
  *
  * Failure windows (single-writer, same discipline as the manifest
  * swap): the snapshot is written AFTER data-file renames and BEFORE
  * the live-manifest swap. A crash between the two leaves the new
  * version fully readable by `versionAsOf` while live reads degrade to
  * the conservative no-manifest scan of the SAME committed files —
  * stale metadata, never wrong data. A crash before the snapshot
  * leaves the log one version behind the directory: the next commit's
  * snapshot (always built from the live listing, not from the prior
  * snapshot) re-converges.
  *
  * Reference context: the reference's source re-reads whole BigQuery
  * tables per run (`/root/reference/pipelines/total_distance.py:92-95`);
  * versioned snapshots + a change feed are what replace "re-read
  * everything" with "read what changed" at 100 TB. */
object GraftTableLog {

  val LogDir = "_graft_log"
  val ArchiveDir = "_graft_archive"
  val RefsDir = "_graft_refs"

  /** Snapshot row schema: the manifest schema plus the file's path
    * relative to the table root (partition directories included) —
    * rel paths make a snapshot resolvable without trusting the live
    * listing, which is the whole point. */
  val logSchema: StructType = StructType(
    StructField("rel_path", StringType) +: GraftParquetV2.manifestSchema.fields)

  private def conf = GraftParquetWrite.sessionConf()

  private def logPath(table: String) = new Path(table, LogDir)

  /** Committed versions, ascending; empty for a pre-log table. */
  def versions(table: String): Seq[Long] = {
    val lp = logPath(table)
    val fs = lp.getFileSystem(conf)
    if (!fs.exists(lp)) return Nil
    fs.listStatus(lp).toSeq.map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.endsWith(".parquet"))
      .flatMap { n =>
        val digits = n.stripPrefix("v").stripSuffix(".parquet")
        if (digits.length == 10 && digits.forall(_.isDigit))
          Some(digits.toLong)
        else None
      }.sorted
  }

  def latestVersion(table: String): Option[Long] = versions(table).lastOption

  /** The snapshot file NAME IS THE CLAIM: exactly `v%010d.parquet`,
    * created exclusively (no-overwrite), so two concurrent commits
    * racing for the same version number see one winner and one
    * [[org.apache.hadoop.fs.FileAlreadyExistsException]] — the loser
    * re-lists and retries at the next number
    * ([[GraftParquetWrite.commitMetadata]]'s optimistic loop). */
  def snapshotPath(table: String, version: Long): Path =
    new Path(logPath(table), f"v$version%010d.parquet")

  private def snapshotFile(table: String, version: Long): Path = {
    val lp = logPath(table)
    val fs = lp.getFileSystem(conf)
    require(fs.exists(lp),
      s"graft table log: $table has no version log (_graft_log) — " +
        "only connector-written tables are versioned")
    val p = snapshotPath(table, version)
    if (!fs.exists(p)) throw new IllegalArgumentException(
      s"graft table log: version $version not found under $table — " +
        s"available: ${versions(table).mkString("[", ", ", "]")}" +
        " (older versions may have been vacuumed)")
    p
  }

  /** Write snapshot `version`: every live file's rel path with its
    * manifest entries (or one bare `present` row when it has none),
    * plus one `kind = "dv"` row per live DELETION-VECTOR sidecar
    * (`dvRels`, paths under [[GraftDeletes.DeletesDir]]) — the snapshot
    * pins the exact merge-on-read delete set of the version, so time
    * travel applies the deletes as they stood then.
    * One parquet file created EXCLUSIVELY at the final name: the
    * create is the version CLAIM, so a concurrent commit racing for
    * the same number throws FileAlreadyExistsException here and the
    * caller retries at the next number. On the LOCAL filesystem the
    * claim is a java.nio O_EXCL create of the final name first
    * ([[GraftFsContract.claimLocalExclusive]] — Hadoop's local
    * `create(…, false)` is check-then-act across JVMs, and two
    * committers could silently eat each other's claim; observed as a
    * six-appends-five-versions CommitRaceSpec failure) with the
    * parquet writer then opening the owned file in OVERWRITE mode;
    * cluster filesystems keep parquet's default CREATE mode, which
    * their metadata service arbitrates atomically. A torn write
    * (crash mid-snapshot) leaves an unreadable parquet at the claimed
    * name — [[healTornSnapshot]] lets the next committer reclaim it. */
  def writeSnapshot(table: String, version: Long, writeId: String,
      relPaths: Seq[String], entries: Seq[GraftManifestEntry],
      dvRels: Seq[String] = Nil): Unit = {
    val byBase = entries.groupBy(_.file)
    val mt = GraftParquetWrite.messageType(logSchema)
    val factory = new SimpleGroupFactory(mt)
    val out = snapshotPath(table, version)
    // the claim — a collision throws before any byte is written and
    // propagates to the caller's retry loop
    val preClaimed = GraftFsContract.claimLocalExclusive(out, conf)
    val w = GraftParquetIO.writer(out, mt, conf,
      if (preClaimed)
        org.apache.parquet.hadoop.ParquetFileWriter.Mode.OVERWRITE
      else org.apache.parquet.hadoop.ParquetFileWriter.Mode.CREATE)
    // once the claim SUCCEEDED, a mid-write failure (disk full, FS
    // hiccup) must not leave a torn file squatting on the number —
    // delete our own partial before rethrowing, so the caller's retry
    // can re-claim instead of the log carrying an unreadable version
    try {
      try {
        relPaths.sorted.foreach { rel =>
          val base = new Path(rel).getName
          val rows = byBase.getOrElse(base, Nil)
          if (rows.isEmpty) {
            val g = factory.newGroup()
            g.add(0, rel); g.add(1, base); g.add(2, ""); g.add(3, "present")
            g.add(9, 0L)
            w.write(g)
          } else rows.foreach { e =>
            val g = factory.newGroup()
            g.add(0, rel); g.add(1, e.file); g.add(2, e.column); g.add(3, e.kind)
            e.minLong.foreach(g.add(4, _)); e.maxLong.foreach(g.add(5, _))
            e.minStr.foreach(g.add(6, _)); e.maxStr.foreach(g.add(7, _))
            e.nullCount.foreach(g.add(8, _)); g.add(9, e.valueCount)
            w.write(g)
          }
        }
        dvRels.sorted.foreach { rel =>
          val g = factory.newGroup()
          g.add(0, rel); g.add(1, new Path(rel).getName)
          g.add(2, ""); g.add(3, "dv"); g.add(9, 0L)
          w.write(g)
        }
      } finally w.close()
    } catch {
      case e: Throwable =>
        try out.getFileSystem(conf).delete(out, false)
        catch { case _: Exception => () } // best effort; heal covers it
        throw e
    }
  }

  /** A crash mid-snapshot leaves a torn parquet at a claimed version
    * name, which would block that number forever. If the file at
    * `version` has no readable footer, delete it and return true (the
    * caller may re-claim); a readable snapshot returns false and is
    * never touched. */
  def healTornSnapshot(table: String, version: Long): Boolean = {
    val p = snapshotPath(table, version)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) return true
    val readable =
      try {
        GraftParquetIO.open(p, conf).close(); true
      } catch { case _: Exception => false }
    if (readable) return false
    // unreadable — but only reclaim if it has been sitting a while: a
    // FRESH unreadable file is a cross-JVM writer's snapshot MID-WRITE,
    // and deleting it under them would corrupt their claim. (In-JVM
    // writers are serialized by commitMetadata's per-table lock and
    // never see each other's partial writes; commits never BLOCK on a
    // fresh torn head either — they claim past it.) The horizon must
    // comfortably exceed the slowest plausible snapshot write — it is
    // manifest-scale metadata, but a congested object store can be
    // slow — 10 min covers it
    val horizonMs = 600000L
    // the unreadable file can VANISH between the exists() above and
    // this stat — a crashed cross-JVM writer's own error handler
    // deletes its partial snapshot. A vanished file means the number
    // is free again: report reclaimable, never throw.
    val st = try Some(fs.getFileStatus(p)) catch {
      case _: java.io.FileNotFoundException => None
    }
    st match {
      case None => true
      case Some(s) =>
        val ageMs = System.currentTimeMillis() - s.getModificationTime
        if (ageMs > horizonMs) { fs.delete(p, false); true } else false
    }
  }

  /** Snapshot `version`: (DATA rel paths, basename → column → zone
    * map). `present` rows contribute a file with no stats —
    * conservatively scanned, exactly like an unmanifested live file.
    * `dv` rows (deletion-vector sidecars) are NOT data files and are
    * excluded here — [[readSnapshotDvRels]] returns them. */
  def readSnapshot(table: String, version: Long)
      : (Seq[String], Map[String, Map[String, GraftStatsPrune.ColStats]]) = {
    val (rels, _, stats) = readSnapshotFull(table, version)
    (rels, stats)
  }

  /** The version's deletion-vector rels alone (paths under
    * [[GraftDeletes.DeletesDir]]) — resolve with
    * [[GraftDeletes.resolveDvRels]]. */
  def readSnapshotDvRels(table: String, version: Long): Seq[String] =
    readSnapshotFull(table, version)._2

  /** Snapshot `version`, all three components: (data rels, DV rels,
    * basename → column → zone map). */
  def readSnapshotFull(table: String, version: Long)
      : (Seq[String], Seq[String],
        Map[String, Map[String, GraftStatsPrune.ColStats]]) = {
    val f = snapshotFile(table, version)
    val rels = collection.mutable.LinkedHashSet.empty[String]
    val dvRels = collection.mutable.LinkedHashSet.empty[String]
    val stats = collection.mutable.Map
      .empty[String, collection.mutable.Map[String, GraftStatsPrune.ColStats]]
    val r = new GraftPartitionReader(f.toString, logSchema, Array.empty)
    try while (r.next()) {
      val row = r.get()
      val kind = row.getString(3)
      if (kind == "dv") dvRels += row.getString(0)
      else rels += row.getString(0)
      if (kind != "present" && kind != "dv") {
        def optLong(i: Int): Option[Long] =
          if (row.isNullAt(i)) None else Some(row.getLong(i))
        def optStr(i: Int): Option[UTF8String] =
          if (row.isNullAt(i)) None else Some(row.getUTF8String(i))
        val bounds: (Any, Any) = kind match {
          case "long" => (optLong(4).map(Long.box).orNull,
            optLong(5).map(Long.box).orNull)
          case "bool" => (optLong(4).map(_ == 1L).map(Boolean.box).orNull,
            optLong(5).map(_ == 1L).map(Boolean.box).orNull)
          case "string" => (optStr(6).orNull, optStr(7).orNull)
          case _ => (null, null)
        }
        val nulls = optLong(8)
        stats.getOrElseUpdate(row.getString(1),
          collection.mutable.Map.empty) +=
          row.getString(2) -> GraftStatsPrune.ColStats(
            bounds._1, bounds._2, nulls.getOrElse(-1L), nulls.isDefined,
            row.getLong(9))
      }
    } finally r.close()
    (rels.toSeq, dvRels.toSeq,
      stats.map { case (k, v) => k -> v.toMap }.toMap)
  }

  /** Snapshot `version`'s manifest rows reconstructed as
    * [[GraftManifestEntry]]s — the exact zone-map set the version
    * committed (`present`/`dv` carrier rows excluded, as they carry no
    * stats). [[GraftMaintenance.rollback]] replays these into the
    * restored head's manifest, so a rollback recovers not just the
    * file set but the PRUNING METADATA of the restored version. */
  def readSnapshotEntries(table: String, version: Long)
      : Seq[GraftManifestEntry] = {
    val f = snapshotFile(table, version)
    val out = collection.mutable.ArrayBuffer.empty[GraftManifestEntry]
    val r = new GraftPartitionReader(f.toString, logSchema, Array.empty)
    try while (r.next()) {
      val row = r.get()
      val kind = row.getString(3)
      if (kind != "present" && kind != "dv") {
        def optLong(i: Int): Option[Long] =
          if (row.isNullAt(i)) None else Some(row.getLong(i))
        def optStr(i: Int): Option[String] =
          if (row.isNullAt(i)) None else Some(row.getUTF8String(i).toString)
        out += GraftManifestEntry(row.getString(1), row.getString(2), kind,
          optLong(4), optLong(5), optStr(6), optStr(7), optLong(8),
          row.getLong(9))
      }
    } finally r.close()
    out.toSeq
  }

  // ——— NAMED REFS (tags) ———————————————————————————————————————————
  //
  // A tag is a human name pinned to a committed version: one tiny file
  // `_graft_refs/tag.<name>` whose content is the version number.
  // Tags resolve anywhere a version number does (`VERSION AS OF
  // 'name'`, the `versionAsOf` read option), and vacuum retains every
  // tagged version's files — a tag is a RETENTION ROOT, which is what
  // makes "pin the exact training snapshot" durable at 100 TB: the
  // data a tag references survives any retainLast/retainHours policy
  // until the tag is dropped. Creation is an exclusive create (no
  // silent re-point — drop first), so two writers racing the same tag
  // name see one winner.

  private val TagNameRe = "[A-Za-z][A-Za-z0-9_.-]{0,127}".r

  private def refsPath(table: String) = new Path(table, RefsDir)

  private def tagPath(table: String, name: String): Path = {
    require(TagNameRe.pattern.matcher(name).matches(),
      s"graft table log: invalid tag name '$name' — want " +
        "[A-Za-z][A-Za-z0-9_.-]{0,127}")
    new Path(refsPath(table), s"tag.$name")
  }

  /** Pin `name` to `version` (must be a committed version). Refuses an
    * existing name — retagging is drop + re-create, never a silent
    * re-point of a ref someone else may be reading. */
  def setTag(table: String, name: String, version: Long): Unit = {
    val p = tagPath(table, name)
    require(versions(table).contains(version),
      s"graft table log: cannot tag version $version of $table — " +
        s"available: ${versions(table).mkString("[", ", ", "]")}")
    require(readBranch(table, name).isEmpty,
      s"graft table log: '$name' already names a branch on $table — " +
        "refs share one namespace so VERSION AS OF stays unambiguous")
    val fs = p.getFileSystem(conf)
    fs.mkdirs(p.getParent)
    val out =
      try GraftFsContract.exclusiveCreate(fs, p) // atomic claim
      catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException |
             _: java.io.IOException =>
          throw new IllegalArgumentException(
            s"graft table log: tag '$name' already exists on $table — " +
              "drop_tag first to re-point it")
      }
    try out.write(version.toString.getBytes("UTF-8")) finally out.close()
  }

  /** Remove tag `name`; false when it did not exist. */
  def dropTag(table: String, name: String): Boolean = {
    val p = tagPath(table, name)
    p.getFileSystem(conf).delete(p, false)
  }

  /** All tags: name → version, name-sorted. */
  def tags(table: String): Seq[(String, Long)] = {
    val d = refsPath(table)
    val fs = d.getFileSystem(conf)
    if (!fs.exists(d)) return Nil
    fs.listStatus(d).toSeq.map(_.getPath)
      .filter(_.getName.startsWith("tag."))
      .map { p =>
        val name = p.getName.stripPrefix("tag.")
        val body = GraftFsContract.readBody(fs, p)
        val v = try body.toLong catch {
          case _: NumberFormatException => throw new IllegalStateException(
            s"graft table log: tag file ${p.getName} of $table is " +
              s"corrupt (content '$body' is not a version number)")
        }
        name -> v
      }.sortBy(_._1)
  }

  /** A version REFERENCE — a number, a tag name, or a branch name — to
    * its version (a branch resolves to its HEAD). The shared resolver
    * behind `VERSION AS OF` and the `versionAsOf` read option. */
  def resolveVersionRef(table: String, ref: String): Long =
    ref.toLongOption.getOrElse {
      tags(table).collectFirst { case (n, v) if n == ref => v }
        .orElse(readBranch(table, ref).map(_._1))
        .getOrElse(
          throw new IllegalArgumentException(
            s"graft table log: '$ref' is neither a version number, a " +
              s"tag, nor a branch of $table — tags: " +
              tags(table).map(_._1).mkString("[", ", ", "]") +
              ", branches: " +
              branches(table).map(_._1).mkString("[", ", ", "]")))
    }

  // ——— BRANCHES ——————————————————————————————————————————————————————
  //
  // A branch is a RE-POINTABLE ref plus an invisible data lineage:
  // files a branch write commits live under `_branch_<name>/` inside
  // the table root — an underscore directory the main listing never
  // sees, so MAIN readers are untouched at zero planning cost. Branch
  // commits claim GLOBAL version numbers in the one snapshot log (the
  // Iceberg convention: all snapshots in one metadata history, refs
  // select lineages); a branch commit's snapshot = its parent BRANCH
  // head's file set + the new files, so `VERSION AS OF '<branch>'`
  // reads the branch state through the ordinary time-travel path.
  // Fast-forward ([[GraftMaintenance.fastForward]]) adopts the branch
  // into main by renaming its files into the table root (the
  // visibility flip — at object-store scale this would be a manifest
  // flip instead) and committing one main snapshot. Branch HEADS are
  // vacuum retention roots, like tags.
  //
  // CONCURRENCY (round 15): the ref is SEQUENCED — branch state lives
  // in immutable-once-written files `branch.<name>.<seq%010d>` (body
  // "head\nbase"); the CURRENT state is the highest seq. A head update
  // is the exclusive CREATE of seq+1 — the same no-overwrite-create
  // primitive the main log's version claim trusts — so two writers
  // racing one branch see one winner and one
  // FileAlreadyExistsException; the loser re-reads the moved head and
  // REBUILDS its commit on top of it ([[GraftParquetWrite
  // .commitBranchMetadata]]'s retry), exactly the main lineage's
  // optimistic discipline. Superseded seq files are deleted
  // best-effort after a successful claim; readers always take the
  // highest PARSEABLE seq, so a torn body (a claimer mid-write) serves
  // the prior committed state until the claim completes — and an AGED
  // torn claim (a crashed writer) heals like a torn snapshot does.

  private val BranchSeqRe = """^branch\.(.+)\.(\d{10})$""".r

  private def branchSeqPath(table: String, name: String, seq: Long): Path = {
    require(TagNameRe.pattern.matcher(name).matches(),
      s"graft table log: invalid branch name '$name' — want " +
        "[A-Za-z][A-Za-z0-9_.-]{0,127}")
    new Path(refsPath(table), f"branch.$name.$seq%010d")
  }

  /** Committed seq numbers of branch `name`, ascending. */
  private def branchSeqs(table: String, name: String): Seq[Long] = {
    val d = refsPath(table)
    val fs = d.getFileSystem(conf)
    if (!fs.exists(d)) return Nil
    fs.listStatus(d).toSeq.map(_.getPath.getName).collect {
      case BranchSeqRe(n, s) if n == name => s.toLong
    }.sorted
  }

  /** (seq, head, base) of branch `name` — the highest PARSEABLE seq.
    * A torn max-seq body (claimer mid-write) settles and retries once,
    * then falls back to the prior seq (the last committed state);
    * aged-torn claims (crashed writers) are healed like torn
    * snapshots, so the branch never bricks. */
  private def readBranchState(table: String, name: String)
      : Option[(Long, Long, Long)] = {
    if (!TagNameRe.pattern.matcher(name).matches()) return None
    val fs = refsPath(table).getFileSystem(conf)
    def parse(body: String): Option[(Long, Long)] =
      body.split('\n').map(_.trim) match {
        case Array(h, b) =>
          try Some((h.toLong, b.toLong))
          catch { case _: NumberFormatException => None }
        case _ => None
      }
    // a TOMBSTONE claim (head < 0, [[casDropBranch]]) is the fence a
    // fast-forward plants before adopting files: the branch reads as
    // nonexistent from that seq on, so a late writer's CAS fails
    // loudly instead of committing onto a lineage being dismantled
    def tombstoned(hb: (Long, Long)): Boolean = hb._1 < 0L
    def bodyOf(seq: Long): Option[String] =
      try Some(GraftFsContract.readBody(fs, branchSeqPath(table, name, seq)))
      catch { case _: java.io.FileNotFoundException => None }
    var cand = branchSeqs(table, name)
    var fallbacks = 0
    while (cand.nonEmpty && fallbacks < 64) {
      val seq = cand.last
      bodyOf(seq).map(b => (b, parse(b))) match {
        case Some((_, Some((h, b)))) =>
          return if (tombstoned((h, b))) None else Some((seq, h, b))
        case None =>
          // vanished between list and read: superseded-and-cleaned, or
          // dropped — a fresh listing settles which
          cand = branchSeqs(table, name)
          if (cand.lastOption.contains(seq)) return None
        case Some((_, None)) =>
          // torn body — a claimer created the file but its write has
          // not landed. Settle briefly and re-read; still torn → serve
          // the PRIOR committed seq (the claim has not happened yet).
          // An aged torn claim is a crashed writer: heal it so the seq
          // number frees up. Ref bodies are ~20 bytes — the horizon is
          // its own, much shorter one (5 s) rather than the snapshot
          // heal horizon: a torn ref blocks EVERY writer's CAS at
          // seq+1, and no plausible in-flight 20-byte write takes
          // longer than seconds.
          Thread.sleep(50L)
          bodyOf(seq).flatMap(parse) match {
            case Some((h, b)) =>
              return if (tombstoned((h, b))) None else Some((seq, h, b))
            case None =>
              val p = branchSeqPath(table, name, seq)
              val horizonMs = 5000L
              val aged = (try Some(fs.getFileStatus(p)) catch {
                case _: java.io.FileNotFoundException => None
              }).forall(st => System.currentTimeMillis() -
                st.getModificationTime > horizonMs)
              if (aged) { try fs.delete(p, false)
                catch { case _: Exception => () } }
              cand = cand.init
              fallbacks += 1
          }
      }
    }
    None
  }

  /** Fork `name` at `version` (must be committed). Exclusive create —
    * re-pointing an existing branch is a branch WRITE or drop+create,
    * never a silent move. */
  def createBranch(table: String, name: String, version: Long): Unit = {
    require(versions(table).contains(version),
      s"graft table log: cannot branch at version $version of $table — " +
        s"available: ${versions(table).mkString("[", ", ", "]")}")
    require(!tags(table).exists(_._1 == name),
      s"graft table log: '$name' already names a tag on $table — " +
        "refs share one namespace so VERSION AS OF stays unambiguous")
    require(branchSeqs(table, name).isEmpty,
      s"graft table log: branch '$name' already exists on $table")
    val p = branchSeqPath(table, name, 0L)
    val fs = p.getFileSystem(conf)
    fs.mkdirs(p.getParent)
    val out =
      try GraftFsContract.exclusiveCreate(fs, p)
      catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException |
             _: java.io.IOException =>
          throw new IllegalArgumentException(
            s"graft table log: branch '$name' already exists on $table")
      }
    try out.write(s"$version\n$version".getBytes("UTF-8"))
    finally out.close()
  }

  /** (head, base) of branch `name`; None when it does not exist. */
  def readBranch(table: String, name: String): Option[(Long, Long)] =
    readBranchState(table, name).map { case (_, h, b) => (h, b) }

  /** COMPARE-AND-SWAP the branch head: re-point `name` to `newHead`
    * iff its current head is still `expectedHead`. The swap is the
    * exclusive create of the next seq file — atomic claim, no
    * delete+rename window — so a concurrent writer's commit can never
    * be silently overwritten. Returns false when the head moved or the
    * claim lost; the caller re-reads and rebuilds on the fresh head. */
  def casBranchHead(table: String, name: String, expectedHead: Long,
      newHead: Long): Boolean = {
    val (seq, head, base) = readBranchState(table, name).getOrElse(
      throw new IllegalArgumentException(
        s"graft table log: branch '$name' does not exist on $table"))
    if (head != expectedHead) return false
    val p = branchSeqPath(table, name, seq + 1)
    val fs = p.getFileSystem(conf)
    val out =
      try GraftFsContract.exclusiveCreate(fs, p)
      catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
          return false // claim lost
        case e: java.io.IOException =>
          // local FS throws PLAIN IOException for an existing file —
          // disambiguate by existence: file there = claim genuinely
          // lost; not there = an environmental failure (permissions,
          // disk full) that must SURFACE with its diagnostic, not be
          // reported as "lost the CAS 50 times"
          if (try fs.exists(p) catch { case _: Exception => false })
            return false
          else throw e
      }
    try out.write(s"$newHead\n$base".getBytes("UTF-8"))
    finally out.close()
    // best-effort cleanup of the superseded state (each winner reaps
    // its predecessor; stragglers are harmless — readers take max)
    try fs.delete(branchSeqPath(table, name, seq), false)
    catch { case _: Exception => () }
    true
  }

  /** COMPARE-AND-DROP: atomically retire branch `name` iff its head is
    * still `expectedHead`, by claiming the next seq file with a
    * TOMBSTONE body (head = -1) — the same exclusive-create discipline
    * as [[casBranchHead]], so exactly one of a concurrent branch
    * commit and this drop wins. From the tombstone on the branch reads
    * as nonexistent: a late writer's CAS fails loudly with "does not
    * exist" instead of committing onto a lineage being dismantled —
    * the fence [[GraftMaintenance.fastForward]] plants BEFORE moving
    * any files. Returns the tombstone seq (delete that file via
    * [[undropBranch]] to restore the branch on a failed adoption), or
    * None when the head moved / the claim lost — the caller refuses
    * and retries. The superseded seq file is deliberately KEPT until
    * [[dropBranchRef]] reaps everything: it is the restore point. */
  def casDropBranch(table: String, name: String,
      expectedHead: Long): Option[Long] = {
    val (seq, head, _) = readBranchState(table, name).getOrElse(
      return None)
    if (head != expectedHead) return None
    val p = branchSeqPath(table, name, seq + 1)
    val fs = p.getFileSystem(conf)
    val out =
      try GraftFsContract.exclusiveCreate(fs, p)
      catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
          return None
        case e: java.io.IOException =>
          if (try fs.exists(p) catch { case _: Exception => false })
            return None
          else throw e
      }
    try out.write("-1\n-1".getBytes("UTF-8"))
    finally out.close()
    Some(seq + 1)
  }

  /** Undo a [[casDropBranch]] fence after a FAILED adoption: delete
    * the tombstone seq so the kept predecessor becomes the head again.
    * Only legal while the caller still owns the tombstone (nothing
    * else writes a retired branch's refs). */
  def undropBranch(table: String, name: String, tombstoneSeq: Long): Unit = {
    val p = branchSeqPath(table, name, tombstoneSeq)
    try p.getFileSystem(conf).delete(p, false)
    catch { case _: Exception => () }
  }

  /** Drop the ref only (fast-forward already moved the data). */
  def dropBranchRef(table: String, name: String): Boolean = {
    val fs = refsPath(table).getFileSystem(conf)
    val seqs = branchSeqs(table, name)
    seqs.reverse.foreach { s =>
      try fs.delete(branchSeqPath(table, name, s), false)
      catch { case _: Exception => () }
    }
    seqs.nonEmpty
  }

  /** All branches: (name, head, base), name-sorted. */
  def branches(table: String): Seq[(String, Long, Long)] = {
    val d = refsPath(table)
    val fs = d.getFileSystem(conf)
    if (!fs.exists(d)) return Nil
    fs.listStatus(d).toSeq.map(_.getPath.getName).collect {
      case BranchSeqRe(n, _) => n
    }.distinct.sorted
      .flatMap(n => readBranch(table, n).map { case (h, b) => (n, h, b) })
  }

  /** Resolve snapshot rel paths to readable full paths: live table dir
    * first, then the archive. A path in neither place means vacuum
    * reclaimed the generation — refused loudly, never a silent subset. */
  def resolveAll(table: String, relPaths: Seq[String]): Seq[String] = {
    val root = new Path(table)
    val fs = root.getFileSystem(conf)
    val live: Set[String] =
      GraftParquetV2.listFiles(table).map(relativize(table, _)).toSet
    val archRoot = new Path(root, ArchiveDir)
    lazy val archived: Set[String] = archivedStatuses(table)
      .map(st => relativize(archRoot.toString, st.getPath.toString)).toSet
    relPaths.map { rel =>
      if (live.contains(rel)) new Path(root, rel).toString
      // branch-owned rels (`_branch_<name>/…`) are invisible to the
      // live listing by design — probe them directly; after a
      // fast-forward the file moved to the table root under its
      // basename (still the same bytes), and after drop_branch it sits
      // archived under its branch rel
      else if (rel.startsWith("_branch_") &&
          fs.exists(new Path(root, rel)))
        new Path(root, rel).toString
      else if (archived.contains(rel)) new Path(archRoot, rel).toString
      else if (rel.startsWith("_branch_") && {
          val base = new Path(rel).getName
          live.contains(base) || archived.contains(base)
        }) {
        val base = new Path(rel).getName
        if (live.contains(base)) new Path(root, base).toString
        else new Path(archRoot, base).toString
      }
      else throw new IllegalStateException(
        s"graft table log: file $rel of the requested version is neither " +
          s"live nor archived under $table — the version was vacuumed")
    }
  }

  /** Full path under `root` → path relative to it. The containment
    * check is boundary-aware: `/data/tbl_old/x` is NOT under
    * `/data/tbl` even though the string prefix matches. */
  def relativize(root: String, file: String): String = {
    val rootPath = new Path(root).toUri.getPath.stripSuffix("/")
    val filePath = new Path(file).toUri.getPath
    require(filePath == rootPath ||
      filePath.startsWith(rootPath + "/"),
      s"graft table log: $file is not under $root")
    filePath.stripPrefix(rootPath).stripPrefix("/")
  }

  /** Move a live data file into the archive (an overwrite/compaction
    * removing it from the head version). Same-filesystem rename; a
    * name collision means an externally re-created file shadows an
    * archived generation — refused rather than silently clobbered. */
  def archiveFile(table: String, fullPath: String): Unit = {
    val root = new Path(table)
    val fs = root.getFileSystem(conf)
    val rel = relativize(table, fullPath)
    val dest = new Path(new Path(root, ArchiveDir), rel)
    require(!fs.exists(dest),
      s"graft table log: archive collision on $rel under $table")
    fs.mkdirs(dest.getParent)
    require(fs.rename(new Path(fullPath), dest),
      s"graft table log: archive rename failed for $rel under $table")
  }

  /** Every archived data file's status, one recursive listing — the
    * single archive walk [[resolveAll]], [[fileSizes]], and the
    * catalog's schema fallback all share. */
  def archivedStatuses(table: String): Seq[org.apache.hadoop.fs.FileStatus] = {
    val archRoot = new Path(new Path(table), ArchiveDir)
    val fs = archRoot.getFileSystem(conf)
    if (!fs.exists(archRoot)) return Nil
    val out = collection.mutable.ArrayBuffer
      .empty[org.apache.hadoop.fs.FileStatus]
    def walk(d: Path): Unit = fs.listStatus(d).foreach { st =>
      if (st.isDirectory) walk(st.getPath)
      else if (st.getPath.getName.endsWith(".parquet")) out += st
    }
    walk(archRoot)
    out.toSeq
  }

  /** On-disk byte sizes of every live AND archived data file, keyed by
    * FULL path — from two recursive listings (the same metadata
    * planning already pays), never per-file status RPCs. */
  def fileSizes(table: String): Map[String, Long] = {
    val out = collection.mutable.Map.empty[String, Long]
    GraftParquetV2.listFileStatuses(table)
      .foreach(st => out(st.getPath.toString) = st.getLen)
    archivedStatuses(table)
      .foreach(st => out(st.getPath.toString) = st.getLen)
    out.toMap
  }

  /** The append delta files(until) \ files(since), with the history
    * check that makes a change feed SOUND: every file of `since` must
    * survive into `until`, AND the deletion-vector set must be
    * unchanged — a merge-on-read delete between the two versions
    * removes rows with no file-set change at all, which a file-level
    * delta cannot represent; refused loudly (the row-level CDC feed is
    * the sound answer there). The delta files themselves are always
    * DV-free: a DV can only reference files that existed when it was
    * written, and with the DV set pinned equal those all predate
    * `since`. */
  def changedFiles(table: String, since: Long, until: Long)
      : (Seq[String], Map[String, Map[String, GraftStatsPrune.ColStats]]) = {
    require(since <= until,
      s"graft table log: changesSince $since > changesUntil $until")
    val (fromRels, fromDv, _) = readSnapshotFull(table, since)
    val (toRels, toDv, toStats) = readSnapshotFull(table, until)
    val fromSet = fromRels.toSet
    val missing = fromRels.filterNot(toRels.toSet)
    require(missing.isEmpty,
      s"graft table log: versions $since→$until are not append-only — " +
        s"${missing.size} file(s) of v$since were rewritten (overwrite or " +
        "compaction); an incremental change feed across a rewrite would " +
        s"double-count rows. Re-read versionAsOf=$until instead")
    require(fromDv.toSet == toDv.toSet,
      s"graft table log: versions $since→$until are not append-only — " +
        "the deletion-vector set changed (a merge-on-read DELETE/UPDATE " +
        "removed rows without a file-set change); use the row-level CDC " +
        s"feed or re-read versionAsOf=$until instead")
    (toRels.filterNot(fromSet), toStats)
  }
}
