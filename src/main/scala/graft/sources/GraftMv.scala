package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One aggregate of a materialized-view definition. `func` is one of
  * `count` / `sum` / `avg` / `min` / `max` / `hll` (approximate
  * distinct count — HyperLogLog sketch state, served as the estimate);
  * `col` is a source column (`*` allowed for `count`); `alias` names
  * the output column. */
final case class MvAgg(func: String, col: String, alias: String)

/** INCREMENTALLY-MAINTAINED MATERIALIZED VIEWS over graft tables — the
  * 100 TB answer to "keep this aggregate current as the table mutates"
  * without re-reading the table per refresh.
  *
  * An MV is a grouped aggregation (`GROUP BY g₁..gₙ` with count / sum /
  * avg / min / max) over one graft source table. Its state is itself a
  * graft table (so it inherits time travel, the version log, and the
  * archive discipline), holding one row per live group with MERGEABLE
  * partial state: a per-group row count, decimal-exact sums with their
  * non-null counts (so an all-NULL group reads back NULL, not 0), and
  * min/max extrema.
  *
  * '''Refresh cost ∝ the delta, not the table.''' [[refresh]] pulls the
  * row-level change feed ([[GraftMaintenance.changeFeedRows]]) between
  * the last-processed source version and the head — cost proportional
  * to CHANGED FILES — and folds it into the state:
  *   - count / sum / avg fold arithmetically: insert images add,
  *     delete images subtract (an updated row is one of each);
  *   - hll sketches fold by register-wise max on insert-only groups —
  *     mergeability makes the folded state BIT-IDENTICAL to recompute;
  *   - min / max fold directly on insert-only groups (`least` /
  *     `greatest`); a group that saw any DELETE image is recomputed
  *     from the source head, SEMI-JOIN-pruned to exactly the affected
  *     group keys — deletes can evict an extremum, so per-group
  *     recompute is the honest fallback, and its cost is the affected
  *     groups' rows, not the table (zone maps + partition pruning
  *     apply to the semi-joined scan);
  *   - a rewrite that only repacks rows (compaction) yields an EMPTY
  *     feed, so the refresh is a watermark-only no-op.
  *
  * '''Crash safety / concurrency — the streaming-commit-log discipline,
  * lock-free.''' The MV's `_graft_mv/state.<seq>` files are the commit
  * points: each records `(source version processed, MV version holding
  * that state)` and is claimed by EXCLUSIVE CREATE of the next sequence
  * number (the same optimistic CAS as the table log's version claim —
  * `GraftTableLog.scala:127`). A refresh (a) reads the latest state,
  * (b) reads the MV AS OF the version that state names — never the raw
  * head — (c) folds the delta into the MV data as ONE commit (an
  * overwrite, or in merge mode one `MERGE INTO` that also deletes
  * vanished groups), and only then (d) claims the next state seq. A
  * crash anywhere before (d) leaves an orphaned MV version that NO
  * reader ever serves ([[read]] pins `versionAsOf` to the recorded
  * state), and the next refresh redoes the same delta idempotently
  * from the durable watermark. Two concurrent refreshers both commit
  * data (the writer path serializes physically on the table's rewrite
  * lock) but exactly ONE wins the state CAS; the loser's data version
  * is orphaned-by-construction and the loser returns the winner's
  * state. A merge-mode MERGE adds the delta to the rows it reads, so
  * its refresher claims only a commit that sits directly on the
  * recorded version; one that read a concurrent refresher's commit
  * folds the delta twice and stays unclaimed, like a CAS loser's. No
  * MV-level lock exists to leak or age out.
  *
  * Scale notes: the state table is |groups|-sized, so the per-refresh
  * overwrite is group-cardinality work, not source-table work (merge
  * mode: touched-group work, the MERGE's key range pruning the state
  * files it rewrites); the delta aggregation shuffles one row per
  * (changed row's group), and the recompute semi-join broadcasts the
  * (small) affected-key set.
  * Reference context: the reference re-reads whole tables per run
  * (`/root/reference/pipelines/total_distance.py:92-95`); this is the
  * standing-aggregate replacement.
  */
object GraftMv {

  private val MvDir = "_graft_mv"
  private val RowsCol = "_mv_rows"
  private val KeyCol = "_mv_key"
  // the merge-mode MERGE source's row kind (see mergeState)
  private val OpCol = "_mv_op"
  private def conf = GraftParquetWrite.sessionConf()
  private val fmt = "graft.sources.GraftParquetTableProvider"

  private def defPath(mv: String) = new Path(new Path(mv, MvDir), "def")
  private def statePath(mv: String, seq: Long) =
    new Path(new Path(mv, MvDir), f"state.$seq%010d")

  // -------------------------------------------------------------------
  // Definition + state persistence
  // -------------------------------------------------------------------

  /** Write-once view definition. Line-based (no escaping to get wrong):
    * `src=`, `group=`, then one `agg=` per aggregate. Column and alias
    * names are restricted to identifier characters at [[create]] so the
    * `:`/`,` separators can never collide with content. */
  private def writeDef(mv: String, src: String, groupCols: Seq[String],
      aggs: Seq[MvAgg], stateMerge: Boolean): Unit = {
    val p = defPath(mv)
    val fs = p.getFileSystem(conf)
    fs.mkdirs(p.getParent)
    val out =
      try GraftFsContract.exclusiveCreate(fs, p)
      catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException |
             _: java.io.IOException =>
          throw new IllegalStateException(
            s"graft mv: a view is already defined at $mv")
      }
    val body = (s"src=$src" +: s"group=${groupCols.mkString(",")}" +:
      s"statemode=${if (stateMerge) "merge" else "overwrite"}" +:
      aggs.map(a => s"agg=${a.func}:${a.col}:${a.alias}")).mkString("\n")
    try out.write(body.getBytes("UTF-8")) finally out.close()
  }

  /** (source table, group cols, aggs, merge-mode?) of the view at `mv`. */
  def readDef(mv: String): (String, Seq[String], Seq[MvAgg], Boolean) = {
    val p = defPath(mv)
    val fs = p.getFileSystem(conf)
    val body =
      try {
        val in = fs.open(p)
        try {
          val buf = new java.io.ByteArrayOutputStream()
          val chunk = new Array[Byte](4096)
          var n = in.read(chunk)
          while (n > 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
          new String(buf.toByteArray, "UTF-8")
        } finally in.close()
      } catch {
        case _: java.io.FileNotFoundException =>
          throw new IllegalArgumentException(
            s"graft mv: no view defined at $mv")
      }
    val lines = body.split('\n').filter(_.nonEmpty)
    val src = lines.collectFirst { case l if l.startsWith("src=") =>
      l.stripPrefix("src=") }.getOrElse(
      throw new IllegalStateException(s"graft mv: torn definition at $mv"))
    val group = lines.collectFirst { case l if l.startsWith("group=") =>
      l.stripPrefix("group=").split(',').toSeq }.getOrElse(
      throw new IllegalStateException(s"graft mv: torn definition at $mv"))
    val aggs = lines.toSeq.filter(_.startsWith("agg=")).map { l =>
      l.stripPrefix("agg=").split(':') match {
        case Array(f, c, a) => MvAgg(f, c, a)
        case _ => throw new IllegalStateException(
          s"graft mv: torn definition at $mv")
      }
    }
    val merge = lines.exists(_ == "statemode=merge")
    (src, group, aggs, merge)
  }

  /** Latest committed (seq, source version, MV version), or None when
    * creation never completed. Torn bodies (a crashed claimer) are
    * skipped — the highest PARSEABLE seq is the committed state, same
    * as the table log's torn-snapshot rule. */
  def latestState(mv: String): Option[(Long, Long, Long)] = {
    val dir = new Path(mv, MvDir)
    val fs = dir.getFileSystem(conf)
    val seqs =
      try fs.listStatus(dir).toSeq.map(_.getPath.getName)
        .filter(_.startsWith("state."))
        .flatMap(n => scala.util.Try(n.stripPrefix("state.").toLong).toOption)
        .sorted.reverse
      catch { case _: java.io.FileNotFoundException => Nil }
    seqs.iterator.flatMap { seq =>
      val body =
        try Some(GraftFsContract.readBody(fs, statePath(mv, seq)))
        catch { case _: java.io.IOException => None }
      body.map(_.split('\n')).collect {
        case Array(s, m) if s.forall(_.isDigit) && m.forall(_.isDigit) =>
          (seq, s.toLong, m.toLong)
      }
    }.nextOption()
  }

  /** Claim state `seq` by exclusive create. False = CAS lost (another
    * refresher committed first); environmental IO failures surface with
    * their own diagnostic (the casBranchHead disambiguation rule). */
  private def claimState(mv: String, seq: Long, srcV: Long,
      mvV: Long): Boolean = {
    val p = statePath(mv, seq)
    val fs = p.getFileSystem(conf)
    fs.mkdirs(p.getParent)
    val out =
      try GraftFsContract.exclusiveCreate(fs, p)
      catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
          return false
        case e: java.io.IOException =>
          if (try fs.exists(p) catch { case _: Exception => false })
            return false
          else throw e
      }
    try out.write(s"$srcV\n$mvV".getBytes("UTF-8")) finally out.close()
    true
  }

  // -------------------------------------------------------------------
  // Aggregate state algebra
  // -------------------------------------------------------------------

  private def isFractional(dt: DataType): Boolean = dt match {
    case DoubleType | FloatType => true
    case _: DecimalType => true
    case _ => false
  }

  /** Decimal accumulator type for a sum/avg over `col` — exact and
    * order-independent (the q1 discipline), scale 6 for fractional
    * inputs (≫ the 2-dp money columns' grain), 0 for integral. */
  private def sumType(schema: StructType, c: String): DecimalType =
    schema(c).dataType match {
      case d: DecimalType => DecimalType(38, d.scale)
      case dt if isFractional(dt) => DecimalType(38, 6)
      case _ => DecimalType(38, 0)
    }

  /** Register-count exponent for `hll` MV state: m = 2^10 = 1024
    * registers per group (~3.3% relative error), the engine's standard
    * oracle-replayable grain (`TextQueries.HllP`). The hash chain is
    * the pinned mirrorable one — FNV-1a64 of the value CAST TO STRING,
    * SplitMix64-finalized inside the sketch — so a DuckDB oracle
    * rebuilds the registers bit-for-bit. */
  val HllStateP = 10

  /** The pinned hll hash chain. String cast first: the sketch hashes
    * the value's canonical decimal/text form, which both engines spell
    * identically for strings and integers (fractional columns are the
    * entry author's cross-engine concern). */
  private def hllHash(c: String): Column =
    graft.expr.Fingerprint64(col(c).cast("string"))

  /** Full-recompute state aggregation — the create path, the
    * affected-group rebuild path, and the parity check in specs all
    * share this one definition. */
  private def stateAggs(schema: StructType, aggs: Seq[MvAgg]): Seq[Column] =
    count(lit(1)).as(RowsCol) +: aggs.flatMap { a =>
      a.func match {
        case "count" =>
          val c = if (a.col == "*") count(lit(1)) else count(col(a.col))
          Seq(c.as(a.alias))
        case "sum" =>
          val t = sumType(schema, a.col)
          Seq(sum(col(a.col).cast(t)).as(a.alias),
            count(col(a.col)).as(a.alias + "__cnt"))
        case "avg" =>
          val t = sumType(schema, a.col)
          Seq(sum(col(a.col).cast(t)).as(a.alias + "__sum"),
            count(col(a.col)).as(a.alias + "__cnt"))
        case "min" => Seq(min(col(a.col)).as(a.alias))
        case "max" => Seq(max(col(a.col)).as(a.alias))
        case "hll" =>
          Seq(graft.expr.HllAgg.sketch(hllHash(a.col), HllStateP)
            .as(a.alias))
      }
    }

  private def fullState(df: DataFrame, groupCols: Seq[String],
      aggs: Seq[MvAgg]): DataFrame = {
    val as = stateAggs(df.schema, aggs)
    df.groupBy(groupCols.map(col): _*).agg(as.head, as.tail: _*)
  }

  /** Aggregates whose state cannot un-see a deleted row (extrema and
    * register-max sketches): any DELETE image sends the touched groups
    * to the pruned rebuild-from-head path. */
  private def rebuildsOnDelete(aggs: Seq[MvAgg]): Boolean =
    aggs.exists(a => a.func == "min" || a.func == "max" || a.func == "hll")

  /** Delta aggregation over change-feed images: one output row per
    * touched group, carrying signed arithmetic deltas and the
    * insert-side extrema + a saw-a-delete flag for the min/max rule. */
  private def deltaAggs(schema: StructType, aggs: Seq[MvAgg]): Seq[Column] = {
    val ins = col("_change_type") === lit("insert")
    val sgn = when(ins, lit(1L)).otherwise(lit(-1L))
    Seq(
      sum(sgn).as(RowsCol),
      max(when(!ins, lit(1)).otherwise(lit(0))).as("_mv_del")) ++
      aggs.flatMap { a =>
        a.func match {
          case "count" =>
            val contrib = if (a.col == "*") sgn
              else when(col(a.col).isNotNull, sgn).otherwise(lit(0L))
            Seq(sum(contrib).as(a.alias))
          case "sum" =>
            val t = sumType(schema, a.col)
            // cast FIRST, negate the decimal (exact) — never negate the
            // double before rounding into the accumulator's grid
            val v = col(a.col).cast(t)
            Seq(sum(when(ins, v).otherwise(-v)).as(a.alias),
              sum(when(col(a.col).isNotNull, sgn).otherwise(lit(0L)))
                .as(a.alias + "__cnt"))
          case "avg" =>
            val t = sumType(schema, a.col)
            val v = col(a.col).cast(t)
            Seq(sum(when(ins, v).otherwise(-v)).as(a.alias + "__sum"),
              sum(when(col(a.col).isNotNull, sgn).otherwise(lit(0L)))
                .as(a.alias + "__cnt"))
          case "min" => Seq(min(when(ins, col(a.col))).as(a.alias))
          case "max" => Seq(max(when(ins, col(a.col))).as(a.alias))
          // insert-image sketch only; delete-touched groups rebuild
          case "hll" =>
            Seq(graft.expr.HllAgg.sketch(
              when(ins, hllHash(a.col)), HllStateP).as(a.alias))
        }
      }
  }

  /** The state-table column names, in schema order. */
  private def stateCols(aggs: Seq[MvAgg]): Seq[String] =
    RowsCol +: aggs.flatMap { a =>
      a.func match {
        case "sum" => Seq(a.alias, a.alias + "__cnt")
        case "avg" => Seq(a.alias + "__sum", a.alias + "__cnt")
        case _ => Seq(a.alias)
      }
    }

  /** Deterministic single-column group key for the merge-mode state
    * MERGE ([[mergeState]] matches on ONE column): each
    * group value length-prefixed — unambiguous for any content, no
    * separator byte to collide with — with an explicit NULL marker. */
  private def keyExpr(groupCols: Seq[String]): Column =
    concat(groupCols.map { c =>
      val s = col(c).cast("string")
      when(s.isNull, lit("N")).otherwise(
        concat(lit("V"), length(s).cast("string"), lit(":"), s))
    }: _*)

  /** Merge-mode state lays out RANGE-CLUSTERED on the key so later
    * MERGEs' zone-map candidate selection prunes to the touched files
    * — unsorted state would make every file a merge candidate. File
    * count follows AQE's byte-sized shuffle targets (grows with state;
    * a tiny state correctly collapses to one file) unless
    * `graft.mv.statePartitions` pins an explicit count (specs pin it
    * to exercise multi-file pruning at fixture scale). */
  private def clustered(st: DataFrame, groupCols: Seq[String]): DataFrame = {
    val keyed = st.withColumn(KeyCol, keyExpr(groupCols))
    (sys.props.get("graft.mv.statePartitions").map(_.toInt) match {
      case Some(n) => keyed.repartitionByRange(n, col(KeyCol))
      case None => keyed.repartitionByRange(col(KeyCol))
    }).sortWithinPartitions(KeyCol)
  }

  // -------------------------------------------------------------------
  // API
  // -------------------------------------------------------------------

  private val Ident = "[A-Za-z_][A-Za-z0-9_]*".r

  /** Define + fully compute the view: one aggregation over the PINNED
    * current source version (so a concurrent append can never make the
    * recorded watermark claim rows it did not process). The definition
    * file's exclusive create is the creation commit point; a crash
    * before the first state record leaves a definition the next
    * [[refresh]] HEALS by full recompute. Returns the MV version
    * holding the initial state.
    *
    * `stateMerge = true` switches refresh to MERGE-mode state updates:
    * instead of overwriting the |groups|-sized state table per refresh,
    * ONE `MERGE INTO` keyed by a synthetic length-prefixed key column
    * folds, inserts and deletes the touched groups — state-write cost ∝
    * TOUCHED groups, the high-cardinality-MV regime (a 100M-group state
    * must not rewrite per refresh), and one MV version per refresh
    * however many groups vanish. Requires head == recorded version at
    * entry (any crashed refresh's orphan commit heals via one full
    * overwrite first). */
  def create(spark: SparkSession, mv: String, src: String,
      groupCols: Seq[String], aggs: Seq[MvAgg],
      stateMerge: Boolean = false): Long = {
    require(groupCols.nonEmpty, "graft mv: at least one group column")
    require(aggs.nonEmpty, "graft mv: at least one aggregate")
    val srcV = GraftTableLog.latestVersion(src).getOrElse(
      throw new IllegalArgumentException(
        s"graft mv: source $src is not a committed graft table"))
    val schema = spark.read.format(fmt).option("path", src).load().schema
    val names = schema.fieldNames.toSet
    groupCols.foreach(c => require(names.contains(c),
      s"graft mv: group column '$c' not in source schema"))
    aggs.foreach { a =>
      require(Set("count", "sum", "avg", "min", "max", "hll")(a.func),
        s"graft mv: unsupported aggregate '${a.func}' " +
          "(count/sum/avg/min/max/hll)")
      require(a.col == "*" || names.contains(a.col),
        s"graft mv: aggregate column '${a.col}' not in source schema")
      require(a.col == "*" || Ident.pattern.matcher(a.col).matches(),
        s"graft mv: aggregate column '${a.col}' must be a plain identifier")
      require(Ident.pattern.matcher(a.alias).matches(),
        s"graft mv: alias '${a.alias}' must be a plain identifier")
      if (a.func == "sum" || a.func == "avg")
        require(schema(a.col).dataType.isInstanceOf[NumericType],
          s"graft mv: ${a.func}(${a.col}) needs a numeric column")
      if (a.func == "hll")
        require(a.col != "*",
          s"graft mv: hll needs a concrete column, not '*'")
    }
    val aliases = aggs.map(_.alias)
    require(aliases.distinct == aliases &&
        aliases.forall(a => !groupCols.contains(a) &&
          !reservedAlias(a) && !a.contains("__")),
      "graft mv: aliases must be unique, distinct from group columns, " +
        "and free of the '_mv_' prefix and '__' (reserved)")
    writeDef(mv, src, groupCols, aggs, stateMerge)
    healToState(spark, mv, src, groupCols, aggs, srcV, stateMerge)
  }

  /** `_mv_` names the refresh's own columns (row count, key, delete
    * flag, MERGE row kind): no aggregate alias may take it. */
  private def reservedAlias(a: String): Boolean = a.startsWith("_mv_")

  /** Full recompute of source version `srcV` committed as MV data + a
    * state record — create's body and refresh's heal path. */
  private def healToState(spark: SparkSession, mv: String, src: String,
      groupCols: Seq[String], aggs: Seq[MvAgg], srcV: Long,
      withKey: Boolean): Long = {
    val base = spark.read.format(fmt).option("path", src)
      .option("versionAsOf", srcV.toString).load()
    val st = fullState(base, groupCols, aggs)
    (if (withKey) clustered(st, groupCols) else st)
      .write.format(fmt).option("path", mv)
      .mode(org.apache.spark.sql.SaveMode.Overwrite).save()
    val mvV = GraftTableLog.latestVersion(mv).getOrElse(
      throw new IllegalStateException(
        s"graft mv: state overwrite committed but no log under $mv"))
    val seq = latestState(mv).map(_._1 + 1).getOrElse(0L)
    if (!claimState(mv, seq, srcV, mvV))
      // another creator/healer landed first; its state governs
      return latestState(mv).map(_._3).getOrElse(mvV)
    mvV
  }

  /** Run `body` with the session's job description set to `what`, then
    * restore the caller's — the refresh's jobs show up by name in the
    * Spark UI and listeners. */
  private def described[T](spark: SparkSession, what: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(what)
    try body finally sc.setLocalProperty("spark.job.description", prev)
  }

  /** Fold source changes since the last refresh into the view. Returns
    * the MV version now holding the current state (unchanged when the
    * source head equals the watermark). Safe to call concurrently and
    * to re-run after any crash — see the class doc's commit protocol. */
  def refresh(spark: SparkSession, mv: String): Long =
    refresh(spark, mv, () => ())

  /** [[refresh]] with `beforeStateMerge` run between merge mode's head
    * check and its state MERGE — the window a concurrent refresher's
    * commit can land in (specs drive it deterministically). */
  private[graft] def refresh(spark: SparkSession, mv: String,
      beforeStateMerge: () => Unit): Long = {
    val (src, groupCols, aggs, stateMerge) = readDef(mv)
    aggs.find(a => reservedAlias(a.alias)).foreach { a =>
      // a view defined before the prefix was reserved: its alias would
      // collide with the refresh's own `_mv_` columns
      throw new IllegalStateException(s"graft mv: alias '${a.alias}' of " +
        s"$mv takes the reserved '_mv_' prefix the refresh's own columns " +
        "use — drop the view and re-create it under another alias")
    }
    // every version and the source schema resolve ONCE here and are
    // passed down: each re-resolution is another log listing
    val srcHead = GraftTableLog.latestVersion(src).getOrElse(
      throw new IllegalStateException(
        s"graft mv: source $src of $mv has lost its version log"))
    val (seq, srcV0, mvV0) = latestState(mv) match {
      case None =>
        // creation crashed between definition and first state record
        return healToState(spark, mv, src, groupCols, aggs, srcHead,
          stateMerge)
      case Some(s) => s
    }
    if (srcHead == srcV0) return mvV0
    require(srcHead > srcV0,
      s"graft mv: source $src head $srcHead is BEHIND the processed " +
        s"watermark $srcV0 — the source was rolled back or vacuumed; " +
        "drop and re-create the view")
    // the pinned source head: its schema types the feed and the fold,
    // and the min/max/hll rebuild reads it
    val base = spark.read.format(fmt).option("path", src)
      .option("versionAsOf", srcHead.toString).load()
    val schema = base.schema
    val delta = GraftMaintenance.changeFeedRows(spark, src, srcV0, srcHead,
      Some(schema))
    // MERGE-MODE is only sound when the MV head IS the recorded state:
    // the merge mutates the raw head, and an orphaned crashed commit on
    // top would make the base unknowable — that case heals through one
    // overwrite instead
    val doMerge = stateMerge &&
      GraftTableLog.latestVersion(mv).contains(mvV0)
    val das = deltaAggs(schema, aggs)
    // The delta AGGREGATE (touched-group-sized, ≪ the row-level feed) is
    // PERSISTED: the summary action below and the state write (plus the
    // rebuild-key broadcast) all consume it, and each would otherwise
    // re-run the change-feed diff from scratch. Aggregating FIRST also
    // means the one feed execution shuffles group-sized partials, not
    // row images.
    val agg = delta.groupBy(groupCols.map(col): _*).agg(das.head, das.tail: _*)
    val d = (if (doMerge) agg.withColumn(KeyCol, keyExpr(groupCols))
      else agg).alias("d")
    d.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // ONE action: the touched-group count (delta empty ⇔ its aggregate
      // is empty — a repack-only span such as a compaction advances the
      // watermark without touching the view), the saw-a-delete flag and,
      // in merge mode, the touched key range. An insert-only span
      // (hasDel false — every plain ingest refresh) sends no group to
      // the rebuild-from-head branch, which then leaves the plan.
      val r = described(spark, s"graft mv refresh $mv: delta") {
        d.select(Seq(count(lit(1)), max(col("_mv_del"))) ++
          (if (doMerge) Seq(min(col(KeyCol)), max(col(KeyCol))) else Nil)
          : _*).head()
      }
      if (r.getLong(0) == 0L) {
        if (!claimState(mv, seq + 1, srcHead, mvV0))
          return latestState(mv).map(_._3).getOrElse(mvV0)
        return mvV0
      }
      // min/max/hll cannot un-see a deleted row: groups a DELETE image
      // touched rebuild from the head, semi-join-pruned to exactly
      // those keys (one output row per key that still has rows)
      val rebuilt =
        if (!rebuildsOnDelete(aggs) || r.isNullAt(1) || r.getInt(1) == 0)
          None
        else {
          val keys = d.filter(col("_mv_del") === 1)
            .select(groupCols.map(col): _*).alias("k")
          val kOn = groupCols.map(c => col(s"b.$c") <=> col(s"k.$c"))
            .reduce(_ && _)
          Some(fullState(
            base.alias("b").join(broadcast(keys), kOn, "left_semi"),
            groupCols, aggs))
        }
      val mvV =
        if (doMerge) {
          beforeStateMerge()
          val v = described(spark, s"graft mv refresh $mv: state merge") {
            mergeState(spark, mv, d, groupCols, aggs, schema, rebuilt,
              (r.getString(2), r.getString(3)))
          }
          // the MERGE ADDS the delta to whatever state rows it read, so
          // its commit is the state at srcHead only if it read mvV0. A
          // head of mvV0 + 1 right after it proves that: our commit is
          // at most the head and above mvV0, and nothing landed between
          // mvV0 and it. mvV0 means nothing committed at all (the MERGE
          // matched no state file and inserted nothing). Any other head
          // means a concurrent refresher committed in between and this
          // commit may fold the delta twice: never claim it — the
          // winner's state governs, and the next refresh heals the
          // orphan head through one overwrite
          if (v != mvV0 && v != mvV0 + 1)
            return latestState(mv).map(_._3).getOrElse(mvV0)
          v
        } else {
          described(spark, s"graft mv refresh $mv: state overwrite") {
            overwriteState(spark, mv, mvV0, d, groupCols, aggs, schema,
              rebuilt, stateMerge)
          }
          GraftTableLog.latestVersion(mv).getOrElse(
            throw new IllegalStateException(
              s"graft mv: state commit landed but no log under $mv"))
        }
      if (!claimState(mv, seq + 1, srcHead, mvV))
        // a concurrent refresh won the CAS: our data version is orphaned
        // by construction (no reader pins it); the winner's state governs
        return latestState(mv).map(_._3).getOrElse(mvV0)
      mvV
    } finally d.unpersist(false)
  }

  /** Per-aggregate fold of state `s(name)` with delta `d(name)` — the
    * (column, value) pairs for every state column. Counts and sums add,
    * an absent (NULL) side adding as 0. */
  private def foldCols(aggs: Seq[MvAgg], schema: StructType,
      s: String => Column, d: String => Column): Seq[(String, Column)] = {
    def cnt(n: String): (String, Column) =
      n -> (coalesce(s(n), lit(0)) + coalesce(d(n), lit(0)))
    cnt(RowsCol) +: aggs.flatMap { a =>
      def dec(n: String): (String, Column) = {
        val t = sumType(schema, a.col)
        n -> (coalesce(s(n), lit(0).cast(t)) +
          coalesce(d(n), lit(0).cast(t))).cast(t)
      }
      a.func match {
        case "count" => Seq(cnt(a.alias))
        case "sum" => Seq(dec(a.alias), cnt(a.alias + "__cnt"))
        case "avg" => Seq(dec(a.alias + "__sum"), cnt(a.alias + "__cnt"))
        // least/greatest SKIP nulls — correct merge of an absent side
        case "min" => Seq(a.alias -> least(s(a.alias), d(a.alias)))
        case "max" => Seq(a.alias -> greatest(s(a.alias), d(a.alias)))
        case "hll" =>
          // register-wise max of state ⊔ insert-image sketch; absent
          // side coalesces (register max over sketches of disjoint row
          // sets ≡ sketch of the union, so insert-only folds are
          // BIT-IDENTICAL to recompute)
          val s0 = s(a.alias); val d0 = d(a.alias)
          Seq(a.alias -> when(s0.isNull, d0).when(d0.isNull, s0)
            .otherwise(graft.expr.HllAgg.merge2(s0, d0)))
      }
    }
  }

  /** OVERWRITE-mode state write (and merge mode's orphan-head heal):
    * the recorded state full-outer-joined with the delta, folded, and
    * written over the whole MV table. */
  private def overwriteState(spark: SparkSession, mv: String, mvV0: Long,
      d: DataFrame, groupCols: Seq[String], aggs: Seq[MvAgg],
      schema: StructType, rebuilt: Option[DataFrame],
      clusterKey: Boolean): Unit = {
    val cur = spark.read.format(fmt).option("path", mv)
      .option("versionAsOf", mvV0.toString).load().alias("c")
    // FULL OUTER on null-safe group equality: NULL is a group key
    val on = groupCols.map(c => col(s"c.$c") <=> col(s"d.$c")).reduce(_ && _)
    val merged = cur.join(d, on, "full_outer").select(
      groupCols.map(c => coalesce(col(s"c.$c"), col(s"d.$c")).as(c)) ++
        foldCols(aggs, schema, n => col(s"c.$n"), n => col(s"d.$n"))
          .map { case (n, v) => v.as(n) } :+
        coalesce(col("d._mv_del"), lit(0)).as("_mv_del"): _*)
    val sCols = groupCols ++ stateCols(aggs)
    // rebuilt groups replace their folded rows
    val kept = merged.filter(col(RowsCol) > 0 &&
        (if (rebuilt.isDefined) col("_mv_del") === 0 else lit(true)))
      .select(sCols.map(col): _*)
    val out = rebuilt.fold(kept)(rb =>
      kept.unionByName(rb.select(sCols.map(col): _*)))
    (if (clusterKey) clustered(out, groupCols) else out)
      .write.format(fmt).option("path", mv)
      .mode(org.apache.spark.sql.SaveMode.Overwrite).save()
  }

  /** MERGE-mode state write: ONE row-level `MERGE INTO` the MV keyed by
    * `_mv_key` — one lock, one swap, one MV version. Its source is one
    * row per touched group, tagged by `_mv_op`:
    *   - `fold`: the group's delta, folded into the matched state row by
    *     the UPDATE's assignments (or INSERTed as the new group's state);
    *   - `replace`: a group rebuilt from the head (min/max/hll after a
    *     DELETE image), written over the state row whole;
    *   - `delete`: a rebuild key with no rows left at the head.
    *
    * {{{
    * MERGE INTO mv t USING source s
    *   ON t._mv_key = s._mv_key AND t._mv_key BETWEEN lo AND hi
    * WHEN MATCHED AND s._mv_op = 'delete' OR t._mv_rows + s._mv_rows <= 0
    *   THEN DELETE
    * WHEN MATCHED AND s._mv_op = 'replace' THEN UPDATE SET *
    * WHEN MATCHED THEN UPDATE SET <fold>
    * WHEN NOT MATCHED AND s._mv_op <> 'delete' AND s._mv_rows > 0
    *   THEN INSERT *
    * }}}
    * The key range `[lo, hi]` (the delta's, from the summary action) is
    * a target-only conjunct Spark pushes to the row-level scan: the
    * range-clustered state's zone maps prune the rewrite to the touched
    * band's files. Source keys are unique and non-null by construction
    * (one row per group, the injective [[keyExpr]]). Returns the MV
    * head after the commit. */
  private def mergeState(spark: SparkSession, mv: String, d: DataFrame,
      groupCols: Seq[String], aggs: Seq[MvAgg], schema: StructType,
      rebuilt: Option[DataFrame], keyRange: (String, String)): Long = {
    import org.apache.spark.sql.catalyst.expressions.Alias
    import org.apache.spark.sql.catalyst.plans.logical.{Assignment,
      DeleteAction, InsertStarAction, Join, MergeIntoTable, Project,
      UpdateAction, UpdateStarAction}
    val sCols = groupCols ++ stateCols(aggs) :+ KeyCol
    val fold = (if (rebuilt.isDefined) d.filter(col("_mv_del") === 0) else d)
      .select(sCols.map(col) :+ lit("fold").as(OpCol): _*)
    val source = rebuilt.fold(fold) { rb =>
      val k = d.filter(col("_mv_del") === 1).alias("k")
      val on = groupCols.map(c => col(s"k.$c") <=> col(s"r.$c"))
        .reduce(_ && _)
      fold.unionByName(k.join(rb.alias("r"), on, "left").select(
        groupCols.map(c => col(s"k.$c").as(c)) ++
          stateCols(aggs).map(c => col(s"r.$c").as(c)) ++
          Seq(col(s"k.$KeyCol").as(KeyCol),
            when(col(s"r.$RowsCol").isNull, lit("delete"))
              .otherwise(lit("replace")).as(OpCol)): _*))
    }
    def t(n: String): Column = col(s"t.$n")
    def s(n: String): Column = col(s"s.$n")
    val on = t(KeyCol) === s(KeyCol) &&
      t(KeyCol).between(lit(keyRange._1), lit(keyRange._2))
    val set = foldCols(aggs, schema, t, s)
    val clauses = Seq(
      s(OpCol) === lit("delete") || t(RowsCol) + s(RowsCol) <= 0,
      s(OpCol) === lit("replace"),
      s(OpCol) =!= lit("delete") && s(RowsCol) > 0) ++ set.map(_._2)
    // resolved through an analyzed join over the MV's own relation, so
    // the command, its condition and every action share attribute ids
    val Project(list, Join(target, srcPlan, _, Some(cond), _)) =
      spark.read.format(fmt).option("path", mv).load().alias("t")
        .join(source.alias("s"), on)
        .select(clauses.zipWithIndex.map { case (c, i) => c.as(s"_c$i") }: _*)
        .queryExecution.analyzed
    val exprs = list.map { case a: Alias => a.child }
    val assignments = set.map(_._1).zip(exprs.drop(3)).map { case (n, e) =>
      Assignment(target.output.find(_.name == n).get, e)
    }
    GraftMaintenance.runRowLevel(spark, mv, MergeIntoTable(target, srcPlan,
      cond,
      Seq(DeleteAction(Some(exprs(0))), UpdateStarAction(Some(exprs(1))),
        UpdateAction(None, assignments)),
      Seq(InsertStarAction(Some(exprs(2)))), Nil,
      withSchemaEvolution = false))
  }

  /** The view's CURRENT contents — the committed state projected to the
    * user-facing aggregate columns. Reads the MV table AS OF the state
    * record's version, never the raw head, so a crashed or CAS-losing
    * refresh's orphan commit is invisible. */
  def read(spark: SparkSession, mv: String): DataFrame = {
    val (src, groupCols, aggs, _) = readDef(mv)
    val (_, _, mvV) = latestState(mv).getOrElse(
      throw new IllegalStateException(
        s"graft mv: $mv has a definition but no committed state — " +
          "creation crashed; run refresh() to heal"))
    val schema = spark.read.format(fmt).option("path", src).load().schema
    val st = spark.read.format(fmt).option("path", mv)
      .option("versionAsOf", mvV.toString).load()
    st.select(groupCols.map(col) ++ aggs.map { a =>
      a.func match {
        case "count" | "min" | "max" => col(a.alias)
        case "sum" =>
          // non-null count 0 → NULL, like SQL SUM over an all-NULL group
          val v = if (isFractional(schema(a.col).dataType))
            col(a.alias).cast("double")
          else col(a.alias).cast("long")
          when(col(a.alias + "__cnt") > 0, v).otherwise(lit(null)).as(a.alias)
        case "avg" =>
          when(col(a.alias + "__cnt") > 0,
            col(a.alias + "__sum").cast("double") / col(a.alias + "__cnt"))
            .otherwise(lit(null)).as(a.alias)
        case "hll" =>
          graft.expr.HllAgg.estimate(col(a.alias)).as(a.alias)
      }
    }: _*)
  }

  /** The raw state table at the committed state version — spec surface
    * for parity checks against [[fullState]]-by-hand. */
  def stateSnapshot(spark: SparkSession, mv: String): DataFrame = {
    val (_, _, mvV) = latestState(mv).getOrElse(
      throw new IllegalStateException(s"graft mv: no committed state at $mv"))
    spark.read.format(fmt).option("path", mv)
      .option("versionAsOf", mvV.toString).load()
  }

  /** Drop the view: definition, state records, and the state table —
    * the whole MV directory. Refuses for a path that holds no committed
    * MV definition (the guard against deleting an ordinary table by
    * mistake). A refresh racing the drop loses harmlessly: its state
    * CAS has no `_graft_mv` directory left to land in and fails
    * loudly rather than resurrecting the view. */
  def drop(mv: String): Unit = {
    readDef(mv) // throws unless a committed definition exists
    val p = new Path(mv)
    val fs = p.getFileSystem(conf)
    require(fs.delete(p, true), s"graft mv: failed to delete $mv")
  }

  /** CONTINUOUS MV maintenance: a Structured Streaming query over the
    * source table's VERSION FEED ([[GraftVersionFeed]] — one metadata
    * row per commit, no append-only restriction) whose micro-batches
    * act as COMMIT SIGNALS — each batch fires one [[refresh]], so the
    * MV follows the source through the FULL writer alphabet (appends,
    * COW deletes, MERGE, compaction) continuously. Correctness never
    * rides on batch boundaries: refresh reads the change feed itself
    * under the state CAS, so a duplicate fire is a watermark no-op, a
    * crashed batch re-fires idempotently on restart, and a concurrent
    * manual refresh just wins or loses the CAS. The batch DataFrame is
    * deliberately never acted on (the signal costs one manifest read;
    * refresh pulls exactly the feed it needs). What the stream layer
    * contributes is what the refresh protocol lacks: trigger discipline
    * (`AvailableNow` drains to a fixed point and terminates; a
    * processing-time trigger polls a live table) and checkpointed
    * restart. */
  def refreshStream(spark: SparkSession, mv: String, checkpoint: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val (src, _, _, _) = readDef(mv)
    spark.readStream.format(fmt).option("path", src)
      .option(GraftVersionFeed.OptionKey, "true").load()
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (_: DataFrame, _: Long) => refresh(spark, mv); () }
      .start()
  }
}
