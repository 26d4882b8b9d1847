package graft.engine

import java.nio.file.{Paths, StandardCopyOption}
import java.util.UUID
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.tableformat._
import graft.tableformat.FileIO.io
import DeletionVectors.relDataPathStr

/** Spark-native versioned table: the engine facade binding the
  * tableformat metadata layer to SparkSession (SURVEY.md §7 module 2).
  *
  * Re-expresses the reference's Iceberg surface — snapshots, time travel,
  * field-id schema evolution, CoW row-level DML, metadata tables,
  * changelog — as plain DataFrame ops over explicit parquet file lists.
  *
  * Scale design:
  *   - planning is metadata-only: reads consume the snapshot's file list,
  *     never a directory listing;
  *   - appends touch only new files; DELETE/UPDATE rewrite only the files
  *     that contain matching rows (file-granularity CoW, found with one
  *     predicate-pushed scan over input_file_name);
  *   - hidden partitioning writes layout dirs (`_p_*=v`) whose values are
  *     recorded per-file in the manifest, so partition pruning is a pure
  *     metadata filter (O(#files), no I/O).
  */
final class GraftTable(val spark: SparkSession, val location: String) {

  def meta: TableMetadata = MetadataIO.read(location)

  // ------------------------------------------------------------------ read

  /** Current-snapshot read, mapped to the current schema. `meta` is
    * read ONCE — two reads could pair an old schema list with a newer
    * snapshot if a commit lands in between, defeating the atomic hint
    * swap's torn-read protection.
    */
  def read(): DataFrame = {
    val m = meta
    tagReadRoot(readSnapshot(m, m.currentSnapshot), m, None)
  }

  /** Mark an engine read's analyzed root with its provenance so later
    * plan composition (DataFrame-API joins are analyzed eagerly, leaf
    * by leaf) can still recognize the scan and re-derive it pruned —
    * see [[graft.catalog.JoinFilePruning]]. The captured metadata +
    * snapshot keep the re-derivation SNAPSHOT-CONSISTENT: a commit
    * landing between `read()` and the join must not change what the
    * captured DataFrame reads.
    */
  private def tagReadRoot(df: DataFrame, m: TableMetadata,
      cond: Option[org.apache.spark.sql.catalyst.expressions.Expression]): DataFrame = {
    m.currentSnapshot.foreach(s => df.queryExecution.analyzed
      .setTagValue(GraftTable.ReadRoot, (this, m, s, cond)))
    df
  }

  /** Time travel by wall-clock (reference: FOR SYSTEM_TIME AS OF,
    * apiv15.py:154-157).
    */
  def readAsOfTime(tsMs: Long): DataFrame = {
    val m = meta
    readSnapshot(m, m.snapshotAsOfTime(tsMs))
  }

  /** Time travel by snapshot id (reference: VERSION AS OF, cell 45). */
  def readAsOfVersion(snapshotId: Long): DataFrame = {
    val m = meta
    readSnapshot(m, m.snapshotById(snapshotId))
  }

  /** Read a column that may only exist under a historical name — the
    * reference's core GetColumn semantic (apiv15.py:170-209): resolve via
    * field-ids, then project the current column.
    */
  def readColumn(requestedName: String): DataFrame = {
    val m = meta
    SchemaHistory.resolve(m, requestedName) match {
      case SchemaHistory.Current(n)       => read().select(col(s"`$n`"))
      case SchemaHistory.Renamed(n, _, _) => read().select(col(s"`$n`"))
      case SchemaHistory.Dropped(id) =>
        sys.error(s"column '$requestedName' (field-id $id) was dropped")
      case SchemaHistory.NeverExisted =>
        sys.error(s"column '$requestedName' never existed in any schema")
    }
  }

  /** Exact row count of the current snapshot. When no delete file
    * reaches the snapshot's data files ([[deletesReaching]]) the answer
    * is manifest arithmetic — the sum of per-file record counts, ZERO
    * data I/O and zero Spark jobs (the same shortcut as Iceberg's
    * count(*) aggregate pushdown): at 100 TB this answers in
    * driver-side milliseconds from O(#files) metadata. With live
    * merge-on-read deletes the manifest alone is unsound — positional
    * pointers can repeat (double deletes) and equality deletes can't be
    * counted without reading keys — so the count falls back to the
    * merged read; `rewriteDeletedDataFiles()` restores the fast path.
    */
  def countRows(): Long = {
    val m = meta
    m.currentSnapshot match {
      case None => 0L
      // manifest-REF arithmetic, never the entries: totalRecords sums
      // the refs' recorded counts, so a COLD count over a 10⁶-file
      // table reads one manifest list, not a million JSON lines (the
      // per-entry sum here measured 4.5 s cold at the 1M soak shape;
      // the ref sum is milliseconds)
      case Some(s) if deletesReaching(s, s.files).isEmpty => s.totalRecords
      case Some(s) => liveRows(m, s, s.files).count()
    }
  }

  /** Exact FILTERED row count with manifest arithmetic wherever the
    * predicate is provable file-wise: inclusive pruning drops the
    * files wholly outside `cond`, STRICT evaluation
    * ([[StatsPruning.allMatch]]) counts the files wholly inside from
    * their manifest record counts, and only the ambiguous boundary
    * files have their rows read. A time-range count over a
    * time-clustered 100 TB table reads two boundary files' data and
    * answers the rest from O(#files) metadata. MoR deletes reaching the
    * candidate files force the exact merged-scan count (same soundness
    * rule as [[countRows]]).
    */
  def countWhere(cond: Column): Long = {
    val m = meta
    m.currentSnapshot match {
      case None => 0L
      case Some(s) if deletesReaching(s,
          prunedSnapshotFiles(m, s, exprOf(cond))).nonEmpty =>
        readWhere(cond).count()
      case Some(s) =>
        val e = exprOf(cond)
        // manifest tier first (sealed snapshots): a summary-strict
        // manifest counts from its ref without loading entries; a
        // summary-excluded one contributes nothing; only the boundary
        // manifests open
        val (manifestRows, candFiles) = s.manifestList match {
          case None => (0L, s.files)
          case Some(_) =>
            val keep = s.manifests.filter(_.kind == "data")
              .filter(r => manifestMayMatch(m, r, e))
            val (wholeRefs, loadRefs) =
              keep.partition(r => manifestAllMatch(m, r, e))
            (wholeRefs.map(_.recordCount).sum, loadRefs.flatMap(r =>
              graft.tableformat.Manifests.readEntries(location, r)))
        }
        val cand = pruneCandidates(m, candFiles, e)
        val (whole, boundary) =
          cand.partition(f => StatsPruning.allMatch(m, f, e))
        manifestRows + whole.map(_.recordCount).sum +
          (if (boundary.isEmpty) 0L
           else readFiles(m, boundary).filter(cond).count())
    }
  }

  /** Manifest-only COUNT(col) — non-null count, completing Iceberg's
    * pushed-aggregate trio (COUNT(*), COUNT(col), MIN/MAX): per-file
    * recordCount minus nullCount, summed. None whenever unsound —
    * live delete files, or any file missing the field's null count
    * (pre-ADD-COLUMN files null-fill the column but record nothing).
    */
  def countNonNull(name: String): Option[Long] = countNonNull(meta, name)

  /** Metadata-parameterized twin: [[statsDf]] passes its one `meta`
    * read so every column's cell reflects the SAME snapshot (a commit
    * landing mid-iteration must not tear the stats row).
    */
  private[graft] def countNonNull(m: TableMetadata,
      name: String): Option[Long] =
    m.currentSnapshot match {
      // a never-committed table is EMPTY, not unknown: COUNT(col) = 0
      // (mirrors countRows' None => 0L), provided the column exists
      case None => m.currentSchema.fieldByName(name).map(_ => 0L)
      case Some(s) if deletesReaching(s, s.files).nonEmpty => None
      case Some(s) => countNonNullIn(m, s.files, name)
    }

  /** [[countNonNull]] restricted to a file subset — the filtered
    * aggregate pushdown counts only the strictly-matching files.
    * Callers guarantee the subset's soundness (no deletes in play).
    */
  private[graft] def countNonNullIn(m: TableMetadata,
      files: Vector[DataFileEntry], name: String): Option[Long] =
    for {
      field <- m.currentSchema.fieldByName(name)
      key = field.id.toString
      // 0-row files (a CoW rewrite that deleted a file's every row)
      // record no stats AND contribute nothing — skip, don't refuse
      counts <- traverseOpt(files.filter(_.recordCount > 0))(f =>
        f.nullCounts.get(key).map(nc => f.recordCount - nc))
    } yield counts.sum

  /** Manifest-only MIN/MAX: the table-wide bounds of column `name`
    * from per-file manifest bounds — zero data I/O, the MIN/MAX half
    * of Iceberg's aggregate pushdown next to [[countRows]]. Returns
    * the (lower, upper) pair in the manifest's string encoding, or
    * None whenever manifest arithmetic would be UNSOUND:
    *   - live delete files (a delete may have removed the extreme
    *     row — file bounds are inclusive ranges, not live extremes);
    *   - any data file missing a bound for the field (an all-NULL
    *     file records none — harmless, NULLs don't participate in
    *     MIN/MAX — but indistinguishable from a pre-stats file whose
    *     rows could lie anywhere, so both stay conservative);
    *   - a type whose manifest encoding has no total order here
    *     (float/double/string/int/long/date/timestamp are covered).
    * None means "compute it with a scan", never a wrong answer.
    */
  def columnBounds(name: String): Option[(String, String)] =
    columnBounds(meta, name)

  /** Metadata-parameterized twin — see [[countNonNull]]'s overload. */
  private[graft] def columnBounds(m: TableMetadata,
      name: String): Option[(String, String)] =
    m.currentSnapshot match {
      case Some(s) if deletesReaching(s, s.files).isEmpty =>
        columnBoundsIn(m, s.files, name)
      case _ => None
    }

  /** [[columnBounds]] restricted to a file subset — see
    * [[countNonNullIn]].
    */
  private[graft] def columnBoundsIn(m: TableMetadata,
      files: Vector[DataFileEntry],
      name: String): Option[(String, String)] = {
    // 0-row files record no stats and bound nothing — skip them (same
    // rule as countNonNull); an all-0-row set falls to None
    val live = files.filter(_.recordCount > 0)
    for {
      _ <- Option.when(live.nonEmpty)(())
      field <- m.currentSchema.fieldByName(name)
      key = field.id.toString
      // a file whose null count equals its row count is all-NULL in
      // this column: its absent bounds are explained, and NULLs don't
      // participate in MIN/MAX — skip it rather than refuse
      contributing = live.filterNot(f =>
        f.nullCounts.get(key).contains(f.recordCount))
      if contributing.nonEmpty
      // a file written before alterColumnType widened this column
      // recorded bounds in the OLD type's encoding — a float "0.1"
      // reread as double, date epoch-days reread as micros — so any
      // type-unstable contributor makes manifest min/max unsound
      if contributing.forall(f => StatsPruning.boundTypeStable(m, f, field))
      raws <- traverseOpt(contributing)(f =>
        for (lo <- f.lowerBounds.get(key); hi <- f.upperBounds.get(key))
          yield (lo, hi))
      parsed <- traverseOpt(raws) { case (lo, hi) =>
        for (pl <- StatsPruning.parseBound(field.dataType, lo);
             ph <- StatsPruning.parseBound(field.dataType, hi))
          yield ((lo, pl), (hi, ph))
      }
    } yield (parsed.map(_._1).minBy(_._2)(orderOf),
      parsed.map(_._2).maxBy(_._2)(orderOf)) match {
      case ((lo, _), (hi, _)) => (lo, hi)
    }
  }

  private def orderOf: Ordering[Any] =
    (a: Any, b: Any) => StatsPruning.cmp(a, b)

  private def traverseOpt[A, B](xs: Vector[A])(f: A => Option[B]): Option[Vector[B]] = {
    val out = xs.map(f)
    if (out.forall(_.isDefined)) Some(out.map(_.get)) else None
  }

  /** Partition-pruned read: keeps only files whose recorded partition
    * values pass `keep`. Metadata-only pruning — at 100 TB this is the
    * difference between scanning a day and scanning the table.
    *
    * Mixed-spec caution: after [[setPartitionSpec]] older files carry
    * the layout they were written with (possibly no values at all), so
    * `keep` MUST treat an absent key as "keep" (`pv.get(k).forall(...)`,
    * not `.exists(...)`) — a file whose layout can't prove exclusion
    * must be read.
    */
  def readPruned(keep: Map[String, String] => Boolean): DataFrame = {
    val m = meta
    m.currentSnapshot match {
      case None => emptyDf(m)
      case Some(s) =>
        // manifest tier: a summarized manifest records every entry's
        // distinct partition-value row, so `keep` rejecting ALL combos
        // rejects every file inside — the manifest never opens
        val files = s.manifestList match {
          case None => s.files
          case Some(_) => s.manifests.filter(_.kind == "data")
            .filter(r => r.partitionCombos.isEmpty ||
              r.partitionCombos.exists(keep))
            .flatMap(r => Manifests.readEntries(location, r))
        }
        liveRead(m, s, files.filter(f => keep(f.partitionValues)))
    }
  }

  /** Filter-pruned read: the predicate decides file candidacy
    * METADATA-ONLY — partition transforms veto whole partitions
    * ([[PartitionPruning]]: `WHERE ts >= X` prunes a `month(ts)`
    * layout, `WHERE id = k` prunes `bucket(N, id)`), then manifest
    * min/max bounds veto files inside the survivors ([[StatsPruning]]).
    * The filter itself still runs — pruning only shrinks the scan, so
    * its tri-state conservatism can never change results. This is the
    * path the SQL rule routes `WHERE` through; at 100 TB it is the
    * difference between opening a day's files and opening the table's.
    */
  def readWhere(cond: Column): DataFrame =
    readPrunedBy(exprOf(cond)).filter(cond)

  /** The scan half of [[readWhere]] — no residual filter applied;
    * callers (the resolution rule keeps Spark's own Filter node above)
    * must apply `cond` themselves.
    */
  private[graft] def readPrunedBy(cond: org.apache.spark.sql.catalyst.expressions.Expression): DataFrame = {
    val m = meta
    m.currentSnapshot match {
      case None => emptyDf(m)
      case Some(s) => tagReadRoot(readPrunedIn(m, s, cond), m, Some(cond))
    }
  }

  /** [[readPrunedBy]] against an EXPLICIT (metadata, snapshot) pair —
    * the re-derivation seam join-driven pruning uses to rebuild a
    * captured read with the join-key domain folded into its file
    * planning, without moving the read to a newer snapshot.
    */
  private[graft] def readPrunedIn(m: TableMetadata, s: Snapshot,
      cond: org.apache.spark.sql.catalyst.expressions.Expression,
      residual: Seq[org.apache.spark.sql.catalyst.expressions.Expression] = Nil)
      : DataFrame = {
    // subquery-domain pruning: evaluated once here, used for BOTH the
    // manifest veto and the file pruning below (the caller's own
    // Filter node still executes the original predicate)
    val (pruneCond, extras) = SubqueryPruning.augmentSplit(spark, cond)
    val kept = prunedSnapshotFiles(m, s, pruneCond)
    GraftTable.lastPrunedReadFiles.set(kept.size.toLong)
    val base = liveRead(m, s, kept)
    // evaluated domains — the caller's `residual` (join-key IN-set /
    // range, retained by NOTHING above the swapped scan) plus the
    // subquery extras (retained only as the original, unevaluated
    // subquery form) — are re-applied as DATA filters so the kept
    // files' scans skip INSIDE files too
    applyResidual(m, base, residual ++ extras)
  }

  /** Push evaluated pruning domains into the kept files' SCANS.
    * File-level pruning decides candidacy from manifests, but a kept
    * file is otherwise read whole; re-applying the same IN-set/range
    * as a data filter lets parquet row-group stats, dictionary pages,
    * and armed bloom filters skip row groups inside kept files — at
    * 100 TB with large files this is the next order of magnitude after
    * file-level pruning. Sound by the same argument as the file veto:
    * every conjunct here is implied by the caller's own predicate or
    * join, so rows it removes could never reach the output. Guards: a
    * conjunct is re-applied only when deterministic, subquery-free,
    * resolvable by NAME against the current schema, and with IN-sets
    * no wider than spark.graft.dynamicPruning.residualMaxIn (default
    * 1000 — still a pushable parquet predicate; wider domains skip the
    * residual rather than bloat every task). Any analysis failure
    * falls back to the unfiltered read — pruning must never introduce
    * a failure mode.
    */
  private def applyResidual(m: TableMetadata, base: DataFrame,
      conjs: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : DataFrame = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{And => CAnd,
      AttributeReference, Expression => CExpr, In => CIn,
      Literal => CLit, SubqueryExpression}
    if (conjs.isEmpty) return base
    // toIntOption, not toInt: a malformed conf value must degrade to
    // the default, not fail every pruned read (the no-failure contract)
    val maxIn = spark.conf
      .getOption("spark.graft.dynamicPruning.residualMaxIn")
      .flatMap(_.toIntOption).getOrElse(1000)
    val colNames = m.currentSchema.fields.map(_.name).toSet
    def usable(e: CExpr): Boolean =
      e.deterministic && e != CLit.TrueLiteral &&
        !e.exists(_.isInstanceOf[SubqueryExpression]) &&
        !e.exists { case i: CIn => i.list.size > maxIn; case _ => false }
    def byName(e: CExpr): Option[CExpr] = {
      var ok = true
      val named = e.transform {
        case a: AttributeReference =>
          if (colNames.contains(a.name)) UnresolvedAttribute.quoted(a.name)
          else { ok = false; a }
        case u: UnresolvedAttribute =>
          if (u.nameParts.size == 1 && colNames.contains(u.nameParts.head)) u
          else { ok = false; u }
      }
      if (ok) Some(named) else None
    }
    val exprs = conjs.filter(usable).flatMap(byName)
    if (exprs.isEmpty) base
    else
      try base.filter(org.apache.spark.sql.graftshim.columnOf(
        exprs.reduce(CAnd(_, _))))
      catch { case scala.util.control.NonFatal(_) => base }
  }

  /** Current-state read of an EXPLICIT metadata document — the
    * read-your-own-writes seam: SQL reads inside an open transaction
    * resolve against the transaction's PREVIEW metadata (the staged
    * transforms applied to the base), so a SELECT after a staged
    * INSERT/DELETE/UPDATE/MERGE sees the statements before it, exactly
    * as sequential SQL promises. Staged data files are on disk already
    * (files-before-metadata staging order), so the read is ordinary;
    * metadata tables (history/snapshots/refs) intentionally keep
    * showing COMMITTED state — staged work is not a snapshot yet.
    */
  private[graft] def readPreview(m: TableMetadata): DataFrame =
    readSnapshot(m, m.currentSnapshot)

  /** [[readPrunedBy]] against preview metadata — see [[readPreview]]. */
  private[graft] def readPreviewPrunedBy(m: TableMetadata,
      cond: org.apache.spark.sql.catalyst.expressions.Expression): DataFrame =
    m.currentSnapshot match {
      case None    => emptyDf(m)
      case Some(s) => readPrunedIn(m, s, cond)
    }

  // LocalRelation-backed, NOT an empty RDD: plans as LocalTableScan
  // (zero jobs), and its stats are a true 0 bytes — an RDD-backed empty
  // frame reports unknown (Long.MaxValue) stats, which e.g. makes a
  // pruned-to-empty subquery look too big for domain evaluation
  private def emptyDf(m: TableMetadata): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      m.currentSchema.toStructType)

  private def readSnapshot(m: TableMetadata, snap: Option[Snapshot]): DataFrame =
    snap match {
      case None    => emptyDf(m)
      case Some(s) => liveRead(m, s, s.files)
    }

  /** Field-id mapped read core: group files by written schema, read
    * each group with its write-time schema, rename/null-fill to the
    * current schema, union; `extra` appends provenance columns inside
    * each scan (so `_metadata` references bind to the right relation).
    * Dropped columns vanish; added columns null-fill; renamed columns
    * follow their field-id (SURVEY §7 risk 1). Callers handle the
    * empty-file-list case (their provenance placeholders differ).
    */
  private def mappedRead(m: TableMetadata, files: Vector[DataFileEntry],
      extra: Seq[Column],
      target: Option[graft.tableformat.VersionedSchema] = None): DataFrame = {
    val cur = target.getOrElse(m.currentSchema)
    // identity-partition sources readable from partition METADATA: an
    // add_files import of a Hive layout carries the partition column
    // only in the directory path, so its per-file value is injected as
    // a constant at read time (exactly Iceberg's identity-partition
    // constant read). Native files always contain every column
    // physically (the writer keeps partition sources in file contents),
    // so injection is restricted to absolute-path (imported) entries —
    // a native old file missing a later-added column null-fills as
    // before.
    val identSources: Map[Int, String] = m.currentSpec.fields
      .filter(_.transform == "identity").map(pf => pf.sourceId -> pf.name).toMap
    def injections(f: DataFileEntry): Map[Int, String] =
      if (!f.path.startsWith("/")) Map.empty
      else {
        val written = m.schemaById(f.schemaId)
        cur.fields.flatMap { cf =>
          if (written.exists(_.fieldById(cf.id).isDefined)) None
          else identSources.get(cf.id)
            .flatMap(pn => f.partitionValues.get(pn)).map(cf.id -> _)
        }.toMap
      }
    val bySchema = files.groupBy(f => (f.schemaId, injections(f))).toSeq
      .sortBy(g => (g._1._1, g._1._2.toSeq.sorted.mkString("")))
    bySchema.map { case ((sid, inj), fs) =>
      val written = m.schemaById(sid)
        .getOrElse(sys.error(s"schema $sid missing from metadata"))
      val raw = spark.read.schema(written.toStructType)
        .parquet(fs.map(f => absPath(f.path)): _*)
      val cols = cur.fields.map { f =>
        written.fieldById(f.id) match {
          case Some(w) => col(s"`${w.name}`").cast(f.sparkType).as(f.name)
          case None => inj.get(f.id) match {
            case Some(v) => lit(v).cast(f.sparkType).as(f.name)
            case None    => lit(null).cast(f.sparkType).as(f.name)
          }
        }
      } ++ extra
      raw.select(cols: _*)
    }.reduce(_ unionByName _)
  }

  private def readFiles(m: TableMetadata, files: Vector[DataFileEntry]): DataFrame =
    if (files.isEmpty) emptyDf(m) else mappedRead(m, files, Nil)

  /** Data read with per-row provenance for MoR: file path + row index
    * from the parquet reader's metadata columns.
    */
  private def readFilesTagged(m: TableMetadata, files: Vector[DataFileEntry]): DataFrame =
    if (files.isEmpty)
      emptyDf(m).withColumn("_g_path", lit("")).withColumn("_g_pos", lit(0L))
    else mappedRead(m, files,
      Seq(col("_metadata.file_path").as("_g_path"),
        col("_metadata.row_index").as("_g_pos")))

  private def readFilesWithName(m: TableMetadata,
      files: Vector[DataFileEntry]): DataFrame =
    if (files.isEmpty) emptyDf(m).withColumn("_graft_file", lit(""))
    else mappedRead(m, files, Seq(input_file_name().as("_graft_file")))

  /** Column twin of [[DeletionVectors.relDataPathStr]]: the
    * location-relative form of a data-file path or URI, everything from
    * the last "/data/" boundary on. Positional delete rows are written
    * with scan-side keys in this form (absolute keys would resurrect
    * MoR-deleted rows once the table directory moved); the read path
    * applies those rows as deletion vectors keyed by the same form, and
    * the remaining joins of scan paths against manifest paths (the
    * equality-delete sequence lookup, MERGE's touched files, delete-file
    * compaction) normalize with this.
    */
  private def relDataPath(c: Column): Column =
    // second pass: a path with NO data/ segment (an add_files import)
    // stays absolute — strip the URI scheme the scan side reports
    // (`_metadata.file_path` is `file:///...`) so it matches the
    // scheme-less absolute path the manifest records
    regexp_replace(
      regexp_replace(c, "^.*/data/", "data/"),
      "^[a-zA-Z][a-zA-Z0-9+.\\-]*:/{0,2}(?=/)", "")

  /** Every spelling a MANIFEST path can take on the scan side. A
    * `data/...` key has one canonical form; an absolute add_files
    * import has TWO — the decoded filesystem path the manifest records
    * and the URI raw-path form `_metadata.file_path` reports (a space
    * becomes `%20`). Joins between scan-derived delete keys and
    * manifest paths must accept either, or an import under a
    * URI-significant character silently stops matching (surfaced by
    * the import-with-space probe: the read applied the delete, then
    * compaction resurrected the row).
    */
  private def relDataPathForms(p: String): Seq[String] = {
    val base = relDataPathStr(p)
    if (base.startsWith("data/")) Seq(base)
    else {
      val enc =
        try Paths.get(base).toUri.getRawPath
        catch { case _: Exception => base }
      Seq(base, enc).distinct
    }
  }

  /** Apply POSITIONAL deletes inside the scan: one codegen predicate,
    * `NOT deleted(_g_path, _g_pos)`, over the tagged rows — no join, no
    * exchange and no Spark job for the delete side. The positional
    * delete files are read on the driver when the DataFrame is built
    * (where a `spark.read.parquet` of them used to resolve and stat the
    * same files), once per file per JVM, into per-data-file position
    * bitmaps shipped in one broadcast per delete-file set
    * ([[DeletionVectors]]). The scan path is normalized with the same
    * [[DeletionVectors.relDataPathStr]] as the delete keys, so clones,
    * moved tables and add_files imports match exactly as before.
    */
  private def applyDeletes(tagged: DataFrame,
      deletes: Vector[DataFileEntry]): DataFrame = {
    val pos = deletes.filter(_.equalityIds.isEmpty) // positional kind only
    if (pos.isEmpty) tagged else tagged.filter(!deletedBy(pos))
  }

  /** Deletion vectors of the positional delete files `pos`. */
  private def positionVectors(pos: Vector[DataFileEntry])
      : org.apache.spark.broadcast.Broadcast[DeletionVectors] =
    DeletionVectors.broadcastOf(spark.sparkContext,
      pos.map(f => absPath(f.path)), spark.sessionState.newHadoopConf())

  /** Whether a tagged row (`_g_path`, `_g_pos`) is hidden by `pos`. */
  private def deletedBy(pos: Vector[DataFileEntry]): Column =
    DeletionVectors.deleted(col("_g_path"), col("_g_pos"), positionVectors(pos))

  /** Apply EQUALITY deletes: hide every data row whose key columns
    * equal a delete row's and whose file was committed STRICTLY before
    * the delete (seq rule — the batch committed with the delete
    * survives it). Delete-file key columns are stored under field-id
    * names (`_k_<id>`), so key-column renames can't break the match;
    * per-file sequences reach the data rows through a tiny broadcast
    * path→seq lookup. Anti joins broadcast the (small, micro-batch-
    * sized) delete rows; compaction reclaims them.
    */
  private def applyEqDeletes(m: TableMetadata, tagged: DataFrame,
      files: Vector[DataFileEntry],
      deletes: Vector[DataFileEntry]): DataFrame = {
    val eq = deletes.filter(_.equalityIds.nonEmpty)
    if (eq.isEmpty) return tagged
    Seq("_g_seq", "__sf_path", "__del_seq").foreach(c =>
      require(m.currentSchema.fieldByName(c).isEmpty,
        s"column name $c is reserved by the equality-delete read path"))
    val seqDf = spark.createDataFrame(
      files.flatMap(f => relDataPathForms(f.path).map(_ -> f.seq)))
      .toDF("__sf_path", "_g_seq")
    val withSeq = tagged.join(broadcast(seqDf),
      relDataPath(tagged("_g_path")) === seqDf("__sf_path"), "left")
      .drop("__sf_path")
    // group by (key set, write schema): each delete file is read with
    // its WRITE-TIME key types then cast to the current type — exactly
    // how mappedRead treats data files, so type widening on a key
    // column cannot break existing delete files
    val applied = eq.groupBy(f => (f.equalityIds, f.schemaId))
      .foldLeft(withSeq) { case (df, ((ids, schemaId), fs)) =>
        val (delAll, keyFields) = readEqGroup(m, ids, schemaId, fs)
        val keysEqual = ids.zip(keyFields).map { case (id, f) =>
          df(s"`${f.name}`") <=> delAll(s"_k_$id")
        }.reduce(_ && _)
        df.join(broadcast(delAll),
          keysEqual && df("_g_seq") < delAll("__del_seq"), "left_anti")
      }
    applied.drop("_g_seq")
  }

  /** One equality-delete group's rows (`_k_<id>` key columns cast to
    * the CURRENT key types + `__del_seq`) and the current key fields —
    * shared by the read path's anti-join and delete-file maintenance's
    * semi-join.
    */
  private def readEqGroup(m: TableMetadata, ids: Vector[Int],
      schemaId: Int, fs: Vector[DataFileEntry])
      : (DataFrame, Seq[FieldDef]) = {
    val written = m.schemaById(schemaId)
      .getOrElse(sys.error(s"schema $schemaId missing from metadata"))
    val keyFields = ids.map(id => m.currentSchema.fieldById(id)
      .getOrElse(sys.error(s"equality-delete key field $id was dropped; " +
        "compact the table before dropping key columns")))
    val delSchema = org.apache.spark.sql.types.StructType(
      ids.map { id =>
        val w = written.fieldById(id)
          .getOrElse(sys.error(s"field $id missing from schema $schemaId"))
        org.apache.spark.sql.types.StructField(s"_k_$id", w.sparkType)
      })
    // ONE scan per distinct sequence, not per file: a multi-part
    // delete commit lands several same-seq entries, and a per-file
    // union would bloat the plan with one FileScan job each (measured
    // >1s of pure job overhead per 32-part batch at sf0.1)
    val delAll = fs.groupBy(_.seq).toSeq.map { case (seq, sfs) =>
        spark.read.schema(delSchema)
          .parquet(sfs.map(f => absPath(f.path)): _*)
          .withColumn("__del_seq", lit(seq))
      }
      .reduce(_ unionByName _)
      .select(ids.zip(keyFields).map { case (id, f) =>
        col(s"_k_$id").cast(f.sparkType).as(s"_k_$id")
      } :+ col("__del_seq"): _*)
    (delAll, keyFields)
  }

  /** Live (delete-applied) tagged rows of `files` under snapshot
    * `snap` — the ONE read every DML/merge/upsert path uses, so no
    * writer can ever resurrect a row hidden by either delete kind.
    * Only the deletes reaching `files` apply.
    */
  private def liveRows(m: TableMetadata, snap: Snapshot,
      files: Vector[DataFileEntry]): DataFrame = {
    val dels = deletesReaching(snap, files)
    applyEqDeletes(m, applyDeletes(readFilesTagged(m, files), dels),
      files, dels)
  }

  /** [[liveRows]] without the provenance columns — and a plain scan,
    * with no delete read, filter or join, when no delete of `snap`
    * reaches `files`. Every untagged read of a snapshot goes through
    * here: positional deletes filter inside the scan by (path, pos)
    * ([[applyDeletes]]), equality deletes anti-join by key value +
    * sequence against broadcast delete rows.
    */
  private def liveRead(m: TableMetadata, snap: Snapshot,
      files: Vector[DataFileEntry]): DataFrame =
    if (deletesReaching(snap, files).isEmpty) readFiles(m, files)
    else liveRows(m, snap, files).drop("_g_path", "_g_pos")

  /** The delete files of `snap` that can hide a row of `files`,
    * decided from manifest metadata alone:
    *   - a positional delete reaches a file it records as a target
    *     (`referencedDataFiles`, under any [[relDataPathForms]]
    *     spelling, so clones and rehomed files still match); one with
    *     no recorded targets reaches every file;
    *   - an equality delete reaches a file committed strictly before
    *     it (the sequence rule [[applyEqDeletes]] evaluates per row).
    * Reads apply only these, and every commit that removes data files
    * carries only the deletes reaching its survivors: a delete whose
    * targets were all rewritten away is dead, and dropping it keeps a
    * later [[addFiles]] re-import of the same path from inheriting it.
    * `files` is only evaluated when the snapshot has deletes.
    */
  private[graft] def deletesReaching(snap: Snapshot,
      files: => Vector[DataFileEntry]): Vector[DataFileEntry] =
    if (snap.deleteFiles.isEmpty) Vector.empty
    else {
      val fs = files
      lazy val forms = fs.iterator.flatMap(f => relDataPathForms(f.path)).toSet
      val minSeq = fs.iterator.map(_.seq).minOption
      snap.deleteFiles.filter { d =>
        if (d.equalityIds.nonEmpty) minSeq.exists(_ < d.seq)
        else fs.nonEmpty && (d.referencedDataFiles.isEmpty ||
          d.referencedDataFiles.exists(p => relDataPathForms(p).exists(forms)))
      }
    }

  // ----------------------------------------------------------------- write

  /** Append rows as a new snapshot (reference: INSERT INTO, cells 11/22/27). */
  def append(df: DataFrame): GraftTable = commitWrite(df, "append", carryOver = true)

  /** Metadata-only import of existing parquet files (Iceberg's
    * `add_files` procedure) — the migration path at 100 TB: data is
    * never copied, rewritten, or even read. One footer open per file
    * yields the row count and the same per-column bounds native writes
    * record, so stats pruning, manifest skipping, and count pushdown
    * work identically on imported files; cost is O(#files) metadata,
    * zero data I/O.
    *
    * Contract:
    *   - every current-schema column must exist in each file with a
    *     compatible physical type, EXCEPT identity-partition sources,
    *     which may instead appear as Hive-style `name=value` path
    *     segments (classic Hive/Spark layouts keep partition columns
    *     only in the path); those read back as per-file constants via
    *     [[mappedRead]]'s injection, Iceberg's identity-partition
    *     constant-read semantics.
    *   - files already referenced by the current snapshot are refused
    *     (a re-import would double-count rows); so is a source under
    *     the table location (those files are table-managed).
    *   - imported files keep their ABSOLUTE path in the manifest: the
    *     engine reads them in place and never deletes them — physical
    *     reclamation ([[removeOrphanFiles]]) walks only
    *     `<location>/data`. DML that rewrites an imported file writes
    *     table-owned replacements and drops the import from the
    *     inventory; the source file stays untouched on disk.
    *
    * The reference migrates by rewriting CSVs through Spark into the
    * warehouse (thesis notebook load cells); add_files registers
    * pre-existing parquet without that rewrite.
    */
  def addFiles(srcDir: String): GraftTable = {
    val srcAbs = Paths.get(srcDir).toAbsolutePath.normalize.toString
    val locAbs = Paths.get(location).toAbsolutePath.normalize.toString
    require(srcAbs != locAbs && !srcAbs.startsWith(locAbs + "/"),
      s"add_files: $srcAbs is inside the table location — " +
        "table-managed files cannot be re-imported")
    // the source is judged by its KEYS, never by a directory entity:
    // on object stores a "directory" does not exist — io.exists(dir)
    // is legitimately false for a prefix full of parquet (surfaced by
    // the ObjectStoreFileIO test matrix)
    val paths = listParquet(srcAbs)
    require(paths.nonEmpty,
      s"add_files: no parquet files under $srcAbs (missing or empty path)")
    val m = meta
    val cur = m.currentSchema
    val identByName: Map[String, Int] = m.currentSpec.fields
      .filter(_.transform == "identity").map(pf => pf.name -> pf.sourceId).toMap
    val nameToId = cur.fields.map(f => f.name -> f.id).toMap

    final case class Imported(abs: String, footer: ParquetFooterStats,
        pvals: Map[String, String], missingIds: Vector[Int])
    val imports = paths.map { abs =>
      val footer = readFooter(abs)
      // directory segments only — a file NAME containing '=' is not a
      // partition binding
      val pvals = abs.stripPrefix(srcAbs).split("/").toSeq.dropRight(1)
        .filter(_.contains("=")).map { seg =>
          val Array(k, v) = seg.split("=", 2)
          k -> unescapePathName(v)
        }.toMap.filter { case (k, _) => identByName.contains(k) }
      val missing = cur.fields.flatMap { f =>
        footer.fields.get(f.name) match {
          case Some(tok) =>
            require(compatibleToken(tok, f),
              s"add_files: $abs column ${f.name} is $tok, " +
                s"table expects ${f.dataType}")
            None
          case None =>
            require(identByName.get(f.name).contains(f.id) &&
                pvals.contains(f.name),
              s"add_files: $abs lacks column ${f.name} and the path " +
                s"carries no ${f.name}=<value> segment")
            Some(f.id)
        }
      }
      Imported(abs, footer, pvals, missing)
    }
    MetadataIO.commitRetry(location) { cur0 =>
      // validation ran against `m`: a concurrent schema/spec change
      // invalidates it — refuse rather than import under rules that
      // were never checked against these files
      if (cur0.currentSchemaId != m.currentSchemaId ||
          cur0.currentSpecId != m.currentSpecId)
        throw new ConcurrentCommitException(
          "concurrent commit: schema or spec changed during add_files — " +
            "re-run the operation")
      val existing = cur0.currentSnapshot
        .map(_.files.map(f => normalizePath(absPath(f.path))).toSet)
        .getOrElse(Set.empty)
      val dups = imports.map(_.abs).filter(a => existing(normalizePath(a)))
      require(dups.isEmpty, "add_files: already referenced by the current " +
        s"snapshot: ${dups.take(3).mkString(", ")}")
      // one registered read-schema per distinct missing-column set (the
      // current schema minus path-only columns), so field-id mapped
      // reads project exactly the physical columns; identical sets
      // reuse one schema across imports
      var meta2 = cur0
      val sidFor: Map[Vector[Int], Int] =
        imports.map(_.missingIds).distinct.map {
          case Vector() => Vector.empty[Int] -> cur0.currentSchemaId
          case miss =>
            val want = cur.fields.filterNot(f => miss.contains(f.id))
            meta2.schemas.find(_.fields == want) match {
              case Some(s) => miss -> s.schemaId
              case None =>
                val sid = meta2.schemas.map(_.schemaId).max + 1
                meta2 = meta2.copy(
                  schemas = meta2.schemas :+ VersionedSchema(sid, want))
                miss -> sid
            }
        }.toMap
      val entries = imports.map { imp =>
        def byId(statsByName: Map[String, String]) =
          statsByName.flatMap { case (n, v) =>
            nameToId.get(n).map(_.toString -> v) }
        DataFileEntry(imp.abs, imp.footer.rowCount, sidFor(imp.missingIds),
          imp.pvals,
          lowerBounds = byId(imp.footer.lower),
          upperBounds = byId(imp.footer.upper),
          nullCounts = imp.footer.nullCounts.flatMap { case (n, v) =>
            nameToId.get(n).map(_.toString -> v) },
          fileSizeBytes = io.size(imp.abs))
      }
      val carried = cur0.currentSnapshot.map(_.files).getOrElse(Vector.empty)
      val carriedDeletes =
        cur0.currentSnapshot.map(_.deleteFiles).getOrElse(Vector.empty)
      withSnapshot(meta2, "append", carried ++ entries, carriedDeletes)
    }
    this
  }

  /** Physical parquet type token ([[ParquetFooterStats]]) vs a table
    * field: value-preserving matches only — a mismatch nulls or garbles
    * silently under cast, so add_files refuses it up front.
    */
  private def compatibleToken(tok: String, f: FieldDef): Boolean = {
    val dt = f.dataType
    tok match {
      case "int32"              => dt == "int" || dt == "short" || dt == "byte"
      case "int32-date"         => dt == "date"
      case "int64"              => dt == "long"
      case "int64-ts" | "int96" => dt == "timestamp"
      case "int64-tsntz"        => dt == "timestamp_ntz"
      case "float"              => dt == "float"
      case "double"             => dt == "double"
      case "boolean"            => dt == "boolean"
      case "string"             => dt == "string"
      case "binary"             => dt == "binary"
      case "decimal"            => dt.startsWith("decimal")
      case "group" => dt.startsWith("array<") || dt.startsWith("map<") ||
        dt.startsWith("struct<")
      case _ => false
    }
  }

  /** Zero-copy clone (Iceberg's `snapshot` procedure; Delta's SHALLOW
    * CLONE): creates an independent table at `dstLocation` whose single
    * starting snapshot REFERENCES this table's current data and delete
    * files in place — nothing is copied, read, or rewritten; cost is
    * O(#files) metadata, so forking a 100 TB table is instant. The
    * clone carries the full schema/spec history (field-id reads work
    * unchanged), per-file commit sequences (equality deletes keep
    * hiding exactly what they hid), and table properties. From then on
    * the tables diverge freely: the clone's DML writes under ITS
    * location and drops source references from its inventory; neither
    * table's orphan reclamation can touch the other's files (each
    * walks only its own `<location>/data`).
    *
    * The stranding hazard (a SOURCE-side rewrite followed by source
    * orphan GC deletes shared files the clone still references —
    * Iceberg documents the same for its snapshot procedure) is
    * GUARDED: the fork registers itself in the source's
    * `graft.clones` property, and the source's [[expireSnapshots]] /
    * [[removeOrphanFiles]] REFUSE while a registered clone's table
    * still exists ([[maintain]] skips the step and says so). Release
    * by dropping the clone (the registry heals lazily),
    * [[unregisterClone]] / `CALL graft.system.unregister_clone`, or
    * override with table property
    * `graft.clones.allow-unsafe-retention=true`.
    */
  def snapshotTo(dstLocation: String, dstName: String): GraftTable = {
    require(!MetadataIO.exists(dstLocation), s"table exists at $dstLocation")
    // Register the fork on the SOURCE before ANYTHING else — including
    // the metadata read the clone is built from. Reading first would
    // leave a window where a concurrent overwrite + retention (registry
    // still empty, guard passes) deletes the very files the
    // already-computed clone is about to reference. Registration-first
    // means any retention that could touch those files must commit
    // AFTER this registration (same CAS chain), and then refuses.
    registerCloneInFlight(dstLocation)
    val m = meta
    def abs(fs: Vector[DataFileEntry]) =
      fs.map(f => f.copy(path = absPath(f.path)))
    val base = TableMetadata(
      name = dstName, location = dstLocation, formatVersion = 2,
      currentSchemaId = m.currentSchemaId, schemas = m.schemas,
      currentSpecId = m.currentSpecId, partitionSpecs = m.partitionSpecs,
      currentSnapshotId = None, snapshots = Vector.empty,
      snapshotLog = Vector.empty, metadataLog = Vector.empty,
      // the clone must not inherit the SOURCE's clone registry or its
      // override flag — its own retention starts clean
      properties = m.properties.filterNot(_._1.startsWith("graft.clones")) +
        ("graft.cloned-from" -> location),
      lastSequence = m.lastSequence)
    val withSnap = m.currentSnapshot match {
      case None => base
      case Some(s) =>
        val files = abs(s.files); val dels = abs(s.deleteFiles)
        val id = Math.abs(UUID.randomUUID().getMostSignificantBits)
        val now = System.currentTimeMillis()
        val snap = Snapshot(
          snapshotId = id, parentId = None, timestampMs = now,
          operation = "clone", schemaId = m.currentSchemaId,
          specId = m.currentSpecId, inlineFiles = files,
          summary = Map(
            "total-records" -> files.map(_.recordCount).sum.toString,
            "total-data-files" -> files.size.toString,
            "total-files-size-bytes" -> files.map(_.fileSizeBytes).sum.toString,
            "total-delete-files" -> dels.size.toString,
            "total-position-deletes" -> dels.filter(_.equalityIds.isEmpty)
              .map(_.recordCount).sum.toString,
            "added-data-files" -> files.size.toString,
            "added-records" -> files.map(_.recordCount).sum.toString,
            "added-files-size-bytes" -> files.map(_.fileSizeBytes).sum.toString,
            "source-table" -> location,
            "source-snapshot-id" -> s.snapshotId.toString),
          inlineDeleteFiles = dels)
        base.copy(currentSnapshotId = Some(id), snapshots = Vector(snap),
          snapshotLog = Vector(SnapshotLogEntry(now, id)))
    }
    MetadataIO.commit(withSnap)
    // CONFIRM: strip the timestamp now that the clone exists, so a
    // later DROP of the clone heals immediately (untimed + not-exists
    // = genuinely dropped) instead of riding out the grace window. A
    // crash before this line leaves the timestamped entry, which the
    // guard resolves through the exists check anyway.
    MetadataIO.commitRetry(location) { cur =>
      val raw = rawCloneRegs(cur).map(r =>
        if (cloneRegLocation(r) == dstLocation) dstLocation else r)
      if (raw == rawCloneRegs(cur)) cur
      else cur.copy(properties = cur.properties +
        (ClonesKey -> raw.mkString(CloneSep.toString)))
    }
    new GraftTable(spark, dstLocation)
  }

  /** The registration-first half of [[snapshotTo]]: record the fork's
    * TIMESTAMPED in-flight registration on the source before the
    * clone's metadata is even read. A crash (or a failed clone commit)
    * leaves a stale entry that heals out of the registry lazily; the
    * timestamp lets the guard tell "creation in flight" (young, not
    * yet existing -> live, refuse retention) from "crashed creation"
    * (past the grace, never materialized -> heal). A pre-existing
    * registration for the same location whose clone does NOT exist is
    * a leftover of a crashed earlier attempt — its timestamp may be
    * past the grace (or absent), so it is REFRESHED to now rather than
    * kept, or retention could heal it out mid-creation.
    */
  private def registerCloneInFlight(dstLocation: String): Unit =
    MetadataIO.commitRetry(location) { cur =>
      val fresh = s"$dstLocation$CloneFieldSep${System.currentTimeMillis()}"
      val raw = rawCloneRegs(cur)
      val updated =
        if (raw.exists(r => cloneRegLocation(r) == dstLocation))
          raw.map(r =>
            if (cloneRegLocation(r) == dstLocation &&
              !MetadataIO.exists(dstLocation)) fresh
            else r)
        else raw :+ fresh
      if (updated == raw) cur
      else cur.copy(properties = cur.properties +
        (ClonesKey -> updated.mkString(CloneSep.toString)))
    }

  private val ClonesKey = "graft.clones"
  // locations may contain any printable character; U+0001/U+0002 cannot
  private val CloneSep = '\u0001'
  private val CloneFieldSep = '\u0002'
  // how long a registered-but-not-yet-existing clone blocks retention
  // before it is judged a crashed creation and healed out. Default;
  // override per table with `graft.clones.register-grace-ms` (a
  // million-file clone over a slow store can outlast a short grace,
  // and retention on another host adds clock skew on top).
  private[graft] val CloneRegisterGraceMs = 15L * 60 * 1000

  private def registerGraceMs(m: TableMetadata): Long =
    m.properties.get("graft.clones.register-grace-ms")
      .flatMap(_.toLongOption).filter(_ >= 0).getOrElse(CloneRegisterGraceMs)

  /** Raw registry entries: `location` or `location<FS>registeredMs`. */
  private def rawCloneRegs(m: TableMetadata): Vector[String] =
    m.properties.get(ClonesKey)
      .map(_.split(CloneSep).toVector.filter(_.nonEmpty))
      .getOrElse(Vector.empty)

  private def cloneRegLocation(raw: String): String =
    raw.takeWhile(_ != CloneFieldSep)

  private def cloneRegAgeMs(raw: String): Option[Long] = {
    val i = raw.indexOf(CloneFieldSep.toInt)
    if (i < 0) None
    else raw.drop(i + 1).toLongOption
      .map(t => System.currentTimeMillis() - t)
  }

  private def registeredClones(m: TableMetadata): Vector[String] =
    rawCloneRegs(m).map(cloneRegLocation)

  /** Clone locations registered on this table whose table still
    * exists. A dropped clone heals out of the registry lazily (on the
    * next retention call), so DROP TABLE on the clone is release
    * enough — no unregister bookkeeping required.
    */
  def liveClones(): Vector[String] =
    registeredClones(meta).filter(MetadataIO.exists)

  /** Release a clone registration (the fork was promoted to
    * independent data, or the operator accepts the stranding risk for
    * this one). SQL: `CALL graft.system.unregister_clone`.
    */
  def unregisterClone(cloneLocation: String): GraftTable = {
    MetadataIO.commitRetry(location) { cur =>
      val kept = rawCloneRegs(cur)
        .filterNot(r => cloneRegLocation(r) == cloneLocation)
      if (kept.isEmpty) cur.copy(properties = cur.properties - ClonesKey)
      else cur.copy(properties = cur.properties +
        (ClonesKey -> kept.mkString(CloneSep.toString)))
    }
    this
  }

  /** Re-home a zero-copy clone (the other half of the stranding
    * trade): copy every physical file this table still shares with its
    * clone SOURCE into this table's own location, rewrite every
    * retained snapshot to reference the local copies, and release the
    * source's clone registration — after which the source's
    * [[expireSnapshots]] / [[removeOrphanFiles]] proceed without
    * coordinating with (or stranding) this table. SQL:
    * `CALL graft.system.rehome_clone`.
    *
    * Cost is priced at the SHARED slice only: bytes copied =
    * still-referenced source files (a clone that has since rewritten
    * most of itself copies little), plus a metadata re-seal of the
    * snapshots that referenced them. Returns the copied paths.
    *
    * Correctness notes:
    *   - the local copy keeps the source path's `data/...` suffix, so
    *     positional-delete keys — matched on exactly that
    *     location-independent suffix (see [[relDataPath]]) — keep
    *     hiding the same rows after the paths move;
    *   - a shared file WITHOUT a `data/` segment (an add_files import)
    *     has no suffix to preserve: it re-homes under `data/rehomed/`
    *     unless positional deletes exist anywhere in retained history,
    *     in which case rehome REFUSES (the delete keys recorded the
    *     old path shape and would silently stop matching);
    *   - idempotent and crash-resumable: copies are temp+atomic-move
    *     and skipped when the destination already holds the right
    *     size; a crash between the metadata rewrite and the source
    *     release leaves the registration in place (source retention
    *     still refuses — safe), and a re-run skips straight to the
    *     release.
    */
  def rehomeClone(): Vector[String] = {
    val srcLoc = meta.properties.getOrElse("graft.cloned-from", sys.error(
      s"$location is not a clone: no graft.cloned-from property"))
    val prefix = location + "/"
    def isForeign(p: String) = p.startsWith("/") && !p.startsWith(prefix)
    def rehomedRel(p: String, anyPosDeletes: Boolean): String = {
      val i = p.lastIndexOf("/data/")
      if (i >= 0) p.substring(i + 1)
      else if (anyPosDeletes) sys.error(s"cannot rehome $p: the path " +
        "has no data/ segment to preserve and retained snapshots carry " +
        "positional deletes whose keys would no longer match the moved " +
        "file — compact (rewriteDeletedDataFiles) first")
      else {
        val h = java.security.MessageDigest.getInstance("MD5")
          .digest(p.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
        s"data/rehomed/$h-${p.substring(p.lastIndexOf('/') + 1)}"
      }
    }
    val m = meta
    // positional deletes match rows by the data file's path SUFFIX
    // (see relDataPath): a foreign file WITHOUT a data/ segment gets a
    // new suffix under data/rehomed/, so its delete keys would silently
    // stop matching — deleted rows would resurrect. The hazard is the
    // KEYS' target, not where the delete file itself lives (a
    // clone-local delete file can perfectly well key an add_files-
    // imported foreign path), so the guard fires when ANY positional
    // delete exists in retained history; rehomedRel then refuses any
    // suffix-changing move.
    val anyPos = m.snapshots.exists(_.deleteFiles.exists(
      _.equalityIds.isEmpty))
    val foreign = m.snapshots.flatMap(s => s.files ++ s.deleteFiles)
      .map(_.path).filter(isForeign).distinct
    // parallel copies (like the audit's stat pass): the shared slice of
    // a large clone is many files, and a serial driver loop would make
    // rehoming a million-file clone a days-long job; copies are
    // independent (distinct destinations by construction — collisions
    // error) so they saturate the store's concurrency instead. Each
    // copy routes through the FileIO seam — server-side COPY on a real
    // object store, temp+atomic-move locally — so no POSIX assumption
    // and no phantom in-flight key leaks in (ADVICE r15).
    // Production note: on a real cluster this is where a distributed
    // copy job (Iceberg's rewrite_table_path shape) plugs in; the
    // control flow — copy-all, then one metadata commit — is the same.
    locally {
      import scala.collection.parallel.CollectionConverters._
      foreign.par.foreach { p =>
        val dst = s"$location/${rehomedRel(p, anyPos)}"
        if (io.exists(dst)) {
          if (io.size(dst) != io.size(p))
            sys.error(s"rehome collision: $dst exists with a different size")
        } else io.copy(p, dst)
      }
    }
    if (foreign.nonEmpty) MetadataIO.commitRetry(location) { cur =>
      val curPos = cur.snapshots.exists(_.deleteFiles.exists(
        _.equalityIds.isEmpty))
      val snaps = cur.snapshots.map { s =>
        if (!(s.files ++ s.deleteFiles).exists(f => isForeign(f.path))) s
        else s.copy(
          inlineFiles = s.files.map(f => if (isForeign(f.path))
            f.copy(path = rehomedRel(f.path, curPos)) else f),
          inlineDeleteFiles = s.deleteFiles.map(f => if (isForeign(f.path))
            f.copy(path = rehomedRel(f.path, curPos)) else f),
          manifestList = None) // commit re-seals, sharing what it can
      }
      cur.copy(snapshots = snaps,
        properties = cur.properties + ("graft.rehomed" -> "true"))
    }
    // release the source registration LAST: until every reference is
    // local, the source's retention guard must keep refusing
    if (MetadataIO.exists(srcLoc))
      new GraftTable(spark, srcLoc).unregisterClone(location)
    foreign
  }

  /** Refuse a retention operation while registered clones still
    * reference this table's files; heal dead registrations in the
    * returned metadata. Overridable per table with
    * `graft.clones.allow-unsafe-retention=true` — the explicit "I
    * accept stranding the clone" switch.
    */
  private def cloneRetentionGuard(cur: TableMetadata, op: String)
      : TableMetadata = {
    val regs = rawCloneRegs(cur)
    if (regs.isEmpty) return cur
    // A registration whose clone does not exist YET may be a creation
    // in flight (snapshotTo registers before it materializes the clone
    // — see there); inside the grace window it counts as live so
    // retention cannot slip through the gap between the two commits.
    // Past the grace it is a crashed creation and heals out. Untimed
    // (legacy) registrations were written after the clone existed, so
    // not-exists there means genuinely dropped.
    val grace = registerGraceMs(cur)
    val (live, dead) = regs.partition(r =>
      MetadataIO.exists(cloneRegLocation(r)) ||
        cloneRegAgeMs(r).exists(_ < grace))
    if (live.nonEmpty && !cur.properties
        .get("graft.clones.allow-unsafe-retention").contains("true"))
      throw new CloneRetentionRefusedException(
        s"$op refused: zero-copy clones still reference this table's " +
          s"files: ${live.map(cloneRegLocation).mkString(", ")}. Drop " +
          "the clone(s), release " +
          "with unregisterClone / CALL graft.system.unregister_clone, " +
          "or set table property graft.clones.allow-unsafe-retention=true " +
          "to accept stranding them.")
    if (dead.isEmpty) cur
    else if (live.isEmpty) cur.copy(properties = cur.properties - ClonesKey)
    else cur.copy(properties = cur.properties +
      (ClonesKey -> live.mkString(CloneSep.toString)))
  }

  /** Stage an append WITHOUT committing: write the data files now
    * (invisible until a snapshot references them — the same
    * files-before-metadata order every commit uses) and return the
    * metadata transform that appends them. The building block
    * [[graft.catalog.GraftCatalog.transact]] composes into ONE
    * multi-table claim set, so e.g. a corpus table and its fingerprint
    * index commit together or not at all. The transform rebases like a
    * plain append (new files are disjoint from whatever the current
    * snapshot holds), so transaction retries re-run it against fresh
    * metadata without rewriting any data.
    */
  private[graft] def stageAppend(df: DataFrame,
      base: Option[TableMetadata] = None)
      : (TableMetadata, Long) => TableMetadata = {
    val written = writeFiles(base.getOrElse(meta), df)
    (cur: TableMetadata, sharedTs: Long) =>
      withSnapshot(cur, "append",
        cur.currentSnapshot.map(_.files).getOrElse(Vector.empty) ++ written,
        cur.currentSnapshot.map(_.deleteFiles).getOrElse(Vector.empty),
        tsHint = Some(sharedTs))
  }

  /** Stage a row-level DELETE without committing (copy-on-write
    * rewrite, or a positional delete file on merge-on-read tables —
    * [[stageMorDml]]) — the DML half of
    * multi-table transactions ([[graft.catalog.GraftCatalog.transactOps]]):
    * a dedup sweep that removes corpus rows must retract the matching
    * fingerprint-index rows ATOMICALLY, or a concurrent reader joins a
    * shrunken corpus against a stale index. The rewrite (survivor files
    * of every touched file) is computed and WRITTEN now against the
    * current snapshot; the returned transform produces the new snapshot
    * referencing the rewritten files. Same conflict contract as
    * [[commitSnapshot]]'s rewrite path: the transform re-validates that
    * the snapshot it rewrote is STILL current and aborts the whole
    * transaction loudly otherwise — rebasing a rewrite would silently
    * drop a racing writer's rows.
    */
  /** `base`/`revalidate` are the CHAINING seam: a transaction staging a
    * SECOND statement on the same table plans it against the chain's
    * PREVIEW metadata (the prior transforms applied to the validated
    * base) and skips the base-snapshot re-validation — the chain's
    * FIRST transform already validates the real base at claim time,
    * and later links' inputs derive deterministically from it (file
    * sets are path-keyed; only snapshot ids/timestamps differ between
    * preview and commit application).
    */
  private[graft] def stageDelete(cond: Column,
      base: Option[TableMetadata] = None, revalidate: Boolean = true)
      : (TableMetadata, Long) => TableMetadata = {
    val m = base.getOrElse(meta)
    if (deleteMode(m) == "merge-on-read")
      stageMorDml(m, cond, None, "delete", revalidate)
    else stageRewrite(m, cond, "delete", identity, revalidate)
  }

  /** Staged UPDATE — see [[stageDelete]]. */
  private[graft] def stageUpdate(cond: Column,
      assignments: Map[String, Column],
      base: Option[TableMetadata] = None, revalidate: Boolean = true)
      : (TableMetadata, Long) => TableMetadata = {
    val m = base.getOrElse(meta)
    if (updateMode(m) == "merge-on-read")
      stageMorDml(m, cond, Some(assignments), "overwrite", revalidate)
    else stageRewrite(m, cond, "overwrite",
      df => applyAssignments(df, Some(cond), assignments), revalidate)
  }

  /** Staged MERGE-ON-READ DML — the transactional form of
    * [[mergeOnReadDml]]: the positional delete file (and, for UPDATE,
    * the appended copies) are WRITTEN NOW against the base snapshot,
    * and the returned transform publishes them in the transaction's
    * one claim set. The conflict contract is CoW's in mechanism and
    * stricter by necessity: the delete file names (path, pos) pairs of
    * the base snapshot's files, so ANY concurrent commit aborts the
    * transaction — a racer's compaction would orphan the positions,
    * and its own row-level DML could hide different rows at the same
    * positions. A no-match DML still commits an unchanged snapshot for
    * the shared-timestamp alignment, like [[stageRewrite]].
    */
  private def stageMorDml(m: TableMetadata, cond: Column,
      assignments: Option[Map[String, Column]], op: String,
      revalidate: Boolean): (TableMetadata, Long) => TableMetadata = {
    val baseId = m.currentSnapshotId
    val staged: Option[(Vector[DataFileEntry], Vector[DataFileEntry])] =
      m.currentSnapshot.flatMap { snap =>
        val (pruneCond, extras) =
          SubqueryPruning.augmentSplit(spark, exprOf(cond))
        val candidates = pruneCandidates(m, snap.files, pruneCond)
        GraftTable.lastDmlCandidateFiles.set(candidates.size.toLong)
        if (candidates.isEmpty) None
        else {
          // existing deletes apply first — an already-deleted row must
          // not be re-deleted or re-updated (row resurrection); the
          // evaluated domains re-apply as data filters (applyResidual)
          val live = applyResidual(m, liveRows(m, snap, candidates), extras)
          val matched = live.filter(cond).cache()
          try {
            val delRows = matched.select(
              relDataPath(col("_g_path")).as("file_path"),
              col("_g_pos").as("pos"))
            if (delRows.isEmpty) None
            else {
              val delEntries = writeDeleteFile(m, delRows, candidates)
              val written = assignments match {
                case None => Vector.empty[DataFileEntry]
                case Some(as) => writeFiles(m, applyAssignments(
                  matched.drop("_g_path", "_g_pos"), None, as))
              }
              Some((delEntries, written))
            }
          } finally matched.unpersist()
        }
      }
    (cur: TableMetadata, sharedTs: Long) => {
      if (revalidate && cur.currentSnapshotId != baseId)
        throw new ConcurrentCommitException(
          s"concurrent commit: snapshot advanced from $baseId to " +
            s"${cur.currentSnapshotId} during staged merge-on-read $op " +
            s"of $location — re-run the transaction")
      val curFiles = cur.currentSnapshot.map(_.files).getOrElse(Vector.empty)
      val curDels =
        cur.currentSnapshot.map(_.deleteFiles).getOrElse(Vector.empty)
      staged match {
        case None =>
          withSnapshot(cur, op, curFiles, curDels, tsHint = Some(sharedTs))
        case Some((delEntries, written)) =>
          withSnapshot(cur, op, curFiles ++ written,
            curDels ++ delEntries, tsHint = Some(sharedTs))
      }
    }
  }

  /** The staged rewrite core under [[stageDelete]]/[[stageUpdate]]:
    * [[rewriteMatching]]'s planning (metadata-candidate pruning, one
    * predicate-pushed scan to find touched files, survivor rewrite)
    * split from its commit. A no-match DML still returns a transform
    * committing an unchanged-files snapshot, so every table in a
    * transaction gets exactly one snapshot with the shared timestamp —
    * transaction-consistent time travel stays probe-proof.
    */
  private def stageRewrite(m: TableMetadata, cond: Column, op: String,
      transform: DataFrame => DataFrame, revalidate: Boolean = true)
      : (TableMetadata, Long) => TableMetadata = {
    val baseId = m.currentSnapshotId
    val staged: Option[(Set[String], Vector[DataFileEntry])] =
      m.currentSnapshot.flatMap { snap =>
        val (pruneCond, extras) =
          SubqueryPruning.augmentSplit(spark, exprOf(cond))
        val candidates = pruneCandidates(m, snap.files, pruneCond)
        if (candidates.isEmpty) None
        else {
          val withFile =
            applyResidual(m, readFilesWithName(m, candidates), extras)
          val touchedAbs = withFile.filter(cond)
            .select(col("_graft_file")).distinct().collect()
            .map(r => normalizePath(r.getString(0))).toSet
          if (touchedAbs.isEmpty) None
          else {
            val touched = snap.files.filter(f =>
              touchedAbs.contains(normalizePath(absPath(f.path))))
            // rewriting must not resurrect rows a positional delete
            // already removed (write modes can change between commits)
            val survivors0 = liveRead(m, snap, touched)
            val survivors = op match {
              case "delete" => survivors0.filter(!coalesce(cond, lit(false)))
              case _        => transform(survivors0)
            }
            Some((touched.map(f => normalizePath(absPath(f.path))).toSet,
              writeFiles(m, survivors)))
          }
        }
      }
    (cur: TableMetadata, sharedTs: Long) => {
      if (revalidate && cur.currentSnapshotId != baseId)
        throw new ConcurrentCommitException(
          s"concurrent commit: snapshot advanced from $baseId to " +
            s"${cur.currentSnapshotId} during staged $op of $location — " +
            "re-run the transaction")
      val curFiles = cur.currentSnapshot.map(_.files).getOrElse(Vector.empty)
      val curDeletes =
        cur.currentSnapshot.map(_.deleteFiles).getOrElse(Vector.empty)
      staged match {
        case None => // no matching rows: snapshot for timestamp alignment
          withSnapshot(cur, op, curFiles, curDeletes, tsHint = Some(sharedTs))
        case Some((touchedPaths, written)) =>
          val untouched = curFiles.filterNot(f =>
            touchedPaths.contains(normalizePath(absPath(f.path))))
          withSnapshot(cur, op, untouched ++ written,
            deletesKept(cur, untouched), tsHint = Some(sharedTs))
      }
    }
  }

  /** Replace all contents (reference: REPLACE TABLE ... AS SELECT, cell 13). */
  def overwrite(df: DataFrame): GraftTable = commitWrite(df, "overwrite", carryOver = false)

  /** Idempotent append keyed by a monotonically increasing marker — the
    * exactly-once primitive under [[graft.streaming.GraftTableSink]]:
    * the rows AND the marker property commit in ONE metadata commit, so
    * a replayed micro-batch (same or lower marker) is a no-op instead
    * of a duplicate append. Returns whether rows were committed.
    */
  def appendIfNewMarker(df: DataFrame, markerKey: String,
      markerValue: Long): Boolean = {
    val m = meta
    def seen(t: TableMetadata): Boolean =
      t.properties.get(markerKey).exists(_.toLong >= markerValue)
    if (seen(m)) return false // common replay path: skip before writing files
    val written = writeFiles(m, df)
    final class Dup extends RuntimeException
    try {
      MetadataIO.commitRetry(location) { cur =>
        // re-validate inside the transform: a racing writer of the same
        // marker stream may have landed between the check and the commit
        if (seen(cur)) throw new Dup
        val carried = cur.currentSnapshot.map(_.files).getOrElse(Vector.empty)
        val carriedDeletes =
          cur.currentSnapshot.map(_.deleteFiles).getOrElse(Vector.empty)
        withSnapshot(cur, "append", carried ++ written, carriedDeletes)
          .copy(properties = cur.properties + (markerKey -> markerValue.toString))
      }
      true
    } catch {
      case _: Dup =>
        // lost the marker race: reclaim our staged (uncommitted) files
        written.foreach(f => io.delete(absPath(f.path)))
        false
      case scala.util.control.NonFatal(e) =>
        // any other commit failure (e.g. conflict retries exhausted)
        // must also reclaim the staged files — they are unreferenced by
        // any snapshot and would otherwise orphan, unlike the upsert
        // paths which already clean up on every failure
        written.foreach(f => io.delete(absPath(f.path)))
        throw e
    }
  }

  private def commitWrite(df: DataFrame, op: String, carryOver: Boolean,
      keepFiles: Vector[DataFileEntry] = Vector.empty): GraftTable = {
    val m = meta
    // data files are written ONCE, outside the retry loop — only the
    // metadata transform re-runs on a commit conflict
    val written = writeFiles(m, df)
    MetadataIO.commitRetry(location) { cur =>
      // append REBASES unconditionally: its new files are disjoint from
      // whatever the current snapshot holds, so carrying the LATEST
      // files/deletes is always correct — even across a concurrent
      // schema change, since every file maps by its own schemaId.
      // overwrite replaces contents whole (its result doesn't depend on
      // the base snapshot), so it rebases trivially and resets deletes.
      val carried =
        if (carryOver) cur.currentSnapshot.map(_.files).getOrElse(Vector.empty) ++ keepFiles
        else keepFiles
      val carriedDeletes =
        if (carryOver) cur.currentSnapshot.map(_.deleteFiles).getOrElse(Vector.empty)
        else Vector.empty
      withSnapshot(cur, op, carried ++ written, carriedDeletes)
    }
    this
  }

  /** Cluster rows before the physical write, per table properties
    * (Iceberg's write-distribution surface — the at-scale answer to
    * the small-files problem: without it, a partitioned append writes
    * one file per (task x partition-value), so a 1000-task insert into
    * a 365-day table can emit 365,000 tiny files per batch):
    *
    *   - `write.distribution-mode`:
    *       `none`  (default) — rows stay where the upstream plan put
    *               them; correct for already-clustered pipelines;
    *       `hash`  — hash-repartition by the partition transform
    *               columns, so each partition value lands on exactly
    *               one task (files per batch = #distinct values, not
    *               tasks x values); unpartitioned tables fall back to
    *               the sort-order columns as the clustering key;
    *       `range` — range-repartition by partition + sort-order
    *               columns: total ordering across tasks, so file
    *               min/max bounds tile without overlap and stats
    *               pruning degenerates to a binary search.
    *   - `write.sort-order` (comma-separated columns, ascending):
    *       sortWithinPartitions after distribution — rows arrive at
    *       the parquet writer grouped by partition value (one open
    *       file at a time, not one writer per value) and sorted, so
    *       every file carries tight min/max bounds.
    *   - `write.target-file-size-bytes`: sizes the repartition width
    *       from the plan's size estimate (advisory: logical stats
    *       overestimate zstd-compressed parquet, erring toward more,
    *       smaller files). Applies only under hash/range — `none`
    *       deliberately never injects a shuffle.
    *
    * Write-side only: every writer (append, CoW/MoR DML, MERGE,
    * streaming sink) funnels through [[writeFiles]], so one hook
    * covers the library. Compaction has its own explicit layouts
    * (`rewriteDataFiles` sort / Z-order), which override this.
    */
  private def applyWriteDistribution(m: TableMetadata, df: DataFrame,
      partCols: Seq[Column]): DataFrame = {
    val mode = m.properties.getOrElse("write.distribution-mode", "none")
    require(Set("none", "hash", "range")(mode),
      s"unknown write.distribution-mode: $mode (none|hash|range)")
    val sortCols = m.properties.get("write.sort-order").toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
      .map(n => col(s"`$n`"))
    val nParts: Option[Int] =
      m.properties.get("write.target-file-size-bytes").map { t =>
        val target = t.toLong
        require(target > 0, s"write.target-file-size-bytes must be positive: $t")
        val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
        (est / target).min(1 << 20).toInt + 1
      }
    val keys = mode match {
      case "hash" => if (partCols.nonEmpty) partCols else sortCols
      case "range" => partCols ++ sortCols
      case _ => Nil
    }
    val keyed = (mode, keys) match {
      case ("none", _) | (_, Nil) => df
      case ("hash", ks) =>
        nParts.map(n => df.repartition(n, ks: _*))
          .getOrElse(df.repartition(ks: _*))
      case ("range", ks) =>
        nParts.map(n => df.repartitionByRange(n, ks: _*))
          .getOrElse(df.repartitionByRange(ks: _*))
    }
    if (sortCols.isEmpty) keyed
    else keyed.sortWithinPartitions((partCols ++ sortCols): _*)
  }

  /** Write df under the current schema/spec into a unique staging dir;
    * return manifest entries. Partition transforms materialize as `_p_*`
    * layout columns (removed from file contents by partitionBy, recorded
    * in the manifest from the path). Rows are clustered first per the
    * `write.distribution-mode` / `write.sort-order` table properties
    * ([[applyWriteDistribution]]).
    */
  private def writeFiles(m: TableMetadata, df: DataFrame): Vector[DataFileEntry] = {
    val cur = m.currentSchema
    val aligned = df.select(cur.fields.map(f =>
      col(s"`${f.name}`").cast(f.sparkType).as(f.name)): _*)
    val spec = m.currentSpec
    // full UUID + errorifexists: a staging-dir collision must fail loudly,
    // never silently overwrite data files of committed snapshots
    val stagingRel = s"data/${UUID.randomUUID().toString}"
    val stagingAbs = s"$location/$stagingRel"
    require(!io.exists(stagingAbs), s"staging collision $stagingRel")
    val codec = m.properties.getOrElse("write.parquet.compression-codec", "zstd")
    // Iceberg's bloom-filter properties, delegated to PARQUET-NATIVE
    // blooms (the Spark-first design — Iceberg does exactly this;
    // Spark's parquet scan then skips row groups on point predicates
    // over scattered high-cardinality keys that min/max bounds and
    // clustering can't veto). Manifest-level pruning stays bounds-based;
    // the bloom rides inside the file where the parquet reader applies
    // it for free. `write.parquet.bloom-filter-enabled.column.<col>`
    // arms a column; `...bloom-filter-fpp.column.<col>` tunes precision,
    // `write.parquet.bloom-filter-max-bytes` caps the bitset.
    val bloomOpts: Map[String, String] = m.properties.flatMap {
      case (k, v) if k.startsWith("write.parquet.bloom-filter-enabled.column.") =>
        Some("parquet.bloom.filter.enabled#" +
          k.stripPrefix("write.parquet.bloom-filter-enabled.column.") -> v)
      case (k, v) if k.startsWith("write.parquet.bloom-filter-fpp.column.") =>
        Some("parquet.bloom.filter.fpp#" +
          k.stripPrefix("write.parquet.bloom-filter-fpp.column.") -> v)
      case ("write.parquet.bloom-filter-max-bytes", v) =>
        Some("parquet.bloom.filter.max.bytes" -> v)
      case _ => None
    }
    def partExpr(pf: PartitionField): Column = {
      val src = cur.fieldById(pf.sourceId)
        .getOrElse(sys.error(s"partition source field ${pf.sourceId} missing"))
      PartitionTransforms.column(pf.transform, col(s"`${src.name}`"), src.dataType)
    }
    if (spec.fields.isEmpty) {
      applyWriteDistribution(m, aligned, Nil)
        .write.mode("errorifexists").option("compression", codec)
        .options(bloomOpts)
        .parquet(stagingAbs)
    } else {
      val out = spec.fields.foldLeft(aligned)((d, pf) =>
        d.withColumn(s"_p_${pf.name}", partExpr(pf)))
      applyWriteDistribution(m, out,
          spec.fields.map(pf => col(s"`_p_${pf.name}`")))
        .write.mode("errorifexists")
        .partitionBy(spec.fields.map(pf => s"_p_${pf.name}"): _*)
        .option("compression", codec)
        .options(bloomOpts)
        .parquet(stagingAbs)
    }
    val nameToId = cur.fields.map(f => f.name -> f.id).toMap
    listParquet(stagingAbs).map { abs =>
      val rel = s"$stagingRel/${abs.stripPrefix(stagingAbs + "/")}"
      val pvals = rel.split("/").toSeq
        .filter(_.contains("=")).map { seg =>
          val Array(k, v) = seg.split("=", 2)
          k.stripPrefix("_p_") -> unescapePathName(v)
        }.toMap
      // one footer open per file yields row count AND column min/max —
      // the stats that let DML prune candidate files metadata-only
      val footer = readFooter(abs)
      def byId(statsByName: Map[String, String]): Map[String, String] =
        statsByName.flatMap { case (n, v) =>
          nameToId.get(n).map(id => id.toString -> v)
        }
      DataFileEntry(rel, footer.rowCount, m.currentSchemaId, pvals,
        lowerBounds = byId(footer.lower), upperBounds = byId(footer.upper),
        nullCounts = footer.nullCounts.flatMap { case (n, v) =>
          nameToId.get(n).map(id => id.toString -> v)
        },
        fileSizeBytes = io.size(abs))
    }
  }

  /** Inverse of Spark's Hive-style partition-path escaping: only %XX
    * sequences decode; every other char — including '+', which Spark
    * never escapes — passes through verbatim. java.net.URLDecoder is
    * WRONG here: it is application/x-www-form-urlencoded and turns '+'
    * into a space, so a partition value like "C++" would round-trip as
    * "C  " and metadata pruning would silently drop its files.
    */
  private def unescapePathName(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        try {
          sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
          i += 3
        } catch {
          case _: NumberFormatException => sb.append(c); i += 1
        }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  private def listParquet(dir: String): Vector[String] =
    io.listRecursive(dir).filter(_.endsWith(".parquet")).sorted

  private def readFooter(path: String): ParquetFooterStats =
    ParquetFooterStats.read(path, spark.sessionState.newHadoopConf())

  /** Physical location of a manifest entry's file. Engine-written files
    * are recorded location-relative (the table directory can move);
    * [[addFiles]]-imported files keep their absolute external path —
    * the engine reads them in place and NEVER deletes them (all
    * physical reclamation walks `<location>/data` only).
    */
  private def absPath(p: String): String =
    if (p.startsWith("/")) p else s"$location/$p"

  /** Commit a rewrite-style snapshot (CoW DELETE/UPDATE, MoR DML,
    * compaction) computed against base metadata `m`. These ops
    * REFERENCED the base snapshot's files (rewrote or anti-joined
    * them), so a concurrent data commit is a genuine conflict: the
    * retry absorbs metadata-level races (properties, refs, schema) but
    * fails loudly when the snapshot itself moved — rebasing would
    * silently drop the racing writer's rows.
    */
  private def commitSnapshot(m: TableMetadata, op: String,
      files: Vector[DataFileEntry],
      deleteFiles: Vector[DataFileEntry] = Vector.empty): Unit =
    MetadataIO.commitRetry(location) { cur =>
      if (cur.currentSnapshotId != m.currentSnapshotId)
        throw new ConcurrentCommitException(
          s"concurrent commit: snapshot advanced from ${m.currentSnapshotId}" +
            s" to ${cur.currentSnapshotId} during $op — re-run the operation")
      withSnapshot(cur, op, files, deleteFiles)
    }

  /** The delete files a commit that replaces some of `cur`'s data files
    * keeps: those reaching a `carried` file ([[deletesReaching]]). The
    * commit's freshly written files need none — no positional key names
    * a new path, and they sequence after every existing equality
    * delete — so a delete whose targets were all rewritten drops here.
    */
  private def deletesKept(cur: TableMetadata,
      carried: Vector[DataFileEntry]): Vector[DataFileEntry] =
    cur.currentSnapshot.map(deletesReaching(_, carried)).getOrElse(Vector.empty)

  /** New-snapshot metadata transform — pure function of `cur`, safe to
    * re-run inside the optimistic-commit retry loop. `tsHint` lets a
    * multi-table transaction stamp every table's snapshot with ONE
    * shared commit timestamp, so `TIMESTAMP AS OF` any instant reads a
    * transaction-consistent set (no probe time can fall between one
    * transaction's per-table snapshots); monotonicity still wins —
    * a hint older than the table's history is bumped past it.
    */
  private def withSnapshot(cur: TableMetadata, op: String,
      files: Vector[DataFileEntry],
      deleteFiles: Vector[DataFileEntry],
      tsHint: Option[Long] = None): TableMetadata = {
    // STRICTLY monotonic per table: two commits inside one wall-clock
    // millisecond would otherwise tie on timestampMs, and every
    // consumer that orders history (snapshots/history views, snapshot
    // expiry's keep-set, commit-sequence queries) would fall back to
    // the RANDOM snapshot id — nondeterministic commit order observed
    // as flaky oracle mismatches. The max spans the snapshot LOG too:
    // pointer moves (rollback/fast-forward) append log-only entries,
    // and a data commit in the same millisecond must sort AFTER them —
    // snapshotAsOfTime is log-ordered.
    val now = math.max(tsHint.getOrElse(System.currentTimeMillis()), math.max(
      cur.snapshots.map(_.timestampMs).maxOption.getOrElse(Long.MinValue),
      cur.snapshotLog.map(_.timestampMs).maxOption.getOrElse(Long.MinValue)) + 1)
    val id = Math.abs(UUID.randomUUID().getMostSignificantBits)
    // commit sequencing: files appearing for the FIRST time get the next
    // sequence number; carried files keep theirs. Equality deletes hide
    // only strictly-older sequences, so a batch committed WITH an
    // equality delete survives it.
    val nextSeq = cur.lastSequence + 1
    val knownPaths = cur.currentSnapshot
      .map(s => (s.files ++ s.deleteFiles).map(_.path).toSet)
      .getOrElse(Set.empty)
    def sequenced(fs: Vector[DataFileEntry]) =
      fs.map(f => if (knownPaths(f.path)) f else f.copy(seq = nextSeq))
    val seqFiles = sequenced(files)
    val seqDeletes = sequenced(deleteFiles)
    val snap = Snapshot(
      snapshotId = id, parentId = cur.currentSnapshotId, timestampMs = now,
      operation = op, schemaId = cur.currentSchemaId,
      specId = cur.currentSpecId,
      inlineFiles = seqFiles,
      summary = {
        // added-* keys (Iceberg snapshot-summary convention) make
        // incremental consumers O(1) per snapshot: streaming admission
        // reads the byte/row cost of admitting a commit from the
        // summary instead of diffing file vectors at every trigger
        val added = seqFiles.filter(f => !knownPaths(f.path))
        Map(
          "total-records" -> seqFiles.map(_.recordCount).sum.toString,
          "total-data-files" -> seqFiles.size.toString,
          "total-files-size-bytes" -> seqFiles.map(_.fileSizeBytes).sum.toString,
          "total-delete-files" -> seqDeletes.size.toString,
          "total-position-deletes" -> seqDeletes.filter(_.equalityIds.isEmpty)
            .map(_.recordCount).sum.toString,
          "added-data-files" -> added.size.toString,
          "added-records" -> added.map(_.recordCount).sum.toString,
          "added-files-size-bytes" -> added.map(_.fileSizeBytes).sum.toString)
      },
      inlineDeleteFiles = seqDeletes)
    cur.copy(
      currentSnapshotId = Some(id),
      snapshots = cur.snapshots :+ snap,
      snapshotLog = cur.snapshotLog :+ SnapshotLogEntry(now, id),
      lastSequence = nextSeq)
  }

  /** TRUNCATE TABLE: a new EMPTY snapshot — metadata-only (no file
    * I/O), history preserved, so the pre-truncate state stays readable
    * via time travel until expiry. Rebases trivially on conflict: the
    * result doesn't depend on the base snapshot.
    */
  def truncate(): GraftTable = {
    MetadataIO.commitRetry(location)(cur =>
      withSnapshot(cur, "overwrite", Vector.empty, Vector.empty))
    this
  }

  /** Idempotent UPSERT keyed by `keyCols` — the CDC-apply primitive
    * under [[graft.streaming.GraftTableSink.upsertBatch]]: rows in the
    * batch REPLACE same-key rows in the table (merge-on-read: one
    * positional delete file hides the old copies, the batch appends),
    * and the whole apply — delete entries, data files, and the
    * batch-id marker — lands in ONE metadata commit, so a replayed
    * batch is a no-op.
    *
    * Scale design: candidate files are pruned METADATA-ONLY by the
    * batch's key range against per-file min/max bounds before any I/O
    * (a clustered table keeps this near-exact); the batch's distinct
    * keys then semi-join (broadcast — a micro-batch is small by
    * construction) against only those files to find doomed row
    * positions. Cost is O(batch + overlapping files), independent of
    * table size.
    */
  def upsertIfNewMarker(dfIn: DataFrame, keyCols: Seq[String],
      markerKey: String, markerValue: Long,
      extraProps: Map[String, String] = Map.empty): Boolean = {
    require(keyCols.nonEmpty, "upsert requires at least one key column")
    val m = meta
    keyCols.foreach(k => require(m.currentSchema.fieldByName(k).isDefined,
      s"upsert key $k not in schema"))
    def seen(t: TableMetadata): Boolean =
      t.properties.get(markerKey).exists(_.toLong >= markerValue)
    if (seen(m)) return false
    // pin the batch across its consumers (dup gate, key bounds, doomed
    // join, data write): a recomputed non-deterministic batch could
    // otherwise delete positions that do not match the appended rows
    val df = dfIn.persist()
    try upsertPositional(m, df, keyCols, markerKey, markerValue, seen,
      extraProps)
    finally df.unpersist()
  }

  private def upsertPositional(m: TableMetadata, df: DataFrame,
      keyCols: Seq[String], markerKey: String, markerValue: Long,
      seen: TableMetadata => Boolean,
      extraProps: Map[String, String] = Map.empty): Boolean = {
    val files0 = m.currentSnapshot.map(_.files).getOrElse(Vector.empty)
    val dels0 = m.currentSnapshot.map(_.deleteFiles).getOrElse(Vector.empty)

    // a batch with two rows for one key would delete the old copy once
    // and append BOTH rows — permanent duplicates in the exactly-once
    // path. Fail loudly (one key-only job); dedupe upstream.
    require(df.groupBy(keyCols.map(k => col(s"`$k`")): _*)
        .agg(count(lit(1)).as("__n")).filter(col("__n") > 1).isEmpty,
      s"upsert batch has duplicate ${keyCols.mkString("/")} keys — " +
        "aggregate to one row per key upstream")
    val keyDf = df.select(keyCols.map(k => col(s"`$k`")): _*).distinct().persist()
    val delEntries: Vector[DataFileEntry] =
      try {
        if (files0.isEmpty) Vector.empty
        else {
          // metadata-only candidate pruning on the first key's bounds.
          // NULL-aware: min/max ignore NULL keys, and parquet bounds
          // exclude NULLs, so a batch containing NULL keys must widen
          // the predicate with IS NULL (StatsPruning conservatively
          // keeps every file for IsNull) — the eq-delete variant
          // replaces NULL-keyed rows, and the two upserts advertise the
          // same visible semantics
          val kHead = col(s"`${keyCols.head}`")
          val bounded = {
            val r = keyDf.agg(min(kHead).as("lo"), max(kHead).as("hi"),
              max(kHead.isNull).as("hasNull")).head()
            val hasNull = !r.isNullAt(2) && r.getBoolean(2)
            val range =
              if (r.isNullAt(0)) None
              else Some(kHead >= lit(r.get(0)) && kHead <= lit(r.get(1)))
            val pred = (range, hasNull) match {
              case (Some(p), true)  => Some(p || kHead.isNull)
              case (Some(p), false) => Some(p)
              case (None, true)     => Some(kHead.isNull)
              case (None, false)    => None // empty batch
            }
            pred.map(p => pruneCandidates(m, files0, exprOf(p)))
              .getOrElse(Vector.empty)
          }
          if (bounded.isEmpty) Vector.empty
          else {
            // files0 non-empty here, so the snapshot exists
            val live = liveRows(m, m.currentSnapshot.get, bounded)
            // null-safe equality: a NULL-keyed batch row replaces the
            // old NULL-keyed row, matching the eq-delete read path
            val doomed = live.join(broadcast(keyDf),
                keyCols.map(k => live(s"`$k`") <=> keyDf(s"`$k`")).reduce(_ && _),
                "left_semi")
              .select(relDataPath(col("_g_path")).as("file_path"),
                col("_g_pos").as("pos"))
              .persist() // consumed twice: emptiness gate + the write
            try {
              if (doomed.isEmpty) Vector.empty
              else writeDeleteFile(m, doomed, bounded)
            } finally doomed.unpersist()
          }
        }
      } finally keyDf.unpersist()
    // a failure writing the DATA files must reclaim the already-staged
    // delete file too — no path may strand orphans
    val written =
      try writeFiles(m, df)
      catch {
        case scala.util.control.NonFatal(e) =>
          delEntries.foreach(f =>
            io.delete(absPath(f.path)))
          throw e
      }
    final class Dup extends RuntimeException
    def reclaimStaged(): Unit =
      (written ++ delEntries).foreach(f =>
        io.delete(absPath(f.path)))
    try {
      MetadataIO.commitRetry(location) { cur =>
        if (seen(cur)) throw new Dup
        // the doomed positions were computed against THIS snapshot:
        // a concurrent data commit is a genuine conflict (same rule as
        // commitSnapshot), absorbed only for metadata-level races
        if (cur.currentSnapshotId != m.currentSnapshotId)
          throw new ConcurrentCommitException(
            s"concurrent commit during upsert $markerKey=$markerValue — re-run")
        withSnapshot(cur, "overwrite", files0 ++ written, dels0 ++ delEntries)
          .copy(properties = cur.properties +
            (markerKey -> markerValue.toString) ++ extraProps)
      }
      true
    } catch {
      case _: Dup => reclaimStaged(); false
      case scala.util.control.NonFatal(e) =>
        // any failed commit (e.g. the concurrent-snapshot conflict) must
        // not leave its staged files as orphans
        reclaimStaged(); throw e
    }
  }

  // ------------------------------------------------------- row-level DML

  /** DELETE FROM t WHERE cond — mode chosen by `write.delete.mode`
    * (reference: TBLPROPERTIES, cell 18): copy-on-write (default)
    * rewrites the touched files; merge-on-read writes positional
    * delete files (`*-deletes.parquet` on disk like the reference's
    * table3/table2) that readers apply inside the scan.
    *
    * SQL three-valued logic: only rows where cond is TRUE are removed;
    * rows where cond evaluates to NULL survive (plain `!cond` would drop
    * them — silent data loss).
    */
  def delete(cond: Column): GraftTable = {
    // one metadata read: mode and the snapshot the DML operates on must
    // come from the SAME version (same torn-read rule as read())
    val m = meta
    if (deleteMode(m) == "merge-on-read") mergeOnReadDml(m, cond, None)
    else rewriteMatching(m, cond, "delete", identity)
  }

  /** UPDATE t SET ... WHERE cond (reference: cells 19/24; SURVEY M-U).
    * Merge-on-read plans as delete-matched + append-updated (what the
    * reference's `write.update.mode=merge-on-read` does physically).
    */
  def update(cond: Column, assignments: Map[String, Column]): GraftTable = {
    val m = meta
    if (updateMode(m) == "merge-on-read") mergeOnReadDml(m, cond, Some(assignments))
    else rewriteMatching(m, cond, "overwrite",
      df => applyAssignments(df, Some(cond), assignments))
  }

  /** SQL UPDATE semantics: the WHERE condition and EVERY assignment RHS
    * evaluate against the ORIGINAL row, so all output columns are
    * computed in one simultaneous select. (Sequential withColumn would
    * feed later assignments already-mutated columns: `SET a = b, b = a`
    * must swap, not copy — and Map iteration order would make the
    * corruption nondeterministic.)
    */
  private def applyAssignments(df: DataFrame, cond: Option[Column],
      assignments: Map[String, Column]): DataFrame = {
    // resolve each target to exactly ONE schema column: exact name
    // first, case-insensitive only when unambiguous. A blanket lowercase
    // fold would silently write BOTH `a` and `A` on a table whose
    // columns differ only in case (reachable after RENAME COLUMN).
    def resolve(k: String): String =
      if (df.columns.contains(k)) k
      else df.columns.filter(_.equalsIgnoreCase(k)) match {
        case Array(one) => one
        case Array()    => sys.error(s"UPDATE target not in table: $k")
        case many => sys.error(
          s"UPDATE target '$k' is ambiguous: ${many.mkString(", ")}")
      }
    val resolved = assignments.map { case (k, v) => resolve(k) -> v }
    require(resolved.size == assignments.size,
      s"duplicate UPDATE targets: ${assignments.keys.mkString(", ")}")
    df.select(df.columns.map { c =>
      resolved.get(c) match {
        case Some(v) =>
          cond.map(w => when(w, v).otherwise(col(s"`$c`")))
            .getOrElse(v).cast(df.schema(c).dataType).as(c)
        case None => col(s"`$c`")
      }
    }: _*)
  }

  private def deleteMode(m: TableMetadata): String =
    m.properties.getOrElse("write.delete.mode", "copy-on-write")
  private def updateMode(m: TableMetadata): String =
    m.properties.getOrElse("write.update.mode",
      m.properties.getOrElse("write.delete.mode", "copy-on-write"))
  private def mergeMode(m: TableMetadata): String =
    m.properties.getOrElse("write.merge.mode",
      m.properties.getOrElse("write.delete.mode", "copy-on-write"))

  /** Write a positional-delete parquet from (file_path, pos) rows and
    * return its manifest entries — the one writer all merge-on-read
    * paths (DML, MERGE, upsert) share. `targets` are the data files the
    * rows were read from (the writer's candidate set, already on the
    * driver); each positional entry records those whose scan-side key
    * lies inside its own `file_path` footer bounds, so reads and
    * rewrites can tell which files it reaches ([[deletesReaching]])
    * without opening it.
    */
  private def writeDeleteFile(m: TableMetadata, delRows: DataFrame,
      targets: Vector[DataFileEntry],
      equalityIds: Vector[Int] = Vector.empty): Vector[DataFileEntry] = {
    val codec = m.properties.getOrElse("write.parquet.compression-codec", "zstd")
    val delRel = s"data/${UUID.randomUUID().toString}-deletes"
    val delAbs = s"$location/$delRel"
    delRows.write.mode("errorifexists").option("compression", codec)
      .parquet(delAbs)
    listParquet(delAbs).map { abs =>
      val rel = s"$delRel/${abs.stripPrefix(delAbs + "/")}"
      val footer = readFooter(abs)
      DataFileEntry(rel, footer.rowCount, m.currentSchemaId,
        equalityIds = equalityIds,
        fileSizeBytes = io.size(abs),
        referencedDataFiles =
          if (equalityIds.nonEmpty) Vector.empty
          else targetsWithin(targets, footer.lower.get("file_path"),
            footer.upper.get("file_path")))
    }
  }

  /** Manifest paths of `targets` with a scan-side key inside the
    * positional delete file's `[lo, hi]` bounds, compared in parquet's
    * unsigned UTF-8 byte order. A key is checked in every spelling it
    * can take in the delete rows — the [[relDataPathForms]] ones plus
    * the percent-encoded URI path the scan reports — and a target is
    * dropped only when all of them fall outside. Absent bounds keep
    * every target.
    */
  private def targetsWithin(targets: Vector[DataFileEntry],
      lo: Option[String], hi: Option[String]): Vector[String] =
    (lo, hi) match {
      case (Some(l), Some(h)) =>
        def utf8(x: String) = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val (lb, hb) = (utf8(l), utf8(h))
        targets.map(_.path).filter { p =>
          val uriForm =
            try Seq(relDataPathStr(
              new org.apache.hadoop.fs.Path(absPath(p)).toUri.getRawPath))
            catch { case _: Exception => Nil }
          (relDataPathForms(p) ++ uriForm).exists { k =>
            val kb = utf8(k)
            java.util.Arrays.compareUnsigned(lb, kb) <= 0 &&
              java.util.Arrays.compareUnsigned(kb, hb) <= 0
          }
        }
      case _ => targets.map(_.path)
    }

  /** O(batch)-commit CDC apply: the EQUALITY-delete variant of
    * [[upsertIfNewMarker]]. No join against existing data at write
    * time at all — the batch's rows, ONE equality-delete file holding
    * the batch's keys (stored under field-id names, rename-proof), and
    * the batch-id marker commit together; readers hide every OLDER row
    * with equal keys (seq rule) until compaction materializes the
    * table. The write-side trade: commits are O(batch) regardless of
    * how many files hold replaced keys, while reads pay one extra
    * broadcast anti-join per accumulated delete file — exactly
    * Iceberg's equality-delete contract (what Flink CDC writes).
    */
  def upsertEqIfNewMarker(dfIn: DataFrame, keyCols: Seq[String],
      markerKey: String, markerValue: Long): Boolean = {
    require(keyCols.nonEmpty, "upsert requires at least one key column")
    val m = meta
    val fields = keyCols.map(k => m.currentSchema.fieldByName(k)
      .getOrElse(sys.error(s"upsert key $k not in schema")))
    val ids = fields.map(_.id).toVector
    def seen(t: TableMetadata): Boolean =
      t.properties.get(markerKey).exists(_.toLong >= markerValue)
    if (seen(m)) return false
    // pin the batch: it feeds three jobs (dup check, delete keys, data
    // write) and a recomputation that produced different rows would
    // commit delete keys that do not match the appended data
    val df = dfIn.persist()
    try {
      require(df.groupBy(keyCols.map(k => col(s"`$k`")): _*)
          .agg(count(lit(1)).as("__n")).filter(col("__n") > 1).isEmpty,
        s"upsert batch has duplicate ${keyCols.mkString("/")} keys — " +
          "aggregate to one row per key upstream")
      upsertEqCommit(m, df, keyCols, fields, ids, markerKey, markerValue,
        seen)
    } finally df.unpersist()
  }

  private def upsertEqCommit(m: TableMetadata, df: DataFrame,
      keyCols: Seq[String], fields: Seq[FieldDef], ids: Vector[Int],
      markerKey: String, markerValue: Long,
      seen: TableMetadata => Boolean): Boolean = {
    val files0 = m.currentSnapshot.map(_.files).getOrElse(Vector.empty)
    val dels0 = m.currentSnapshot.map(_.deleteFiles).getOrElse(Vector.empty)
    // keys cast to the TABLE'S types (writeFiles casts the data rows the
    // same way — a long-typed batch against an int column must not
    // commit an unreadable INT64 delete file); no delete file at all
    // when there are no older rows to hide or the batch is empty
    val delEntries: Vector[DataFileEntry] =
      if (files0.isEmpty || df.isEmpty) Vector.empty
      else writeDeleteFile(m,
        df.select(keyCols.zip(fields).map { case (k, f) =>
          col(s"`$k`").cast(f.sparkType).as(s"_k_${f.id}")
        }: _*).distinct()
          // micro-batch keys are small by construction: ONE delete
          // file per batch keeps the manifest O(#batches), not
          // O(#batches * shuffle partitions)
          .coalesce(1),
        targets = Vector.empty, equalityIds = ids)
    val written =
      try writeFiles(m, df)
      catch {
        case scala.util.control.NonFatal(e) =>
          delEntries.foreach(f =>
            io.delete(absPath(f.path)))
          throw e
      }
    final class Dup extends RuntimeException
    def reclaimStaged(): Unit =
      (written ++ delEntries).foreach(f =>
        io.delete(absPath(f.path)))
    try {
      MetadataIO.commitRetry(location) { cur =>
        if (seen(cur)) throw new Dup
        // value-keyed deletes make concurrent writers ambiguous (which
        // copy of a key wins?) — same strictness as the positional path
        if (cur.currentSnapshotId != m.currentSnapshotId)
          throw new ConcurrentCommitException(
            s"concurrent commit during upsert $markerKey=$markerValue — re-run")
        withSnapshot(cur, "overwrite", files0 ++ written, dels0 ++ delEntries)
          .copy(properties = cur.properties + (markerKey -> markerValue.toString))
      }
      true
    } catch {
      case _: Dup => reclaimStaged(); false
      case scala.util.control.NonFatal(e) => reclaimStaged(); throw e
    }
  }

  /** Merge-on-read row-level DML: stats-pruned candidate scan finds
    * matching rows; their (file_path, row_index) pairs land in a new
    * positional delete file that records the candidates as its targets;
    * UPDATE additionally appends the updated copies. Data files are
    * never rewritten — the write cost is O(matched rows). The read cost
    * is a deletion-vector filter inside the scan, paid only by reads
    * whose files the delete reaches ([[deletesReaching]]), and only
    * until a rewrite (binpack, copy-on-write DML,
    * `rewriteDeletedDataFiles()`) replaces the files it targets — that
    * commit drops the delete.
    */
  private def mergeOnReadDml(m: TableMetadata, cond: Column,
      assignments: Option[Map[String, Column]]): GraftTable = {
    val snap = m.currentSnapshot.getOrElse(return this)
    val (pruneCond, extras) =
      SubqueryPruning.augmentSplit(spark, exprOf(cond))
    val candidates = pruneCandidates(m, snap.files, pruneCond)
    GraftTable.lastDmlCandidateFiles.set(candidates.size.toLong)
    if (candidates.isEmpty) return this
    // existing deletes must apply first: an already-deleted row must not
    // be re-deleted (harmless) or re-updated (row resurrection!);
    // evaluated domains re-apply as data filters (row-group skipping
    // inside kept candidates — see applyResidual)
    val live = applyResidual(m, liveRows(m, snap, candidates), extras)
    val matched = live.filter(cond).cache()
    try {
      val delRows = matched.select(
        relDataPath(col("_g_path")).as("file_path"),
        col("_g_pos").as("pos"))
      if (delRows.isEmpty) return this
      val delEntries = writeDeleteFile(m, delRows, candidates)
      val (dataFiles, op) = assignments match {
        case None => (snap.files, "delete")
        case Some(as) =>
          // rows are already cond-filtered; assignments still evaluate
          // simultaneously against the original row (see applyAssignments)
          val updated = applyAssignments(
            matched.drop("_g_path", "_g_pos"), None, as)
          (snap.files ++ writeFiles(m, updated), "overwrite")
      }
      commitSnapshot(m, op, dataFiles, snap.deleteFiles ++ delEntries)
      this
    } finally matched.unpersist()
  }

  // ------------------------------------------------------------ MERGE INTO

  /** MERGE INTO this table USING `source` ON `on` (reference: the MoR
    * write modes its notebook sets in cell 18, Pyspark_Notebook.ipynb:557,
    * exist for exactly this DML; Iceberg's MERGE is the reference
    * surface). Mode from `write.merge.mode` (falls back to
    * `write.delete.mode`; default copy-on-write).
    *
    * SQL semantics:
    *   - clauses evaluate in the given order; the FIRST clause whose
    *     condition is TRUE applies; NULL/false conditions fall through;
    *     a row no clause claims is kept unchanged;
    *   - a target row matching MORE than one source row is a cardinality
    *     violation (ISO SQL) — checked and failed loudly whenever
    *     matched clauses exist, since the row's update/delete would be
    *     nondeterministic;
    *   - insert clauses see SOURCE columns only; not-matched-by-source
    *     clauses see TARGET columns only; matched clauses see both
    *     (qualify with `targetAlias` / the source's alias on collision).
    *
    * Scale design: copy-on-write rewrites ONLY files containing matched
    * rows — found with one join that aggregates just row ids (the
    * source is joined, never collected; AQE broadcasts a small source) —
    * unless not-matched-by-source clauses force a whole-table pass by
    * definition. Merge-on-read writes positional deletes for changed
    * rows and appends updated copies + inserts, never rewriting data
    * files. Inserts come from one anti join against the live target.
    */
  def merge(source: DataFrame, on: Column,
      matched: Seq[MergeMatchedClause],
      notMatched: Seq[MergeInsertClause],
      notMatchedBySource: Seq[MergeMatchedClause] = Nil,
      targetAlias: Option[String] = None): GraftTable =
    mergeImpl(source, on, matched, notMatched, notMatchedBySource,
      targetAlias, base = None, staging = false, revalidate = true)
      .swap.getOrElse(this)

  /** Staged COPY-ON-WRITE MERGE — the transactional form of [[merge]]:
    * the whole merge is PLANNED AND WRITTEN now (matched-file
    * discovery, cardinality gate, survivor rewrite + inserts — data
    * files on disk, invisible until referenced) and the returned
    * transform publishes the snapshot inside a multi-table claim set
    * ([[graft.catalog.GraftCatalog.transactOps]] /
    * `BEGIN TRANSACTION ... COMMIT`), so the CDC-upsert-plus-index
    * shape commits atomically. Same conflict contract as
    * [[stageDelete]]: the transform re-validates the base snapshot at
    * claim time and aborts loudly on a racing commit. Merge-on-read
    * targets stage their positional delete file + appended copies the
    * same way (see [[stageMorDml]]'s contract).
    */
  private[graft] def stageMerge(source: DataFrame, on: Column,
      matched: Seq[MergeMatchedClause],
      notMatched: Seq[MergeInsertClause],
      notMatchedBySource: Seq[MergeMatchedClause] = Nil,
      targetAlias: Option[String] = None,
      base: Option[TableMetadata] = None, revalidate: Boolean = true)
      : (TableMetadata, Long) => TableMetadata =
    mergeImpl(source, on, matched, notMatched, notMatchedBySource,
      targetAlias, base, staging = true, revalidate)
      .getOrElse(sys.error("stageMerge produced no transform"))

  private def mergeImpl(source: DataFrame, on: Column,
      matched: Seq[MergeMatchedClause],
      notMatched: Seq[MergeInsertClause],
      notMatchedBySource: Seq[MergeMatchedClause],
      targetAlias: Option[String],
      base: Option[TableMetadata], staging: Boolean, revalidate: Boolean)
      : Either[GraftTable, (TableMetadata, Long) => TableMetadata] = {
    require(matched.nonEmpty || notMatched.nonEmpty || notMatchedBySource.nonEmpty,
      "MERGE requires at least one WHEN clause")
    val m = base.getOrElse(meta)
    val mergeBaseId = m.currentSnapshotId
    // staged no-op merges still commit an unchanged-files snapshot so
    // every table in a transaction gets exactly one snapshot with the
    // shared timestamp (stageRewrite's no-match convention)
    def aligned: Either[GraftTable, (TableMetadata, Long) => TableMetadata] =
      if (!staging) Left(this)
      else Right((curM: TableMetadata, sharedTs: Long) => {
        if (revalidate && curM.currentSnapshotId != mergeBaseId)
          throw new ConcurrentCommitException(
            s"concurrent commit: snapshot advanced from $mergeBaseId to " +
              s"${curM.currentSnapshotId} during staged MERGE of $location — " +
              "re-run the transaction")
        withSnapshot(curM, "overwrite",
          curM.currentSnapshot.map(_.files).getOrElse(Vector.empty),
          curM.currentSnapshot.map(_.deleteFiles).getOrElse(Vector.empty),
          tsHint = Some(sharedTs))
      })
    val cur = m.currentSchema
    Seq("_g_path", "_g_pos", "__graft_action").foreach(c =>
      require(!source.columns.contains(c),
        s"merge source may not contain reserved column $c"))

    // resolve an assignment / insert target to exactly one schema column
    // (exact-then-unambiguous-case-insensitive — the UPDATE-target rule)
    def resolveKey(k: String): String =
      cur.fields.find(_.name == k).map(_.name).getOrElse(
        cur.fields.filter(_.name.equalsIgnoreCase(k)) match {
          case Vector(one) => one.name
          case Vector()    => sys.error(s"MERGE target column not in table: $k")
          case many => sys.error(
            s"MERGE target column '$k' is ambiguous: ${many.map(_.name).mkString(", ")}")
        })

    // UPDATE SET * / INSERT *: by-name from the source handle's own
    // columns — unambiguous even when target names collide in the join
    def starAssignments: Map[String, Column] = cur.fields.map { f =>
      val s = source.columns.find(_ == f.name).orElse(
        source.columns.filter(_.equalsIgnoreCase(f.name)) match {
          case Array(one) => Some(one)
          case _          => None
        }).getOrElse(sys.error(s"MERGE *: source has no column ${f.name}"))
      f.name -> source(s"`$s`")
    }.toMap

    def norm(c: MergeMatchedClause): (Option[Column], Option[Map[String, Column]]) =
      c match {
        case MergeUpdateClause(cond, as) =>
          (cond, Some(as.map { case (k, v) => resolveKey(k) -> v }))
        case MergeUpdateAllClause(cond) => (cond, Some(starAssignments))
        case MergeDeleteClause(cond)    => (cond, None)
      }
    val mClauses = matched.map(norm)
    val nmsClauses = notMatchedBySource.map(norm)
    val insClauses: Seq[(Option[Column], Map[String, Column])] = notMatched.map {
      case MergeInsertValuesClause(cond, as) =>
        (cond, as.map { case (k, v) => resolveKey(k) -> v })
      case MergeInsertAllClause(cond) => (cond, starAssignments)
    }

    val files0 = m.currentSnapshot.map(_.files).getOrElse(Vector.empty)
    val dels0 = m.currentSnapshot.map(_.deleteFiles).getOrElse(Vector.empty)
    def aliased(df: DataFrame): DataFrame =
      targetAlias.map(df.alias).getOrElse(df)
    def liveOf(fs: Vector[DataFileEntry]): DataFrame =
      // only called with files of the current snapshot; the empty-table
      // path reads an empty tagged frame with no deletes to apply
      m.currentSnapshot.map(sn => liveRows(m, sn, fs))
        .getOrElse(readFilesTagged(m, fs))

    // ---- source-key file pruning: the CDC upsert at 100 TB must not
    // scan the fact to find its files. NOT MATCHED BY SOURCE forces
    // every-file reads (any file may hold unmatched target rows);
    // otherwise matched-row discovery, the cardinality gate, and the
    // insert anti-join only ever need files that COULD hold a source
    // key — a pruned file's rows can never satisfy the ON
    // equi-conjunct, so they can neither match nor block an insert.
    val candFiles: Vector[DataFileEntry] =
      if (nmsClauses.nonEmpty) files0
      else mergeSourceCandidates(m, files0, source, on, targetAlias)
    GraftTable.lastMergeCandidateFiles.set(candFiles.size.toLong)
    lazy val liveCand = aliased(liveOf(candFiles))

    // first clause whose condition is TRUE wins; -1 = no clause applies
    def actionIdx(cs: Seq[(Option[Column], Any)]): Column =
      cs.zipWithIndex.foldRight(lit(-1)) { case (((cond, _), i), els) =>
        when(cond.getOrElse(lit(true)), lit(i)).otherwise(els)
      }

    // project a row carrying __graft_action to the schema: the winning
    // update clause's assignments apply, everything else passes through
    // from the ORIGINAL row (`t` = the tagged target handle)
    def selectUpdated(dfWithIdx: DataFrame,
        cs: Seq[(Option[Column], Option[Map[String, Column]])],
        t: DataFrame): DataFrame = {
      val updates = cs.zipWithIndex.collect { case ((_, Some(as)), i) => (i, as) }
      dfWithIdx.select(cur.fields.map { f =>
        val orig: Column = t(s"`${f.name}`")
        updates.foldRight(orig) { case ((i, as), els) =>
          as.get(f.name) match {
            case Some(v) => when(col("__graft_action") === i, v).otherwise(els)
            case None    => els
          }
        }.cast(f.sparkType).as(f.name)
      }: _*)
    }

    def applyMatched(df: DataFrame,
        cs: Seq[(Option[Column], Option[Map[String, Column]])],
        t: DataFrame): DataFrame = {
      val withIdx = df.withColumn("__graft_action", actionIdx(cs))
      val deletes = cs.zipWithIndex.collect { case ((_, None), i) => i }
      val kept =
        if (deletes.isEmpty) withIdx
        else withIdx.filter(!col("__graft_action").isin(deletes.map(Int.box): _*))
      selectUpdated(kept, cs, t)
    }

    def buildInserts(srcRows: DataFrame): DataFrame = {
      val withIdx = srcRows.withColumn("__graft_action", actionIdx(insClauses))
        .filter(col("__graft_action") >= 0)
      withIdx.select(cur.fields.map { f =>
        insClauses.zipWithIndex.foldRight(lit(null): Column) {
          case (((_, as), i), els) => as.get(f.name) match {
            case Some(v) => when(col("__graft_action") === i, v).otherwise(els)
            case None    => els
          }
        }.cast(f.sparkType).as(f.name)
      }: _*)
    }

    lazy val liveAll = aliased(liveOf(files0))
    val needRewrite = (mClauses.nonEmpty || nmsClauses.nonEmpty) && files0.nonEmpty

    // matched-row id aggregation: the ISO cardinality gate, and the
    // touched-file set that keeps copy-on-write at file granularity —
    // the probe join reads only the source-key candidates (matches
    // cannot exist outside them)
    var touched = Vector.empty[DataFileEntry]
    if (needRewrite) {
      if (mClauses.nonEmpty) {
        val byRow = liveCand.join(source, on, "inner")
          .groupBy(col("_g_path"), col("_g_pos"))
          .agg(count(lit(1)).as("__graft_n"))
          .persist()
        try {
          require(byRow.filter(col("__graft_n") > 1).isEmpty,
            "MERGE cardinality violation: a target row matched more than one source row")
          val paths = byRow.select(relDataPath(col("_g_path")).as("p"))
            .distinct().collect().map(_.getString(0)).toSet
          touched =
            if (nmsClauses.nonEmpty) files0 // every file may hold unmatched rows
            else candFiles.filter(f =>
              relDataPathForms(f.path).exists(paths))
        } finally byRow.unpersist()
      } else touched = files0
    }

    val inserted: Option[DataFrame] =
      if (insClauses.isEmpty) None
      else Some(buildInserts(source.join(liveCand, on, "left_anti")))

    if (mergeMode(m) == "merge-on-read" && needRewrite && touched.nonEmpty) {
      // -------- merge-on-read: positional deletes + appended copies
      def morPart(rows: DataFrame,
          cs: Seq[(Option[Column], Option[Map[String, Column]])],
          t: DataFrame): (DataFrame, Option[DataFrame]) = {
        val withIdx = rows.withColumn("__graft_action", actionIdx(cs))
          .filter(col("__graft_action") >= 0)
        val delRows = withIdx.select(
          relDataPath(t("_g_path")).as("file_path"), t("_g_pos").as("pos"))
        val updated =
          if (cs.forall(_._2.isEmpty)) None // delete-only clause list
          else {
            val up = cs.zipWithIndex.collect { case ((_, Some(_)), i) => Int.box(i) }
            Some(selectUpdated(
              withIdx.filter(col("__graft_action").isin(up: _*)), cs, t))
          }
        (delRows, updated)
      }
      val liveT = aliased(liveOf(touched))
      val matchedPart =
        if (mClauses.isEmpty) None
        else Some(morPart(liveT.join(source, on, "inner"), mClauses, liveT))
      val nmsPart =
        if (nmsClauses.isEmpty) None
        else Some(morPart(liveAll.join(source, on, "left_anti"), nmsClauses, liveAll))
      val delRows = Seq(matchedPart, nmsPart).flatten.map(_._1)
        .reduce(_ unionByName _).persist()
      try {
        val newData = (Seq(matchedPart, nmsPart).flatten.flatMap(_._2) ++ inserted)
          .reduceOption(_ unionByName _)
        if (delRows.isEmpty && newData.forall(_.isEmpty))
          return (if (staging) aligned else Left(this))
        val delEntries =
          if (delRows.isEmpty) Vector.empty[DataFileEntry]
          else writeDeleteFile(m, delRows, touched)
        val written = newData.map(d => writeFiles(m, d)).getOrElse(Vector.empty)
        if (staging)
          // staged merge-on-read merge: delete file + appended copies
          // written above; publish in the transaction's claim set with
          // the same any-concurrent-commit-aborts contract as
          // stageMorDml (the delete file names base-file positions)
          return Right((curM: TableMetadata, sharedTs: Long) => {
            if (revalidate && curM.currentSnapshotId != mergeBaseId)
              throw new ConcurrentCommitException(
                s"concurrent commit: snapshot advanced from $mergeBaseId " +
                  s"to ${curM.currentSnapshotId} during staged MERGE of " +
                  s"$location — re-run the transaction")
            withSnapshot(curM, "overwrite",
              curM.currentSnapshot.map(_.files).getOrElse(Vector.empty) ++
                written,
              curM.currentSnapshot.map(_.deleteFiles)
                .getOrElse(Vector.empty) ++ delEntries,
              tsHint = Some(sharedTs))
          })
        commitSnapshot(m, "overwrite", files0 ++ written, dels0 ++ delEntries)
      } finally delRows.unpersist()
      Left(this)
    } else {
      // -------- copy-on-write (also the empty-table / insert-only path)
      val survivors: Option[DataFrame] =
        if (!needRewrite || touched.isEmpty) None
        else {
          val liveT = aliased(liveOf(touched))
          val matchedPart =
            if (mClauses.isEmpty)
              // no matched clauses: matched rows pass through unchanged;
              // semi join keeps exactly one copy per target row
              liveT.join(source, on, "left_semi")
                .select(cur.fields.map(f => liveT(s"`${f.name}`")): _*)
            else applyMatched(liveT.join(source, on, "inner"), mClauses, liveT)
          val unmatchedPart = {
            val um = liveT.join(source, on, "left_anti")
            if (nmsClauses.isEmpty)
              um.select(cur.fields.map(f => liveT(s"`${f.name}`")): _*)
            else applyMatched(um, nmsClauses, liveT)
          }
          Some(matchedPart.unionByName(unmatchedPart))
        }
      val newRows = (survivors, inserted) match {
        case (Some(a), Some(b)) => Some(a.unionByName(b))
        case (a, b)             => a.orElse(b)
      }
      newRows match {
        case None => aligned
        case Some(rows) =>
          // pure-insert merges skip the commit when nothing inserts
          // (matching DELETE/UPDATE's no-match convention); a STAGED
          // one still aligns timestamps
          if (survivors.isEmpty && rows.isEmpty) aligned
          else {
            // set-keyed by path: Vector.contains inside a per-file
            // filter is O(F·T) — quadratic when NOT MATCHED BY SOURCE
            // touches every file of a million-file table
            val touchedPaths = touched.iterator.map(_.path).toSet
            if (staging) {
              // write now (invisible until referenced); publish inside
              // the transaction's one claim set
              val written = writeFiles(m, rows)
              Right((curM: TableMetadata, sharedTs: Long) => {
                if (revalidate && curM.currentSnapshotId != mergeBaseId)
                  throw new ConcurrentCommitException(
                    s"concurrent commit: snapshot advanced from " +
                      s"$mergeBaseId to ${curM.currentSnapshotId} during " +
                      s"staged MERGE of $location — re-run the transaction")
                val curFiles =
                  curM.currentSnapshot.map(_.files).getOrElse(Vector.empty)
                val untouched = curFiles.filterNot(f => touchedPaths(f.path))
                withSnapshot(curM, "overwrite", untouched ++ written,
                  deletesKept(curM, untouched), tsHint = Some(sharedTs))
              })
            } else {
              val untouchedF = files0.filterNot(f => touchedPaths(f.path))
              commitSnapshot(m, "overwrite", untouchedF ++ writeFiles(m, rows),
                deletesKept(m, untouchedF))
              Left(this)
            }
          }
      }
    }
  }

  /** Source-key file pruning for [[merge]]: evaluate the SOURCE's
    * equi-join key domain (distinct IN-set up to
    * `spark.graft.dynamicPruning.maxKeys`, min/max range past it) with
    * one small job and prune the target's file list through the same
    * partition-transform + manifest-bounds machinery reads use — a
    * bucket(N, key) fact keeps only the batch's buckets, a
    * key-clustered fact only the overlapping ranges. Inclusive
    * pruning keeps every file that could hold a matching key, so the
    * caller's discovery join / cardinality gate / anti-join results
    * are value-identical on the kept slice. Bails to the full list
    * (never wrong, just unpruned) when: pruning is disabled; the
    * source plan is nondeterministic (its key domain could differ
    * between this evaluation and the join's own — rather refuse than
    * risk it) or estimated above
    * `spark.graft.dynamicPruning.maxMergeSourceBytes` (default 256 MB
    * — the extra distinct pass must stay cheap relative to the scan
    * it saves); or no ON conjunct is a bare target-column = source-
    * column equality attributable by name.
    */
  private def mergeSourceCandidates(m: TableMetadata,
      files: Vector[DataFileEntry], source: DataFrame, on: Column,
      targetAlias: Option[String]): Vector[DataFileEntry] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{And => CAnd, AttributeReference, EqualTo, Expression => CExpr, GreaterThanOrEqual => CGte, In => CIn, LessThanOrEqual => CLte, Literal => CLit}
    def confL(k: String, d: Long): Long =
      spark.conf.getOption(k).map(_.toLong).getOrElse(d)
    if (files.size <= 1) return files
    if (!spark.conf.getOption("spark.graft.dynamicPruning.enabled")
        .forall(_.toBoolean)) return files
    val analyzed = source.queryExecution.analyzed
    if (analyzed.exists(p => p.expressions.exists(e => !e.deterministic)))
      return files
    val maxBytes =
      confL("spark.graft.dynamicPruning.maxMergeSourceBytes", 256L << 20)
    if (source.queryExecution.optimizedPlan.stats.sizeInBytes > maxBytes)
      return files
    val srcOut = analyzed.outputSet
    val cur = m.currentSchema
    def srcColOf(n: String): Option[String] =
      source.columns.find(_ == n).orElse(
        source.columns.filter(_.equalsIgnoreCase(n)) match {
          case Array(one) => Some(one)
          case _          => None
        })
    def tgtColOf(n: String): Option[String] =
      cur.fieldByName(n).map(_.name).orElse(
        cur.fields.filter(_.name.equalsIgnoreCase(n)) match {
          case Vector(one) => Some(one.name)
          case _           => None
        })
    // a conjunct side is the SOURCE (Left: selectable column) or the
    // TARGET (Right: schema column name); ambiguous names — present on
    // both sides — stay unclassified and the conjunct contributes no
    // pruning
    def classify(e: CExpr): Option[Either[Column, String]] = e match {
      case a: AttributeReference if srcOut.contains(a) =>
        Some(Left(org.apache.spark.sql.graftshim.columnOf(a)))
      case a: AttributeReference => tgtColOf(a.name).map(Right(_))
      case u: UnresolvedAttribute => u.nameParts match {
        case Seq(q, n) if targetAlias.exists(_.equalsIgnoreCase(q)) =>
          tgtColOf(n).map(Right(_))
        case Seq(n) => (srcColOf(n), tgtColOf(n)) match {
          case (Some(s), None) => Some(Left(source(s"`$s`")))
          case (None, Some(t)) => Some(Right(t))
          case _               => None
        }
        case _ => None
      }
      case _ => None
    }
    // Column-DSL conditions arrive PRE-ANALYSIS: 'and'/'=' are
    // UnresolvedFunction nodes named after the SQL operator (the same
    // shapes StatsPruning handles on its side)
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedFunction => UFn}
    def conjuncts(e: CExpr): Seq[CExpr] = e match {
      case CAnd(l, r) => conjuncts(l) ++ conjuncts(r)
      case UFn(Seq(fn), Seq(l, r), false, _, _, _, _)
          if fn.equalsIgnoreCase("and") => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    def equiSides(e: CExpr): Option[(CExpr, CExpr)] = e match {
      case EqualTo(x, y) => Some((x, y))
      case UFn(Seq(fn), Seq(x, y), false, _, _, _, _)
          if fn == "=" || fn == "==" => Some((x, y))
      case _ => None
    }
    val pairs: Seq[(String, Column)] =
      conjuncts(exprOf(on)).flatMap(equiSides).flatMap { case (x, y) =>
        (classify(x), classify(y)) match {
          case (Some(Right(t)), Some(Left(s))) => Some(t -> s)
          case (Some(Left(s)), Some(Right(t))) => Some(t -> s)
          case _                               => None
        }
      }
    if (pairs.isEmpty) return files
    val maxKeys = confL("spark.graft.dynamicPruning.maxKeys", 1000L).toInt
    // NULL keys never equi-match: drop them so an all-NULL batch
    // yields the empty domain (every file prunes; the merge becomes
    // insert-only, which is exactly its semantics)
    val nonNull = pairs.map(_._2).foldLeft(source)((d, c) =>
      d.filter(c.isNotNull))
    val sel = nonNull.select(pairs.map(_._2): _*)
    val keyTypes = sel.schema.fields.map(_.dataType)
    val rows = sel.distinct().limit(maxKeys + 1).collect()
    val tgtAttrs = pairs.map(p => UnresolvedAttribute.quoted(p._1))
    val domain: Seq[CExpr] =
      if (rows.length <= maxKeys)
        tgtAttrs.zipWithIndex.map { case (tn, i) =>
          CIn(tn, rows.map(_.get(i)).distinct.toSeq
            .map(v => CLit.create(v, keyTypes(i))))
        }
      else {
        val aggs = pairs.zipWithIndex.flatMap { case ((_, c), i) =>
          Seq(min(c).as(s"_lo$i"), max(c).as(s"_hi$i")) }
        val r = nonNull.agg(aggs.head, aggs.tail: _*).collect()(0)
        tgtAttrs.zipWithIndex.map { case (tn, i) =>
          if (r.isNullAt(2 * i)) CIn(tn, Nil)
          else CAnd(CGte(tn, CLit.create(r.get(2 * i), keyTypes(i))),
            CLte(tn, CLit.create(r.get(2 * i + 1), keyTypes(i))))
        }
      }
    pruneCandidates(m, files,
      domain.reduceOption(CAnd.apply).getOrElse(CLit.TrueLiteral))
  }

  /** Files that could contain rows matching cond, decided purely from
    * per-file min/max stats in the manifest — a 1-row DELETE at 100 TB
    * must not scan the table to find its file.
    */
  def candidateFiles(cond: Column): Vector[DataFileEntry] = {
    val m = meta
    m.currentSnapshot.map(s => pruneCandidates(m, s.files, exprOf(cond)))
      .getOrElse(Vector.empty)
  }

  /** Column -> Catalyst Expression (Spark 4 columns are ColumnNode-backed). */
  private def exprOf(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.graftshim.expressionOf(c)

  /** [[pruneCandidates]] for the SQL rule's filtered-aggregate gate
    * (same inclusive pruning, caller-supplied metadata).
    */
  private[graft] def candidatesFor(m: TableMetadata,
      files: Vector[DataFileEntry],
      e: org.apache.spark.sql.catalyst.expressions.Expression): Vector[DataFileEntry] =
    pruneCandidates(m, files, e)

  /** Metadata-only candidate discovery for DML and pruned reads:
    * partition-transform veto first (cheapest, whole partitions), then
    * manifest min/max bounds. Both strictly conservative.
    */
  private def pruneCandidates(m: TableMetadata, files: Vector[DataFileEntry],
      e: org.apache.spark.sql.catalyst.expressions.Expression): Vector[DataFileEntry] =
    StatsPruning.candidates(m, PartitionPruning.candidates(m, files, e), e)

  /** A manifest's summaries as a synthetic "file": merged bounds /
    * summed null counts / total rows are a sound conservative stand-in
    * for every entry under the EXISTING file-level evaluators
    * (inclusive: any row in [merged lo, merged hi] could match ⊇ any
    * row in each file's range; strict: the merged range inside the
    * predicate implies each file's range inside). Only meaningful when
    * ONE schema wrote the manifest (bound encodings are per-type), so
    * mixed-schema refs return None and the manifest always loads.
    */
  private def manifestSynthetic(r: graft.tableformat.ManifestRef): Option[DataFileEntry] =
    if (r.schemaIds.size != 1) None
    else Some(DataFileEntry(path = r.path, recordCount = r.recordCount,
      schemaId = r.schemaIds.head, lowerBounds = r.lowerBounds,
      upperBounds = r.upperBounds, nullCounts = r.nullCounts))

  /** Could ANY entry of the manifest match? Partition-combo and stats
    * veto composed through [[pruneCandidates]] on the synthetic file;
    * anything unsummarized keeps the manifest.
    */
  private def manifestMayMatch(m: TableMetadata, r: graft.tableformat.ManifestRef,
      e: org.apache.spark.sql.catalyst.expressions.Expression): Boolean =
    if (r.fileCount == 0) false
    else manifestSynthetic(r) match {
      case None => true
      case Some(syn) =>
        if (r.partitionCombos.isEmpty) pruneCandidates(m, Vector(syn), e).nonEmpty
        else r.partitionCombos.exists(c =>
          pruneCandidates(m, Vector(syn.copy(partitionValues = c)), e).nonEmpty)
    }

  /** Does EVERY row of the manifest provably match? Strict evaluation
    * over the merged summaries — lets [[countWhere]] count a whole
    * manifest from its recordCount without loading a single entry.
    */
  private def manifestAllMatch(m: TableMetadata, r: graft.tableformat.ManifestRef,
      e: org.apache.spark.sql.catalyst.expressions.Expression): Boolean =
    r.fileCount == 0 ||
      manifestSynthetic(r).exists(syn => StatsPruning.allMatch(m, syn, e))

  /** Manifest-level pre-pruning for a sealed snapshot: veto whole
    * manifests from their summaries BEFORE loading entries, then
    * file-level pruning inside the survivors. At 100 TB (thousands of
    * manifests) a time-range read opens the few manifests whose
    * summary ranges overlap instead of parsing the full inventory.
    * Inline snapshots fall through to plain file-level pruning.
    */
  private[graft] def prunedSnapshotFiles(m: TableMetadata, s: Snapshot,
      e: org.apache.spark.sql.catalyst.expressions.Expression): Vector[DataFileEntry] = {
    val files = s.manifestList match {
      case None => s.files
      case Some(_) => s.manifests.filter(_.kind == "data")
        .filter(r => manifestMayMatch(m, r, e))
        .flatMap(r => graft.tableformat.Manifests.readEntries(location, r))
    }
    pruneCandidates(m, files, e)
  }

  /** Metadata stats pruning narrows to candidate files; one
    * predicate-pushed scan over ONLY those finds the files actually
    * containing matching rows; only those are rewritten (minus deleted /
    * with updated rows); all other files carry over untouched.
    */
  private def rewriteMatching(m: TableMetadata, cond: Column, op: String,
      transform: DataFrame => DataFrame): GraftTable = {
    val snap = m.currentSnapshot.getOrElse(return this)
    val (pruneCond, extras) =
      SubqueryPruning.augmentSplit(spark, exprOf(cond))
    val candidates = pruneCandidates(m, snap.files, pruneCond)
    GraftTable.lastDmlCandidateFiles.set(candidates.size.toLong)
    if (candidates.isEmpty) return this
    // evaluated subquery domains re-apply as DATA filters on the
    // discovery scan (same soundness as the read path's residual:
    // rows they remove cannot match `cond`), so row groups inside
    // kept candidate files skip too
    val withFile = applyResidual(m, readFilesWithName(m, candidates), extras)
    val touchedAbs = withFile.filter(cond)
      .select(col("_graft_file")).distinct().collect()
      .map(r => normalizePath(r.getString(0))).toSet
    if (touchedAbs.isEmpty) return this
    // one partition pass keyed on the path set (never Vector.contains
    // per file — that's O(F·T) on wide DML)
    val (touched, untouched) = snap.files.partition(f =>
      touchedAbs.contains(normalizePath(absPath(f.path))))
    // rewriting a file must not resurrect rows a positional delete
    // already removed (tables can switch write modes between commits)
    val survivors0 = liveRead(m, snap, touched)
    val survivors = op match {
      // keep rows where cond is not TRUE (NULL-safe: NULL keeps the row)
      case "delete" => survivors0.filter(!coalesce(cond, lit(false)))
      case _        => transform(survivors0)
    }
    val written = writeFiles(m, survivors)
    commitSnapshot(m, op, untouched ++ written, deletesKept(m, untouched))
    this
  }

  /** input_file_name() yields a percent-encoded file: URI while manifest
    * paths are raw — normalize both sides to a decoded absolute path so
    * partition values with spaces/':'/'%' still match exactly.
    */
  private def normalizePath(p: String): String = {
    val decoded =
      try {
        val uri = new java.net.URI(p)
        if (uri.getScheme != null) Paths.get(uri).toString else p
      } catch { case _: Exception => p }
    Paths.get(decoded).toAbsolutePath.normalize.toString
  }

  // ------------------------------------------------------------------ DDL

  /** ALTER TABLE ADD COLUMN (reference: apiv15.py:94; SURVEY D3). */
  def addColumn(name: String, dataType: String): GraftTable = {
    MetadataIO.commitRetry(location)(addColumnTransform(name, dataType))
    this
  }

  private[graft] def addColumnTransform(name: String,
      dataType: String): TableMetadata => TableMetadata =
    schemaEvolution(s"add-column $name") { m =>
      require(m.currentSchema.fieldByName(name).isEmpty, s"column $name exists")
      m.currentSchema.fields :+ FieldDef(m.nextFieldId, name, dataType)
    }

  /** ALTER TABLE DROP COLUMN (reference: apiv15.py:122; SURVEY D4). */
  def dropColumn(name: String): GraftTable = {
    MetadataIO.commitRetry(location)(dropColumnTransform(name))
    this
  }

  private[graft] def dropColumnTransform(name: String)
      : TableMetadata => TableMetadata =
    schemaEvolution(s"drop-column $name") { m =>
      val f = m.currentSchema.fieldByName(name)
        .getOrElse(sys.error(s"no column $name"))
      // dropping a live equality-delete key would make every read —
      // including the compaction that could fix it — fail on the
      // unresolvable field-id: refuse while any retained snapshot's
      // delete files still key on it
      require(!m.snapshots.exists(_.deleteFiles.exists(_.equalityIds
          .contains(f.id))),
        s"column $name is an equality-delete key in retained snapshots; " +
          "compact (rewriteDataFiles) and expire those snapshots first")
      m.currentSchema.fields.filterNot(_.name == name)
    }

  /** ALTER TABLE RENAME COLUMN — same field-id, new name; the core
    * evolution semantic (reference: apiv15.py:352; SURVEY D5).
    */
  def renameColumn(oldName: String, newName: String): GraftTable = {
    MetadataIO.commitRetry(location)(renameColumnTransform(oldName, newName))
    this
  }

  private[graft] def renameColumnTransform(oldName: String,
      newName: String): TableMetadata => TableMetadata =
    schemaEvolution(s"rename-column $oldName->$newName") { m =>
      val f = m.currentSchema.fieldByName(oldName)
        .getOrElse(sys.error(s"no column $oldName"))
      require(m.currentSchema.fieldByName(newName).isEmpty, s"column $newName exists")
      m.currentSchema.fields.map(x => if (x.id == f.id) x.copy(name = newName) else x)
    }

  /** The pure metadata transform behind every schema evolution —
    * each records provenance as a table property (the reference's
    * schema_api_mapping.json side-file, H4, folded into metadata:
    * schema-id -> what changed). Exposed so
    * DDL can STAGE inside a SQL transaction
    * ([[graft.catalog.GraftSqlTransactions]]): the same transform
    * either commits immediately (commitRetry) or joins a transaction's
    * claim-set slot, re-running its own preconditions against whatever
    * metadata it is finally applied to.
    */
  private[graft] def schemaEvolution(op: String)(
      f: TableMetadata => Vector[FieldDef]): TableMetadata => TableMetadata =
    cur => {
      val next = VersionedSchema(cur.schemas.map(_.schemaId).max + 1, f(cur))
      cur.copy(currentSchemaId = next.schemaId,
        schemas = cur.schemas :+ next,
        properties = cur.properties +
          (s"graft.schema-log.${next.schemaId}" -> op))
    }

  def setProperties(props: Map[String, String]): GraftTable = {
    MetadataIO.commitRetry(location)(cur =>
      cur.copy(properties = cur.properties ++ props))
    this
  }

  /** Register an [[graft.operators.IncrementalAgg]]-maintained state
    * table as a MATERIALIZED VIEW of this table for automatic SQL
    * rewrite ([[graft.catalog.MviewRewrite]]): a covered GROUP-BY
    * aggregate over this table answers from the state table whenever
    * the view is exactly fresh (its recorded base snapshot IS the one
    * the query reads) — the 100 TB GROUP BY becomes an MB-scale scan.
    * `name` must be the same name passed to `IncrementalAgg.refresh`/
    * `refreshWithExtremes` (it keys the freshness property on the
    * state table). `extremes` lists min/max-maintained columns (the
    * *WithExtremes family); leave empty for count/sum-only state.
    */
  def registerMaterializedView(name: String, stateLocation: String,
      keys: Seq[String], sums: Seq[String] = Nil,
      extremes: Seq[String] = Nil): GraftTable = {
    require(name.nonEmpty && keys.nonEmpty,
      "materialized view needs a name and at least one key")
    val cur = meta.currentSchema
    (keys ++ sums ++ extremes).foreach(c =>
      require(cur.fieldByName(c).isDefined,
        s"materialized view column $c missing from table schema"))
    setProperties(Map(
      s"graft.mview.$name.state" -> stateLocation,
      s"graft.mview.$name.keys" -> keys.mkString(","),
      s"graft.mview.$name.sums" -> sums.mkString(","),
      s"graft.mview.$name.exts" -> extremes.mkString(",")))
  }

  /** Unregister a materialized view: clearing the state pointer stops
    * the rewrite; the state table itself is untouched.
    */
  def dropMaterializedView(name: String): GraftTable =
    setProperties(Map(s"graft.mview.$name.state" -> ""))

  /** ALTER COLUMN TYPE (Iceberg type promotion): same field-id, wider
    * type; files written under the old type read through the field-id
    * mapping's cast. Only safe widenings are allowed — a lossy change
    * would silently corrupt historical files at read time.
    */
  def alterColumnType(name: String, newType: String): GraftTable = {
    MetadataIO.commitRetry(location)(alterColumnTypeTransform(name, newType))
    this
  }

  private[graft] def alterColumnTypeTransform(name: String,
      newType: String): TableMetadata => TableMetadata =
    schemaEvolution(s"alter-column-type $name->$newType") { m =>
      val f = m.currentSchema.fieldByName(name)
        .getOrElse(sys.error(s"no column $name"))
      def decimalOf(t: String): Option[(Int, Int)] =
        if (t.startsWith("decimal(") && t.endsWith(")"))
          t.stripPrefix("decimal(").stripSuffix(")").split(",") match {
            case Array(p, s) => p.trim.toIntOption.zip(s.trim.toIntOption)
            case _           => None
          }
        else None
      val safe = f.dataType == newType || ((f.dataType, newType) match {
        // int fits a double's 53-bit mantissa exactly; long does NOT
        // (lossy above 2^53), so long->double is deliberately absent
        case ("int", "long") | ("int", "double") |
             ("float", "double") | ("date", "timestamp") => true
        // int/long -> decimal must hold every historical value exactly:
        // scale 0 and enough integer digits (int needs 10, long 19) —
        // comparing only the base name would accept decimal(3,2) and
        // silently null historical values through the read-time cast
        case ("int", t)  => decimalOf(t).exists { case (p, s) => s == 0 && p >= 10 }
        case ("long", t) => decimalOf(t).exists { case (p, s) => s == 0 && p >= 19 }
        // decimal widening: same scale, precision may only grow
        case (o, t) => decimalOf(o).zip(decimalOf(t)).exists {
          case ((p0, s0), (p1, s1)) => s1 == s0 && p1 >= p0
        }
      })
      require(safe,
        s"unsafe type change ${f.dataType} -> $newType; only lossless widening promotions are allowed")
      m.currentSchema.fields.map(x =>
        if (x.id == f.id) x.copy(dataType = newType) else x)
    }

  /** Partition spec evolution (Iceberg's ALTER TABLE ... WRITE ORDERED/
    * PARTITIONED BY): NEW files land under the new layout, existing
    * files keep the layout they were written with — partition values
    * are recorded per file in the manifest, so pruning works across
    * mixed specs without rewriting anything.
    */
  def setPartitionSpec(partition: Seq[(String, String)]): GraftTable = {
    MetadataIO.commitRetry(location) { cur =>
      val schema = cur.schemas.find(_.schemaId == cur.currentSchemaId)
        .getOrElse(sys.error(s"schema ${cur.currentSchemaId} missing"))
      val pfs = partition.map { case (src, tr) =>
        val f = schema.fieldByName(src)
          .getOrElse(sys.error(s"partition source $src missing"))
        PartitionTransforms.validate(tr, f.dataType)
        PartitionField(f.id, tr, PartitionTransforms.defaultName(src, tr))
      }
      val nextId = cur.partitionSpecs.map(_.specId).max + 1
      cur.copy(currentSpecId = nextId,
        partitionSpecs = cur.partitionSpecs :+ PartitionSpec(nextId, pfs.toVector),
        properties = cur.properties +
          (s"graft.spec-log.$nextId" ->
            partition.map(p => s"${p._2}(${p._1})").mkString(",")))
    }
    this
  }

  // ----------------------------------------------------- maintenance ops

  /** Compaction (Iceberg's rewrite_data_files): materialize the current
    * snapshot (deletes applied) into fresh files; positional delete
    * files stop being needed and the read path returns to plain scans.
    */
  def rewriteDataFiles(): GraftTable = rewriteDataFiles(Nil)

  /** Size-based compaction (Iceberg's rewrite_data_files BINPACK
    * strategy — the default maintenance op): rewrite ONLY the small
    * files, pack them to `targetFileSizeBytes`, and carry everything
    * else over untouched. At 100 TB this is the difference between a
    * nightly maintenance job that touches the 0.1% of partitions a
    * streaming writer fragmented and a full-table rewrite: selection
    * is metadata-only (manifest file sizes), grouped per partition,
    * and a partition contributes only when it has at least
    * `minInputFiles` sub-threshold files (one small file compacts to
    * itself — wasted I/O).
    *
    * Merge-on-read interaction: selected rows are read with their
    * deletes applied (materializing them into the rewrite), and the
    * commit keeps only the delete files that still reach a carried
    * data file ([[deletesKept]]): a positional delete whose recorded
    * targets were all packed, or an equality delete every carried file
    * sequences after, drops with this commit, so reads of the result
    * pay no delete filter for it and [[countRows]] answers from the
    * manifest again. Positional entries written before targets were
    * recorded reach every file and stay until `rewriteDeleteFiles()`
    * drops their dead rows.
    */
  def rewriteDataFilesBinpack(minFileSizeBytes: Long = 32L << 20,
      targetFileSizeBytes: Long = 128L << 20,
      minInputFiles: Int = 2): GraftTable = {
    require(minFileSizeBytes > 0, "minFileSizeBytes must be positive")
    require(targetFileSizeBytes > 0, "targetFileSizeBytes must be positive")
    require(minInputFiles >= 2,
      "minInputFiles must be >= 2 (one file compacts to itself)")
    val m = meta
    val snap = m.currentSnapshot.getOrElse(return this)
    val selected = snap.files
      .filter(f => f.fileSizeBytes > 0 && f.fileSizeBytes < minFileSizeBytes)
      .groupBy(_.partitionValues).filter(_._2.size >= minInputFiles)
      .values.flatten.toVector
    if (selected.isEmpty) return this
    val rows = liveRead(m, snap, selected)
    val written =
      if (m.currentSpec.fields.isEmpty) {
        // size the pack from real on-disk bytes (the manifest), not
        // plan stats — output lands near the target compressed size
        val nOut = math.max(1L,
          selected.map(_.fileSizeBytes).sum / targetFileSizeBytes + 1).toInt
        writeFiles(m, rows.repartition(nOut))
      } else {
        // partitioned: reuse the write-distribution hook — hash by
        // partition value re-coalesces each fragmented partition into
        // its own task(s); inherited write.sort-order still applies
        writeFiles(m.copy(properties = m.properties ++ Map(
          "write.distribution-mode" -> "hash",
          "write.target-file-size-bytes" -> targetFileSizeBytes.toString)),
          rows)
      }
    val selPaths = selected.map(_.path).toSet
    val carried = snap.files.filterNot(f => selPaths(f.path))
    commitSnapshot(m, "replace", carried ++ written, deletesKept(m, carried))
    this
  }

  /** Iceberg's rewrite_manifests: compact a fragmented manifest LIST —
    * the metadata residue of many small commits, each of which sealed
    * its own small manifest — into near-target-size manifests.
    * METADATA-ONLY: no data file is read or written; the same file
    * inventory regroups (clustered by partition value, so the new
    * manifests' partition summaries stay selective) and commits as a
    * new "replace" snapshot. At 100 TB this is what keeps planning
    * O(#manifests · skip) after a year of per-minute commits: a
    * thousand 10-entry manifests become two 8192-entry ones.
    *
    * Built pre-sealed on purpose: the normal commit path's structural
    * sharing would faithfully REUSE the fragmented parent manifests —
    * regrouping is exactly the op that must bypass it.
    */
  def rewriteManifests(targetEntries: Int = Manifests.DefaultTargetEntries): GraftTable = {
    require(targetEntries >= 1, "targetEntries must be positive")
    val m0 = meta
    val snap0 = m0.currentSnapshot.getOrElse(return this)
    if (snap0.manifestList.isEmpty) return this
    if (snap0.manifests.count(f => f.kind == "data" &&
        f.fileCount < targetEntries) <= 1) return this
    final class Noop extends RuntimeException
    try MetadataIO.commitRetry(location) { cur =>
      val snap = cur.currentSnapshot.getOrElse(
        sys.error("table lost its snapshot mid-rewrite"))
      val dataRefs = snap.manifests.filter(_.kind == "data")
      val (small, kept) = dataRefs.partition(_.fileCount < targetEntries)
      if (small.size <= 1) throw new Noop // racer compacted first
      val fieldType = (sid: Int, id: Int) =>
        cur.schemaById(sid).flatMap(_.fieldById(id)).map(_.dataType)
      // cluster by partition value so each merged manifest covers few
      // partitions (selective combos), then chunk to the target
      val entries = small.flatMap(r => Manifests.readEntries(location, r))
        .sortBy(_.partitionValues.toSeq.sorted.mkString("\u0000"))
      val merged = entries.grouped(targetEntries).map(g =>
        Manifests.writeManifest(location, "data", g, fieldType)).toVector
      val refs = kept ++ merged ++ snap.manifests.filter(_.kind == "delete")
      val now = math.max(System.currentTimeMillis(), math.max(
        cur.snapshots.map(_.timestampMs).maxOption.getOrElse(Long.MinValue),
        cur.snapshotLog.map(_.timestampMs).maxOption.getOrElse(Long.MinValue)) + 1)
      val id = Math.abs(UUID.randomUUID().getMostSignificantBits)
      val rewritten = Snapshot(
        snapshotId = id, parentId = cur.currentSnapshotId, timestampMs = now,
        operation = "replace", schemaId = cur.currentSchemaId,
        specId = cur.currentSpecId,
        summary = snap.summary ++ Map(
          "added-data-files" -> "0", "added-records" -> "0",
          "added-files-size-bytes" -> "0",
          "manifests-replaced" -> small.size.toString,
          "manifests-created" -> merged.size.toString),
        manifestList = Some(Manifests.writeList(location, id, refs)),
        location = location)
      cur.copy(
        currentSnapshotId = Some(id),
        snapshots = cur.snapshots :+ rewritten,
        snapshotLog = cur.snapshotLog :+ SnapshotLogEntry(now, id))
    } catch { case _: Noop => () }
    this
  }

  /** Compaction with cluster-by (Iceberg's rewrite_data_files with a
    * sort strategy): range-repartition + sort on `sortBy` before
    * writing, so each output file covers a DISJOINT slice of the sort
    * key and the recorded min/max bounds turn StatsPruning's candidate
    * discovery into near-exact file selection. At 100 TB this is the
    * difference between a point DELETE/filter touching one file and
    * touching every file whose accidental key range overlaps.
    *
    * Merge-on-read interaction (the contract [[rewriteDataFilesBinpack]]
    * documents for the partial case, stated here for the full one):
    * `read()` materializes EVERY positional and equality delete into
    * the rewritten rows, so the commit carries NO delete files — after
    * a full rewrite the read path is plain scans again. Pinned by
    * MergeOnReadSpec ("full rewrite materializes deletes away...").
    */
  def rewriteDataFiles(sortBy: Seq[String], targetFiles: Int = 0): GraftTable = {
    val m = meta
    sortBy.foreach(c => require(m.currentSchema.fieldByName(c).isDefined,
      s"sort column $c not in schema"))
    val df0 = read()
    val df =
      if (sortBy.isEmpty) df0
      else {
        val cols = sortBy.map(c => col(s"`$c`"))
        // explicit targetFiles pins the output layout; otherwise the
        // range shuffle sizes itself (shuffle partitions / AQE)
        val ranged =
          if (targetFiles > 0) df0.repartitionByRange(targetFiles, cols: _*)
          else df0.repartitionByRange(cols: _*)
        ranged.sortWithinPartitions(cols: _*)
      }
    val written = writeFiles(m, df)
    commitSnapshot(m, "replace", written, Vector.empty)
    this
  }

  /** Materialize merge-on-read deletes into ONLY the data files they
    * touch — the targeted middle ground between [[rewriteDeleteFiles]]
    * (compacts tombstones, data untouched, merge cost remains) and a
    * full [[rewriteDataFiles]] (rewrites everything). Affected files:
    * positional-tombstone targets (the keys of the delete files'
    * cached deletion vectors, no Spark job) plus, when equality
    * deletes exist, every file the strictly-older sequence rule
    * exposes to them (conservative — CDC streams compact those with
    * [[rewriteDeleteFiles]] first).
    * Affected files are rewritten with all deletes applied; untouched
    * files carry over; every delete file drops (no live target can
    * remain). Restores the manifest fast paths ([[countRows]],
    * [[columnBounds]], the SQL aggregate pushdown) at the cost of the
    * tombstoned slice, not the table.
    */
  def rewriteDeletedDataFiles(): GraftTable = {
    val m = meta
    val snap = m.currentSnapshot.getOrElse(return this)
    if (snap.deleteFiles.isEmpty) return this
    val pos = snap.deleteFiles.filter(_.equalityIds.isEmpty)
    val eqMaxSeq = snap.deleteFiles.filter(_.equalityIds.nonEmpty)
      .map(_.seq).maxOption
    val posTargets: Set[String] =
      if (pos.isEmpty) Set.empty else positionVectors(pos).value.paths
    val (affected, untouched) = snap.files.partition(f =>
      relDataPathForms(f.path).exists(posTargets) ||
        eqMaxSeq.exists(f.seq < _))
    val written =
      if (affected.isEmpty) Vector.empty[DataFileEntry]
      else writeFiles(m, liveRead(m, snap, affected))
    commitSnapshot(m, "replace", untouched ++ written, Vector.empty)
    this
  }

  /** Delete-file maintenance (Iceberg's `rewrite_position_delete_files`
    * plus equality→positional conversion): compact every accumulated
    * delete file into minimal POSITIONAL form WITHOUT rewriting any
    * data file.
    *
    *   - positional delete rows whose target data file left the
    *     current snapshot are dead — dropped;
    *   - equality deletes are materialized into positions: one scan
    *     restricted to data files old enough to be affected (seq rule)
    *     and column-pruned to the key columns finds the hidden rows'
    *     (file, pos) pairs; the value-keyed files then disappear,
    *     taking their one-read-time-anti-join-per-group with them;
    *   - survivors compact into range-sorted positional files — the
    *     read path then applies them inside the scan as one deletion-
    *     vector set (no join), with no equality-delete anti-join left.
    *
    * The intended user is a long-running CDC stream
    * ([[upsertEqIfNewMarker]]): until now only a full
    * `rewriteDataFiles()` — rewriting ALL data — reclaimed its
    * per-batch delete files. Cost here: one key-column scan of
    * affected files, one delete-row shuffle O(deleted rows), zero data
    * writes — at 100 TB that is metadata-scale, not data-scale.
    */
  def rewriteDeleteFiles(targetFiles: Int = 0): GraftTable = {
    val m = meta
    val snap = m.currentSnapshot.getOrElse(return this)
    if (snap.deleteFiles.isEmpty) return this
    val pos = snap.deleteFiles.filter(_.equalityIds.isEmpty)
    val eq = snap.deleteFiles.filter(_.equalityIds.nonEmpty)

    // surviving positional rows: normalize and drop dead pointers with
    // a semi-join against the live file list (broadcast: the manifest
    // already lives on the driver, so the path list is driver-scale)
    val posRows: Option[DataFrame] =
      if (pos.isEmpty) None
      else {
        val raw = spark.read.schema("file_path STRING, pos BIGINT")
          .parquet(pos.map(f => absPath(f.path)): _*)
          .select(relDataPath(col("file_path")).as("file_path"), col("pos"))
        val live = spark.createDataFrame(
          snap.files.flatMap(f => relDataPathForms(f.path)).map(Tuple1(_)))
          .toDF("__live_path")
        Some(raw.join(broadcast(live),
          raw("file_path") === live("__live_path"), "left_semi"))
      }

    // equality deletes → positions: semi-join (vs the read path's
    // anti-join) over the same per-group delete rows and seq rule
    val eqRows: Option[DataFrame] =
      if (eq.isEmpty) None
      else {
        val affected = snap.files.filter(_.seq < eq.map(_.seq).max)
        if (affected.isEmpty) None
        else {
          val tagged = readFilesTagged(m, affected)
          val seqDf = spark.createDataFrame(
            affected.flatMap(f => relDataPathForms(f.path).map(_ -> f.seq)))
            .toDF("__sf_path", "_g_seq")
          val withSeq = tagged.join(broadcast(seqDf),
            relDataPath(tagged("_g_path")) === seqDf("__sf_path"), "left")
            .drop("__sf_path")
          eq.groupBy(f => (f.equalityIds, f.schemaId)).toSeq
            .map { case ((ids, schemaId), fs) =>
              val (delAll, keyFields) = readEqGroup(m, ids, schemaId, fs)
              val keysEqual = ids.zip(keyFields).map { case (id, f) =>
                withSeq(s"`${f.name}`") <=> delAll(s"_k_$id")
              }.reduce(_ && _)
              withSeq.join(broadcast(delAll),
                  keysEqual && withSeq("_g_seq") < delAll("__del_seq"),
                  "left_semi")
                .select(relDataPath(col("_g_path")).as("file_path"),
                  col("_g_pos").as("pos"))
            }
            .reduceOption(_ unionByName _)
        }
      }

    val newDeletes: Vector[DataFileEntry] =
      (posRows.toSeq ++ eqRows.toSeq).reduceOption(_ unionByName _) match {
        case None => Vector.empty
        case Some(rows0) =>
          // distinct: a row hidden by BOTH kinds must land once
          val rows = rows0.distinct().persist()
          try {
            if (rows.isEmpty) Vector.empty
            else {
              // delete rows at 100 TB can be billions — never force one
              // file; range-partition by (file, pos) so each output file
              // covers a contiguous, well-compressed slice (explicit
              // targetFiles pins the layout, else AQE sizes the shuffle)
              val keys = Seq(col("file_path"), col("pos"))
              val ranged =
                if (targetFiles > 0) rows.repartitionByRange(targetFiles, keys: _*)
                else rows.repartitionByRange(keys: _*)
              writeDeleteFile(m, ranged.sortWithinPartitions(keys: _*),
                snap.files)
            }
          } finally rows.unpersist()
      }
    try commitSnapshot(m, "replace", snap.files, newDeletes)
    catch {
      case scala.util.control.NonFatal(e) =>
        newDeletes.foreach(f =>
          io.delete(absPath(f.path)))
        throw e
    }
    this
  }

  /** Z-ORDER compaction (Iceberg's rewrite_data_files with a zorder
    * strategy): cluster on SEVERAL columns at once by sorting on the
    * bit-interleaved bucket key, so each output file covers a small
    * hyper-rectangle of the clustered space and stats pruning works
    * for predicates on ANY clustered column — `rewriteDataFiles(sortBy)`
    * only ever prunes the leading sort column.
    *
    * Arithmetic types (int/long/float/double/timestamp/decimal) bucket
    * equal-width from one global min/max agg — stats-free, pure
    * codegen. String and date columns bucket by RANK: one bounded
    * sample pass (mirroring Spark's own RangePartitioner) yields
    * boundary values, and the bucket id is a boundary-comparison
    * chain — so `(domain, date)`, the most common real clustering
    * key, works. Other types are refused up front (an unorderable
    * column would degenerate silently to one bucket).
    */
  def rewriteDataFilesZOrder(cols: Seq[String],
      targetFiles: Int = 0): GraftTable = {
    require(cols.size >= 2, "Z-order needs at least two columns (use rewriteDataFiles(sortBy) for one)")
    val m = meta
    def arithmetic(dt: String): Boolean =
      Set("int", "long", "float", "double", "timestamp")(dt) ||
        dt.startsWith("decimal")
    // ntz can't cast to double (no instant semantics), so it clusters
    // by rank like the other merely-ORDERABLE types
    def rankBased(dt: String): Boolean =
      dt == "string" || dt == "date" || dt == "timestamp_ntz"
    val fields = cols.map(c => m.currentSchema.fieldByName(c)
      .getOrElse(sys.error(s"z-order column $c not in schema")))
    fields.foreach(f => require(
      arithmetic(f.dataType) || rankBased(f.dataType),
      s"z-order column ${f.name} has type ${f.dataType}; " +
        "int/long/float/double/timestamp/decimal cluster arithmetically, " +
        "string/date/timestamp_ntz by rank"))
    val df0 = read()
    val rankCols = fields.filter(f => rankBased(f.dataType)).map(_.name)
    // rank buckets are a comparison chain per boundary, so cap their
    // resolution at 8 bits (256 buckets/dim — ample for file-level
    // clustering); pure-arithmetic keys keep the full width
    val bits =
      if (rankCols.isEmpty) ZOrder.bitsFor(cols.size)
      else math.min(ZOrder.bitsFor(cols.size), 8)
    val n = 1 << bits
    // ONE bounded sample pass covers every rank column (≤32·n rows to
    // the driver — RangePartitioner-sized, independent of table size);
    // fixed seed keeps the layout deterministic across reruns
    val rankBoundaries: Map[String, Vector[Any]] =
      if (rankCols.isEmpty) Map.empty
      else {
        val sample = df0.select(rankCols.map(c => col(s"`$c`")): _*)
          .rdd.takeSample(withReplacement = false, num = 32 * n, seed = 42L)
        rankCols.zipWithIndex.map { case (c, i) =>
          val vs = sample.iterator.map(_.get(i)).filter(_ != null).toVector
            .sortWith((a, b) => ZOrder.cmpSampled(a, b) < 0)
          val bnd =
            if (vs.isEmpty) Vector.empty[Any]
            else (1 until n).map(j =>
              vs(((j.toLong * vs.size) / n).toInt.min(vs.size - 1)))
              .distinct.toVector
          c -> bnd
        }.toMap
      }
    // one tiny agg for the arithmetic columns' global ranges
    val arithCols = fields.filter(f => arithmetic(f.dataType)).map(_.name)
    val arithRange: Map[String, (Double, Double)] =
      if (arithCols.isEmpty) Map.empty
      else {
        val aggs = arithCols.flatMap(c => Seq(
          min(col(s"`$c`").cast("double")), max(col(s"`$c`").cast("double"))))
        val stats = df0.agg(aggs.head, aggs.tail: _*).head()
        arithCols.zipWithIndex.map { case (c, i) =>
          c -> ((if (stats.isNullAt(2 * i)) 0.0 else stats.getDouble(2 * i)),
            (if (stats.isNullAt(2 * i + 1)) 0.0 else stats.getDouble(2 * i + 1)))
        }.toMap
      }
    val buckets = fields.map { f =>
      if (rankBased(f.dataType))
        ZOrder.rankBucket(col(s"`${f.name}`"), rankBoundaries(f.name))
      else {
        val (lo, hi) = arithRange(f.name)
        ZOrder.bucket(col(s"`${f.name}`"), lo, hi, bits)
      }
    }
    val z = ZOrder.interleave(buckets, bits)
    val keyed = df0.withColumn("__graft_z", z)
    val ranged =
      if (targetFiles > 0) keyed.repartitionByRange(targetFiles, col("__graft_z"))
      else keyed.repartitionByRange(col("__graft_z"))
    val out = ranged.sortWithinPartitions(col("__graft_z")).drop("__graft_z")
    commitSnapshot(m, "replace", writeFiles(m, out), Vector.empty)
    this
  }

  /** Expire snapshots (Iceberg's expire_snapshots): keep the most
    * recent `keepLast` plus anything a ref points at; history/metadata
    * stay bounded as the table ages. Metadata-only — data files are
    * reclaimed separately by removeOrphanFiles.
    */
  def expireSnapshots(keepLast: Int): GraftTable = {
    require(keepLast >= 1, "must keep at least the current snapshot")
    MetadataIO.commitRetry(location) { cur0 =>
      val cur = cloneRetentionGuard(cur0, "expireSnapshots")
      val pinned = refPinned(cur, System.currentTimeMillis())
      val keep = cur.snapshots.sortBy(-_.timestampMs).take(keepLast)
        .map(_.snapshotId).toSet ++ pinned
      cur.copy(
        snapshots = cur.snapshots.filter(s => keep(s.snapshotId)),
        snapshotLog = cur.snapshotLog.filter(e => keep(e.snapshotId)))
    }
    this
  }

  /** The ref-protected snapshot set for expiry: every ref's target and
    * the current snapshot always; additionally, for a BRANCH carrying a
    * retention policy (Iceberg's per-ref `min-snapshots-to-keep` /
    * `max-snapshot-age-ms`, here as table properties
    * `graft.ref.<branch>.min-snapshots-to-keep` and
    * `graft.ref.<branch>.max-snapshot-age-ms`), the branch head's
    * ANCESTOR CHAIN as far as the policy protects it — so a staging
    * branch keeps its audit tail while main's history expires under
    * the global rule. Without a policy a branch pins only its head
    * (the pre-policy behavior).
    */
  private def refPinned(cur: TableMetadata, nowMs: Long): Set[Long] = {
    val byId = cur.snapshots.map(s => s.snapshotId -> s).toMap
    val branchKept = cur.refs.filter(_.refType == "BRANCH").flatMap { r =>
      // tolerate malformed values (settable through generic
      // setProperties / TBLPROPERTIES, bypassing setBranchRetention's
      // validation): an unparseable knob reads as absent rather than
      // bricking every expireSnapshots/maintain call
      val minKeep = cur.properties
        .get(s"graft.ref.${r.name}.min-snapshots-to-keep")
        .flatMap(_.toIntOption)
      val maxAge = cur.properties
        .get(s"graft.ref.${r.name}.max-snapshot-age-ms")
        .flatMap(_.toLongOption)
      if (minKeep.isEmpty && maxAge.isEmpty) Vector.empty
      else {
        val chain = Iterator
          .iterate(byId.get(r.snapshotId))(_.flatMap(_.parentId).flatMap(byId.get))
          .takeWhile(_.isDefined).map(_.get).toVector
        chain.zipWithIndex.collect {
          case (s, i) if i < minKeep.getOrElse(1) ||
            maxAge.exists(a => s.timestampMs >= nowMs - a) => s.snapshotId
        }
      }
    }
    cur.refs.map(_.snapshotId).toSet ++ cur.currentSnapshotId ++ branchKept
  }

  /** Arm a branch's retention policy (see [[refPinned]]). Pass None to
    * clear a knob; both cleared restores head-only pinning.
    */
  def setBranchRetention(branch: String, minSnapshotsToKeep: Option[Int],
      maxSnapshotAgeMs: Option[Long]): GraftTable = {
    require(minSnapshotsToKeep.forall(_ >= 1),
      "min-snapshots-to-keep must be >= 1")
    require(maxSnapshotAgeMs.forall(_ > 0), "max-snapshot-age-ms must be > 0")
    MetadataIO.commitRetry(location) { cur =>
      require(cur.refs.exists(r => r.name == branch && r.refType == "BRANCH"),
        s"no branch $branch")
      val base = cur.properties -
        s"graft.ref.$branch.min-snapshots-to-keep" -
        s"graft.ref.$branch.max-snapshot-age-ms"
      cur.copy(properties = base ++
        minSnapshotsToKeep.map(v =>
          s"graft.ref.$branch.min-snapshots-to-keep" -> v.toString) ++
        maxSnapshotAgeMs.map(v =>
          s"graft.ref.$branch.max-snapshot-age-ms" -> v.toString))
    }
    this
  }

  /** Time-based expiry (Iceberg's expire_snapshots older_than +
    * retain_last): drop snapshots committed strictly before
    * `olderThanMs`, always retaining the newest `retainLast`, every
    * ref target, and the current snapshot. The retention-policy form
    * of [[expireSnapshots]] — "keep 7 days" instead of "keep N".
    */
  def expireSnapshots(olderThanMs: Long, retainLast: Int): GraftTable = {
    require(retainLast >= 1, "must retain at least the current snapshot")
    MetadataIO.commitRetry(location) { cur0 =>
      val cur = cloneRetentionGuard(cur0, "expireSnapshots")
      val pinned = refPinned(cur, System.currentTimeMillis())
      val keep = cur.snapshots.filter(_.timestampMs >= olderThanMs)
        .map(_.snapshotId).toSet ++
        cur.snapshots.sortBy(-_.timestampMs).take(retainLast)
          .map(_.snapshotId).toSet ++ pinned
      cur.copy(
        snapshots = cur.snapshots.filter(s => keep(s.snapshotId)),
        snapshotLog = cur.snapshotLog.filter(e => keep(e.snapshotId)))
    }
    this
  }

  /** One-call maintenance sweep — the scheduler-shaped composition of
    * the observables and rewrites a production table needs nightly,
    * driven entirely by manifest arithmetic (each step runs only when
    * its metadata trigger fires, so a healthy table's sweep is a
    * no-op):
    *   1. MoR delete debt: when tombstone rows reach `deleteRatio` of
    *      live rows, [[rewriteDeletedDataFiles]] materializes them into
    *      the touched slice (restores the aggregate fast paths and
    *      removes the read-side merge);
    *   2. small-file debt: when >= `minInputFiles` data files sit
    *      under `smallFileBytes`, binpack them toward `targetFileBytes`;
    *   3. history debt: `expireSnapshots(keepLast)` (branch retention
    *      policies honored) + `removeOrphanFiles`.
    * Returns the actions taken, in order, for the caller's audit log.
    */
  def maintain(deleteRatio: Double = 0.1,
      smallFileBytes: Long = 32L << 20, targetFileBytes: Long = 128L << 20,
      minInputFiles: Int = 2, keepLast: Int = 10,
      orphanOlderThanMs: Long = GraftTable.OrphanDefaultOlderThanMs,
      renameGraceMsOverride: Option[Long] = None)
      : Seq[String] = {
    require(deleteRatio > 0, "deleteRatio must be positive")
    val actions = scala.collection.mutable.ArrayBuffer[String]()
    // crashed-rename repair (object-store backends; POSIX renames
    // atomically and recoverRename is a no-op there). The age guard
    // keeps the sweep off a rename still in flight; rolled BACK means
    // this location was a crashed rename's partial destination and no
    // longer holds a table — nothing further to maintain here.
    // The grace property is read DEFENSIVELY: a rolled-back-shape
    // destination (crash mid-copy, pointers never copied) has no
    // version-hint, so the metadata load itself throws — exactly the
    // crash shapes this repair exists for must not be unreachable
    // because of it (ADVICE r15). Metadata unreadable → default grace.
    val renameGraceMs = renameGraceMsOverride.getOrElse(
      (try meta.properties.get("graft.rename.recovery-grace-ms")
       catch { case scala.util.control.NonFatal(_) => None })
        .flatMap(_.toLongOption).getOrElse(3600L * 1000))
    graft.tableformat.FileIO.io.recoverRename(location, renameGraceMs) match {
      case Some(graft.tableformat.RenameRolledForward(from)) =>
        actions += s"recover_rename:forward-from:$from"
      case Some(graft.tableformat.RenameRolledBack(from)) =>
        return (actions :+ s"recover_rename:rolled-back-to:$from").toSeq
      case None => ()
    }
    // the audit log records what COMMITTED, not what was attempted —
    // each step appends its action only when the step observably
    // changed the table (snapshot pointer moved / history shrank), so
    // a run whose rewrite found nothing to do, or whose expiry was
    // fully pinned by branch retention, reports the no-op honestly
    def committed(step: => Unit): Boolean = {
      val before = meta.currentSnapshotId
      step
      meta.currentSnapshotId != before
    }
    val m0 = meta
    m0.currentSnapshot.foreach { s =>
      val live = s.files.map(_.recordCount).sum
      val dead = s.deleteFiles.map(_.recordCount).sum
      if (dead > 0 && (live == 0 || dead.toDouble / live >= deleteRatio))
        if (committed(rewriteDeletedDataFiles()))
          actions += "rewrite_deleted_data_files"
    }
    val m1 = meta
    m1.currentSnapshot.foreach { s =>
      // trigger per PARTITION group — the same predicate the rewrite
      // selects by — not table-wide: two small files in different
      // partitions never binpack together
      val fragmented = s.files
        .filter(f => f.fileSizeBytes > 0 && f.fileSizeBytes < smallFileBytes)
        .groupBy(_.partitionValues).exists(_._2.size >= minInputFiles)
      if (fragmented)
        if (committed(rewriteDataFilesBinpack(smallFileBytes,
            targetFileBytes, minInputFiles)))
          actions += "rewrite_data_files_binpack"
    }
    if (meta.snapshots.size > keepLast) {
      // retention steps respect the clone guard: a registered live
      // clone makes the sweep SKIP them (audited), never fail — the
      // debt-reduction steps above already ran
      if (liveClones().nonEmpty && !meta.properties
          .get("graft.clones.allow-unsafe-retention").contains("true"))
        actions += "retention_skipped:clones-registered"
      else {
        // a clone registered between the check above and a step's own
        // guard (each retention op re-runs cloneRetentionGuard inside
        // its commit) still makes the sweep SKIP, never fail — scoped
        // PER STEP, so the audit log never reports a step as skipped
        // after it actually committed
        def cloneGuarded(label: String)(step: => Unit): Unit =
          try step catch {
            case _: CloneRetentionRefusedException =>
              actions += s"${label}_skipped:clones-registered"
          }
        cloneGuarded("expire_snapshots") {
          val before = meta.snapshots.size
          expireSnapshots(keepLast)
          if (meta.snapshots.size < before) actions += "expire_snapshots"
        }
        cloneGuarded("remove_orphan_files") {
          val orphans = removeOrphanFiles(orphanOlderThanMs)
          if (orphans.nonEmpty)
            actions += s"remove_orphan_files:${orphans.size}"
        }
      }
    }
    actions.toSeq
  }

  /** Physically delete data/delete files not referenced by any
    * retained snapshot (Iceberg's remove_orphan_files). The only op
    * that lists directories — it is maintenance, not planning.
    *
    * `olderThanMs` is the IN-FLIGHT-WRITE GUARD (Iceberg's
    * `older_than`, same 3-day default): a concurrent writer stages its
    * data files BEFORE the metadata commit makes them referenced, so
    * an unguarded GC racing that window would delete files a
    * just-landing commit points at — silent corruption. Only files
    * last modified before `now - olderThanMs` are reclaimable; pass 0
    * to reclaim everything unreferenced (single-writer contexts,
    * tests).
    */
  def removeOrphanFiles(
      olderThanMs: Long = GraftTable.OrphanDefaultOlderThanMs)
      : Vector[String] = {
    val m = cloneRetentionGuard(meta, "removeOrphanFiles")
    val cutoff = System.currentTimeMillis() - math.max(olderThanMs, 0L)
    val referenced = m.snapshots
      .flatMap(s => s.files ++ s.deleteFiles).map(_.path).toSet
    val orphans = listParquet(s"$location/data").filterNot { abs =>
      referenced(abs.stripPrefix(location + "/"))
    }.filter(abs =>
      try io.modifiedMs(abs) < cutoff
      catch { case _: java.io.IOException => false }) // raced away: skip
    orphans.foreach(io.delete)
    // manifest tier: lists/manifests referenced by NO retained snapshot
    // (expired history, failed commit attempts, pre-compaction
    // fragments) are metadata orphans — same reclamation rule AND the
    // same guard (a sealing commit writes manifests before its
    // document claim lands)
    val refdMeta = m.snapshots.flatMap(s =>
      s.manifestList.toVector ++ s.manifests.map(_.path)).toSet
    val metaOrphans = io.listDir(s"$location/metadata")
      .map(p => p.substring(p.lastIndexOf('/') + 1))
      .filter(n => (n.startsWith("mf-") && n.endsWith(".manifest.json")) ||
        (n.startsWith("snap-") && n.endsWith(".mlist.json")))
      .map(n => s"metadata/$n").filterNot(refdMeta)
      .filter(p =>
        try io.modifiedMs(s"$location/$p") < cutoff
        catch { case _: java.io.IOException => false })
    metaOrphans.foreach(p => io.delete(s"$location/$p"))
    // staged-commit tier (catalog-CAS backends): a writer that crashed
    // BEFORE its CAS leaves its staged document under
    // metadata/.commit-staging forever. Reclaimable once the canonical
    // version it targeted is visible (published by the real winner or
    // a healer) — a staged doc whose canonical path is still MISSING
    // may be a crashed WINNER's only durable copy, which the healing
    // protocol needs, so it is never touched here. Same age guard as
    // every tier.
    val stagedDir = s"$location/metadata/.commit-staging"
    val stagedOrphans = io.listDir(stagedDir).filter { abs =>
      val name = abs.substring(abs.lastIndexOf('/') + 1)
      val canonical = name.lastIndexOf('.') match {
        case i if i > 0 => s"$location/metadata/${name.take(i)}"
        case _          => ""
      }
      canonical.nonEmpty && io.exists(canonical) &&
        (try io.modifiedMs(abs) < cutoff
        catch { case _: java.io.IOException => false })
    }
    stagedOrphans.foreach(io.delete)
    orphans ++ metaOrphans.map(p => s"$location/$p") ++ stagedOrphans
  }

  /** Integrity audit: verify every byte the CURRENT snapshot's plans
    * would touch is actually reachable — data and delete files exist
    * with the manifest-recorded size, and every retained snapshot's
    * manifest list + manifests load. The operational complement of the
    * clone guard and the GC age window: a stranded clone, a
    * half-deleted import, or a manually-mangled warehouse surfaces
    * here as a named finding instead of a mid-query failure on a 1000-
    * executor job. Read-only; findings (empty = clean) name the file
    * and the defect. Existence/size checks run one parallel task per
    * file (pure metadata stats — at 10⁶ files this is minutes on
    * object storage either way, which is why it is an audit, not a
    * read-path check). `allSnapshots=true` extends the file checks to
    * every retained snapshot (time-travel coverage).
    */
  def verifyIntegrity(allSnapshots: Boolean = false): Vector[String] = {
    val findings = Vector.newBuilder[String]
    // a crashed copy-based rename leaves its markers at the DESTINATION
    // — this location. Report it (the audit is read-only; maintain()
    // runs the actual repair). Checked BEFORE the metadata load: a
    // rolled-back-shape destination (crash mid-copy, pointers never
    // copied) has no version-hint, so loading first would throw for
    // exactly the crash shapes this finding documents (ADVICE r15).
    // One exists() per audit on POSIX, where the marker can never
    // exist.
    val crashedRename = locally {
      val claimKey =
        s"$location/${graft.tableformat.ObjectStoreFileIO.RenameClaimMarker}"
      if (io.exists(claimKey)) {
        val done = io.exists(s"$location/" +
          graft.tableformat.ObjectStoreFileIO.RenameDoneMarker)
        val phase =
          if (done) "copy complete — repair rolls forward (finishes source delete)"
          else "copy incomplete — repair rolls back (removes partial copies)"
        findings += s"incomplete rename into this location from " +
          s"${io.readString(claimKey).trim}: $phase; run maintain() to repair"
        true
      } else false
    }
    val m =
      try meta
      catch {
        case scala.util.control.NonFatal(e) if crashedRename =>
          // partial destination: the rename finding above IS the audit
          // result — there is no table here to walk yet
          findings += s"metadata unreadable pending rename repair: " +
            s"${e.getMessage}"
          return findings.result()
      }
    // manifest tier: every retained snapshot must plan
    // CACHE-BYPASSING reads throughout the manifest tier: the audit's
    // job is to doubt storage, and a manifest corrupted AFTER this
    // process cached it must not audit clean off the warm copy.
    // Snapshots share manifests by pointer (structural sharing), so
    // each DISTINCT (path, expected-count) reads from storage exactly
    // once per audit — not once per referencing snapshot, which at 100
    // retained churn snapshots would multiply the I/O ~100×.
    val seenRefs = scala.collection.mutable.Set[(String, Int)]()
    val freshRefs =
      scala.collection.mutable.Map[String, Vector[ManifestRef]]()
    val freshEntries =
      scala.collection.mutable.Map[String, Vector[DataFileEntry]]()
    m.snapshots.foreach { s =>
      s.manifestList.foreach { rel =>
        try {
          val refs = graft.tableformat.Manifests.readListUncached(location, rel)
          freshRefs(rel) = refs
          refs.foreach { r =>
            if (seenRefs.add((r.path, r.fileCount)))
              try {
                val es =
                  graft.tableformat.Manifests.readEntriesUncached(location, r)
                freshEntries(r.path) = es
                if (es.size != r.fileCount) findings +=
                  s"manifest ${r.path}: ${es.size} entries, ref says ${r.fileCount}"
                // countRows/COUNT(*) answer from the refs' recorded
                // record counts — drift from the entries' sum is a
                // wrong-answer defect, not just a planning one
                val sum = es.map(_.recordCount).sum
                if (sum != r.recordCount) findings +=
                  s"manifest ${r.path}: entries sum $sum records, " +
                    s"ref says ${r.recordCount}"
              } catch { case e: Exception =>
                findings += s"manifest ${r.path} unreadable: ${e.getMessage}"
              }
          }
        } catch { case e: Exception =>
          findings += s"manifest list $rel (snapshot ${s.snapshotId}) " +
            s"unreadable: ${e.getMessage}"
        }
      }
    }
    // file tier: the current snapshot (or all), one parallel stat
    // each. The inventory comes from the UNCACHED manifest reads above
    // — the same bytes a fresh reader process would plan from — never
    // the warm lazy views, which could stat a pre-corruption inventory
    // and audit clean. (Also avoids re-reading anything: the manifest
    // tier already holds every entry.)
    val snaps =
      if (allSnapshots) m.snapshots
      else m.currentSnapshot.toVector
    val entries = snaps.flatMap { s =>
      s.manifestList match {
        case None => s.inlineFiles ++ s.inlineDeleteFiles
        case Some(rel) => freshRefs.getOrElse(rel, Vector.empty)
          .flatMap(r => freshEntries.getOrElse(r.path, Vector.empty))
      }
    }.distinctBy(_.path)
    import scala.collection.parallel.CollectionConverters._
    val fileIssues = entries.par.flatMap { f =>
      val abs = absPath(f.path)
      if (!io.exists(abs)) Some(s"missing file: ${f.path}")
      else if (f.fileSizeBytes > 0 && io.size(abs) != f.fileSizeBytes)
        Some(s"size mismatch: ${f.path} on disk ${io.size(abs)}, " +
          s"manifest ${f.fileSizeBytes}")
      else None
    }.seq.toVector
    findings ++= fileIssues
    findings.result()
  }

  /** Iceberg's rollback_to_snapshot: make an ANCESTOR of the current
    * snapshot current again. Metadata-only — no snapshot is created or
    * destroyed; the abandoned commits stay readable (time travel,
    * audit) until expiry. Rolling to a non-ancestor is a different
    * operation by design — see [[setCurrentSnapshot]].
    */
  def rollbackTo(snapshotId: Long): GraftTable =
    movePointer(snapshotId, requireAncestor = true)

  /** Iceberg's rollback_to_timestamp: roll back to the snapshot that
    * was current at `tsMs`.
    */
  def rollbackToTime(tsMs: Long): GraftTable = {
    val snap = meta.snapshotAsOfTime(tsMs)
      .getOrElse(sys.error(s"no snapshot at or before $tsMs"))
    movePointer(snap.snapshotId, requireAncestor = true)
  }

  /** Iceberg's set_current_snapshot: move the pointer to ANY retained
    * snapshot, ancestry notwithstanding (e.g. back onto an abandoned
    * line after a bad rollback).
    */
  def setCurrentSnapshot(snapshotId: Long): GraftTable =
    movePointer(snapshotId, requireAncestor = false)

  private def movePointer(snapshotId: Long, requireAncestor: Boolean): GraftTable = {
    MetadataIO.commitRetry(location) { cur =>
      require(cur.snapshotById(snapshotId).isDefined, s"no snapshot $snapshotId")
      if (requireAncestor)
        require(currentAncestors(cur).contains(snapshotId),
          s"snapshot $snapshotId is not an ancestor of the current snapshot " +
            s"${cur.currentSnapshotId.getOrElse(-1L)}; use setCurrentSnapshot " +
            "to move onto another line")
      // same strict monotonicity as withSnapshot: history consumers
      // order by timestamp, and the roll-back entry must sort after
      // every existing one
      val now = math.max(System.currentTimeMillis(),
        cur.snapshotLog.map(_.timestampMs).maxOption.getOrElse(Long.MinValue) + 1)
      cur.copy(currentSnapshotId = Some(snapshotId),
        snapshotLog = cur.snapshotLog :+ SnapshotLogEntry(now, snapshotId))
    }
    this
  }

  // -------------------------------------------------------- branch/tag refs

  /** Immutable tag at a snapshot (default: current). */
  def createTag(name: String, snapshotId: Option[Long] = None): GraftTable =
    addRef(name, "TAG", snapshotId)

  /** Named branch pointer at a snapshot (default: current). */
  def createBranch(name: String, snapshotId: Option[Long] = None): GraftTable =
    addRef(name, "BRANCH", snapshotId)

  private def addRef(name: String, tpe: String, snapshotId: Option[Long]): GraftTable = {
    MetadataIO.commitRetry(location) { cur =>
      require(name != "main" && !cur.refs.exists(_.name == name), s"ref $name exists")
      val id = snapshotId.orElse(cur.currentSnapshotId)
        .getOrElse(sys.error("no snapshot to reference"))
      require(cur.snapshotById(id).isDefined, s"no snapshot $id")
      cur.copy(refs = cur.refs :+ TableRef(name, tpe, id))
    }
    this
  }

  def dropRef(name: String): GraftTable = {
    MetadataIO.commitRetry(location)(cur =>
      cur.copy(refs = cur.refs.filterNot(_.name == name)))
    this
  }

  /** Append onto a BRANCH head without touching main — the staging half
    * of write-audit-publish: stage commits on a branch, audit them via
    * [[readRef]], publish with [[fastForward]]. The branch snapshot's
    * parent is the branch head, the ref advances, and main's pointer
    * and snapshot log stay untouched.
    */
  def appendToBranch(branch: String, df: DataFrame): GraftTable = {
    val m = meta
    val written = writeFiles(m, df)
    MetadataIO.commitRetry(location) { cur =>
      val ref = branchRef(cur, branch)
      val head = cur.snapshotById(ref.snapshotId)
        .getOrElse(sys.error(s"branch $branch head ${ref.snapshotId} expired"))
      val now = math.max(System.currentTimeMillis(),
        cur.snapshots.map(_.timestampMs).maxOption.getOrElse(Long.MinValue) + 1)
      val id = Math.abs(UUID.randomUUID().getMostSignificantBits)
      // branch commits sequence like main ones: a seq-0 file would be
      // wrongly hidden by every pre-existing equality delete
      val nextSeq = cur.lastSequence + 1
      val newFiles = written.map(_.copy(seq = nextSeq))
      val allFiles = head.files ++ newFiles
      val snap = Snapshot(
        snapshotId = id, parentId = Some(ref.snapshotId), timestampMs = now,
        operation = "append", schemaId = cur.currentSchemaId,
        specId = cur.currentSpecId,
        inlineFiles = allFiles,
        summary = Map(
          "total-records" -> allFiles.map(_.recordCount).sum.toString,
          "total-data-files" -> allFiles.size.toString,
          "total-files-size-bytes" -> allFiles.map(_.fileSizeBytes).sum.toString,
          "total-delete-files" -> head.deleteFiles.size.toString,
          "total-position-deletes" -> head.deleteFiles
            .filter(_.equalityIds.isEmpty).map(_.recordCount).sum.toString,
          "added-data-files" -> newFiles.size.toString,
          "added-records" -> newFiles.map(_.recordCount).sum.toString,
          "added-files-size-bytes" -> newFiles.map(_.fileSizeBytes).sum.toString),
        inlineDeleteFiles = head.deleteFiles)
      cur.copy(
        snapshots = cur.snapshots :+ snap,
        lastSequence = nextSeq,
        refs = cur.refs.map(r =>
          if (r.name == branch) r.copy(snapshotId = id) else r))
    }
    this
  }

  /** Publish a branch: fast-forward main's pointer to the branch head.
    * Requires the current snapshot to be an ancestor of the branch head
    * (true fast-forward — anything else would silently drop main-line
    * commits; rebase explicitly instead).
    */
  def fastForward(branch: String): GraftTable = {
    MetadataIO.commitRetry(location) { cur =>
      val ref = branchRef(cur, branch)
      val lineage = Iterator.unfold(Option(ref.snapshotId)) {
        case Some(id) => cur.snapshotById(id).map(s => (id, s.parentId))
        case None     => None
      }.toSet
      require(cur.currentSnapshotId.forall(lineage.contains),
        s"main ${cur.currentSnapshotId.getOrElse(-1L)} is not an ancestor of " +
          s"branch $branch head ${ref.snapshotId}: not a fast-forward")
      val now = math.max(System.currentTimeMillis(),
        cur.snapshotLog.map(_.timestampMs).maxOption.getOrElse(Long.MinValue) + 1)
      cur.copy(currentSnapshotId = Some(ref.snapshotId),
        snapshotLog = cur.snapshotLog :+ SnapshotLogEntry(now, ref.snapshotId))
    }
    this
  }

  /** Publish ONE staged append onto the current head even after main
    * has moved — Iceberg's cherrypick_snapshot, the general half of
    * write-audit-publish ([[fastForward]] covers only the main-never-
    * moved case). The picked snapshot's ADDED files (diff vs its
    * parent, by path — no data is read or rewritten) are re-committed
    * as a NEW append whose parent is today's head. The added files get
    * a fresh sequence number: the rows logically commit now, so
    * equality deletes that landed on main after the staging commit
    * must not hide them (same rule a fresh append would follow).
    * Restricted to `operation == "append"` snapshots — cherry-picking
    * a delete/overwrite can't be expressed as a file-list union.
    */
  def cherrypickSnapshot(snapshotId: Long): GraftTable = {
    MetadataIO.commitRetry(location) { cur =>
      val snap = cur.snapshotById(snapshotId)
        .getOrElse(sys.error(s"no snapshot $snapshotId"))
      require(snap.operation == "append",
        s"cherrypick supports append snapshots only; $snapshotId is " +
          s"'${snap.operation}'")
      val parentPaths: Set[String] = snap.parentId match {
        case Some(pid) => cur.snapshotById(pid)
          .getOrElse(sys.error(
            s"parent $pid of $snapshotId expired; cannot isolate its appends"))
          .files.map(_.path).toSet
        case None => Set.empty
      }
      val added = snap.files.filterNot(f => parentPaths(f.path))
      val head = cur.currentSnapshot
      // Duplicate-publish guard, lineage-based (Iceberg's
      // CherrypickAncestorCommitException): path overlap alone is not
      // enough — if the picked snapshot was already published and its
      // files were since rewritten by compaction or removed by DELETE,
      // the head no longer shares any path with it, yet re-committing
      // would duplicate/resurrect those rows. Walk the head's ancestry
      // and reject both the snapshot itself and any commit that already
      // published it (summary source-snapshot-id).
      val ancestry = Iterator.unfold(cur.currentSnapshotId) {
        _.flatMap(cur.snapshotById).map(s => (s, s.parentId))
      }.toVector
      require(!ancestry.exists(_.snapshotId == snapshotId),
        s"snapshot $snapshotId is already an ancestor of the current head " +
          "(duplicate publish)")
      require(!ancestry.exists(
          _.summary.get("source-snapshot-id").contains(snapshotId.toString)),
        s"snapshot $snapshotId was already cherry-picked onto this lineage " +
          "(duplicate publish)")
      val headPaths = head.map(_.files.map(_.path).toSet).getOrElse(Set.empty)
      require(!added.exists(f => headPaths(f.path)),
        s"snapshot $snapshotId is already reachable from the current head " +
          "(duplicate publish)")
      // monotonic over the snapshot LOG too (same rule as withSnapshot):
      // a pointer move in the same millisecond bumps its log entry past
      // the snapshots' max, and this commit must sort after it or
      // snapshotAsOfTime would hide the cherrypick
      val now = math.max(System.currentTimeMillis(), math.max(
        cur.snapshots.map(_.timestampMs).maxOption.getOrElse(Long.MinValue),
        cur.snapshotLog.map(_.timestampMs).maxOption.getOrElse(Long.MinValue)) + 1)
      val nextSeq = cur.lastSequence + 1
      val picked = added.map(_.copy(seq = nextSeq))
      val allFiles = head.map(_.files).getOrElse(Vector.empty) ++ picked
      val dels = head.map(_.deleteFiles).getOrElse(Vector.empty)
      val id = Math.abs(UUID.randomUUID().getMostSignificantBits)
      val pub = Snapshot(
        snapshotId = id, parentId = cur.currentSnapshotId, timestampMs = now,
        operation = "append", schemaId = cur.currentSchemaId,
        specId = cur.currentSpecId, inlineFiles = allFiles,
        summary = Map(
          "total-records" -> allFiles.map(_.recordCount).sum.toString,
          "total-data-files" -> allFiles.size.toString,
          "total-files-size-bytes" -> allFiles.map(_.fileSizeBytes).sum.toString,
          "total-delete-files" -> dels.size.toString,
          "added-data-files" -> picked.size.toString,
          "added-records" -> picked.map(_.recordCount).sum.toString,
          "added-files-size-bytes" -> picked.map(_.fileSizeBytes).sum.toString,
          "total-position-deletes" ->
            dels.filter(_.equalityIds.isEmpty).map(_.recordCount).sum.toString,
          "source-snapshot-id" -> snapshotId.toString),
        inlineDeleteFiles = dels)
      cur.copy(
        snapshots = cur.snapshots :+ pub,
        currentSnapshotId = Some(id),
        lastSequence = nextSeq,
        snapshotLog = cur.snapshotLog :+ SnapshotLogEntry(now, id))
    }
    this
  }

  private def branchRef(cur: TableMetadata, branch: String): TableRef =
    cur.refs.find(r => r.name == branch && r.refType == "BRANCH")
      .getOrElse(sys.error(s"no branch $branch"))

  /** Read the snapshot a ref points at (VERSION AS OF by name). */
  def readRef(name: String): DataFrame = {
    val m = meta
    if (name == "main") read()
    else {
      val r = m.refs.find(_.name == name)
        .getOrElse(sys.error(s"no ref $name"))
      readSnapshot(m, m.snapshotById(r.snapshotId))
    }
  }

  // ------------------------------------------------- metadata tables M1-M5

  import spark.implicits._

  /** t.history (reference: apiv15.py:80; SURVEY M1). */
  def history: DataFrame = {
    val m = meta
    val ancestors = currentAncestors(m)
    m.snapshotLog.map { e =>
      val parent = m.snapshotById(e.snapshotId).flatMap(_.parentId)
      (new java.sql.Timestamp(e.timestampMs), e.snapshotId, parent,
        ancestors.contains(e.snapshotId))
    }.toDF("made_current_at", "snapshot_id", "parent_id", "is_current_ancestor")
  }

  private def currentAncestors(m: TableMetadata): Set[Long] = {
    Iterator.unfold(m.currentSnapshotId) {
      case Some(id) => m.snapshotById(id).map(s => (id, s.parentId))
      case None     => None
    }.toSet
  }

  /** t.snapshots (SURVEY M2). */
  def snapshotsDf: DataFrame = {
    val m = meta
    m.snapshots.map { s =>
      (new java.sql.Timestamp(s.timestampMs), s.snapshotId, s.parentId,
        s.operation, s.summary)
    }.toDF("committed_at", "snapshot_id", "parent_id", "operation", "summary")
  }

  /** t.metadata_log_entries (SURVEY M3). */
  def metadataLogEntries: DataFrame = {
    val m = meta
    m.metadataLog.map(e => (new java.sql.Timestamp(e.timestampMs), e.file))
      .toDF("timestamp", "file")
  }

  /** t.refs (SURVEY M4): main plus named branches/tags. */
  def refs: DataFrame = {
    val m = meta
    (m.currentSnapshotId.map(id => ("main", "BRANCH", id)).toSeq ++
      m.refs.map(r => (r.name, r.refType, r.snapshotId)))
      .toDF("name", "type", "snapshot_id")
  }

  /** t.files — manifest listing for observability/debugging.
    * `lower_bounds`/`upper_bounds` surface the per-file column min/max
    * the manifest already stores for stats pruning (Iceberg's files
    * table exposes the same pair; ours are the human-readable string
    * encodings the pruner consumes, not Iceberg's binary
    * single-value serialization — readable by construction, so no
    * separate readable_metrics view is needed). The manifest keys
    * bounds by FIELD-ID (rename-proof); here they re-key to the
    * CURRENT column names, so the view reads naturally and a renamed
    * column's history stays attached to it. Bounds of since-dropped
    * columns are omitted.
    */
  def filesDf: DataFrame = {
    val m = meta
    val idToName = m.currentSchema.fields
      .map(f => f.id.toString -> f.name).toMap
    def named(b: Map[String, String]): Map[String, String] =
      b.flatMap { case (id, v) => idToName.get(id).map(_ -> v) }
    m.currentSnapshot.map(_.files).getOrElse(Vector.empty)
      .map(f => (f.path, f.recordCount, f.fileSizeBytes, f.schemaId,
        f.partitionValues, named(f.lowerBounds), named(f.upperBounds),
        f.nullCounts.flatMap { case (id, v) =>
          idToName.get(id).map(_ -> v) }))
      .toDF("file_path", "record_count", "file_size_bytes", "schema_id",
        "partition_values", "lower_bounds", "upper_bounds",
        "null_value_counts")
  }

  /** t.stats: one row per current-schema column with the manifest-only
    * aggregate trio — record count, non-null count, and min/max bounds
    * (the manifest's string encodings). NULL cells where manifest
    * arithmetic would be unsound ([[countNonNull]]/[[columnBounds]]
    * rules: live delete files, missing per-file stats, or an
    * unordered type). Zero data I/O always — the conservative cells go
    * NULL rather than triggering a scan, so a scheduler can poll this
    * on a 100 TB table for free.
    */
  def statsDf: DataFrame = {
    val m = meta
    val nRows = m.currentSnapshot match {
      case Some(s) if deletesReaching(s, s.files).isEmpty =>
        Some(s.files.map(_.recordCount).sum)
      case Some(_) => None // live MoR deletes: exact count needs the scan
      case None    => Some(0L)
    }
    m.currentSchema.fields.map { f =>
      val b = columnBounds(m, f.name)
      (f.name, nRows, countNonNull(m, f.name), b.map(_._1), b.map(_._2))
    }.toDF("col_name", "record_count", "non_null", "lower", "upper")
  }

  /** t.delete_files (Iceberg's delete_files metadata table): the
    * merge-on-read maintenance observable — which delete files the
    * current snapshot carries, their kind (positional rows vs
    * equality-keyed), how many rows each hides, and the sequence
    * number governing which data files they apply to. Manifest-only;
    * this is what a maintenance scheduler reads to decide when
    * `rewrite_delete_files` is due, without scanning a byte.
    */
  def deleteFilesDf: DataFrame = {
    val m = meta
    // `content` uses Iceberg's integer codes (1 = position deletes,
    // 2 = equality deletes — the spec's data_file.content field) so
    // tools written against Iceberg's delete_files shape read this
    // table unchanged; `kind` carries the human-readable label.
    m.currentSnapshot.map(_.deleteFiles).getOrElse(Vector.empty)
      .map { f =>
        val eq = f.equalityIds.nonEmpty
        (f.path, if (eq) 2 else 1, if (eq) "equality" else "positional",
          f.recordCount, f.fileSizeBytes, f.seq, f.equalityIds)
      }
      .toDF("file_path", "content", "kind", "record_count",
        "file_size_bytes", "sequence_number", "equality_ids")
  }

  /** t.position_deletes (Iceberg's position_deletes metadata table):
    * the actual positional tombstone ROWS of the current snapshot —
    * one row per (target data file, position), with the delete file
    * carrying it and that file's sequence number. Unlike the other
    * metadata tables this one reads data (the delete parquets), as
    * Iceberg's does: it plans as a DISTRIBUTED parquet scan with the
    * carrier attached from the hidden `_metadata.file_path` column and
    * the per-file sequence joined in as a broadcast — millions of
    * tombstones never touch the driver. Iceberg's optional `row`
    * column is omitted: this format's positional delete files store
    * only (file_path, pos), never deleted-row content.
    */
  def positionDeletesDf: DataFrame = {
    val m = meta
    val pos = m.currentSnapshot.map(_.deleteFiles).getOrElse(Vector.empty)
      .filter(_.equalityIds.isEmpty)
    if (pos.isEmpty)
      return Seq.empty[(String, Long, String, Long)]
        .toDF("file_path", "pos", "delete_file_path", "sequence_number")
    // keyed by the location-relative form on both sides: a clone's
    // inherited delete files are recorded by absolute path
    val seqByPath = pos.map(f => (relDataPathStr(f.path), f.path, f.seq))
      .toDF("__del_key", "delete_file_path", "sequence_number")
    spark.read.schema("file_path STRING, pos BIGINT")
      .parquet(pos.map(f => absPath(f.path)): _*)
      .withColumn("__del_key", relDataPath(col("_metadata.file_path")))
      .join(broadcast(seqByPath), "__del_key")
      .select(col("file_path"), col("pos"), col("delete_file_path"),
        col("sequence_number"))
  }

  /** t.entries (Iceberg's entries metadata table): one row per manifest
    * entry of the CURRENT snapshot. status uses Iceberg's codes
    * relative to this snapshot — 1 = ADDED by it, 0 = EXISTING
    * (carried over); DELETED (2) entries exist only in historical
    * manifests, which this format's embedded (single-level) manifests
    * don't retain. content: 0 = data, 1 = position deletes,
    * 2 = equality deletes (the spec's data_file.content codes).
    * added_snapshot_id is resolved by first containment along the
    * ancestor chain. Manifest-only: O(#snapshots x #files) driver
    * work, zero data I/O.
    */
  def entriesDf: DataFrame = {
    val m = meta
    val snap = m.currentSnapshot
    val parentPaths = snap.flatMap(_.parentId).flatMap(m.snapshotById)
      .map(s => (s.files ++ s.deleteFiles).map(_.path).toSet)
      .getOrElse(Set.empty[String])
    val adder = snap.map(addedBy(m, _)).getOrElse(Map.empty[String, Long])
    def rows(fs: Vector[DataFileEntry], content: DataFileEntry => Int) =
      fs.map { f =>
        (if (parentPaths(f.path)) 0 else 1, content(f),
          adder.getOrElse(f.path, -1L), f.seq, f.path, f.recordCount,
          f.fileSizeBytes, f.partitionValues)
      }
    val data = snap.map(_.files).getOrElse(Vector.empty)
    val dels = snap.map(_.deleteFiles).getOrElse(Vector.empty)
    (rows(data, _ => 0) ++
      rows(dels, f => if (f.equalityIds.nonEmpty) 2 else 1))
      .toDF("status", "content", "added_snapshot_id", "sequence_number",
        "file_path", "record_count", "file_size_bytes", "partition_values")
  }

  /** t.manifests (Iceberg's manifests metadata table, re-keyed for an
    * embedded manifest): this format stores the file list INSIDE the
    * snapshot document, so the closest analogue of "one manifest file"
    * is the group of current files first added by one commit — which
    * shares one sequence number. One row per (content, sequence,
    * adding snapshot) with the group's counts; there is no manifest
    * path column because no separate manifest file exists (deliberate
    * divergence, documented here). Manifest-only, zero data I/O.
    */
  def manifestsDf: DataFrame = {
    val m = meta
    entriesDf.groupBy(col("content"), col("sequence_number"),
        col("added_snapshot_id"))
      .agg(count(lit(1)).as("file_count"),
        sum(col("record_count")).as("record_count"),
        sum(col("file_size_bytes")).as("total_size_bytes"))
  }

  /** t.all_data_files (Iceberg's all_data_files): every data file
    * referenced by ANY retained snapshot — current files plus files a
    * CoW rewrite or compaction replaced — distinct by path, with the
    * commit sequence that introduced each. The "what did this table
    * ever write that snapshot expiry hasn't reclaimed" view that
    * orphan-file cleanup diffs against the object store. Manifest-only,
    * zero data I/O.
    */
  def allDataFilesDf: DataFrame = {
    val m = meta
    allFilesRows(m.snapshots.map(_.files))
      .toDF("file_path", "sequence_number", "record_count",
        "file_size_bytes", "partition_values")
  }

  /** t.all_delete_files: the delete-file counterpart of
    * [[allDataFilesDf]], with Iceberg's content codes (1 = position,
    * 2 = equality).
    */
  def allDeleteFilesDf: DataFrame = {
    val m = meta
    val rows = m.snapshots.map(_.deleteFiles).flatten
      .groupBy(_.path).toSeq
      .map { case (_, fs) =>
        val f = fs.head
        (f.path, if (f.equalityIds.nonEmpty) 2 else 1, f.seq,
          f.recordCount, f.fileSizeBytes)
      }
    rows.toDF("file_path", "content", "sequence_number", "record_count",
      "file_size_bytes")
  }

  /** t.all_files (Iceberg's all_files): every data AND delete file any
    * retained snapshot references, with the spec's content codes
    * (0 = data, 1 = position deletes, 2 = equality deletes) — the
    * union view Iceberg defines over the other two `all_` tables.
    * Manifest-only, zero data I/O.
    */
  def allFilesDf: DataFrame = {
    val data = allDataFilesDf.select(col("file_path"),
      lit(0).as("content"), col("sequence_number"), col("record_count"),
      col("file_size_bytes"))
    data.unionByName(allDeleteFilesDf.select(col("file_path"),
      col("content"), col("sequence_number"), col("record_count"),
      col("file_size_bytes")))
  }

  private def allFilesRows(perSnapshot: Seq[Vector[DataFileEntry]])
      : Seq[(String, Long, Long, Long, Map[String, String])] =
    perSnapshot.flatten.groupBy(_.path).toSeq.map { case (_, fs) =>
      val f = fs.head
      (f.path, f.seq, f.recordCount, f.fileSizeBytes, f.partitionValues)
    }

  /** First-containment adder along the current ancestor chain:
    * path -> snapshotId of the commit that introduced it.
    */
  private def addedBy(m: TableMetadata, snap: Snapshot): Map[String, Long] = {
    var chain = List.empty[Snapshot]
    var cur: Option[Snapshot] = Some(snap)
    while (cur.isDefined) {
      chain = cur.get :: chain // ends oldest-first
      cur = cur.get.parentId.flatMap(m.snapshotById)
    }
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    chain.foreach { s =>
      (s.files ++ s.deleteFiles).foreach { f =>
        if (!out.contains(f.path)) out(f.path) = s.snapshotId
      }
    }
    out.toMap
  }

  /** t.partitions (Iceberg's partitions metadata table): per-partition
    * record and file counts straight from the manifest — O(#files)
    * metadata, zero data I/O, which is how a 100 TB table answers
    * "how big is each day" without scanning a byte.
    *
    * record_count is the DATA-FILE total (same as Iceberg's): rows
    * hidden by merge-on-read positional deletes are still counted until
    * compaction materializes them away — an estimate, not a live count.
    */
  def partitionsDf: DataFrame = {
    val m = meta
    m.currentSnapshot.map(_.files).getOrElse(Vector.empty)
      .groupBy(_.partitionValues).toSeq
      .map { case (pv, fs) =>
        (pv, fs.map(_.recordCount).sum, fs.size.toLong,
          fs.map(_.fileSizeBytes).sum)
      }
      .toDF("partition", "record_count", "file_count", "total_size_bytes")
  }

  /** Changelog between two snapshots: multiset diff with _change_type
    * insert/delete (reference: create_changelog_view, cell 32; an UPDATE
    * appears as delete+insert — SURVEY M5).
    *
    * Manifest-level diff: carried-over manifest entries are byte-identical
    * files whose rows cancel in a multiset diff, so only files ADDED or
    * REMOVED between the snapshots are read at all. A pure append at
    * 100 TB reads just the new files (no shuffle); only a rewrite
    * (CoW DELETE/UPDATE) diffs the rewritten slice.
    */
  def changelog(fromSnapshotId: Option[Long], toSnapshotId: Long): DataFrame = {
    val base = changelogRaw(fromSnapshotId, toSnapshotId)
    // When the table declares CDC identity columns (`graft.cdc.key`,
    // comma-separated — Iceberg's identifier fields), a delete and an
    // insert carrying the same key within the range are one logical
    // UPDATE: relabel them update_preimage / update_postimage (Iceberg
    // changelog "compute updates" semantics) so downstream CDC
    // consumers apply them as one operation instead of a drop+add.
    meta.properties.get("graft.cdc.key")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .filter(_.nonEmpty)
      .map(pairUpdates(base, _)).getOrElse(base)
  }

  /** Pair delete+insert rows sharing a key into update pre/post images.
    *
    * Duplicate keys within a side (malformed under a declared unique
    * key, but never silently wrong here) pair off by rank: the k-th
    * delete of a key matches the k-th insert in deterministic
    * whole-row order; leftovers keep their plain labels.
    *
    * Scale: every window below is partitioned by the KEY alone, so
    * the whole pairing costs ONE exchange + one sort over the
    * CHANGELOG DELTA (O(changed rows), never O(table)) — the ordered
    * rank and the unbounded side-counts share the partitioning, and no
    * join materializes. (Partitioning the rank by (key, change_type)
    * would read more naturally but forces a second exchange.)
    */
  private def pairUpdates(base: DataFrame, keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dataCols = base.columns.filterNot(_ == "_change_type").toSeq
    val byKey = Window.partitionBy(keys.map(col): _*)
    val ordered = byKey.orderBy(
      (col("_change_type") +: dataCols.map(col)): _*)
    val isDel = col("_change_type") === "delete"
    val isIns = col("_change_type") === "insert"
    // per-type rank within the key, derived from one key-ordered rank:
    // 'delete' sorts before 'insert', so inserts start at position
    // (#deletes + 1); the k-th delete pairs with the k-th insert iff
    // k <= min(#deletes, #inserts)
    base
      .withColumn("__rk", row_number().over(ordered))
      .withColumn("__nd", sum(when(isDel, 1L).otherwise(0L)).over(byKey))
      .withColumn("__ni", sum(when(isIns, 1L).otherwise(0L)).over(byKey))
      .withColumn("__rt",
        when(isDel, col("__rk")).otherwise(col("__rk") - col("__nd")))
      .withColumn("_change_type",
        when(col("__rt") <= least(col("__nd"), col("__ni")),
          when(isDel, lit("update_preimage"))
            .when(isIns, lit("update_postimage"))
            .otherwise(col("_change_type")))
          .otherwise(col("_change_type")))
      .drop("__rk", "__nd", "__ni", "__rt")
  }

  private def changelogRaw(fromSnapshotId: Option[Long],
      toSnapshotId: Long): DataFrame = {
    val m = meta
    val toSnap = m.snapshotById(toSnapshotId)
      .getOrElse(sys.error(s"no snapshot $toSnapshotId"))
    // an unknown/expired start snapshot must fail loudly: silently
    // treating it as "empty table" would re-emit every live row as an
    // insert to a CDC consumer
    val fromSnap = fromSnapshotId.map(id => m.snapshotById(id)
      .getOrElse(sys.error(s"no snapshot $id (expired?)")))
    if (toSnap.deleteFiles.nonEmpty || fromSnap.exists(_.deleteFiles.nonEmpty)) {
      // merge-on-read snapshots: positional deletes break the
      // "carried file = identical rows" invariant. When the range is
      // purely ACCRETIVE — data and delete files only ADDED, the CDC
      // upsert / MoR DML common case — the diff is computable from the
      // delta files alone; otherwise diff the materialized snapshots
      // (correct always).
      val accretive = fromSnap.exists { fs =>
        val toP = toSnap.files.map(_.path).toSet
        val toD = toSnap.deleteFiles.map(_.path).toSet
        fs.files.forall(f => toP(f.path)) &&
          fs.deleteFiles.forall(f => toD(f.path))
      }
      if (accretive) return changelogAccretive(m, fromSnap.get, toSnap)
      val newDf = readSnapshot(m, Some(toSnap))
      val oldDf = fromSnap.map(s => readSnapshot(m, Some(s))).getOrElse(emptyDf(m))
      return newDf.exceptAll(oldDf).withColumn("_change_type", lit("insert"))
        .unionByName(oldDf.exceptAll(newDf).withColumn("_change_type", lit("delete")))
    }
    val fromFiles = fromSnap.map(_.files).getOrElse(Vector.empty)
    val fromPaths = fromFiles.map(_.path).toSet
    val toPaths = toSnap.files.map(_.path).toSet
    val added = toSnap.files.filterNot(f => fromPaths(f.path))
    val removed = fromFiles.filterNot(f => toPaths(f.path))
    val addedDf = readFiles(m, added)
    val removedDf = readFiles(m, removed)
    val inserts =
      if (removed.isEmpty) addedDf // metadata-only decision: all new rows
      else addedDf.exceptAll(removedDf)
    val deletes =
      if (added.isEmpty) removedDf
      else removedDf.exceptAll(addedDf)
    inserts.withColumn("_change_type", lit("insert"))
      .unionByName(deletes.withColumn("_change_type", lit("delete")))
  }

  /** Changelog fast path for an ACCRETIVE merge-on-read range (no data
    * or delete file removed between the snapshots):
    *
    *   inserts = live rows (under TO's full delete set, seq rules
    *             included) of the ADDED data files — an added-then-
    *             deleted-within-the-range row correctly nets out;
    *   deletes = rows of FROM's files, visible under FROM's delete
    *             set, hidden by a NEW delete file: positional hits
    *             are the rows the new deletes' deletion vectors mark,
    *             reading ONLY the files those vectors key (no Spark
    *             job finds them), equality hits come from the
    *             per-group key semi-join under the seq rule,
    *             restricted to files old enough to be affected.
    *
    * No exceptAll, no scan of unchanged files — at 100 TB a CDC
    * consumer pays O(delta), not O(table), per poll.
    */
  private def changelogAccretive(m: TableMetadata, fromSnap: Snapshot,
      toSnap: Snapshot): DataFrame = {
    val fromPaths = fromSnap.files.map(_.path).toSet
    val fromDelPaths = fromSnap.deleteFiles.map(_.path).toSet
    val addedData = toSnap.files.filterNot(f => fromPaths(f.path))
    val newDels = toSnap.deleteFiles.filterNot(f => fromDelPaths(f.path))
    val newPos = newDels.filter(_.equalityIds.isEmpty)
    val newEq = newDels.filter(_.equalityIds.nonEmpty)
    val inserts = liveRead(m, toSnap, addedData)
    val posDeletes: Option[DataFrame] =
      if (newPos.isEmpty) None
      else {
        val refd = positionVectors(newPos).value.paths
        val files = fromSnap.files.filter(f =>
          relDataPathForms(f.path).exists(refd))
        if (files.isEmpty) None
        else Some(liveRows(m, fromSnap, files).filter(deletedBy(newPos)))
      }
    val eqDeletes: Option[DataFrame] =
      if (newEq.isEmpty) None
      else {
        val affected = fromSnap.files.filter(_.seq < newEq.map(_.seq).max)
        if (affected.isEmpty) None
        else {
          val live = liveRows(m, fromSnap, affected)
          val seqDf = spark.createDataFrame(
            affected.flatMap(f => relDataPathForms(f.path).map(_ -> f.seq)))
            .toDF("__sf_path", "_g_seq")
          val withSeq = live.join(broadcast(seqDf),
            relDataPath(live("_g_path")) === seqDf("__sf_path"), "left")
            .drop("__sf_path")
          newEq.groupBy(f => (f.equalityIds, f.schemaId)).toSeq
            .map { case ((ids, schemaId), fs) =>
              val (delAll, keyFields) = readEqGroup(m, ids, schemaId, fs)
              val keysEqual = ids.zip(keyFields).map { case (id, f) =>
                withSeq(s"`${f.name}`") <=> delAll(s"_k_$id")
              }.reduce(_ && _)
              withSeq.join(broadcast(delAll),
                keysEqual && withSeq("_g_seq") < delAll("__del_seq"),
                "left_semi")
            }
            .reduceOption(_ unionByName _).map(_.drop("_g_seq"))
        }
      }
    // a row hidden by BOTH new delete kinds must surface once: dedupe
    // by physical position before dropping the tags
    val deletes = (posDeletes.toSeq ++ eqDeletes.toSeq)
      .reduceOption(_ unionByName _)
      .map(_.dropDuplicates(Seq("_g_path", "_g_pos"))
        .drop("_g_path", "_g_pos"))
      .getOrElse(emptyDf(m))
    inserts.withColumn("_change_type", lit("insert"))
      .unionByName(deletes.withColumn("_change_type", lit("delete")))
  }

  /** Incremental append scan (Iceberg's incremental read): rows in
    * files ADDED between two snapshots — the batch form of "consume the
    * table as a stream of appends". Metadata-only file selection; a
    * consumer tracking its last-seen snapshot reads only new data.
    *
    * Every snapshot in (from, to] must be an `append`: a CoW rewrite or
    * compaction in the range would surface rewritten OLD rows as new
    * files, re-delivering the whole rewritten set to the consumer —
    * fail loudly instead (Iceberg's incremental scan does the same;
    * consumers resync via changelog() across such commits).
    */
  def readAppendsBetween(fromSnapshotId: Option[Long],
      toSnapshotId: Long,
      targetSchema: Option[graft.tableformat.VersionedSchema] = None): DataFrame = {
    val m = meta
    val toSnap = m.snapshotById(toSnapshotId)
      .getOrElse(sys.error(s"no snapshot $toSnapshotId"))
    val fromSnap = fromSnapshotId.map(id => m.snapshotById(id)
      .getOrElse(sys.error(s"no snapshot $id (expired?)")))
    // walk the parent chain to..from, requiring append-only commits
    var cur: Option[Snapshot] = Some(toSnap)
    while (cur.exists(s => !fromSnapshotId.contains(s.snapshotId))) {
      val s = cur.get
      require(s.operation == "append",
        s"snapshot ${s.snapshotId} is '${s.operation}', not append — " +
          "incremental append scan invalid across rewrites; use changelog()")
      cur = s.parentId.map(p => m.snapshotById(p)
        .getOrElse(sys.error(s"no snapshot $p (expired?)")))
    }
    require(fromSnapshotId.isEmpty || cur.isDefined,
      s"$fromSnapshotId is not an ancestor of $toSnapshotId")
    val fromPaths = fromSnap.map(_.files.map(_.path).toSet).getOrElse(Set.empty)
    val added = toSnap.files.filterNot(f => fromPaths(f.path))
    // a caller-pinned target schema (the streaming source binds its
    // schema at construction) maps files by field-id onto THAT shape
    // even after mid-stream evolution; default = current schema
    targetSchema match {
      case Some(ts) =>
        if (added.isEmpty)
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            ts.toStructType)
        else mappedRead(m, added, Nil, Some(ts))
      case None => readFiles(m, added)
    }
  }

  /** Changelog of the latest commit, registered as `<name>_changes`
    * (reference notebook cells 32-35 query `table3_changes`).
    */
  def createChangelogView(viewName: String): DataFrame = {
    val m = meta
    val cur = m.currentSnapshot.getOrElse(sys.error("no snapshots"))
    val df = changelog(cur.parentId, cur.snapshotId)
    df.createOrReplaceTempView(viewName)
    df
  }
}

object GraftTable {

  /** Observability hook (Manifests.parseCount-style): how many data
    * files the most recent [[GraftTable.readPrunedBy]] kept after
    * metadata pruning. Specs and the dynamic-pruning bench fixture pin
    * the file-count collapse against it.
    */
  private[graft] val lastPrunedReadFiles =
    new java.util.concurrent.atomic.AtomicLong(-1L)

  /** Observability hook: how many candidate files the most recent
    * [[GraftTable.merge]] planned against after source-key pruning
    * (equals the snapshot's file count when pruning didn't apply).
    */
  private[graft] val lastMergeCandidateFiles =
    new java.util.concurrent.atomic.AtomicLong(-1L)

  /** Observability hook: the candidate-file count of the most recent
    * row-level DML (CoW rewrite or MoR delta), after metadata pruning
    * including evaluated subquery domains.
    */
  private[graft] val lastDmlCandidateFiles =
    new java.util.concurrent.atomic.AtomicLong(-1L)

  /** Provenance tag on an engine read's analyzed plan root:
    * (table, metadata, snapshot, pruning condition already applied).
    * Lets join-driven file pruning recognize a scan inside an
    * eagerly-analyzed DataFrame composition and re-derive it pruned,
    * pinned to the SAME snapshot.
    */
  private[graft] val ReadRoot = new org.apache.spark.sql.catalyst.trees.TreeNodeTag[
    (GraftTable, TableMetadata, Snapshot,
      Option[org.apache.spark.sql.catalyst.expressions.Expression])](
    "graft.readRoot")

  /** Orphan GC's in-flight-write guard window (Iceberg's
    * remove_orphan_files `older_than` default): unreferenced files
    * YOUNGER than this are presumed to belong to a commit still in
    * flight and survive.
    */
  val OrphanDefaultOlderThanMs: Long = 3L * 24 * 3600 * 1000

  /** CREATE TABLE (reference D2). */
  def create(spark: SparkSession, location: String, name: String,
      fields: Seq[(String, String)],
      partition: Seq[(String, String)] = Nil,  // (sourceColumn, transform)
      properties: Map[String, String] = Map.empty): GraftTable = {
    require(!MetadataIO.exists(location), s"table exists at $location")
    // a location claimed by an in-flight (or crashed) copy-based rename
    // is not creatable: the rename's raw key copies would clobber this
    // table's claimed versions mid-create. Inert on POSIX backends
    // (the marker never exists there).
    require(!io.exists(
      s"$location/${ObjectStoreFileIO.RenameClaimMarker}"),
      s"$location is a rename destination (claim marker present); " +
        "recoverRename/maintain repairs a crashed one")
    var m = TableMetadata.create(name, location, fields,
      properties = properties ++ Map(
        "write.parquet.compression-codec" -> properties.getOrElse(
          "write.parquet.compression-codec", "zstd"),
        "format-version" -> "2"))
    val pfs = partition.map { case (src, tr) =>
      val f = m.currentSchema.fieldByName(src)
        .getOrElse(sys.error(s"partition source $src missing"))
      PartitionTransforms.validate(tr, f.dataType)
      PartitionField(f.id, tr, PartitionTransforms.defaultName(src, tr))
    }
    m = m.copy(partitionSpecs = Vector(PartitionSpec(0, pfs.toVector)))
    val (_, committedDoc) = MetadataIO.commitWithContent(m)
    // mutual-abort handshake with copy-based rename: the marker check
    // above ran BEFORE our v1 landed, so a rename that claimed this
    // destination in between could clobber v1 mid-copy. Re-checking
    // AFTER the commit closes it both ways — a rename claiming before
    // our commit is caught here (create withdraws); one claiming after
    // is caught by ITS post-claim emptiness check (rename aborts on
    // our visible v1). An ACKNOWLEDGED create is therefore never
    // clobbered. (Both aborting in the tiny overlap is safe — fail
    // loud, retry succeeds.)
    withdrawIfRenameClaimed(location, committedDoc)
    new GraftTable(spark, location)
  }

  /** The post-commit half of create's rename handshake: if a rename
    * claim marker stands at `location`, withdraw the just-committed
    * table (nothing was acknowledged yet) and fail loud.
    *
    * OWNERSHIP-CHECKED (ADVICE r15): the racing rename's per-key copy
    * REPLACE-writes the SOURCE's `v1.metadata.json` over this create's
    * — a blind delete here would then remove the RENAME's document,
    * leaving the renamed table permanently missing its v1 after the
    * rename finishes and deletes its source (unresolvable if the
    * source was at v1). The withdraw therefore deletes ONLY a v1 it
    * can prove it wrote (`ownV1Content` = the exact document this
    * create claimed); if the rename already clobbered it, the rename
    * owns the location and nothing is deleted. The residual
    * read-match-then-delete window (the rename copies v1 between this
    * check and the delete) is closed from the rename's side by
    * renameVia's pre-completion handshake re-verify, which re-copies
    * any missing v1/hint key while its source is still intact.
    */
  private[graft] def withdrawIfRenameClaimed(location: String,
      ownV1Content: String): Unit = {
    if (io.exists(s"$location/${ObjectStoreFileIO.RenameClaimMarker}")) {
      val v1 = MetadataIO.metadataPath(location, 1)
      val owned =
        try io.readString(v1) == ownV1Content
        catch { case _: Exception => false } // already gone/rolled back
      if (owned) {
        // hint first: un-resolve the location before the version file
        // disappears, so no reader window sees hint-without-document
        io.delete(s"$location/metadata/version-hint.text")
        io.delete(v1)
      }
      throw new IllegalArgumentException(
        s"$location became a rename destination during create; " +
          "the create was withdrawn — retry after the rename settles")
    }
  }

  /** CTAS (reference S6): create from a DataFrame's schema, then append it. */
  def createAs(spark: SparkSession, location: String, name: String,
      df: DataFrame, partition: Seq[(String, String)] = Nil,
      properties: Map[String, String] = Map.empty): GraftTable = {
    val fields = df.schema.fields.toSeq.map(f =>
      f.name -> FieldDef.nameType(f.dataType))
    val t = create(spark, location, name, fields, partition, properties)
    t.append(df)
    t
  }

  /** REPLACE TABLE AS SELECT (reference S7, cell 13): new schema from the
    * query, contents replaced, history preserved. With no PARTITIONED BY
    * the new spec is unpartitioned (reference `table` metadata has
    * identity -> unpartitioned spec history); an explicit `partition`
    * becomes the new spec, resolved against the NEW schema. `properties`
    * merge over the existing ones.
    */
  def replaceAs(spark: SparkSession, location: String, df: DataFrame,
      partition: Seq[(String, String)] = Nil,
      properties: Map[String, String] = Map.empty): GraftTable = {
    val t = load(spark, location)
    // whole transform re-runs against fresh metadata on commit conflict
    MetadataIO.commitRetry(location) { m =>
      val next = VersionedSchema(m.schemas.map(_.schemaId).max + 1,
        df.schema.fields.toVector.zipWithIndex.map { case (f, i) =>
          // reuse field-ids for same-name fields, allocate for new ones
          m.currentSchema.fieldByName(f.name) match {
            case Some(existing) => existing.copy(dataType = FieldDef.nameType(f.dataType))
            case None => FieldDef(m.nextFieldId + i, f.name, FieldDef.nameType(f.dataType))
          }
        })
      val nextSpecId = m.currentSpecId + 1
      val pfs = partition.map { case (src, tr) =>
        val f = next.fieldByName(src)
          .getOrElse(sys.error(s"partition source $src missing from new schema"))
        PartitionTransforms.validate(tr, f.dataType)
        PartitionField(f.id, tr, PartitionTransforms.defaultName(src, tr))
      }
      m.copy(
        currentSchemaId = next.schemaId, schemas = m.schemas :+ next,
        currentSpecId = nextSpecId,
        partitionSpecs = m.partitionSpecs :+ PartitionSpec(nextSpecId, pfs.toVector),
        properties = m.properties ++ properties)
    }
    t.overwrite(df)
    t
  }

  def load(spark: SparkSession, location: String): GraftTable = {
    require(MetadataIO.exists(location), s"no table at $location")
    new GraftTable(spark, location)
  }
}

