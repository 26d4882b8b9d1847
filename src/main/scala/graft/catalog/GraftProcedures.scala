package graft.catalog

import java.util.Collections
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.Scan
import org.apache.spark.sql.types._
import graft.engine.GraftTable

/** Maintenance procedures served under `CALL graft.system.*` through
  * Spark's OWN procedure machinery (DSv2 ProcedureCatalog, Spark 4) —
  * the SQL surface Iceberg exposes as `CALL catalog.system.*`:
  *
  *   CALL graft.system.rollback_to_snapshot('db.t', <snapshot_id>)
  *   CALL graft.system.rollback_to_timestamp('db.t', <epoch_millis>)
  *   CALL graft.system.set_current_snapshot('db.t', <snapshot_id>)
  *   CALL graft.system.expire_snapshots('db.t', <keep_last>)
  *   CALL graft.system.expire_snapshots_older_than('db.t', <epoch_millis>
  *     [, <retain_last>])
  *   CALL graft.system.expire_view_versions('db.v', <keep_last>
  *     [, <older_than_ms>])
  *   CALL graft.system.rewrite_data_files('db.t' [, 'sortCol1,sortCol2'])
  *   CALL graft.system.rewrite_data_files_binpack('db.t'
  *     [, <min_file_size_bytes>, <target_file_size_bytes>,
  *        <min_input_files>])
  *   CALL graft.system.rewrite_delete_files('db.t' [, <target_files>])
  *   CALL graft.system.rewrite_deleted_data_files('db.t')
  *   CALL graft.system.upsert('db.t', '<source view>', 'k1,k2',
  *     '<marker_key>', <marker_value> [, 'positional'|'equality'])
  *   CALL graft.system.refresh_agg('db.state', 'db.base', 'k1,k2',
  *     's1,s2' [, '<name>'])   -- materialized count/sum view refresh
  *   CALL graft.system.refresh_agg_minmax('db.state', 'db.base',
  *     'k1,k2', 's1,s2', 'e1,e2' [, '<name>'])  -- + min/max extremes
  *   CALL graft.system.remove_orphan_files('db.t')
  *   CALL graft.system.add_files('db.t', '/path/to/parquet')
  *   CALL graft.system.snapshot('db.src', 'db.dst')  -- zero-copy clone
  *   CALL graft.system.unregister_clone('db.src', 'db.dst')
  *   CALL graft.system.verify_table('db.t' [, <all_snapshots>])
  *   CALL graft.system.fast_forward('db.t', '<branch>')
  *   CALL graft.system.cherrypick_snapshot('db.t', <snapshot_id>)
  *   CALL graft.system.create_branch('db.t', '<name>')
  *   CALL graft.system.create_tag('db.t', '<name>')
  *   CALL graft.system.set_branch_retention('db.t', '<branch>'
  *     [, <min_snapshots_to_keep>, <max_snapshot_age_ms>])
  *   CALL graft.system.maintain('db.t' [, <delete_ratio>, <keep_last>])
  *
  * Each delegates to the one engine implementation in [[GraftTable]];
  * no procedure returns rows (maintenance results are observable
  * through the metadata tables).
  */
object GraftProcedures {

  private def table(warehouse: () => Option[String], ref: String): GraftTable = {
    val w = warehouse().getOrElse(sys.error("spark.graft.warehouse not set"))
    ref.split('.') match {
      case Array(db, tbl) =>
        GraftTable.load(SparkSession.active,
          java.nio.file.Paths.get(w, db, tbl).toString)
      case _ => sys.error(s"procedure table argument must be 'db.table', got '$ref'")
    }
  }

  private def in(n: String, t: DataType) = ProcedureParameter.in(n, t).build()

  private final case class Def(name: String, params: Seq[ProcedureParameter],
      run: (() => Option[String], InternalRow) => Unit,
      // row-returning procedures (audits, reports): output schema plus
      // the row producer; when set, `run` is ignored
      rowsOut: Option[(StructType,
        (() => Option[String], InternalRow) => Array[InternalRow])] = None)

  private def str(r: InternalRow, i: Int): String = r.getUTF8String(i).toString

  private val defs: Seq[Def] = Seq(
    Def("rollback_to_snapshot",
      Seq(in("table", StringType), in("snapshot_id", LongType)),
      (w, r) => table(w, str(r, 0)).rollbackTo(r.getLong(1))),
    Def("rollback_to_timestamp",
      Seq(in("table", StringType), in("timestamp_ms", LongType)),
      (w, r) => table(w, str(r, 0)).rollbackToTime(r.getLong(1))),
    Def("set_current_snapshot",
      Seq(in("table", StringType), in("snapshot_id", LongType)),
      (w, r) => table(w, str(r, 0)).setCurrentSnapshot(r.getLong(1))),
    Def("expire_snapshots",
      Seq(in("table", StringType), in("keep_last", IntegerType)),
      (w, r) => table(w, str(r, 0)).expireSnapshots(r.getInt(1))),
    Def("expire_snapshots_older_than",
      Seq(in("table", StringType), in("older_than_ms", LongType),
        ProcedureParameter.in("retain_last", IntegerType)
          .defaultValue("1").build()),
      (w, r) => table(w, str(r, 0)).expireSnapshots(r.getLong(1),
        if (r.isNullAt(2)) 1 else r.getInt(2))),
    Def("rewrite_deleted_data_files",
      Seq(in("table", StringType)),
      (w, r) => table(w, str(r, 0)).rewriteDeletedDataFiles()),
    // view-version retention: CALL graft.system.expire_view_versions(
    //   'db.v', <keep_last> [, <older_than_ms>]) — the view twin of
    // expire_snapshots (a daily CREATE OR REPLACE accretes a version
    // per run); the current version always survives
    Def("expire_view_versions",
      Seq(in("view", StringType), in("keep_last", IntegerType),
        ProcedureParameter.in("older_than_ms", LongType)
          .defaultValue(Long.MaxValue.toString).build()),
      (w, r) => {
        val wh = w().getOrElse(sys.error("spark.graft.warehouse not set"))
        val ref = str(r, 0)
        val loc = ref.split('.') match {
          case Array(db, v) => java.nio.file.Paths.get(wh, db, v).toString
          case _ => sys.error(s"view argument must be 'db.view', got '$ref'")
        }
        require(ViewIO.exists(loc), s"no view at $ref")
        ViewIO.expireVersions(loc, r.getInt(1),
          if (r.isNullAt(2)) Long.MaxValue else r.getLong(2))
        ()
      }),
    Def("maintain",
      Seq(in("table", StringType),
        ProcedureParameter.in("delete_ratio", DoubleType)
          .defaultValue(GraftTable.MaintainDeleteRatio.toString).build(),
        ProcedureParameter.in("keep_last", IntegerType)
          .defaultValue(GraftTable.MaintainKeepLast.toString).build()),
      (w, r) => {
        table(w, str(r, 0)).maintain(
          deleteRatio =
            if (r.isNullAt(1)) GraftTable.MaintainDeleteRatio else r.getDouble(1),
          keepLast =
            if (r.isNullAt(2)) GraftTable.MaintainKeepLast else r.getInt(2))
        ()
      }),
    Def("set_branch_retention",
      Seq(in("table", StringType), in("branch", StringType),
        ProcedureParameter.in("min_snapshots_to_keep", IntegerType)
          .defaultValue("NULL").build(),
        ProcedureParameter.in("max_snapshot_age_ms", LongType)
          .defaultValue("NULL").build()),
      (w, r) => table(w, str(r, 0)).setBranchRetention(str(r, 1),
        if (r.isNullAt(2)) None else Some(r.getInt(2)),
        if (r.isNullAt(3)) None else Some(r.getLong(3)))),
    Def("rewrite_data_files_binpack",
      Seq(in("table", StringType),
        ProcedureParameter.in("min_file_size_bytes", LongType)
          .defaultValue(GraftTable.BinpackMinFileSizeBytes.toString).build(),
        ProcedureParameter.in("target_file_size_bytes", LongType)
          .defaultValue(GraftTable.BinpackTargetFileSizeBytes.toString).build(),
        ProcedureParameter.in("min_input_files", IntegerType)
          .defaultValue(GraftTable.BinpackMinInputFiles.toString).build()),
      (w, r) => table(w, str(r, 0)).rewriteDataFilesBinpack(
        if (r.isNullAt(1)) GraftTable.BinpackMinFileSizeBytes else r.getLong(1),
        if (r.isNullAt(2)) GraftTable.BinpackTargetFileSizeBytes else r.getLong(2),
        if (r.isNullAt(3)) GraftTable.BinpackMinInputFiles else r.getInt(3))),
    Def("rewrite_data_files",
      Seq(in("table", StringType),
        ProcedureParameter.in("sort_by", StringType).defaultValue("''").build()),
      (w, r) => {
        val sortBy =
          if (r.isNullAt(1) || str(r, 1).trim.isEmpty) Nil
          else str(r, 1).split(',').map(_.trim).toSeq
        table(w, str(r, 0)).rewriteDataFiles(sortBy)
      }),
    Def("rewrite_data_files_zorder",
      Seq(in("table", StringType), in("zorder_by", StringType)),
      (w, r) => table(w, str(r, 0)).rewriteDataFilesZOrder(
        str(r, 1).split(',').map(_.trim).toSeq)),
    Def("refresh_agg",
      Seq(in("state_table", StringType), in("base_table", StringType),
        in("keys", StringType), in("sums", StringType),
        ProcedureParameter.in("name", StringType)
          .defaultValue("'default'").build()),
      (w, r) => {
        graft.operators.IncrementalAgg.refresh(
          table(w, str(r, 1)), table(w, str(r, 0)),
          str(r, 2).split(',').map(_.trim).filter(_.nonEmpty).toSeq,
          str(r, 3).split(',').map(_.trim).filter(_.nonEmpty).toSeq,
          if (r.isNullAt(4)) "default" else str(r, 4))
        ()
      }),
    Def("refresh_agg_minmax",
      Seq(in("state_table", StringType), in("base_table", StringType),
        in("keys", StringType), in("sums", StringType),
        in("extremes", StringType),
        ProcedureParameter.in("name", StringType)
          .defaultValue("'default'").build()),
      (w, r) => {
        graft.operators.IncrementalAgg.refreshWithExtremes(
          table(w, str(r, 1)), table(w, str(r, 0)),
          str(r, 2).split(',').map(_.trim).filter(_.nonEmpty).toSeq,
          str(r, 3).split(',').map(_.trim).filter(_.nonEmpty).toSeq,
          str(r, 4).split(',').map(_.trim).filter(_.nonEmpty).toSeq,
          if (r.isNullAt(5)) "default" else str(r, 5))
        ()
      }),
    Def("upsert",
      Seq(in("table", StringType), in("source", StringType),
        in("keys", StringType), in("marker_key", StringType),
        in("marker_value", LongType),
        ProcedureParameter.in("mode", StringType)
          .defaultValue("'positional'").build()),
      (w, r) => {
        val t = table(w, str(r, 0))
        // the batch arrives as a registered table/temp view name — the
        // SQL-native stand-in for the API's DataFrame argument
        val df = SparkSession.active.table(str(r, 1))
        val keys = str(r, 2).split(',').map(_.trim).toSeq
        val markerKey = str(r, 3)
        val markerValue = r.getLong(4)
        val mode = if (r.isNullAt(5)) "positional" else str(r, 5)
        mode match {
          case "positional" =>
            t.upsertIfNewMarker(df, keys, markerKey, markerValue)
          case "equality" =>
            t.upsertEqIfNewMarker(df, keys, markerKey, markerValue)
          case other => sys.error(
            s"unknown upsert mode '$other'; use 'positional' or 'equality'")
        }
        ()
      }),
    Def("rewrite_delete_files",
      Seq(in("table", StringType),
        ProcedureParameter.in("target_files", IntegerType)
          .defaultValue("0").build()),
      (w, r) => table(w, str(r, 0)).rewriteDeleteFiles(
        if (r.isNullAt(1)) 0 else r.getInt(1))),
    Def("remove_orphan_files",
      Seq(in("table", StringType),
        ProcedureParameter.in("older_than_ms", LongType)
          .defaultValue(GraftTable.OrphanDefaultOlderThanMs.toString)
          .build()),
      (w, r) => {
        table(w, str(r, 0)).removeOrphanFiles(
          if (r.isNullAt(1)) GraftTable.OrphanDefaultOlderThanMs
          else r.getLong(1))
        ()
      }),
    Def("rewrite_manifests",
      Seq(in("table", StringType),
        ProcedureParameter.in("target_entries", IntegerType)
          .defaultValue(graft.tableformat.Manifests.DefaultTargetEntries.toString)
          .build()),
      (w, r) => table(w, str(r, 0)).rewriteManifests(
        if (r.isNullAt(1)) graft.tableformat.Manifests.DefaultTargetEntries
        else r.getInt(1))),
    Def("add_files",
      Seq(in("table", StringType), in("source_dir", StringType)),
      (w, r) => table(w, str(r, 0)).addFiles(str(r, 1))),
    Def("snapshot",
      Seq(in("source_table", StringType), in("dest_table", StringType)),
      (w, r) => {
        val wh = w().getOrElse(sys.error("spark.graft.warehouse not set"))
        val dstRef = str(r, 1)
        val dst = dstRef.split('.') match {
          case Array(db, tbl) =>
            java.nio.file.Paths.get(wh, db, tbl).toString
          case _ =>
            sys.error(s"dest_table must be 'db.table', got '$dstRef'")
        }
        table(w, str(r, 0)).snapshotTo(dst, dstRef)
        ()
      }),
    // the clone-side release valve for the retention guard: copy every
    // still-shared file into the clone's own location, rewrite its
    // snapshots to the local copies, unregister from the source — the
    // source can then expire/GC without coordinating with clone owners
    Def("rehome_clone",
      Seq(in("clone_table", StringType)),
      (w, r) => { table(w, str(r, 0)).rehomeClone(); () }),
    Def("unregister_clone",
      Seq(in("source_table", StringType), in("clone_table", StringType)),
      (w, r) => {
        val wh = w().getOrElse(sys.error("spark.graft.warehouse not set"))
        val cloneRef = str(r, 1)
        val cloneLoc = cloneRef.split('.') match {
          case Array(db, tbl) =>
            java.nio.file.Paths.get(wh, db, tbl).toString
          case _ =>
            sys.error(s"clone_table must be 'db.table', got '$cloneRef'")
        }
        table(w, str(r, 0)).unregisterClone(cloneLoc)
        ()
      }),
    Def("verify_table",
      Seq(in("table", StringType),
        ProcedureParameter.in("all_snapshots", BooleanType)
          .defaultValue("false").build()),
      (w, r) => {
        val findings = table(w, str(r, 0)).verifyIntegrity(
          allSnapshots = !r.isNullAt(1) && r.getBoolean(1))
        // fail loudly: the procedure form is the CI/cron gate
        if (findings.nonEmpty) sys.error(
          s"verify_table found ${findings.size} issue(s):\n" +
            findings.mkString("\n"))
      }),
    // the same audit as a REPORT: findings come back as rows (empty
    // result = clean warehouse), so an operator can inspect a mangled
    // table — stranded-clone file loss, a half-deleted import, a
    // truncated manifest — from SQL without the job dying mid-read.
    // verify_table above stays the throwing CI-gate twin.
    Def("audit_integrity",
      Seq(in("table", StringType),
        ProcedureParameter.in("all_snapshots", BooleanType)
          .defaultValue("false").build()),
      (_, _) => (),
      rowsOut = Some((
        new StructType().add("finding", StringType, nullable = false),
        (w, r) => table(w, str(r, 0)).verifyIntegrity(
          allSnapshots = !r.isNullAt(1) && r.getBoolean(1))
          .map(f => InternalRow(
            org.apache.spark.unsafe.types.UTF8String.fromString(f))
            : InternalRow).toArray))),
    Def("fast_forward",
      Seq(in("table", StringType), in("branch", StringType)),
      (w, r) => table(w, str(r, 0)).fastForward(str(r, 1))),
    Def("cherrypick_snapshot",
      Seq(in("table", StringType), in("snapshot_id", LongType)),
      (w, r) => table(w, str(r, 0)).cherrypickSnapshot(r.getLong(1))),
    Def("create_branch",
      Seq(in("table", StringType), in("name", StringType)),
      (w, r) => table(w, str(r, 0)).createBranch(str(r, 1))),
    Def("create_tag",
      Seq(in("table", StringType), in("name", StringType)),
      (w, r) => table(w, str(r, 0)).createTag(str(r, 1))),
    // Partition-spec evolution (Iceberg's ALTER TABLE ... ADD/DROP
    // PARTITION FIELD, expressed as one declarative call): `spec` is a
    // comma list in Iceberg's transform syntax — "day(ts)",
    // "bucket(8, id)", "truncate(4, name)", bare "id" = identity; the
    // empty string unpartitions. New files land under the new layout,
    // existing files keep theirs (values are per-file in the manifest,
    // so mixed-spec pruning needs no rewrite).
    Def("set_partition_spec",
      Seq(in("table", StringType), in("spec", StringType)),
      (w, r) => {
        table(w, str(r, 0)).setPartitionSpec(parseSpec(str(r, 1)))
        ()
      }))

  /** "day(ts), bucket(8, id), name" -> Seq(ts->day, id->bucket(8),
    * name->identity). Split on top-level commas only.
    */
  def parseSpec(spec: String): Seq[(String, String)] = {
    val s = spec.trim
    if (s.isEmpty) return Nil
    val items = scala.collection.mutable.ArrayBuffer.empty[String]
    var depth = 0; var start = 0
    s.zipWithIndex.foreach {
      case ('(', _) => depth += 1
      case (')', _) =>
        depth -= 1
        // fail fast on a ')' with no matching '(' — "a)b(,c" balances
        // back to 0 and would otherwise surface as a confusing
        // "malformed transform" later
        require(depth >= 0, s"unbalanced parens in partition spec '$spec'")
      case (',', i) if depth == 0 => items += s.substring(start, i); start = i + 1
      case _ => ()
    }
    require(depth == 0, s"unbalanced parens in partition spec '$spec'")
    items += s.substring(start)
    items.map(_.trim).filter(_.nonEmpty).map { item =>
      val i = item.indexOf('(')
      if (i < 0) item -> "identity"
      else {
        require(item.endsWith(")"), s"malformed transform '$item'")
        val name = item.substring(0, i).trim.toLowerCase
        val args = item.substring(i + 1, item.length - 1)
          .split(',').map(_.trim).toSeq
        name match {
          case "identity" =>
            require(args.size == 1, s"identity takes one column: '$item'")
            args.head -> "identity"
          case "year" | "years" | "month" | "months" | "day" | "days" |
               "hour" | "hours" =>
            require(args.size == 1, s"$name takes one column: '$item'")
            args.head -> name.stripSuffix("s")
          case "bucket" | "truncate" =>
            require(args.size == 2 && args.head.toIntOption.isDefined,
              s"$name takes (N, column): '$item'")
            args(1) -> s"$name(${args.head})"
          case other => sys.error(s"unknown partition transform '$other'")
        }
      }
    }.toSeq
  }

  def load(warehouse: () => Option[String], ident: Identifier): UnboundProcedure = {
    require(ident.namespace().sameElements(Array("system")),
      s"procedures live under the 'system' namespace, got ${ident.namespace().mkString(".")}")
    val d = defs.find(_.name.equalsIgnoreCase(ident.name()))
      .getOrElse(sys.error(s"unknown procedure ${ident.name()}; " +
        s"available: ${defs.map(_.name).mkString(", ")}"))
    new UnboundProcedure {
      override def name(): String = d.name
      override def description(): String = s"graft maintenance: ${d.name}"
      override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
        override def name(): String = d.name
        override def description(): String = s"graft maintenance: ${d.name}"
        override def parameters(): Array[ProcedureParameter] = d.params.toArray
        override def isDeterministic: Boolean = false
        override def call(input: InternalRow): java.util.Iterator[Scan] = {
          // maintenance mutates tables IMMEDIATELY through the engine
          // API — inside an open SQL transaction that would commit
          // OUTSIDE it and survive ROLLBACK (the DDL footgun, procedure
          // flavor; same contract as GraftNamespaceCatalog's refusals).
          // The read-only audits stay callable: inspecting committed
          // state mid-transaction is legitimate and mutates nothing.
          if (!readOnlyProcs(d.name))
            GraftSqlTransactions.refuse(SparkSession.active,
              s"CALL graft.system.${d.name}")
          d.rowsOut match {
            case None =>
              d.run(warehouse, input)
              Collections.emptyIterator()
            case Some((schema, produce)) =>
              val out = produce(warehouse, input)
              Collections.singletonList[Scan](
                new org.apache.spark.sql.connector.read.LocalScan {
                  override def readSchema(): StructType = schema
                  override def rows(): Array[InternalRow] = out
                }).iterator()
          }
        }
      }
    }
  }

  /** Procedures that only INSPECT committed state — callable inside an
    * open SQL transaction (everything else refuses there).
    */
  private val readOnlyProcs: Set[String] =
    Set("audit_integrity", "verify_table")

  def list(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(Array("system")))
      defs.map(d => Identifier.of(Array("system"), d.name)).toArray
    else Array.empty
}
