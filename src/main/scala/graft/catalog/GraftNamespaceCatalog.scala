package graft.catalog

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.engine.GraftTable
import graft.tableformat.{FieldDef, MetadataIO}

/** Catalog plugin claiming the `graft` namespace
  * (`spark.sql.catalog.graft=graft.catalog.GraftNamespaceCatalog`).
  *
  * Division of labor: this plugin answers catalog questions — SHOW
  * DATABASES / SHOW TABLES / DESCRIBE / existence — from the warehouse
  * layout, serves [[GraftTableHandle]]s (schema + identity, no scan
  * capabilities) for relation resolution including native time-travel
  * clauses, and applies DDL (CREATE/ALTER/DROP TABLE). Actual scans and
  * DML are swapped in by [[ResolveGraftRelations]], so the engine's
  * field-id mapping, positional deletes, and snapshot commits are the
  * single code path. Without the plugin, the session catalog claims
  * the identifier first and fails with REQUIRES_SINGLE_PART_NAMESPACE
  * before any resolution rule runs.
  */
class GraftNamespaceCatalog extends TableCatalog with SupportsNamespaces
    with ProcedureCatalog with ViewCatalog {

  private var catalogName: String = "graft"

  // -------- procedures (CALL graft.system.*) --------

  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    GraftProcedures.load(() => warehouse, ident)

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    GraftProcedures.list(namespace)

  private def warehouse: Option[String] =
    Option(org.apache.spark.sql.SparkSession.active)
      .flatMap(_.conf.getOption("spark.graft.warehouse"))

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit =
    catalogName = name

  override def name(): String = catalogName

  // -------- namespaces (SHOW DATABASES / USE) --------

  override def listNamespaces(): Array[Array[String]] =
    warehouse.map { w =>
      val root = Paths.get(w)
      if (!Files.isDirectory(root)) Array.empty[Array[String]]
      else {
        val s = Files.list(root) // must close: holds a directory fd
        try s.iterator().asScala.filter(Files.isDirectory(_))
          .map(p => Array(p.getFileName.toString)).toArray
        finally s.close()
      }
    }.getOrElse(Array.empty)

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else throw new NoSuchNamespaceException(namespace)

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.length == 1 && warehouse.exists(w =>
      Files.isDirectory(Paths.get(w, namespace.head)))

  override def loadNamespaceMetadata(namespace: Array[String]): java.util.Map[String, String] =
    if (namespaceExists(namespace)) java.util.Collections.emptyMap()
    else throw new NoSuchNamespaceException(namespace)

  override def createNamespace(namespace: Array[String],
      metadata: java.util.Map[String, String]): Unit = {
    // same contract as the table/view DDL refusals: a namespace has no
    // staged form, and silently committing it outside the transaction
    // (surviving ROLLBACK) is the footgun the refusals exist for
    GraftSqlTransactions.refuse(
      org.apache.spark.sql.SparkSession.active, "CREATE DATABASE")
    require(namespace.length == 1, "graft namespaces are single-level")
    warehouse.foreach(w => Files.createDirectories(Paths.get(w, namespace.head)))
  }

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("alterNamespace")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean =
    throw new UnsupportedOperationException("dropNamespace")

  // -------- tables: handles served here, scans/writes via the rule ----

  override def listTables(namespace: Array[String]): Array[Identifier] =
    warehouse.map { w =>
      // same traversal guard as location(): a backticked `..` namespace
      // must not list the warehouse's parent
      require(namespace.forall(safePart),
        s"illegal namespace part in ${namespace.mkString(".")}")
      val d = Paths.get(w, namespace.mkString("/"))
      if (!Files.isDirectory(d)) Array.empty[Identifier]
      else {
        val s = Files.list(d) // must close: holds a directory fd
        try s.iterator().asScala
          .filter(p => MetadataIO.exists(p.toString))
          .map(p => Identifier.of(namespace, p.getFileName.toString)).toArray
        finally s.close()
      }
    }.getOrElse(Array.empty)

  // identifier parts become filesystem path segments: reject anything
  // that could traverse out of the warehouse (backticked idents can
  // contain '..' or '/'; dropTable recursively DELETES at the resolved
  // location, so escape here is destructive, not just wrong)
  private def safePart(p: String): Boolean =
    p.nonEmpty && p != "." && p != ".." &&
      !p.contains("/") && !p.contains("\\")

  private def location(ident: Identifier): Option[String] = {
    val parts = ident.namespace() :+ ident.name()
    require(parts.forall(safePart),
      s"illegal identifier part in ${parts.mkString(".")}")
    warehouse.map(w => Paths.get(w, parts.mkString("/")).toString)
  }

  override def tableExists(ident: Identifier): Boolean =
    location(ident).exists(MetadataIO.exists)

  /** The table at `ident`'s location, built directly: the location's
    * hint probe here is the existence check `GraftTable.load` would
    * repeat.
    */
  private def existing(ident: Identifier): Option[GraftTable] =
    location(ident).filter(MetadataIO.exists).map(loc =>
      new GraftTable(org.apache.spark.sql.SparkSession.active, loc))

  private def graftTable(ident: Identifier): GraftTable =
    existing(ident).getOrElse(throw new NoSuchTableException(ident))

  private def fullName(ident: Identifier): String =
    (catalogName +: ident.namespace() :+ ident.name()).mkString(".")

  override def loadTable(ident: Identifier): Table =
    existing(ident) match {
      case Some(t) => GraftTableHandle(t, fullName(ident))
      case None =>
        metadataTable(ident).getOrElse(throw new NoSuchTableException(ident))
    }

  /** SQL-addressable metadata tables: `graft.db.t.history` parses as
    * namespace [db, t] + name `history` — when the prefix is a real
    * graft table and the name a metadata suffix, serve that table's
    * metadata DataFrame. `changes` is the changelog of the latest
    * commit (the reference's create_changelog_view, notebook cell 32,
    * as a table-valued suffix instead of a stored procedure).
    *
    * Deliberate asymmetry (documented, matches Iceberg): metadata
    * suffixes resolve through loadTable only — tableExists/listTables
    * cover REAL tables, so `SHOW TABLES` never lists five phantom
    * suffixes per table and existence checks answer for data tables.
    * An unknown suffix on an existing table names no metadata relation
    * and correctly falls through to NoSuchTableException.
    */
  private def metadataTable(ident: Identifier): Option[Table] =
    if (ident.namespace().length != 2) None
    else {
      val parent =
        Identifier.of(Array(ident.namespace()(0)), ident.namespace()(1))
      existing(parent).flatMap { t =>
        val df = ident.name().toLowerCase match {
          case "history"              => Some(t.history)
          case "snapshots"            => Some(t.snapshotsDf)
          case "metadata_log_entries" => Some(t.metadataLogEntries)
          case "refs"                 => Some(t.refs)
          case "files"                => Some(t.filesDf)
          case "delete_files"         => Some(t.deleteFilesDf)
          case "position_deletes"     => Some(t.positionDeletesDf)
          case "entries"              => Some(t.entriesDf)
          case "manifests"            => Some(t.manifestsDf)
          case "all_data_files"       => Some(t.allDataFilesDf)
          case "all_delete_files"     => Some(t.allDeleteFilesDf)
          case "all_files"            => Some(t.allFilesDf)
          case "partitions"           => Some(t.partitionsDf)
          case "stats"                => Some(t.statsDf)
          case "changes" =>
            // a table that exists but has no commits has no changelog —
            // falling through would misreport "table not found"
            Some(t.meta.currentSnapshot match {
              case Some(c) => t.changelog(c.parentId, c.snapshotId)
              case None => throw new IllegalStateException(
                s"table ${fullName(parent)} has no snapshots yet: " +
                  "changelog 'changes' is undefined until the first commit")
            })
          case _ => None
        }
        df.map(GraftMetadataTableHandle(_, fullName(ident)))
      }
    }

  override def loadTable(ident: Identifier, version: String): Table = {
    val t = graftTable(ident)
    val m = t.meta
    // VERSION AS OF accepts a snapshot id OR a ref name (Iceberg's
    // branch/tag time travel: VERSION AS OF 'audit-tag'). A numeric
    // string that matches no snapshot falls back to ref lookup, so an
    // all-digit branch/tag name stays addressable.
    def byRef: Option[graft.tableformat.Snapshot] =
      m.refs.find(_.name == version)
        .flatMap(r => m.snapshotById(r.snapshotId))
        .orElse(if (version == "main") m.currentSnapshot else None)
    val snap = version.toLongOption.flatMap(m.snapshotById).orElse(byRef)
    GraftTableHandle(t, fullName(ident),
      Some(snap.getOrElse(throw new NoSuchTableException(ident))), Some(m))
  }

  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val t = graftTable(ident)
    val m = t.meta
    // Spark hands TIMESTAMP AS OF down in MICROseconds
    val snap = m.snapshotAsOfTime(timestamp / 1000L)
      .getOrElse(throw new NoSuchTableException(ident))
    GraftTableHandle(t, fullName(ident), Some(snap), Some(m))
  }

  /** CREATE TABLE graft.db.t (...) [PARTITIONED BY (days(ts) | c)]. */
  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    GraftSqlTransactions.refuse(
      org.apache.spark.sql.SparkSession.active, "CREATE TABLE")
    val loc = location(ident).getOrElse(
      sys.error("set spark.graft.warehouse to create graft tables via SQL"))
    val fields = schema.fields.toSeq.map(f =>
      f.name -> FieldDef.nameType(f.dataType))
    val partition =
      partitions.toSeq.map(graft.engine.PartitionTransforms.fromV2)
    val props = properties.asScala.toMap -
      "provider" - "location" - "owner" // Spark-injected reserved keys
    GraftTableHandle(
      GraftTable.create(org.apache.spark.sql.SparkSession.active, loc,
        (ident.namespace() :+ ident.name()).mkString("."), fields,
        partition, props),
      fullName(ident))
  }

  /** ALTER TABLE graft.db.t ADD/RENAME/DROP COLUMN, SET TBLPROPERTIES.
    *
    * Inside an open SQL transaction the changes STAGE instead of
    * committing (each change's transform — preconditions included —
    * applies to the transaction's preview immediately, so errors
    * surface at the statement; the schema publishes with COMMIT's one
    * claim set and ROLLBACK discards it). This is what makes the
    * reference's rename-then-repair story (apiv15.py:352) expressible
    * as ONE transaction: ALTER TABLE ... RENAME COLUMN plus the
    * dependent CREATE OR REPLACE VIEW land atomically.
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val t = graftTable(ident)
    val session = org.apache.spark.sql.SparkSession.active
    def one(fieldNames: Array[String]): String = {
      require(fieldNames.length == 1, "nested columns unsupported")
      fieldNames(0)
    }
    def transformOf(c: TableChange)
        : graft.tableformat.TableMetadata => graft.tableformat.TableMetadata =
      c match {
        case a: TableChange.AddColumn =>
          t.addColumnTransform(one(a.fieldNames()),
            FieldDef.nameType(a.dataType()))
        case r: TableChange.RenameColumn =>
          t.renameColumnTransform(one(r.fieldNames()), r.newName())
        case d: TableChange.DeleteColumn =>
          t.dropColumnTransform(one(d.fieldNames()))
        case p: TableChange.SetProperty =>
          cur => cur.copy(properties =
            cur.properties + (p.property() -> p.value()))
        case u: TableChange.UpdateColumnType =>
          t.alterColumnTypeTransform(one(u.fieldNames()),
            FieldDef.nameType(u.newDataType()))
        case other =>
          throw new UnsupportedOperationException(s"table change $other")
      }
    if (GraftSqlTransactions.active(session)) {
      val composed = changes.map(transformOf)
        .reduce((f, g) => f.andThen(g))
      val (baseM, _) = GraftSqlTransactions.planBase(session, t.location, t.meta)
      // revalidates: the evolution was planned (and previewed) against
      // the pinned base — a racing commit must abort the transaction,
      // not silently compose under it
      GraftSqlTransactions.stage(session, t.location, "ALTER TABLE", baseM,
        revalidates = true, (cur, _) => composed(cur))
    } else {
      changes.foreach(c =>
        graft.tableformat.MetadataIO.commitRetry(t.location)(transformOf(c)))
    }
    GraftTableHandle(t, fullName(ident))
  }

  override def dropTable(ident: Identifier): Boolean = {
    GraftSqlTransactions.refuse(
      org.apache.spark.sql.SparkSession.active, "DROP TABLE")
    location(ident).filter(MetadataIO.exists) match {
      case None => false
      case Some(loc) =>
        graft.tableformat.FileIO.io.deleteTree(loc)
        true
    }
  }

  // -------- views (persistent SQL views, Iceberg view semantics) ----
  // Storage + versioning live in [[ViewIO]]; a location is a table XOR
  // a view (distinct hint-file families, enforced at create). DDL
  // arrives through this DSv2 surface programmatically and through
  // [[ResolveGraftRelations]]'s statement interception for SQL text.

  private def viewLocation(ident: Identifier): Option[String] =
    location(ident)

  override def viewExists(ident: Identifier): Boolean =
    viewLocation(ident).exists(ViewIO.exists)

  override def listViews(namespace: String*): Array[Identifier] =
    warehouse.map { w =>
      require(namespace.forall(safePart),
        s"illegal namespace part in ${namespace.mkString(".")}")
      val d = Paths.get(w, namespace.mkString("/"))
      if (!Files.isDirectory(d)) Array.empty[Identifier]
      else {
        val s = Files.list(d)
        try s.iterator().asScala
          .filter(p => ViewIO.exists(p.toString))
          .map(p => Identifier.of(namespace.toArray, p.getFileName.toString))
          .toArray
        finally s.close()
      }
    }.getOrElse(Array.empty)

  override def loadView(ident: Identifier): View =
    viewLocation(ident).filter(ViewIO.exists) match {
      case Some(loc) =>
        val m = ViewIO.read(loc)
        GraftViewHandle(m, m.current)
      case None =>
        throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(ident)
    }

  private def versionFrom(info: ViewInfo, id: Int): ViewVersion =
    ViewVersion(
      versionId = id,
      timestampMs = System.currentTimeMillis(),
      sql = info.sql(),
      schemaJson = info.schema().json,
      defaultCatalog = info.currentCatalog(),
      defaultNamespace = info.currentNamespace().toVector,
      queryColumnNames = info.queryColumnNames().toVector,
      columnAliases = info.columnAliases().toVector,
      columnComments = Option(info.columnComments())
        .map(_.toVector).getOrElse(Vector.empty))

  override def createView(info: ViewInfo): View = {
    // a brand-new view has no document for a transactional claim slot
    // to replace (the create-vs-rename handshake lives on the
    // single-commit path) — refuse rather than commit outside the txn
    GraftSqlTransactions.refuse(
      org.apache.spark.sql.SparkSession.active, "CREATE VIEW (new view)")
    val ident = info.ident()
    val loc = viewLocation(ident)
      .getOrElse(sys.error("spark.graft.warehouse not set"))
    if (MetadataIO.exists(loc))
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(ident)
    if (ViewIO.exists(loc))
      throw new org.apache.spark.sql.catalyst.analysis.ViewAlreadyExistsException(ident)
    val m = ViewMetadata(
      name = (ident.namespace() :+ ident.name()).mkString("."),
      currentVersionId = 1,
      versions = Vector(versionFrom(info, 1)),
      properties = info.properties().asScala.toMap)
    ViewIO.commit(loc, m)
    GraftViewHandle(m, m.current)
  }

  override def replaceView(info: ViewInfo, orCreate: Boolean): View = {
    val ident = info.ident()
    val loc = viewLocation(ident)
      .getOrElse(sys.error("spark.graft.warehouse not set"))
    if (MetadataIO.exists(loc))
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(ident)
    if (!ViewIO.exists(loc)) {
      if (!orCreate)
        throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(ident)
      return createView(info)
    }
    // REPLACE appends a version — the old definition stays readable via
    // VERSION AS OF, the Iceberg-view audit-trail contract. The next
    // version id is computed INSIDE the transform so a staged or
    // contended redefinition re-numbers against whatever it finally
    // applies to.
    val redefine = (cur: ViewMetadata) => {
      val nextId = cur.versions.map(_.versionId).max + 1
      cur.copy(
        currentVersionId = nextId,
        versions = cur.versions :+ versionFrom(info, nextId),
        properties = info.properties().asScala.toMap)
    }
    val session = org.apache.spark.sql.SparkSession.active
    if (GraftSqlTransactions.active(session)) {
      // inside BEGIN TRANSACTION: the redefinition STAGES — it
      // publishes in COMMIT's claim set together with any staged DDL
      // (the rename + dependent-view-repair shape), and this session's
      // view reads serve the staged definition meanwhile
      val pm = GraftSqlTransactions.stageView(session, loc,
        "CREATE OR REPLACE VIEW", redefine)
      GraftViewHandle(pm, pm.current)
    } else {
      val m = redefine(ViewIO.read(loc))
      ViewIO.commit(loc, m)
      GraftViewHandle(m, m.current)
    }
  }

  override def alterView(ident: Identifier, changes: ViewChange*): View = {
    val loc = viewLocation(ident).filter(ViewIO.exists)
      .getOrElse(throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(ident))
    val alter = (cur: ViewMetadata) => cur.copy(
      properties = changes.foldLeft(cur.properties) {
        case (p, s: ViewChange.SetProperty)    => p + (s.property -> s.value)
        case (p, r: ViewChange.RemoveProperty) => p - r.property
        case (_, other) =>
          sys.error(s"unsupported view change: ${other.getClass.getSimpleName}")
      })
    val session = org.apache.spark.sql.SparkSession.active
    if (GraftSqlTransactions.active(session)) {
      val pm = GraftSqlTransactions.stageView(session, loc,
        "ALTER VIEW", alter)
      GraftViewHandle(pm, pm.current)
    } else {
      val m = alter(ViewIO.read(loc))
      ViewIO.commit(loc, m)
      GraftViewHandle(m, m.current)
    }
  }

  override def dropView(ident: Identifier): Boolean = {
    GraftSqlTransactions.refuse(
      org.apache.spark.sql.SparkSession.active, "DROP VIEW")
    viewLocation(ident).exists(ViewIO.drop)
  }

  override def renameView(oldIdent: Identifier, newIdent0: Identifier): Unit = {
    GraftSqlTransactions.refuse(
      org.apache.spark.sql.SparkSession.active, "ALTER VIEW ... RENAME TO")
    val newIdent = stripOwnCatalog(newIdent0) // see renameTable
    val from = viewLocation(oldIdent).filter(ViewIO.exists)
      .getOrElse(throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(oldIdent))
    val to = viewLocation(newIdent)
      .getOrElse(sys.error("spark.graft.warehouse not set"))
    if (MetadataIO.exists(to))
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(newIdent)
    if (ViewIO.exists(to))
      throw new org.apache.spark.sql.catalyst.analysis.ViewAlreadyExistsException(newIdent)
    // the move itself is the atomic destination claim ON EVERY
    // backend: POSIX arbitrates via mkdir(2)+rename(2); the
    // object-store backends conditional-PUT/CAS a claim marker at the
    // destination before copying (so two racing renames can never
    // interleave copies), and a crash mid-copy is repaired by
    // FileIO.recoverRename. Routing through the seam also keeps the
    // catalog-CAS backend's commit-slot state consistent (the old
    // location's claims release with the move).
    try graft.tableformat.FileIO.io.rename(from, to)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new org.apache.spark.sql.catalyst.analysis.ViewAlreadyExistsException(newIdent)
    }
    val cur = ViewIO.read(to)
    ViewIO.commit(to, cur.copy(
      name = (newIdent.namespace() :+ newIdent.name()).mkString(".")))
  }

  /** ALTER TABLE ... RENAME TO: one atomic directory move — manifest
    * data-file paths are location-relative by design (see
    * GraftTable.relDataPath), so only the metadata document's identity
    * fields need rewriting, committed as a new version under the new
    * location. History, snapshots, refs, and MoR delete files all
    * survive the move untouched.
    */
  /** Spark 4.1's RenameTableExec passes the DESTINATION identifier of
    * `ALTER TABLE graft.db.a RENAME TO graft.db.b` with the catalog
    * name still in the namespace (["graft","db"], "b") — mapping that
    * to a path verbatim would land the table at warehouse/graft/db/b,
    * outside the db layout and unresolvable by any read. Strip a
    * leading namespace element naming THIS catalog.
    */
  private def stripOwnCatalog(ident: Identifier): Identifier = {
    val ns = ident.namespace()
    if (ns.length == 2 && ns.head.equalsIgnoreCase(name()))
      Identifier.of(ns.tail, ident.name())
    else ident
  }

  override def renameTable(oldIdent: Identifier, newIdent0: Identifier): Unit = {
    GraftSqlTransactions.refuse(
      org.apache.spark.sql.SparkSession.active, "ALTER TABLE ... RENAME TO")
    val newIdent = stripOwnCatalog(newIdent0)
    val from = location(oldIdent).filter(MetadataIO.exists)
      .getOrElse(throw new NoSuchTableException(oldIdent))
    val to = location(newIdent)
      .getOrElse(sys.error("spark.graft.warehouse not set"))
    if (MetadataIO.exists(to)) // the AnalysisException the contract names
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(newIdent)
    // atomic destination claim on EVERY backend: two concurrent
    // renames to one target must not both pass the exists check and
    // clobber. POSIX arbitrates via mkdir(2)+rename(2); the
    // object-store backends conditional-PUT/CAS a claim marker at the
    // destination before any copy (crash mid-copy repaired by
    // FileIO.recoverRename, surfaced by the integrity audit). Routing
    // through FileIO also keeps the catalog-CAS backend's commit-slot
    // state consistent (the old location's claims release with the
    // move).
    try graft.tableformat.FileIO.io.rename(from, to)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(newIdent)
    }
    // metadata name stays catalog-free (db.table), matching createTable
    MetadataIO.commitRetry(to)(cur => cur.copy(
      name = (newIdent.namespace() :+ newIdent.name()).mkString("."),
      location = to))
  }
}
