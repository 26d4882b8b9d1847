package graft.catalog

import java.util.Collections
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.connector.catalog.{Table, TableCapability}
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.types.StructType
import graft.engine.GraftTable
import graft.tableformat.Snapshot

/** DSv2 Table handle for a graft table: carries identity, schema,
  * partitioning, and properties so Spark's analyzer can resolve
  * relations, DESCRIBE, and column references — but declares NO
  * capabilities. Scans and writes are NOT served through the DSv2
  * Batch API: [[ResolveGraftRelations]] swaps the relation for the
  * engine's read plan and insert nodes for engine write commands,
  * which keeps field-id mapping, positional deletes, and snapshot
  * selection on the one proven code path.
  *
  * `pinnedSnapshot` is set when the handle came from time-travel
  * resolution (VERSION AS OF / TIMESTAMP AS OF); `pinnedMeta` is then
  * the committed document that snapshot was found in.
  */
final case class GraftTableHandle(table: GraftTable, tableName: String,
    pinnedSnapshot: Option[Snapshot] = None,
    pinnedMeta: Option[graft.tableformat.TableMetadata] = None) extends Table {

  override def name(): String = tableName

  /** Inside an open SQL transaction the handle must present the
    * TRANSACTION's metadata (staged DDL preview, or the begin-time
    * pin): the relation's output attributes come from here, and the
    * relation-swap rebind maps them by name onto the transaction-view
    * read — a committed schema here would desync from a staged rename.
    * Resolving through [[GraftSqlTransactions.readView]] also RECORDS
    * the begin-time pin, so a schema-only first touch (DESCRIBE, a
    * resolution that never executes) pins the table like any read —
    * otherwise a commit racing in before the first actual SELECT
    * would hand the transaction post-race state. EXPLICIT time-travel
    * handles are the exception: they resolve against COMMITTED
    * metadata (the engine's readAsOfVersion/Time pair historical
    * files with the live schema), so their attributes must come from
    * the same document — a staged rename must not reshape a read that
    * overrides the transaction view by naming its own snapshot.
    * ONE read, cached for the handle's lifetime (a resolution-scoped
    * object), so schema/partitioning/properties can never pair fields
    * from two different metadata versions; the resolution rule builds
    * the relation's scan from this same document. A time-travel handle
    * reuses the document its snapshot was resolved in.
    */
  private[catalog] lazy val viewMeta: graft.tableformat.TableMetadata =
    if (pinnedSnapshot.isDefined) pinnedMeta.getOrElse(table.meta)
    else GraftSqlTransactions
      .readView(table.spark, table.location, table.meta)
      .getOrElse(table.meta)

  override def schema(): StructType =
    viewMeta.currentSchema.toStructType

  override def partitioning(): Array[Transform] = {
    val m = viewMeta
    m.currentSpec.fields.map { pf =>
      val src = m.currentSchema.fieldById(pf.sourceId)
        .map(_.name).getOrElse(pf.name)
      graft.engine.PartitionTransforms.toV2(pf.transform, src)
    }.toArray
  }

  override def properties(): java.util.Map[String, String] =
    Collections.unmodifiableMap(viewMeta.properties.asJava)

  override def capabilities(): java.util.Set[TableCapability] =
    Collections.emptySet()
}

/** DSv2 handle for a metadata table addressed by SQL suffix —
  * `graft.db.t.{history,snapshots,metadata_log_entries,refs,files,
  * changes}` (reference: apiv15.py:80, notebook cells 16-17/31-35 query
  * `iceberg.employee_db.t.history` and a changelog view through SQL).
  * Carries the already-built driver-side DataFrame (these are all
  * O(#snapshots) except `changes`, whose plan is the manifest-diff
  * changelog); [[ResolveGraftRelations]] swaps the relation for it.
  */
final case class GraftMetadataTableHandle(df: org.apache.spark.sql.DataFrame,
    tableName: String) extends Table {
  override def name(): String = tableName
  override def schema(): StructType = df.schema
  override def capabilities(): java.util.Set[TableCapability] =
    Collections.emptySet()
}
