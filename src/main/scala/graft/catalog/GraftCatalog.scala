package graft.catalog

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.engine.GraftTable
import graft.tableformat.MetadataIO

/** One operation inside a multi-table transaction
  * ([[GraftCatalog.transactOps]]): an append, a copy-on-write
  * DELETE/UPDATE, or a copy-on-write MERGE against one table.
  */
sealed trait TxOp { def table: GraftTable }
object Tx {
  final case class Append(table: GraftTable,
      df: org.apache.spark.sql.DataFrame) extends TxOp
  final case class Delete(table: GraftTable,
      cond: org.apache.spark.sql.Column) extends TxOp
  final case class Update(table: GraftTable,
      cond: org.apache.spark.sql.Column,
      set: Map[String, org.apache.spark.sql.Column]) extends TxOp
  /** The CDC-upsert shape: MERGE the batch into the fact AND append
    * its index rows in one claim set ([[graft.engine.GraftTable.merge]]
    * semantics, on copy-on-write and merge-on-read targets).
    */
  final case class Merge(table: GraftTable,
      source: org.apache.spark.sql.DataFrame,
      on: org.apache.spark.sql.Column,
      matched: Seq[graft.engine.MergeMatchedClause],
      notMatched: Seq[graft.engine.MergeInsertClause],
      notMatchedBySource: Seq[graft.engine.MergeMatchedClause] = Nil,
      targetAlias: Option[String] = None) extends TxOp
}

/** Two-level `graft.<db>.<table>` namespace over a warehouse directory —
  * the reference addresses everything as `iceberg.employee_db.employee`
  * (apiv15.py:65) through a Hadoop catalog whose filesystem layout IS
  * the catalog; same here: db = directory, table = subdirectory with
  * `metadata/version-hint.text`.
  *
  * This class is the programmatic half: creating databases and tables,
  * loading [[GraftTable]] handles, and multi-table transactions. All
  * SQL text — queries, `VERSION AS OF` / `TIMESTAMP AS OF` /
  * `FOR SYSTEM_TIME AS OF` time travel (the reference's syntax,
  * apiv15.py:154-157), SHOW, DESCRIBE and DDL — goes through Spark's
  * own parser via [[GraftExtensions]] and the `graft` catalog plugin
  * ([[GraftNamespaceCatalog]]), which resolve against the warehouse
  * this class points the session at.
  */
final class GraftCatalog(val spark: SparkSession, val warehouse: String) {

  // point native SQL resolution (GraftExtensions) at this warehouse;
  // with several catalogs in one session the most recent wins
  spark.conf.set("spark.graft.warehouse", warehouse)

  def createDatabase(db: String): Unit = {
    require(db.matches("[A-Za-z0-9_]+"), s"bad database name $db")
    Files.createDirectories(Paths.get(warehouse, db))
  }

  // --------------------------------------------------------- table access

  def location(db: String, table: String): String =
    Paths.get(warehouse, db, table).toString

  def table(db: String, name: String): GraftTable =
    GraftTable.load(spark, location(db, name))

  def tableExists(db: String, name: String): Boolean =
    MetadataIO.exists(location(db, name))

  def createTable(db: String, name: String, fields: Seq[(String, String)],
      partition: Seq[(String, String)] = Nil,
      properties: Map[String, String] = Map.empty): GraftTable = {
    createDatabase(db)
    GraftTable.create(spark, location(db, name), s"$db.$name", fields,
      partition, properties)
  }

  def createTableAs(db: String, name: String, df: DataFrame,
      partition: Seq[(String, String)] = Nil): GraftTable = {
    createDatabase(db)
    GraftTable.createAs(spark, location(db, name), s"$db.$name", df, partition)
  }

  // ----------------------------------------------- multi-table transaction

  /** MULTI-TABLE TRANSACTION — commit appends to several tables
    * atomically: every batch's data files are written first (invisible
    * until referenced), then ONE catalog CAS claims every table's next
    * version together ([[graft.tableformat.FileIO.claimAll]]). A reader
    * can never observe one table's commit without the others' — the
    * LLM-pipeline shape this exists for is publishing a corpus table
    * and its fingerprint/dedup index in lockstep, where a corpus-only
    * commit would let a concurrent dedup pass miss documents. Only the
    * catalog-arbitrated backend supports it (the Iceberg REST-catalog
    * capability); bare conditional-PUT/POSIX stores refuse loudly.
    * Returns the committed version per table, in input order.
    */
  def transact(ops: (GraftTable, DataFrame)*): Seq[Int] =
    transactOps(ops.map { case (t, df) => Tx.Append(t, df) })

  /** MULTI-TABLE TRANSACTION over mixed operations — appends AND
    * row-level DML (copy-on-write rewrites, or positional delete
    * files + appended copies on merge-on-read tables): the
    * dedup-pipeline shape that motivated
    * transactions needs the delete half (a sweep that CoW-deletes
    * corpus rows must retract the matching index rows atomically, or
    * a reader joins a shrunken corpus against a stale index). Every
    * operation's data files are written FIRST (rewrites included —
    * invisible until referenced), then one atomic catalog CAS claims
    * every table's next version together; DML transforms re-validate
    * their base snapshot at claim time and abort loudly on a racing
    * commit ([[GraftTable.stageDelete]]'s conflict contract). One
    * shared commit timestamp across the set (refreshed per retry by
    * the first transform) keeps `TIMESTAMP AS OF` transaction-
    * consistent: no probe instant falls between one transaction's
    * per-table snapshots — including against a skewed-forward racer
    * whose stamp outpaces the wall clock: a slot whose claim-time
    * history sits above the chosen instant lifts the WHOLE set's
    * instant past it ([[SharedInstant]]), never just its own stamp.
    */
  def transactOps(ops: Seq[TxOp]): Seq[Int] =
    transactBody(None, ops).get

  /** Exactly-once MULTI-TABLE publish — the streaming `foreachBatch`
    * shape: append every table's batch AND record
    * `markerKey -> markerValue` on every table in the SAME atomic
    * claim set; return false (nothing written) when the marker is
    * already at or past `markerValue`. Because the set commits
    * atomically, a crash or micro-batch REPLAY can never leave rows or
    * markers on a subset of the tables: the replay either redoes the
    * whole set or skips it whole. This is the transactional upgrade of
    * the per-table appendIfNewMarker composition, which until now
    * could expose a corpus batch whose index batch hadn't landed yet.
    */
  def transactIfNewMarker(markerKey: String, markerValue: Long,
      ops: (GraftTable, DataFrame)*): Boolean =
    transactOpsIfNewMarker(markerKey, markerValue,
      ops.map { case (t, df) => Tx.Append(t, df) })

  /** Exactly-once [[transactOps]] — the `foreachBatch` SWEEP shape: a
    * streaming dedup pass that CoW-deletes corpus rows and retracts
    * their index rows must survive micro-batch replay without
    * re-deleting or half-applying. The op set and
    * `markerKey -> markerValue` publish on every table in the SAME
    * atomic claim set; a batch already at-or-past the marker skips
    * WHOLE (checked before any file is written). Returns whether the
    * ops were committed.
    */
  def transactOpsIfNewMarker(markerKey: String, markerValue: Long,
      ops: Seq[TxOp]): Boolean =
    transactBody(Some(markerKey -> markerValue), ops).isDefined

  /** The one body of [[transactOps]] and [[transactOpsIfNewMarker]]:
    * stage every op (its files are written now), then claim every
    * table's next version in one atomic set under one shared
    * timestamp. With a `marker`, every table also records it, and the
    * result is None — nothing staged, nothing committed — when any
    * table already holds it at or past its value.
    */
  private def transactBody(marker: Option[(String, Long)],
      ops: Seq[TxOp]): Option[Seq[Int]] = {
    require(ops.nonEmpty, "empty transaction")
    def seen(m: graft.tableformat.TableMetadata): Boolean =
      marker.exists(GraftTable.markerSeen(m, _))
    // common replay path: skip before staging writes anything
    if (marker.isDefined && ops.exists(o => seen(o.table.meta))) return None
    val staged = ops.map {
      case Tx.Append(t, df)       => t -> t.stageAppend(df)
      case Tx.Delete(t, cond)     => t -> t.stageDelete(cond)
      case Tx.Update(t, cond, as) => t -> t.stageUpdate(cond, as)
      case Tx.Merge(t, src, on, m, nm, nms, al) =>
        t -> t.stageMerge(src, on, m, nm, nms, al)
    }
    val floor = new java.util.concurrent.atomic.AtomicLong(0L)
    val sharedTs = new java.util.concurrent.atomic.AtomicLong(0L)
    final class SeenMarker extends RuntimeException
    try Some(SharedInstant.withFloorRetries(floor) { () =>
      MetadataIO.commitAll(staged.zipWithIndex.map { case ((t, f), i) =>
        t.location -> ((cur: graft.tableformat.TableMetadata) => {
          if (seen(cur)) throw new SeenMarker // a racer published it
          if (i == 0) sharedTs.set(SharedInstant.stampAbove(floor))
          if (staged.size > 1) SharedInstant.check(cur, sharedTs.get)
          val next = f(cur, sharedTs.get)
          marker.fold(next) { case (k, v) =>
            next.copy(properties = next.properties + (k -> v.toString))
          }
        })
      })
    })
    catch { case _: SeenMarker => None }
  }

  /** [[transact]] for arbitrary metadata transforms (DDL, property
    * flips, snapshot surgery) — the raw form: each table's transform
    * re-runs against fresh metadata on contention, and the whole set
    * commits through one atomic claim.
    */
  def transactTransforms(
      ops: Seq[(GraftTable, graft.tableformat.TableMetadata =>
        graft.tableformat.TableMetadata)]): Seq[Int] =
    MetadataIO.commitAll(ops.map { case (t, f) => t.location -> f })

  /** [[transactTransforms]] admitting VIEW redefinitions into the same
    * atomic claim set — the DDL + view-repair shape: a column rename
    * and the dependent view's new SQL publish TOGETHER, so no reader
    * window exists where the renamed table pairs with the stale
    * definition (late-binding expansion would throw an analysis error
    * for every reader inside that window). View ops are keyed
    * `"db.view"`; each transform receives the current [[ViewMetadata]]
    * and typically appends a [[ViewVersion]] — note the new SQL can't
    * be ANALYZED until the paired DDL commits, so its definition-time
    * schema is carried by the caller (for a source-column rename the
    * view's output schema is unchanged). Catalog-arbitrated backends
    * only, like every multi-document transaction.
    */
  def transactTransforms(
      tableOps: Seq[(GraftTable, graft.tableformat.TableMetadata =>
        graft.tableformat.TableMetadata)],
      viewOps: Seq[(String, ViewMetadata => ViewMetadata)]): Seq[Int] = {
    val slots: Seq[() => graft.tableformat.MetadataIO.PreparedSlot] =
      tableOps.map { case (t, f) =>
        () => MetadataIO.prepareTableSlot(t.location, f)
      } ++ viewOps.map { case (name, f) =>
        val parts = name.split("\\.", 2)
        require(parts.length == 2, s"view ops are keyed db.view, got $name")
        val loc = Paths.get(warehouse, parts(0), parts(1)).toString
        require(ViewIO.exists(loc), s"no view $name under $warehouse")
        () => ViewIO.prepareSlot(loc, f)
      }
    MetadataIO.commitSlots(slots)
  }
}
