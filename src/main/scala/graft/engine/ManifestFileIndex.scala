package graft.engine

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference,
  Expression, SubqueryExpression}
import org.apache.spark.sql.execution.datasources.{FileIndex,
  FileStatusWithMetadata, PartitionDirectory}
import org.apache.spark.sql.types.StructType
import graft.tableformat.DataFileEntry

/** The file list of one parquet relation, taken from manifest entries
  * instead of a listing: each file's qualified path and its recorded
  * `fileSizeBytes` become its `FileStatus`, so building the relation
  * makes no storage call (a legacy entry recorded with size 0 pays one
  * stat). The modification time is not recorded in the manifest and
  * reads as 0 in `_metadata.file_modification_time`.
  *
  * `listFiles` prunes on whatever filters the optimizer pushed into
  * the scan, whichever API built the plan: each conjunct is renamed from
  * the relation's written column names to the current ones
  * (`currentName`, keyed by field id, holding only columns whose type is
  * unchanged) and handed to `candidates` — the same partition-transform
  * and manifest-bounds veto the engine's pruned reads run. A conjunct
  * naming any other column is ignored. Pruning only narrows the files;
  * Spark still runs every filter above the scan.
  *
  * Paths are qualified with `FileSystem.makeQualified`, the spelling a
  * listing of the same files reports, so `_metadata.file_path` (the key
  * of deletion vectors, MERGE tallies and the changelog) is unchanged.
  * Equality follows the file set, as Spark's own file indexes do, so
  * cached plans and reused exchanges still match.
  */
final class ManifestFileIndex private (
    entries: Vector[DataFileEntry],
    statuses: Vector[FileStatus],
    currentName: Map[String, String],
    candidates: (Vector[DataFileEntry], Expression) => Vector[DataFileEntry])
    extends FileIndex {

  override def rootPaths: Seq[Path] = statuses.map(_.getPath)

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val kept = (partitionFilters ++ dataFilters).flatMap(renamed)
      .reduceOption(And(_, _)) match {
      case None => statuses
      case Some(cond) =>
        val keep = candidates(entries, cond).iterator.map(_.path).toSet
        entries.zip(statuses).collect { case (f, s) if keep(f.path) => s }
    }
    Seq(PartitionDirectory(InternalRow.empty,
      kept.map(s => FileStatusWithMetadata(s, Map.empty))))
  }

  /** `e` over current column names, or None when it names a column
    * that cannot prune or is not a plain deterministic predicate.
    */
  private def renamed(e: Expression): Option[Expression] =
    if (!e.deterministic || SubqueryExpression.hasSubquery(e)) None
    else {
      var ok = true
      val out = e.transform { case a: AttributeReference =>
        currentName.get(a.name) match {
          case Some(n) => a.withName(n)
          case None    => ok = false; a
        }
      }
      if (ok) Some(out) else None
    }

  override def inputFiles: Array[String] =
    statuses.map(_.getPath.toUri.toString).toArray

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = statuses.iterator.map(_.getLen).sum

  override def partitionSchema: StructType = new StructType()

  private lazy val pathSet = statuses.map(_.getPath).toSet

  override def equals(other: Any): Boolean = other match {
    case o: ManifestFileIndex => pathSet == o.pathSet
    case _                    => false
  }

  override def hashCode(): Int = pathSet.hashCode()
}

object ManifestFileIndex {

  /** The index over `files`, whose physical paths `absPath` gives;
    * `currentName` and `candidates` drive pruning as described on the
    * class (an empty map never prunes).
    */
  def apply(conf: Configuration, files: Vector[DataFileEntry],
      absPath: String => String, currentName: Map[String, String],
      candidates: (Vector[DataFileEntry], Expression) => Vector[DataFileEntry])
      : ManifestFileIndex = {
    val fileSystems = scala.collection.mutable.Map.empty[(String, String), FileSystem]
    val statuses = files.map { f =>
      val p = new Path(absPath(f.path))
      val u = p.toUri
      val fs = fileSystems.getOrElseUpdate((u.getScheme, u.getAuthority),
        p.getFileSystem(conf))
      val q = fs.makeQualified(p)
      val len = if (f.fileSizeBytes > 0) f.fileSizeBytes
                else fs.getFileStatus(q).getLen
      new FileStatus(len, false, 0, 0L, 0L, q)
    }
    new ManifestFileIndex(files, statuses, currentName, candidates)
  }
}
