package graft.tableformat

import org.apache.spark.sql.types._

/** Versioned-table metadata model — an idiomatic re-expression of the
  * table-format capabilities the reference actually exercises
  * (field-id schemas, snapshots, partition specs, properties, metadata
  * log; see /root/reference
  * spark-warehouse/iceberg/employee_db/employee/metadata/v15.metadata.json
  * and SURVEY.md §1).
  *
  * Scale design: everything here is O(#schemas + #snapshots + #files)
  * metadata — no operation ever lists or reads data directories. File
  * lists live inside snapshots (with their partition values, manifest
  * style), so planning a read at 100 TB touches only this JSON.
  */

/** A named field with an immutable id. Renames keep the id
  * (reference: employee schema 0 'Phone' -> schema 1 'Phone number',
  * both field-id 6).
  */
final case class FieldDef(id: Int, name: String, dataType: String,
    nullable: Boolean = true) {
  def sparkType: DataType = FieldDef.parseType(dataType)
}

object FieldDef {
  def parseType(s: String): DataType = s match {
    case "int"       => IntegerType
    case "long"      => LongType
    case "float"     => FloatType
    case "double"    => DoubleType
    case "string"    => StringType
    case "boolean"   => BooleanType
    case "date"      => DateType
    case "timestamp" => TimestampType
    case "binary"    => BinaryType
    case other if other.startsWith("array<") && other.endsWith(">") =>
      ArrayType(parseType(other.stripPrefix("array<").stripSuffix(">")))
    case other => DataType.fromDDL(other)
  }

  def nameType(dt: DataType): String = dt match {
    case IntegerType   => "int"
    case LongType      => "long"
    case FloatType     => "float"
    case DoubleType    => "double"
    case StringType    => "string"
    case BooleanType   => "boolean"
    case DateType      => "date"
    case TimestampType => "timestamp"
    case BinaryType    => "binary"
    case ArrayType(e, _) => s"array<${nameType(e)}>"
    case other         => other.sql.toLowerCase
  }
}

/** One immutable schema version. */
final case class VersionedSchema(schemaId: Int, fields: Vector[FieldDef]) {
  def toStructType: StructType = StructType(fields.map { f =>
    StructField(f.name, f.sparkType, f.nullable,
      new MetadataBuilder().putLong("graft.field-id", f.id.toLong).build())
  })
  def fieldNames: Vector[String] = fields.map(_.name)
  def fieldById(id: Int): Option[FieldDef] = fields.find(_.id == id)
  def fieldByName(n: String): Option[FieldDef] = fields.find(_.name == n)
}

/** Hidden-partitioning spec: transform of a source field
  * (reference: PARTITIONED BY (day(added_at)) notebook cell 7,
  * identity PARTITIONED BY (id) cell 8). Transforms: "identity", "day".
  */
final case class PartitionField(sourceId: Int, transform: String, name: String)
final case class PartitionSpec(specId: Int, fields: Vector[PartitionField])

/** One data file inside a snapshot, with its partition values (manifest
  * entry). Paths are relative to the table location. recordCount feeds
  * summary stats; partitionValues feed O(#files) pruning. schemaId is the
  * schema the file was WRITTEN under — files survive schema evolution, so
  * reads map written columns to the current schema by field-id.
  *
  * lowerBounds/upperBounds hold per-column min/max from the parquet
  * footer, keyed by FIELD-ID (as a string — JSON map keys), encoded per
  * the column type (numbers/micros/epoch-days as decimal strings, strings
  * verbatim). They make row-level DML candidate discovery a pure
  * metadata filter (Iceberg keeps the same per-file bounds in its
  * manifests). Absent for files written before stats collection —
  * readers must treat a missing bound as "unknown, keep the file".
  */
final case class DataFileEntry(path: String, recordCount: Long,
    schemaId: Int, partitionValues: Map[String, String] = Map.empty,
    lowerBounds: Map[String, String] = Map.empty,
    upperBounds: Map[String, String] = Map.empty,
    // per-column null counts keyed by field-id (Iceberg's
    // null_value_counts): lets IS NULL / IS NOT NULL predicates veto
    // whole files metadata-only. Absent key = unknown, keep the file.
    nullCounts: Map[String, Long] = Map.empty,
    // on-disk bytes (Iceberg's file_size_in_bytes), recorded at write
    // time; 0 = written before sizes existed in the manifest. Feeds
    // size-based planning (streaming byte admission, files/partitions
    // metadata tables) without touching storage.
    fileSizeBytes: Long = 0L,
    // commit sequence, assigned at the file's FIRST commit (0 = written
    // before sequencing existed). Equality deletes apply only to data
    // files with a STRICTLY SMALLER sequence — the same-commit batch
    // that carries the delete must not delete itself (Iceberg's
    // sequence-number rule).
    seq: Long = 0L,
    // field-ids of the equality-delete key columns; non-empty marks a
    // deleteFiles entry as an EQUALITY delete (rows keyed by value, not
    // position — Iceberg format-v2's second delete kind)
    equalityIds: Vector[Int] = Vector.empty,
    // POSITIONAL deletes only: the manifest paths of the data files
    // this delete's rows can point at (Iceberg's referenced_data_file,
    // widened to a set). Empty = unknown, and an unknown delete reaches
    // every data file — entries written before targets were recorded
    // keep their old every-read anti-join.
    referencedDataFiles: Vector[String] = Vector.empty)

/** A committed table version: provenance + the file inventory.
  * operation: "append" | "overwrite" | "delete" | "replace".
  *
  * TWO inventory representations, one logical view:
  *   - freshly constructed (and legacy pre-layering documents) carry
  *     the lists INLINE (`inlineFiles`/`inlineDeleteFiles`);
  *   - [[MetadataIO.commit]] SEALS inline snapshots through
  *     [[Manifests.seal]]: the lists move into immutable side-file
  *     manifests shared structurally across snapshots, and the
  *     snapshot keeps only a `manifestList` pointer. The root
  *     document then costs O(#snapshots), not
  *     O(total files × retained snapshots), and an append commits
  *     O(new files) manifest bytes — the Iceberg manifest-list
  *     layering (the reference warehouse's snap-*.avro files beside
  *     v*.metadata.json show the same shape).
  * Consumers read `files`/`deleteFiles` either way — sealed snapshots
  * lazy-load through the [[Manifests]] cache, so repeated planning
  * over an unchanged snapshot parses each manifest once per JVM.
  *
  * deleteFiles hold both merge-on-read delete kinds (the reference's
  * `write.delete.mode=merge-on-read` with on-disk `*-deletes.parquet`
  * — format-v2 semantics): POSITIONAL entries (equalityIds empty) are
  * parquet of (file_path, pos) rows anti-joined against data rows;
  * EQUALITY entries (equalityIds set) are parquet of key-column rows
  * that hide every OLDER (smaller-seq) data row with equal keys.
  * Empty under copy-on-write.
  */
final case class Snapshot(snapshotId: Long, parentId: Option[Long],
    timestampMs: Long, operation: String, schemaId: Int, specId: Int,
    inlineFiles: Vector[DataFileEntry] = Vector.empty,
    summary: Map[String, String] = Map.empty,
    inlineDeleteFiles: Vector[DataFileEntry] = Vector.empty,
    manifestList: Option[String] = None,
    location: String = "") {

  /** The manifest inventory (sealed snapshots only; empty inline). */
  lazy val manifests: Vector[ManifestRef] = manifestList match {
    case Some(rel) => Manifests.readList(location, rel)
    case None      => Vector.empty
  }

  lazy val files: Vector[DataFileEntry] = manifestList match {
    case Some(_) =>
      Manifests.readAll(location, manifests.filter(_.kind == "data"))
    case None => inlineFiles
  }

  lazy val deleteFiles: Vector[DataFileEntry] = manifestList match {
    case Some(_) =>
      Manifests.readAll(location, manifests.filter(_.kind == "delete"))
    case None => inlineDeleteFiles
  }

  /** Manifest-arithmetic row total — no manifest loads when sealed. */
  def totalRecords: Long = manifestList match {
    case Some(_) => manifests.filter(_.kind == "data").map(_.recordCount).sum
    case None    => inlineFiles.map(_.recordCount).sum
  }
}

object Snapshot {

  /** Iceberg's snapshot summary (the spec's `summary` field): `total-*`
    * over the snapshot's live data and delete files, `added-*` over
    * the data files this commit adds. The added keys make incremental
    * consumers O(1) per snapshot: streaming admission prices a commit
    * from them instead of diffing file vectors at every trigger.
    */
  def summary(files: Vector[DataFileEntry], deleteFiles: Vector[DataFileEntry],
      added: Vector[DataFileEntry]): Map[String, String] = Map(
    "total-records" -> files.map(_.recordCount).sum.toString,
    "total-data-files" -> files.size.toString,
    "total-files-size-bytes" -> files.map(_.fileSizeBytes).sum.toString,
    "total-delete-files" -> deleteFiles.size.toString,
    "total-position-deletes" -> deleteFiles.filter(_.equalityIds.isEmpty)
      .map(_.recordCount).sum.toString,
    "added-data-files" -> added.size.toString,
    "added-records" -> added.map(_.recordCount).sum.toString,
    "added-files-size-bytes" -> added.map(_.fileSizeBytes).sum.toString)
}

/** A named ref: "BRANCH" moves with writes on that branch; "TAG" is an
  * immutable snapshot pointer (Iceberg's refs model; the reference's
  * `t.refs` metadata table, cell 44).
  */
final case class TableRef(name: String, refType: String, snapshotId: Long)

final case class MetadataLogEntry(timestampMs: Long, file: String)
final case class SnapshotLogEntry(timestampMs: Long, snapshotId: Long)

/** The root metadata document, persisted as metadata/vN.metadata.json with
  * version-hint.text holding N (reference: apiv15.py:41-43 reads the hint).
  */
final case class TableMetadata(
    name: String,
    location: String,
    formatVersion: Int,
    currentSchemaId: Int,
    schemas: Vector[VersionedSchema],
    currentSpecId: Int,
    partitionSpecs: Vector[PartitionSpec],
    currentSnapshotId: Option[Long],
    snapshots: Vector[Snapshot],
    snapshotLog: Vector[SnapshotLogEntry],
    metadataLog: Vector[MetadataLogEntry],
    properties: Map[String, String],
    refs: Vector[TableRef] = Vector.empty,
    // monotonic commit-sequence counter backing DataFileEntry.seq
    // (0 for documents written before sequencing existed)
    lastSequence: Long = 0L) {

  def currentSchema: VersionedSchema =
    schemas.find(_.schemaId == currentSchemaId)
      .getOrElse(sys.error(s"schema $currentSchemaId missing"))

  def currentSpec: PartitionSpec =
    partitionSpecs.find(_.specId == currentSpecId)
      .getOrElse(sys.error(s"spec $currentSpecId missing"))

  def currentSnapshot: Option[Snapshot] =
    currentSnapshotId.flatMap(id => snapshots.find(_.snapshotId == id))

  def schemaById(id: Int): Option[VersionedSchema] =
    schemas.find(_.schemaId == id)

  def nextFieldId: Int =
    (schemas.flatMap(_.fields.map(_.id)) :+ 0).max + 1

  /** The snapshot that was CURRENT on main at `tsMs` — resolved through
    * the snapshot LOG (the main pointer's history), never the global
    * snapshots list: staged branch commits and abandoned rollback lines
    * live in `snapshots` too, and picking by creation time would leak
    * unpublished branch data into `TIMESTAMP AS OF` (Iceberg's
    * timestamp travel reads the snapshot log for the same reason).
    * Rollbacks/fast-forwards append log entries, so this also answers
    * "current at T" correctly across pointer moves.
    */
  def snapshotAsOfTime(tsMs: Long): Option[Snapshot] =
    snapshotLog.filter(_.timestampMs <= tsMs).sortBy(_.timestampMs).lastOption
      .flatMap(e => snapshotById(e.snapshotId))

  /** Snapshot by exact id (reference: VERSION AS OF, notebook cell 45). */
  def snapshotById(id: Long): Option[Snapshot] =
    snapshots.find(_.snapshotId == id)

  /** The latest instant this document has stamped, over every snapshot
    * and every snapshot-log entry (None before the first commit).
    */
  def lastInstant: Option[Long] =
    (snapshots.iterator.map(_.timestampMs) ++
      snapshotLog.iterator.map(_.timestampMs)).maxOption

  /** THE instant rule: a new snapshot or log entry is stamped at
    * `clockMs`, lifted strictly past [[lastInstant]]. Strict, so two
    * commits in one millisecond never tie (history consumers order by
    * instant, and [[snapshotAsOfTime]] by the log). Over snapshots
    * AND log, so a writer whose clock lags one that ran ahead still
    * stamps after it: a branch commit never sorts before a pointer
    * move, and a pointer move's log entry never precedes the
    * snapshot it makes current — or `TIMESTAMP AS OF` would serve
    * that snapshot as of a time before it existed.
    */
  def nextInstant(clockMs: Long): Long =
    lastInstant.fold(clockMs)(last => math.max(clockMs, last + 1))

  /** Main moves to an existing snapshot (rollback, set-current,
    * fast-forward), logged at [[nextInstant]].
    */
  def withMainAt(snapshotId: Long, clockMs: Long): TableMetadata =
    logged(snapshotId, nextInstant(clockMs))

  private def logged(snapshotId: Long, at: Long): TableMetadata =
    copy(currentSnapshotId = Some(snapshotId),
      snapshotLog = snapshotLog :+ SnapshotLogEntry(at, snapshotId))

  /** The one place a snapshot is made: stamps it at [[nextInstant]],
    * draws its id, appends it, and moves main to it with a log entry
    * at the same instant — or, on a `branch`, moves only that ref.
    * The caller supplies the content: files with their sequence
    * numbers already assigned (`lastSequence` is the caller's too), and
    * the summary. A pre-sealed snapshot passes `manifestList`, which
    * writes the list under the drawn id. `schemaId`/`specId` default
    * to the current ones.
    */
  private[graft] def withNewSnapshot(operation: String, parentId: Option[Long],
      files: Vector[DataFileEntry], deleteFiles: Vector[DataFileEntry],
      summary: Map[String, String], clockMs: Long,
      branch: Option[String] = None,
      manifestList: Long => Option[String] = _ => None,
      schemaId: Int = currentSchemaId,
      specId: Int = currentSpecId): TableMetadata = {
    val at = nextInstant(clockMs)
    val id = Math.abs(java.util.UUID.randomUUID().getMostSignificantBits)
    val snap = Snapshot(id, parentId, at, operation, schemaId, specId,
      files, summary, deleteFiles, manifestList(id), location)
    val added = copy(snapshots = snapshots :+ snap)
    branch match {
      case None => added.logged(id, at)
      case Some(b) => added.copy(refs = refs.map(r =>
        if (r.name == b) r.copy(snapshotId = id) else r))
    }
  }
}

object TableMetadata {
  def create(name: String, location: String, fields: Seq[(String, String)],
      partition: Seq[PartitionField] = Nil,
      properties: Map[String, String] = Map.empty): TableMetadata = {
    val schema = VersionedSchema(0,
      fields.zipWithIndex.map { case ((n, t), i) => FieldDef(i + 1, n, t) }.toVector)
    TableMetadata(
      name = name, location = location, formatVersion = 2,
      currentSchemaId = 0, schemas = Vector(schema),
      currentSpecId = 0,
      partitionSpecs = Vector(PartitionSpec(0, partition.toVector)),
      currentSnapshotId = None, snapshots = Vector.empty,
      snapshotLog = Vector.empty, metadataLog = Vector.empty,
      properties = properties)
  }

  def fromStructType(name: String, location: String, st: StructType,
      partition: Seq[PartitionField] = Nil,
      properties: Map[String, String] = Map.empty): TableMetadata =
    create(name, location,
      st.fields.toSeq.map(f => f.name -> FieldDef.nameType(f.dataType)),
      partition, properties)
}
