package graft.tableformat

import java.util.UUID
import org.json4s._
import org.json4s.jackson.JsonMethods
import org.json4s.jackson.Serialization
import scala.jdk.CollectionConverters._

/** One immutable side-file of data-file entries, referenced from a
  * snapshot's manifest LIST (Iceberg's manifest/manifest-list layering —
  * the reference's own warehouse shows the shape:
  * spark-warehouse/iceberg/employee_db/employee/metadata/snap-*.avro
  * manifest lists beside v*.metadata.json). Summaries let planners skip
  * a whole manifest without opening it:
  *
  *   - `partitionCombos`: the distinct partition-value rows across the
  *     manifest's entries, recorded only when few (compaction clusters
  *     by partition, so a manifest is usually one partition); empty =
  *     unsummarized, never skip on partitions;
  *   - `schemaIds`: distinct write-schema ids — bound summaries are
  *     interpreted only when ONE schema wrote the whole manifest (the
  *     same written-type caution as [[graft.engine.StatsPruning]]'s
  *     per-file guard);
  *   - `lowerBounds`/`upperBounds`/`nullCounts`: per-field merges over
  *     the entries, keys present only when EVERY row-carrying entry
  *     recorded the stat. Merged with the column's type order, summed
  *     for null counts — so a synthetic "file" made of these is a
  *     sound conservative stand-in for the whole manifest under the
  *     existing file-level pruning rules.
  */
final case class ManifestRef(
    path: String,          // relative to the table location
    kind: String,          // "data" | "delete"
    fileCount: Int,
    recordCount: Long,
    schemaIds: Vector[Int] = Vector.empty,
    partitionCombos: Vector[Map[String, String]] = Vector.empty,
    lowerBounds: Map[String, String] = Map.empty,
    upperBounds: Map[String, String] = Map.empty,
    nullCounts: Map[String, Long] = Map.empty)

/** Manifest persistence + the structural-sharing commit planner.
  *
  * Layout under `<table>/metadata/`:
  *   - `mf-<uuid>.manifest.json` — JSON-lines, one [[DataFileEntry]]
  *     per line. IMMUTABLE once written: snapshots share manifests by
  *     pointer, so a JVM-wide path-keyed cache is always sound.
  *   - `snap-<snapshotId>-<uuid>.mlist.json` — the manifest list: a
  *     JSON array of [[ManifestRef]]. One per snapshot, so the root
  *     metadata document holds ONE string per snapshot regardless of
  *     file count.
  *
  * Commit cost at scale: an append writes one manifest (O(new files)),
  * one manifest list (O(#manifests) refs — thousands of files per
  * manifest), and the root document (O(#snapshots)); it no longer
  * serializes every retained snapshot's full file list. That is the
  * difference between a 100 TB table (~10⁶ files) committing KBs and
  * committing GBs.
  */
object Manifests {
  import FileIO.io
  implicit private val formats: Formats = DefaultFormats

  /** Per-manifest entry cap: leftover files chunk into manifests of at
    * most this many entries (Iceberg splits on bytes; entry count is
    * the same knob here). Override per table with
    * `graft.manifest.target-entries`.
    */
  val DefaultTargetEntries = 8192

  // Path-keyed caches. Manifests and lists are immutable, so cached
  // content never goes stale; bounded LRU so a long-lived session over
  // many tables doesn't hold every manifest ever read.
  private def lru[V](max: Int) =
    new java.util.LinkedHashMap[String, V](64, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[String, V]) =
        size() > max
    }
  private val entryCache = lru[Vector[DataFileEntry]](256)
  private val listCache = lru[Vector[ManifestRef]](1024)

  // double-checked, load OUTSIDE the lock: parallel cold planning
  // (readAll) must not serialize its manifest loads on the cache
  // mutex. Manifests are immutable, so a racing duplicate load is
  // harmless — last put wins with identical content.
  private def cached[V](cache: java.util.LinkedHashMap[String, V],
      key: String)(load: => V): V = {
    val hit = cache.synchronized(cache.get(key))
    if (hit != null) hit
    else { val v = load; cache.synchronized(cache.put(key, v)); v }
  }

  /** Test hook: drop warm cache state so a spec can prove a manifest
    * was (not) read from disk. Never needed for correctness —
    * manifests are immutable.
    */
  private[graft] def clearCachesForTesting(): Unit = {
    entryCache.synchronized(entryCache.clear())
    listCache.synchronized(listCache.clear())
    MetadataIO.clearDocCacheForTesting()
  }

  /** Observability: manifests PARSED from storage (entry-cache
    * misses). Soak/test pins read it to prove a pruned plan loaded
    * only the surviving manifests — summary skip must happen BEFORE
    * any readEntries call, not after.
    */
  private[graft] val parseCount = new java.util.concurrent.atomic.AtomicLong

  /** Observability: cumulative nanoseconds per phase of the general
    * (churn) sealing path, so the soak can NAME where a churn commit's
    * cost goes instead of guessing. Plain atomic adds — negligible next
    * to the work they time.
    */
  private[graft] object SealStats {
    val identBuildNs = new java.util.concurrent.atomic.AtomicLong
    val filterNs = new java.util.concurrent.atomic.AtomicLong
    val leftoverNs = new java.util.concurrent.atomic.AtomicLong
    val writeNs = new java.util.concurrent.atomic.AtomicLong
    def reset(): Unit = Seq(identBuildNs, filterNs, leftoverNs, writeNs)
      .foreach(_.set(0))
  }

  private def abs(location: String, rel: String): String = s"$location/$rel"

  // ---- manifest line codec: hand-rolled jackson-core streaming.
  // json4s reflection measured ~1.5 µs/entry to parse — the dominant
  // term of a COLD plan over a 10⁶-entry inventory (seconds) and of
  // every leftover re-manifest write. The streaming codec reads/writes
  // the IDENTICAL wire shape (any field order accepted; default-valued
  // fields omitted on write — json4s' extract applied case-class
  // defaults for missing fields, so manifests written by either codec
  // parse under both).
  private val jsonFactory = new com.fasterxml.jackson.core.JsonFactory

  private def readStrMap(p: com.fasterxml.jackson.core.JsonParser)
      : Map[String, String] = {
    import com.fasterxml.jackson.core.JsonToken
    val b = Map.newBuilder[String, String]
    while (p.nextToken() != JsonToken.END_OBJECT) {
      val k = p.currentName(); p.nextToken(); b += k -> p.getText
    }
    b.result()
  }

  private def readLongMap(p: com.fasterxml.jackson.core.JsonParser)
      : Map[String, Long] = {
    import com.fasterxml.jackson.core.JsonToken
    val b = Map.newBuilder[String, Long]
    while (p.nextToken() != JsonToken.END_OBJECT) {
      val k = p.currentName(); p.nextToken(); b += k -> p.getLongValue
    }
    b.result()
  }

  private[graft] def parseEntryLine(line: String): DataFileEntry = {
    import com.fasterxml.jackson.core.JsonToken
    val p = jsonFactory.createParser(line)
    try {
      var path: String = null
      var recordCount = 0L; var schemaId = 0
      var pv = Map.empty[String, String]
      var lo = Map.empty[String, String]; var hi = Map.empty[String, String]
      var nulls = Map.empty[String, Long]
      var size = 0L; var seq = 0L
      var eq = Vector.empty[Int]
      var refs = Vector.empty[String]
      require(p.nextToken() == JsonToken.START_OBJECT, s"not an object: $line")
      while (p.nextToken() != JsonToken.END_OBJECT) {
        val name = p.currentName(); p.nextToken()
        name match {
          case "path"            => path = p.getText
          case "recordCount"     => recordCount = p.getLongValue
          case "schemaId"        => schemaId = p.getIntValue
          case "partitionValues" => pv = readStrMap(p)
          case "lowerBounds"     => lo = readStrMap(p)
          case "upperBounds"     => hi = readStrMap(p)
          case "nullCounts"      => nulls = readLongMap(p)
          case "fileSizeBytes"   => size = p.getLongValue
          case "seq"             => seq = p.getLongValue
          case "equalityIds" =>
            val b = Vector.newBuilder[Int]
            while (p.nextToken() != JsonToken.END_ARRAY) b += p.getIntValue
            eq = b.result()
          case "referencedDataFiles" =>
            val b = Vector.newBuilder[String]
            while (p.nextToken() != JsonToken.END_ARRAY) b += p.getText
            refs = b.result()
          case _ => p.skipChildren() // forward-compat: unknown fields
        }
      }
      require(path != null, s"manifest entry without path: $line")
      DataFileEntry(path, recordCount, schemaId, pv, lo, hi, nulls,
        size, seq, eq, refs)
    } finally p.close()
  }

  private def writeStrMap(g: com.fasterxml.jackson.core.JsonGenerator,
      name: String, m: Map[String, String]): Unit =
    if (m.nonEmpty) {
      g.writeObjectFieldStart(name)
      m.foreach { case (k, v) => g.writeStringField(k, v) }
      g.writeEndObject()
    }

  private[graft] def renderEntryLine(
      g: com.fasterxml.jackson.core.JsonGenerator, e: DataFileEntry): Unit = {
    g.writeStartObject()
    g.writeStringField("path", e.path)
    g.writeNumberField("recordCount", e.recordCount)
    g.writeNumberField("schemaId", e.schemaId)
    writeStrMap(g, "partitionValues", e.partitionValues)
    writeStrMap(g, "lowerBounds", e.lowerBounds)
    writeStrMap(g, "upperBounds", e.upperBounds)
    if (e.nullCounts.nonEmpty) {
      g.writeObjectFieldStart("nullCounts")
      e.nullCounts.foreach { case (k, v) => g.writeNumberField(k, v) }
      g.writeEndObject()
    }
    if (e.fileSizeBytes != 0L) g.writeNumberField("fileSizeBytes", e.fileSizeBytes)
    if (e.seq != 0L) g.writeNumberField("seq", e.seq)
    if (e.equalityIds.nonEmpty) {
      g.writeArrayFieldStart("equalityIds")
      e.equalityIds.foreach(g.writeNumber)
      g.writeEndArray()
    }
    if (e.referencedDataFiles.nonEmpty) {
      g.writeArrayFieldStart("referencedDataFiles")
      e.referencedDataFiles.foreach(g.writeString)
      g.writeEndArray()
    }
    g.writeEndObject()
  }

  private[graft] def renderEntries(entries: Vector[DataFileEntry]): String = {
    val w = new java.io.StringWriter(entries.size * 160)
    val g = jsonFactory.createGenerator(w)
    entries.foreach { e => renderEntryLine(g, e); g.writeRaw('\n') }
    g.close()
    w.toString
  }

  def readEntries(location: String, ref: ManifestRef): Vector[DataFileEntry] =
    cached(entryCache, abs(location, ref.path)) {
      readEntriesUncached(location, ref)
    }

  /** Cache-bypassing manifest read — for the INTEGRITY AUDIT, which
    * must observe what is on storage NOW: a manifest truncated or
    * corrupted after this process cached it would otherwise audit
    * clean. Normal planning never needs this (manifests are immutable
    * in a healthy warehouse; auditing is exactly the job of doubting
    * that).
    */
  def readEntriesUncached(location: String,
      ref: ManifestRef): Vector[DataFileEntry] = {
    parseCount.incrementAndGet()
    io.readLines(abs(location, ref.path)).iterator
      .filter(_.nonEmpty)
      .map(parseEntryLine).toVector
  }

  /** Entries of many manifests, loaded one task per manifest above a
    * small threshold: a cold plan over a 100 TB inventory (~10⁶
    * entries in hundreds of manifests) is I/O + JSON-parse bound and
    * embarrassingly parallel (immutable files, path-keyed cache).
    * Order is preserved — output concatenates in `refs` order.
    */
  def readAll(location: String,
      refs: Vector[ManifestRef]): Vector[DataFileEntry] =
    if (refs.size <= 2) refs.flatMap(r => readEntries(location, r))
    else {
      import scala.collection.parallel.CollectionConverters._
      refs.par.map(r => readEntries(location, r)).seq.toVector.flatten
    }

  def readList(location: String, rel: String): Vector[ManifestRef] =
    cached(listCache, abs(location, rel)) {
      readListUncached(location, rel)
    }

  /** Cache-bypassing manifest-list read (see [[readEntriesUncached]]). */
  def readListUncached(location: String, rel: String): Vector[ManifestRef] =
    JsonMethods.parse(io.readString(abs(location, rel)))
      .extract[Vector[ManifestRef]]

  /** Write one immutable manifest and return its ref with summaries.
    * `fieldType` resolves a field-id to its dataType under the
    * entries' single write schema (summaries are skipped when entries
    * span schemas — their bound encodings may differ).
    */
  def writeManifest(location: String, kind: String,
      entries: Vector[DataFileEntry],
      fieldType: (Int, Int) => Option[String]): ManifestRef = {
    val rel = s"metadata/mf-${UUID.randomUUID()}.manifest.json"
    val p = abs(location, rel)
    io.writeString(p, renderEntries(entries))
    entryCache.synchronized(entryCache.put(p, entries))
    val schemaIds = entries.map(_.schemaId).distinct.sorted
    val combos = entries.map(_.partitionValues).distinct
    // 0-row entries (a rewrite that emptied a file) record no stats
    // and bound nothing — exclude them from the stat merges
    val live = entries.filter(_.recordCount > 0)
    val (lo, hi, nulls) =
      if (schemaIds.size != 1 || live.isEmpty) (Map.empty[String, String],
        Map.empty[String, String], Map.empty[String, Long])
      else {
        val sid = schemaIds.head
        def everyKey(maps: Vector[Set[String]]): Set[String] =
          maps.reduce(_ intersect _)
        val bKeys = everyKey(live.map(_.lowerBounds.keySet)) intersect
          everyKey(live.map(_.upperBounds.keySet))
        val loM = bKeys.flatMap(k =>
          boundExtreme(fieldTypeOf(fieldType, sid, k),
            live.map(_.lowerBounds(k)), minSide = true).map(k -> _)).toMap
        val hiM = bKeys.flatMap(k =>
          boundExtreme(fieldTypeOf(fieldType, sid, k),
            live.map(_.upperBounds(k)), minSide = false).map(k -> _)).toMap
        val nKeys = everyKey(live.map(_.nullCounts.keySet))
        val nM = nKeys.map(k => k -> live.map(_.nullCounts(k)).sum).toMap
        (loM, hiM, nM)
      }
    ManifestRef(rel, kind, entries.size, entries.map(_.recordCount).sum,
      schemaIds = schemaIds,
      partitionCombos = if (combos.size <= 8) combos else Vector.empty,
      lowerBounds = lo, upperBounds = hi, nullCounts = nulls)
  }

  private def fieldTypeOf(fieldType: (Int, Int) => Option[String],
      sid: Int, key: String): Option[String] =
    key.toIntOption.flatMap(id => fieldType(sid, id))

  /** Type-ordered extreme of same-type bound strings; None = the type
    * has no recognized order here (summary omitted, manifest kept).
    * Same-type decimal-string ordering IS value ordering for
    * float/double (shortest round-trip forms order like the values) —
    * cross-type reinterpretation never happens because summaries only
    * exist for single-schema manifests.
    */
  private def boundExtreme(dt: Option[String], vs: Vector[String],
      minSide: Boolean): Option[String] = dt.flatMap {
    case "int" | "long" | "float" | "double" =>
      try {
        val bd = vs.map(v => BigDecimal(v) -> v)
        Some((if (minSide) bd.minBy(_._1) else bd.maxBy(_._1))._2)
      } catch { case _: Exception => None }
    case "string" => Some(if (minSide) vs.min else vs.max)
    case "date" | "timestamp" | "timestamp_ntz" =>
      val parsed = vs.flatMap(v => v.toLongOption.map(_ -> v))
      if (parsed.size != vs.size) None
      else Some((if (minSide) parsed.minBy(_._1) else parsed.maxBy(_._1))._2)
    case _ => None
  }

  def writeList(location: String, snapshotId: Long,
      refs: Vector[ManifestRef]): String = {
    val rel = s"metadata/snap-$snapshotId-${UUID.randomUUID()}.mlist.json"
    val p = abs(location, rel)
    io.writeString(p, Serialization.writePretty(refs))
    listCache.synchronized(listCache.put(p, refs))
    rel
  }

  /** Seal a snapshot still carrying inline file lists: plan its
    * manifests with STRUCTURAL SHARING against its parent (any parent
    * manifest whose every entry is present unchanged in the new list
    * is reused by pointer; only the leftover files get a new
    * manifest), write the manifest list, and return the snapshot with
    * pointers instead of inline lists. An append therefore writes
    * O(new files) manifest bytes; a rewrite pays for exactly the
    * manifests it touched.
    */
  def seal(meta: TableMetadata, snap: Snapshot,
      parent: Option[Snapshot]): Snapshot = {
    if (snap.manifestList.isDefined) return snap
    val location = meta.location
    val target = meta.properties.get("graft.manifest.target-entries")
      .flatMap(_.toIntOption).filter(_ >= 1).getOrElse(DefaultTargetEntries)
    val fieldType = (sid: Int, id: Int) =>
      meta.schemaById(sid).flatMap(_.fieldById(id)).map(_.dataType)
    def plan(kind: String, files: Vector[DataFileEntry],
        parentFiles: Vector[DataFileEntry]): Vector[ManifestRef] = {
      val parentRefs = parent.map(_.manifests.filter(_.kind == kind))
        .getOrElse(Vector.empty)
      // O(new files) APPEND FAST PATH. The commit paths build an
      // append's inventory as parentFiles ++ fresh, and the manifest
      // cache hands back per-path SHARED entry objects — so when the
      // new list's prefix is referentially the parent's inventory,
      // every parent manifest is provably reusable by pointer and only
      // the suffix needs manifests. The eq scan costs nanoseconds per
      // entry; the general path below hashes the ENTIRE inventory into
      // a map and re-verifies every parent entry — O(total files) per
      // commit, which the 1M-entry soak measured going 0.18 s → 2.2 s
      // across 100 appends before this path existed.
      val fastPath: Option[Vector[ManifestRef]] =
        if (parentRefs.isEmpty || parentFiles.isEmpty ||
          files.length < parentFiles.length) None
        else {
          val it = files.iterator; val pit = parentFiles.iterator
          var same = true
          while (same && pit.hasNext) { same = pit.next() eq it.next() }
          if (!same) None
          else Some(parentRefs ++ files.drop(parentFiles.length)
            .grouped(target)
            .map(g => writeManifest(location, kind, g.toVector, fieldType)))
        }
      fastPath.getOrElse {
        // General (non-append) path, ORDER-PRESERVING LOCKSTEP: every
        // commit path builds a churn inventory by FILTERING the
        // parent's entry objects in place (CoW delete/rewrite keeps
        // `untouched` order and appends fresh files at the end), so
        // the new list is the parent's manifest blocks in refs order,
        // each minus its removals, with new entries trailing. One eq
        // walk over the inventory therefore decides reuse: a manifest
        // whose entries all matched consecutively is reused by
        // pointer and its covered block is exactly files[start, fi);
        // a partially-matched block's survivors go to the leftover.
        // O(total) reference comparisons, no hashing, no allocation —
        // the 1M-entry soak's churn commit spent 0.72 s/commit
        // building and probing an IdentityHashMap here before this
        // path (reuse_filter 0.50 + ident_build 0.22); the eq walk is
        // milliseconds. Coverage invariant: the blocks and the tail
        // partition [0, n) disjointly, so no entry is ever referenced
        // by both a reused manifest and a new one.
        var t0 = System.nanoTime()
        val n = files.length
        var fi = 0
        val reused = Vector.newBuilder[ManifestRef]
        var reusedCount = 0
        val leftoverB = Vector.newBuilder[DataFileEntry]
        parentRefs.foreach { r =>
          val es = readEntries(location, r)
          val start = fi
          var matched = 0
          var i = 0
          while (i < es.length) {
            if (fi < n && (files(fi) eq es(i))) { fi += 1; matched += 1 }
            i += 1
          }
          if (matched == es.length && es.nonEmpty) {
            reused += r; reusedCount += 1
          } else leftoverB ++= files.slice(start, fi)
        }
        SealStats.filterNs.addAndGet(System.nanoTime() - t0)
        // Fallback — IDENTITY/PATH MAPS — when the lockstep found
        // reuse for under half the parent manifests: either the
        // inventory was reordered (an object foreign to the parent
        // stalls the walk) or the objects were rebuilt entirely
        // (fresh process, evicted cache), where only a path-keyed
        // comparison can prove logical equality. Rare shapes; paying
        // the hash pass there keeps maximal structural sharing.
        if (reusedCount * 2 < parentRefs.size)
          planGeneralByIdentity(location, kind, files, parentRefs, target,
            fieldType)
        else {
          t0 = System.nanoTime()
          leftoverB ++= files.slice(fi, n)
          val leftover = leftoverB.result()
          SealStats.leftoverNs.addAndGet(System.nanoTime() - t0)
          t0 = System.nanoTime()
          val out = reused.result() ++ leftover.grouped(target)
            .map(g => writeManifest(location, kind, g.toVector, fieldType))
          SealStats.writeNs.addAndGet(System.nanoTime() - t0)
          out
        }
      }
    }
    val refs = plan("data", snap.inlineFiles,
      parent.map(_.files).getOrElse(Vector.empty)) ++
      plan("delete", snap.inlineDeleteFiles,
        parent.map(_.deleteFiles).getOrElse(Vector.empty))
    snap.copy(inlineFiles = Vector.empty, inlineDeleteFiles = Vector.empty,
      manifestList = Some(writeList(location, snap.snapshotId, refs)),
      location = location)
  }

  /** The hash-based reuse planner the lockstep path falls back to:
    * membership via an IdentityHashMap over the inventory, with a
    * path-keyed map for manifests whose objects were rebuilt (fresh
    * process, evicted cache). Each parent manifest is read EXACTLY
    * ONCE and the covered sets are built from the SAME entry vectors
    * the reuse decision saw — a second readEntries under LRU pressure
    * could re-parse into different objects, which would land
    * identity-reused entries in the leftover while their manifest is
    * also reused (silent row double-counting).
    */
  private def planGeneralByIdentity(location: String, kind: String,
      files: Vector[DataFileEntry], parentRefs: Vector[ManifestRef],
      target: Int, fieldType: (Int, Int) => Option[String])
      : Vector[ManifestRef] = {
    var t0 = System.nanoTime()
    val ident = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[DataFileEntry, java.lang.Boolean](
        files.size * 2))
    files.foreach(ident.add)
    SealStats.identBuildNs.addAndGet(System.nanoTime() - t0)
    lazy val byPath = files.map(f => f.path -> f).toMap
    t0 = System.nanoTime()
    val reused = Vector.newBuilder[ManifestRef]
    val coveredIdent = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[DataFileEntry, java.lang.Boolean]())
    var coveredPaths = Set.empty[String]
    parentRefs.foreach { r =>
      if (r.fileCount <= files.size) {
        val es = readEntries(location, r)
        if (es.forall(ident.contains)) {
          reused += r; es.foreach(coveredIdent.add)
        } else {
          // a manifest's objects rebuild all-or-nothing (one parse
          // creates the whole cached vector), so a PARTIAL identity
          // miss proves genuine removal — only a complete miss can
          // mean "logically present, different objects" and justifies
          // the path-keyed map. Skipping reuse is always sound: worst
          // case the entries re-manifest in the leftover.
          if (!es.exists(ident.contains) &&
            es.forall(e => byPath.get(e.path).contains(e))) {
            reused += r; coveredPaths ++= es.iterator.map(_.path)
          }
        }
      }
    }
    SealStats.filterNs.addAndGet(System.nanoTime() - t0)
    t0 = System.nanoTime()
    val leftover = files.filterNot(f =>
      coveredIdent.contains(f) ||
        (coveredPaths.nonEmpty && coveredPaths(f.path)))
    SealStats.leftoverNs.addAndGet(System.nanoTime() - t0)
    t0 = System.nanoTime()
    val out = reused.result() ++ leftover.grouped(target)
      .map(g => writeManifest(location, kind, g.toVector, fieldType))
    SealStats.writeNs.addAndGet(System.nanoTime() - t0)
    out
  }
}
