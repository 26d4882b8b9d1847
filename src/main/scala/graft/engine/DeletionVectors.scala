package graft.engine

import java.util.{HashMap => JHashMap}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, graftshim}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Predicate}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.unsafe.types.UTF8String
import org.roaringbitmap.longlong.Roaring64Bitmap

/** Merge-on-read positional deletes of one delete-file set as
  * deletion vectors: one `Roaring64Bitmap` of deleted row positions
  * per data file, keyed by the file's location-relative path
  * ([[DeletionVectors.relDataPathStr]]). Immutable once built; tasks
  * read it through one broadcast and only call [[positionsOf]].
  */
final class DeletionVectors(byPath: JHashMap[String, Roaring64Bitmap])
    extends Serializable {

  /** The data files (location-relative keys) with a deleted row. */
  @transient lazy val paths: Set[String] = byPath.keySet.asScala.toSet

  /** Deleted positions of the data file the scan reports as `scanPath`
    * (`_metadata.file_path`), or null when none of its rows is deleted.
    */
  def positionsOf(scanPath: UTF8String): Roaring64Bitmap =
    byPath.get(DeletionVectors.relDataPathStr(scanPath.toString))
}

/** `deleted(path, pos)`: whether row `pos` of the data file the scan
  * reports as `path` is deleted. The vectors are held by reference
  * (`ctx.addReferenceObj`), so a new snapshot or delete set reuses the
  * compiled class; the path is normalized once per distinct path (the
  * last one seen is kept), never once per row.
  */
case class PositionDeleted(left: Expression, right: Expression,
    vectors: Broadcast[DeletionVectors])
    extends BinaryExpression with Predicate {

  override def prettyName: String = DeletionVectors.PrettyName
  override def toString: String = s"$prettyName($left, $right)"

  // (path copy, its positions): one field, so a racing reader sees a
  // consistent pair
  @transient private[this] var last: (UTF8String, Roaring64Bitmap) = _

  override protected def nullSafeEval(p: Any, q: Any): Any = {
    val path = p.asInstanceOf[UTF8String]
    var l = last
    if (l == null || l._1 != path) {
      l = (path.clone(), vectors.value.positionsOf(path))
      last = l
    }
    l._2 != null && l._2.contains(q.asInstanceOf[Long])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val dvClass = classOf[DeletionVectors].getName
    val ref = ctx.addReferenceObj("deletionVectors", vectors,
      classOf[Broadcast[_]].getName)
    val dv = ctx.addMutableState(dvClass, "dv",
      v => s"$v = ($dvClass) $ref.value();")
    val lastPath = ctx.addMutableState(classOf[UTF8String].getName, "dvPath")
    val bits = ctx.addMutableState(classOf[Roaring64Bitmap].getName, "dvBits")
    nullSafeCodeGen(ctx, ev, (p, q) =>
      s"""
         |if ($lastPath == null || !$lastPath.equals($p)) {
         |  $lastPath = $p.clone();
         |  $bits = $dv.positionsOf($p);
         |}
         |${ev.value} = $bits != null && $bits.contains($q);
       """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PositionDeleted =
    copy(left = newLeft, right = newRight)
}

object DeletionVectors {

  /** Name of the [[PositionDeleted]] predicate in plans. */
  val PrettyName = "deleted"

  /** Location-relative form of a data-file path or URI: table-managed
    * files (`data/...`) pass through, a path with a "/data/" segment
    * keeps everything from its last one on (Spark percent-escapes '/'
    * inside partition values, so that segment is the table's data
    * root, wherever the directory is mounted), and an add_files import
    * outside any data root stays absolute with its URI scheme stripped
    * (`_metadata.file_path` is `file:///...`, manifests record the bare
    * path). Positional delete rows store scan-side keys in this form,
    * and every comparison of delete keys, scan paths and manifest
    * paths normalizes all sides with it, so pre-existing absolute keys
    * still match and moved tables keep their deletes.
    */
  def relDataPathStr(p: String): String = {
    if (p.startsWith("data/")) return p
    val i = p.lastIndexOf("/data/")
    if (i >= 0) p.substring(i + 1)
    else p.replaceFirst("^[a-zA-Z][a-zA-Z0-9+.\\-]*:/{0,2}(?=/)", "")
  }

  /** `deleted(path, pos)` over `vectors` (see [[PositionDeleted]]). */
  def deleted(path: Column, pos: Column,
      vectors: Broadcast[DeletionVectors]): Column =
    graftshim.columnOf(PositionDeleted(graftshim.expressionOf(path),
      graftshim.expressionOf(pos), vectors))

  /** Delete files read so far (cache misses); specs pin the caching. */
  private[graft] val fileLoads = new AtomicLong

  private final class Lru[K, V](cap: Int)
      extends java.util.LinkedHashMap[K, V](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean =
      size() > cap
  }

  // delete files are immutable (uuid-named, never rewritten in place),
  // so both caches are keyed by absolute delete-file path alone
  private val byFile = new Lru[String, JHashMap[String, Roaring64Bitmap]](1024)
  // evicted broadcasts are reclaimed by Spark's ContextCleaner once no
  // plan holds them; one made by another (stopped) context is rebuilt
  private val bySet = new Lru[Vector[String],
    (java.lang.ref.WeakReference[SparkContext], Broadcast[DeletionVectors])](64)

  /** The deletion vectors of the positional delete files at
    * `deletePaths` (absolute), broadcast once per distinct set. Each
    * file is read once per JVM on the driver, straight through
    * parquet-hadoop — no Spark job — and the result cached.
    */
  def broadcastOf(sc: SparkContext, deletePaths: Seq[String],
      conf: => Configuration): Broadcast[DeletionVectors] = {
    val key = deletePaths.distinct.sorted.toVector
    bySet.synchronized(Option(bySet.get(key)))
      .collect { case (owner, b) if owner.get eq sc => b }
      .getOrElse {
        lazy val c = conf
        val merged = new JHashMap[String, Roaring64Bitmap]()
        key.foreach { p =>
          positions(p, c).forEach { (k, bits) =>
            val cur = merged.get(k)
            merged.put(k, if (cur == null) bits else Roaring64Bitmap.or(cur, bits))
          }
        }
        val b = sc.broadcast(new DeletionVectors(merged))
        bySet.synchronized(bySet.put(key, (new java.lang.ref.WeakReference(sc), b)))
        b
      }
  }

  /** One delete file's positions per data-file key, cached. */
  private def positions(path: String,
      conf: => Configuration): JHashMap[String, Roaring64Bitmap] =
    byFile.synchronized(Option(byFile.get(path))).getOrElse {
      val m = read(path, conf)
      fileLoads.incrementAndGet()
      byFile.synchronized(byFile.put(path, m))
      m
    }

  private def read(path: String,
      conf: Configuration): JHashMap[String, Roaring64Bitmap] = {
    val out = new JHashMap[String, Roaring64Bitmap]()
    val r = ParquetReader.builder(new GroupReadSupport(), new Path(path))
      .withConf(conf).build()
    try {
      // rows arrive grouped by data file: normalize each key run once
      var raw: String = null
      var bits: Roaring64Bitmap = null
      var g = r.read()
      while (g != null) {
        // a null key or position never matched the anti-join it replaces
        if (g.getFieldRepetitionCount("file_path") > 0 &&
            g.getFieldRepetitionCount("pos") > 0) {
          val p = g.getString("file_path", 0)
          if (p != raw) {
            raw = p
            bits = out.computeIfAbsent(relDataPathStr(p), _ => new Roaring64Bitmap)
          }
          bits.addLong(g.getLong("pos", 0))
        }
        g = r.read()
      }
    } finally r.close()
    out.values.forEach(b => b.runOptimize())
    out
  }
}
