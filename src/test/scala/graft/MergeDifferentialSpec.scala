package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.catalog.{GraftCatalog, Tx}
import graft.engine._
import graft.tableformat.{CatalogCommitServer, CatalogFileIO, FileIO}

/** Differential test for MERGE: for a set of seeded random scenarios,
  * the engine's result must equal a plain-Scala reference
  * implementation of SQL MERGE semantics (ordered clauses,
  * first-TRUE-wins, update/delete/insert, not-matched-by-source
  * update/delete, NULL-safe conditions) — on both copy-on-write and
  * merge-on-read, with multiple data files and a positional delete
  * already on the target, each run both directly and staged through a
  * multi-table transaction. Seeds are fixed: failures reproduce.
  */
class MergeDifferentialSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder("local[4]", Some(4))
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmp(): String = Files.createTempDirectory("graft-mdiff").toString

  /** Clause constants of one scenario. Matched: update when
    * (v + sv) % 3 == cm, setting v = v + sv; else delete when
    * sv % 3 == cd. Not matched: insert when sv % 2 == ci. Not matched
    * by source, when `nms` is set to (cu, cx): update when v % 5 == cu,
    * setting v = v + 1000; else delete when v % 5 == cx.
    */
  private case class Clauses(cm: Int, cd: Int, ci: Int, nms: Option[(Int, Int)])

  /** Reference MERGE over plain collections. A key in both tables is
    * "matched".
    */
  private def referenceMerge(target: Map[Long, Int], source: Map[Long, Int],
      c: Clauses): Map[Long, Int] = {
    val kept = target.flatMap { case (k, v) =>
      source.get(k) match {
        case None => c.nms match {
          case None => Some(k -> v) // unmatched target rows survive
          case Some((cu, cx)) =>
            if (math.floorMod(v, 5) == cu) Some(k -> (v + 1000)) // update
            else if (math.floorMod(v, 5) == cx) None              // delete
            else Some(k -> v)                                     // no clause
        }
        case Some(sv) =>
          if (math.floorMod(v + sv, 3) == c.cm) Some(k -> (v + sv)) // update
          else if (math.floorMod(sv, 3) == c.cd) None               // delete
          else Some(k -> v)                                         // no clause
      }
    }
    val inserted = source.collect {
      case (k, sv) if !target.contains(k) && math.floorMod(sv, 2) == c.ci =>
        k -> sv
    }
    kept ++ inserted
  }

  private def clauses(c: Clauses) = (
    Seq(
      MergeUpdateClause(Some(pmod(col("v") + col("sv"), lit(3)) === c.cm),
        Map("v" -> (col("v") + col("sv")))),
      MergeDeleteClause(Some(pmod(col("sv"), lit(3)) === c.cd))),
    Seq(MergeInsertValuesClause(Some(pmod(col("sv"), lit(2)) === c.ci),
      Map("id" -> col("sid"), "v" -> col("sv")))),
    c.nms.toSeq.flatMap { case (cu, cx) => Seq(
      MergeUpdateClause(Some(pmod(col("v"), lit(5)) === cu),
        Map("v" -> (col("v") + 1000))),
      MergeDeleteClause(Some(pmod(col("v"), lit(5)) === cx)))
    })

  /** Runs `body` with commits arbitrated by a catalog service, the
    * backend multi-table transactions commit through.
    */
  private def onCatalogBackend[A](body: => A): A = {
    val before = FileIO.io
    val server = new CatalogCommitServer
    try {
      FileIO.install(new CatalogFileIO("127.0.0.1", server.port))
      body
    } finally {
      FileIO.install(before)
      server.close()
    }
  }

  /** MERGE `src` into `t` directly, or staged and committed by
    * `transactOps`.
    */
  private def merge(t: GraftTable, src: DataFrame, c: Clauses,
      staged: Boolean): Unit = {
    val (m, nm, nms) = clauses(c)
    val on = col("id") === col("sid")
    if (staged) new GraftCatalog(spark, tmp())
      .transactOps(Seq(Tx.Merge(t, src, on, m, nm, nms)))
    else t.merge(src, on, m, nm, nms)
  }

  /** A table in merge mode `mode` holding `rows` in several files, with
    * a positional delete already hiding the keys `k % 7 == hide`.
    */
  private def table(name: String, mode: String, rows: Seq[(Long, Int)],
      hide: Int): GraftTable = {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(), name,
      Seq("id" -> "long", "v" -> "int"),
      properties = Map("write.merge.mode" -> mode,
        "write.delete.mode" -> "merge-on-read"))
    // several files so CoW's touched-file granularity is exercised
    rows.grouped(20).foreach(g => t.append(g.toDF("id", "v").coalesce(1)))
    t.delete(pmod(col("id"), lit(7)) === hide)
    assert(t.meta.currentSnapshot.get.deleteFiles.nonEmpty)
    t
  }

  private def runScenario(seed: Int, mode: String, staged: Boolean): Unit = {
    val rnd = new scala.util.Random(seed)
    val target0 = (0 until 60).map(_ =>
      rnd.nextInt(80).toLong -> rnd.nextInt(100)).toMap
    val source0 = (0 until 40).map(_ =>
      rnd.nextInt(120).toLong -> rnd.nextInt(100)).toMap
    val (cm, cd, ci) = (rnd.nextInt(3), rnd.nextInt(3), rnd.nextInt(2))
    val hide = rnd.nextInt(7)
    val hidden = target0.keys.filter(k => k % 7 == hide).toSeq.sorted
    // keys the positional delete hides are in the source too: they
    // must neither match nor come back, only insert
    val source = source0 ++ hidden.take(2).map(_ -> rnd.nextInt(100))
    val c = Clauses(cm, cd, ci,
      if (seed % 2 == 0) Some((rnd.nextInt(5), rnd.nextInt(5))) else None)
    val expected = referenceMerge(target0 -- hidden, source, c)

    import spark.implicits._
    def run(): Seq[(Long, Int)] = {
      val t = table(s"mdiff$seed", mode, target0.toSeq, hide)
      merge(t, source.toSeq.toDF("sid", "sv"), c, staged)
      t.read().as[(Long, Int)].collect().toSeq
    }
    val rows = if (staged) onCatalogBackend(run()) else run()
    val what = s"seed=$seed mode=$mode staged=$staged $c"
    // cardinality first: toMap would silently swallow duplicate keys —
    // the classic CoW re-emit bug this spec exists to catch
    assert(rows.length == expected.size,
      s"$what: ${rows.length} rows, expected ${expected.size}")
    val got = rows.toMap
    assert(got == expected, s"$what\n" +
      s"missing=${(expected.toSet -- got.toSet).toSeq.sortBy(_._1)}\n" +
      s"extra=${(got.toSet -- expected.toSet).toSeq.sortBy(_._1)}")
  }

  test("MERGE equals the reference semantics across seeded scenarios (CoW)") {
    for (seed <- 1 to 6; staged <- Seq(false, true))
      runScenario(seed, "copy-on-write", staged)
  }

  test("MERGE equals the reference semantics across seeded scenarios (MoR)") {
    for (seed <- 7 to 12; staged <- Seq(false, true))
      runScenario(seed, "merge-on-read", staged)
  }

  test("a duplicate source key fails the cardinality gate whether or not " +
      "a matched clause condition holds; nothing commits or lands in data/") {
    import spark.implicits._
    def dataFiles(t: GraftTable): Set[String] = {
      val walk = Files.walk(java.nio.file.Paths.get(t.location, "data"))
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.filter(Files.isRegularFile(_))
          .map(_.toString).toSet
      } finally walk.close()
    }
    for (mode <- Seq("copy-on-write", "merge-on-read");
         holds <- Seq(true, false); staged <- Seq(false, true)) {
      def run(): Unit = {
        val t = table("mdup", mode, (0L until 60L).map(i => i -> i.toInt), 3)
        val (snaps, files) = (t.meta.snapshots.size, dataFiles(t))
        val src = Seq((5L, 1), (5L, 2), (100L, 3)).toDF("sid", "sv")
        val on = col("id") === col("sid")
        val m = Seq(MergeUpdateClause(Some(lit(holds)), Map("v" -> col("sv"))),
          MergeDeleteClause(Some(lit(false))))
        val nm = Seq(MergeInsertValuesClause(None,
          Map("id" -> col("sid"), "v" -> col("sv"))))
        val e = intercept[IllegalArgumentException] {
          if (staged) new GraftCatalog(spark, tmp())
            .transactOps(Seq(Tx.Merge(t, src, on, m, nm)))
          else t.merge(src, on, m, nm)
        }
        val what = s"mode=$mode holds=$holds staged=$staged"
        assert(e.getMessage.contains("cardinality"), s"$what: ${e.getMessage}")
        assert(t.meta.snapshots.size == snaps, s"$what: a snapshot committed")
        assert(dataFiles(t) == files, s"$what: files written under data/")
      }
      if (staged) onCatalogBackend(run()) else run()
    }
  }
}
