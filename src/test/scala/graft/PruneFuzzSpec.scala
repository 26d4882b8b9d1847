package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.catalog.GraftCatalog
import graft.engine.{GraftTable, MergeInsertValuesClause, MergeUpdateClause}

/** Differential FUZZ over the dynamic-pruning stack (join-driven file
  * pruning, MERGE source-key pruning, subquery-domain pruning): a
  * SEEDED random mix of table layouts, join types, predicates,
  * subquery shapes, and DML, each evaluated twice — pruning ON vs
  * `spark.graft.dynamicPruning.enabled=false` — asserting identical
  * results. Pruning is designed to be a pure optimization (inclusive
  * metadata veto only); this suite is the standing proof, covering the
  * corners targeted tests don't enumerate: NULL join keys, empty
  * domains, bucket vs identity vs unpartitioned layouts, key ranges
  * straddling batch boundaries, IN-set vs min/max fallback.
  * Deterministic seed — a failure replays exactly;
  * GRAFT_FUZZ_SEED explores alternatives in dev loops.
  */
class PruneFuzzSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder("local[4]", Some(4))
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def withPruning[A](on: Boolean)(body: => A): A = {
    spark.conf.set("spark.graft.dynamicPruning.enabled", on.toString)
    try body
    finally spark.conf.set("spark.graft.dynamicPruning.enabled", "true")
  }

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("seeded pruned-vs-unpruned differential over joins, subquery " +
      "predicates, and DML") {
    import spark.implicits._
    val seed = sys.env.get("GRAFT_FUZZ_SEED").flatMap(_.toLongOption)
      .getOrElse(20260816L)
    info(s"prune-fuzz seed=$seed")
    val rnd = new scala.util.Random(seed)
    val cat = new GraftCatalog(spark,
      java.nio.file.Files.createTempDirectory("graft-prunefuzz").toString)

    // three fact layouts, each 6 batches of 60 rows; ~5% NULL keys
    val layouts = Seq(
      ("f_plain", Nil),
      ("f_bucket", Seq("id" -> "bucket(4)")),
      ("f_ident", Seq("cat" -> "identity")))
    def rows(b: Int): Seq[(Option[Long], String, Long)] =
      (0 until 60).map { i =>
        val id = b * 60 + i
        (if (rnd.nextInt(20) == 0) None else Some(id.toLong),
          s"c${id % 5}", id.toLong * 2)
      }
    val facts = layouts.map { case (name, part) =>
      val t = cat.createTable("db", name,
        Seq("id" -> "long", "cat" -> "string", "v" -> "long"), part,
        if (part.isEmpty) Map.empty[String, String]
        else Map("write.distribution-mode" -> "hash"))
      (0 until 6).foreach(b => t.append(
        rows(b).toDF("id", "cat", "v").coalesce(1)))
      name -> t
    }.toMap
    val dim = cat.createTable("db", "fz_dim",
      Seq("k" -> "long", "tag" -> "string"))
    dim.append((0 until 80).map { i =>
      (if (i % 17 == 0) null.asInstanceOf[java.lang.Long]
       else java.lang.Long.valueOf(rnd.nextInt(420).toLong),
        s"t${i % 6}")
    }.toDF("k", "tag").coalesce(1))

    def randFact(): String = layouts(rnd.nextInt(layouts.size))._1
    def randTag(): String = s"t${rnd.nextInt(8)}" // sometimes matches none

    var checked = 0
    for (round <- 1 to 24) {
      val scenario = rnd.nextInt(4)
      val label = s"round $round scenario $scenario"
      scenario match {
        case 0 => // fact ⋈ dim, random join type + dim predicate
          val f = randFact()
          val jt = Seq("inner", "left", "right", "left_semi")(rnd.nextInt(4))
          val tag = randTag()
          val factPred = if (rnd.nextBoolean()) "AND f.v >= 100" else ""
          // a semi join's output has no dim columns: its dim predicate
          // must ride in the ON clause, not the WHERE
          val q =
            if (jt == "left_semi") s"""
              SELECT * FROM graft.db.$f f
              LEFT SEMI JOIN graft.db.fz_dim d
              ON f.id = d.k AND d.tag = '$tag'
              ${if (factPred.nonEmpty) s"WHERE f.v >= 100" else ""}"""
            else s"""
              SELECT * FROM graft.db.$f f
              ${jt.toUpperCase} JOIN graft.db.fz_dim d
              ON f.id = d.k
              WHERE d.tag = '$tag' $factPred"""
          val on = withPruning(true)(rowsOf(spark.sql(q)))
          val off = withPruning(false)(rowsOf(spark.sql(q)))
          assert(on == off, s"$label: $q")
          checked += 1
        case 1 => // IN-subquery / scalar-subquery read predicate
          val f = randFact()
          val q = rnd.nextInt(5) match {
            case 0 => s"""SELECT id, v FROM graft.db.$f
              WHERE id IN (SELECT k FROM graft.db.fz_dim
                           WHERE tag = '${randTag()}')"""
            case 1 => s"""SELECT id, v FROM graft.db.$f
              WHERE id >= (SELECT max(k) - ${rnd.nextInt(200)}
                           FROM graft.db.fz_dim WHERE tag = '${randTag()}')"""
            case 2 => s"""SELECT count(*) AS n FROM graft.db.$f
              WHERE id NOT IN (SELECT k FROM graft.db.fz_dim
                               WHERE tag = '${randTag()}' AND k IS NOT NULL)"""
            case 3 => s"""SELECT id, v FROM graft.db.$f t
              WHERE ${if (rnd.nextBoolean()) "" else "NOT"} EXISTS
                (SELECT 1 FROM graft.db.fz_dim d
                 WHERE d.k = t.id AND d.tag = '${randTag()}')"""
            case _ => s"""SELECT count(*) AS n FROM graft.db.$f t
              WHERE EXISTS (SELECT 1 FROM graft.db.fz_dim d
                            WHERE d.k = t.id AND d.k <= t.v)"""
          }
          val on = withPruning(true)(rowsOf(spark.sql(q)))
          val off = withPruning(false)(rowsOf(spark.sql(q)))
          assert(on == off, s"$label: $q")
          checked += 1
        case 2 => // CoW/MoR DELETE with IN-subquery, on twin tables
          val part = layouts(rnd.nextInt(layouts.size))._2
          val mor = rnd.nextBoolean()
          val props = (if (part.isEmpty) Map.empty[String, String]
            else Map("write.distribution-mode" -> "hash")) ++
            (if (mor) Map("write.delete.mode" -> "merge-on-read")
             else Map.empty)
          val data = rows(rnd.nextInt(6)).toDF("id", "cat", "v")
          val twins = Seq("a", "b").map { s =>
            val t = cat.createTable("db", s"fz_del_${round}_$s",
              Seq("id" -> "long", "cat" -> "string", "v" -> "long"),
              part, props)
            (0 until 3).foreach(_ => ())
            t.append(data.coalesce(1)); t
          }
          val tag = randTag()
          def del(t: GraftTable, on: Boolean): Unit = withPruning(on) {
            spark.conf.set("spark.graft.warehouse", cat.warehouse)
            spark.sql(s"""DELETE FROM graft.db.${t.meta.name.split('.').last}
              WHERE id IN (SELECT k FROM graft.db.fz_dim
                           WHERE tag = '$tag')""")
            ()
          }
          del(twins(0), on = true)
          del(twins(1), on = false)
          assert(rowsOf(twins(0).read()) == rowsOf(twins(1).read()),
            s"$label: DELETE divergence (mor=$mor, part=$part, tag=$tag)")
          checked += 1
        case _ => // MERGE with a random small batch, on twin tables
          val part = layouts(rnd.nextInt(layouts.size))._2
          val props = if (part.isEmpty) Map.empty[String, String]
            else Map("write.distribution-mode" -> "hash")
          val data = (0 until 120).map(i =>
            (i.toLong, s"c${i % 5}", i.toLong)).toDF("id", "cat", "v")
          val twins = Seq("a", "b").map { s =>
            val t = cat.createTable("db", s"fz_mrg_${round}_$s",
              Seq("id" -> "long", "cat" -> "string", "v" -> "long"),
              part, props)
            t.append(data.coalesce(2)); t
          }
          val batch = (0 until 1 + rnd.nextInt(6)).map { _ =>
            val k = rnd.nextInt(200).toLong // some miss → inserts
            (k, k + 9000L)
          }.distinct.toDF("sid", "sv")
          def mrg(t: GraftTable, on: Boolean): Unit = withPruning(on) {
            t.merge(batch, col("id") === col("sid"),
              matched = Seq(MergeUpdateClause(None, Map("v" -> col("sv")))),
              notMatched = Seq(MergeInsertValuesClause(None,
                Map("id" -> col("sid"), "cat" -> lit("new"),
                  "v" -> col("sv")))))
            ()
          }
          mrg(twins(0), on = true)
          mrg(twins(1), on = false)
          assert(rowsOf(twins(0).read()) == rowsOf(twins(1).read()),
            s"$label: MERGE divergence (part=$part)")
          checked += 1
      }
    }
    info(s"differential checks passed: $checked")
    assert(checked == 24)
  }

  /** Rows of `df`, and the files its data scans read (the executed
    * `FileSourceScanExec`s' `numFiles`; equality-delete scans, whose
    * columns are `_k_<id>`, are left out).
    */
  private def rowsAndFiles(df: DataFrame): (Seq[String], Long) = {
    val rows = rowsOf(df)
    val files = new org.apache.spark.sql.execution.adaptive
        .AdaptiveSparkPlanHelper {}
      .collect(df.queryExecution.executedPlan) {
        case s: org.apache.spark.sql.execution.FileSourceScanExec
            if s.output.exists(_.name == "id") => s.metrics("numFiles").value
      }.sum
    (rows, files)
  }

  test("seeded differential: read().filter, readAsOfVersion().filter " +
      "and SQL VERSION AS OF .. WHERE read the rows and files readWhere " +
      "does") {
    import spark.implicits._
    val seed = sys.env.get("GRAFT_FUZZ_SEED").flatMap(_.toLongOption)
      .getOrElse(20261019L)
    info(s"scan-prune fuzz seed=$seed")
    val rnd = new scala.util.Random(seed)
    val cat = new GraftCatalog(spark,
      java.nio.file.Files.createTempDirectory("graft-scanfuzz").toString)
    spark.conf.set("spark.graft.warehouse", cat.warehouse)
    // three layouts, six one-file batches of 60 rows (~5% NULL ids),
    // then a merge-on-read DELETE and a rename: history spans two
    // schemas, and the later snapshots carry positional deletes
    val layouts = Seq(
      ("sf_plain", Nil),
      ("sf_bucket", Seq("id" -> "bucket(4)")),
      ("sf_ident", Seq("cat" -> "identity")))
    val tables = layouts.map { case (name, part) =>
      val t = cat.createTable("db", name,
        Seq("id" -> "long", "cat" -> "string", "v" -> "long"), part,
        Map("write.delete.mode" -> "merge-on-read") ++
          (if (part.isEmpty) Map.empty[String, String]
           else Map("write.distribution-mode" -> "hash")))
      (0 until 6).foreach { b =>
        t.append((0 until 60).map { i =>
          val id = b * 60 + i
          (if (rnd.nextInt(20) == 0) None else Some(id.toLong),
            s"c${id % 5}", id.toLong * 2)
        }.toDF("id", "cat", "v").coalesce(1))
      }
      t.delete(col("id").between(100L, 130L))
      t.renameColumn("v", "val")
      name -> t
    }
    // (DataFrame predicate, the same predicate in SQL)
    def leaf(): (org.apache.spark.sql.Column, String) = rnd.nextInt(7) match {
      case 0 => val k = rnd.nextInt(400); (col("id") === k, s"id = $k")
      case 1 =>
        val a = rnd.nextInt(400); val b = a + rnd.nextInt(80)
        (col("id").between(a, b), s"id BETWEEN $a AND $b")
      case 2 =>
        val ks = Seq.fill(3)(rnd.nextInt(400))
        (col("id").isin(ks: _*), s"id IN (${ks.mkString(", ")})")
      case 3 => val c = rnd.nextInt(6); (col("cat") === s"c$c", s"cat = 'c$c'")
      case 4 => val x = rnd.nextInt(800); (col("val") >= x, s"val >= $x")
      case 5 => (col("id").isNull, "id IS NULL")
      case _ =>
        val a = rnd.nextInt(200); val b = a + 150
        (col("id") < a || col("id") > b, s"(id < $a OR id > $b)")
    }
    for (round <- 1 to 18) {
      val (name, t) = tables(rnd.nextInt(tables.size))
      val (p, sql) =
        if (rnd.nextInt(3) == 0) {
          val ((p1, s1), (p2, s2)) = (leaf(), leaf())
          (p1 && p2, s"$s1 AND $s2")
        } else leaf()
      val m = t.meta
      val snaps = m.snapshots
      val s = if (round % 3 == 0) m.currentSnapshot.get
              else snaps(rnd.nextInt(snaps.size))
      val label = s"round $round: $name @ ${s.snapshotId} WHERE $sql"
      val want = rowsAndFiles(t.readPrunedIn(m, s,
        org.apache.spark.sql.graftshim.expressionOf(p)).filter(p))
      val got = Seq(
        "readAsOfVersion().filter" ->
          t.readAsOfVersion(s.snapshotId).filter(p),
        "SQL VERSION AS OF" -> spark.sql(
          s"SELECT * FROM graft.db.$name VERSION AS OF ${s.snapshotId} " +
            s"WHERE $sql")) ++
        (if (m.currentSnapshotId.contains(s.snapshotId))
          Seq("readWhere" -> t.readWhere(p), "read().filter" -> t.read().filter(p))
         else Nil)
      got.foreach { case (api, df) =>
        assert(rowsAndFiles(df) == want, s"$label via $api")
      }
    }
  }
}
