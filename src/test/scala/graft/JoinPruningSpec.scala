package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.catalog.{GraftCatalog, JoinFilePruning}
import graft.engine.GraftTable

/** Join-driven dynamic file pruning (JoinFilePruning): a selective dim
  * predicate collapses the fact side's FILE LIST at planning time —
  * the star-schema scale path static pruning can't reach because the
  * join-key domain only exists at runtime.
  */
class JoinPruningSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder("local[4]", Some(4))
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def freshCat() = new GraftCatalog(spark,
    Files.createTempDirectory("graft-jp").toString)

  /** Fact clustered into 8 single-file key-range batches (ids 0-799),
    * dim of 80 rows tagged by decade — `tag = 't3'` selects ids
    * 30-39, all inside fact batch 0.
    */
  private def starFixture(): (GraftCatalog, GraftTable, GraftTable) = {
    import spark.implicits._
    val cat = freshCat()
    val fact = cat.createTable("db", "fact",
      Seq("id" -> "long", "v" -> "long"))
    (0 until 8).foreach { b =>
      fact.append((b * 100 until (b + 1) * 100).map(i =>
        (i.toLong, i.toLong * 2)).toDF("id", "v").coalesce(1))
    }
    assert(fact.meta.currentSnapshot.get.files.size == 8)
    val dim = cat.createTable("db", "dim",
      Seq("id" -> "long", "tag" -> "string"))
    dim.append((0 until 80).map(i => (i.toLong, s"t${i / 10}"))
      .toDF("id", "tag").coalesce(1))
    (cat, fact, dim)
  }

  private def resetHooks(): Unit = {
    JoinFilePruning.pruneEvents.set(0L)
    JoinFilePruning.lastBuildKeys.set(-2L)
    GraftTable.lastPrunedReadFiles.set(-1L)
  }

  test("selective dim WHERE collapses the fact file list (SQL shape)") {
    val (_, _, _) = starFixture()
    resetHooks()
    val df = spark.sql("""
      SELECT f.id, f.v, d.tag
      FROM graft.db.fact f JOIN graft.db.dim d ON f.id = d.id
      WHERE d.tag = 't3'""")
    // the swap happened during analysis: one prune event, the 10-key
    // domain fit the IN-set, and the fact's 8 files collapsed to 1
    assert(JoinFilePruning.pruneEvents.get() == 1L)
    assert(JoinFilePruning.lastBuildKeys.get() == 10L)
    assert(GraftTable.lastPrunedReadFiles.get() == 1L)
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(got.sortBy(_._1).toSeq ==
      (30 until 40).map(i => (i.toLong, i.toLong * 2, "t3")))
  }

  test("pruned result equals the unpruned plan row-for-row") {
    starFixture()
    val q = """
      SELECT f.id, sum(f.v) AS sv
      FROM graft.db.fact f JOIN graft.db.dim d ON f.id = d.id
      WHERE d.tag IN ('t1', 't7') GROUP BY f.id"""
    val pruned = spark.sql(q).collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    spark.conf.set("spark.graft.dynamicPruning.enabled", "false")
    try {
      val plain = spark.sql(q).collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      assert(pruned.toSeq == plain.toSeq && pruned.length == 20)
    } finally spark.conf.set("spark.graft.dynamicPruning.enabled", "true")
  }

  test("DataFrame-API shape: dim filter inside the join child") {
    starFixture()
    resetHooks()
    val fact = spark.table("graft.db.fact")
    val dim = spark.table("graft.db.dim").filter(col("tag") === "t5")
    val df = fact.join(dim, fact("id") === dim("id")).select(fact("id"), col("v"))
    assert(JoinFilePruning.pruneEvents.get() == 1L)
    assert(GraftTable.lastPrunedReadFiles.get() == 1L)
    assert(df.collect().map(_.getLong(0)).sorted.toSeq ==
      (50 until 60).map(_.toLong))
  }

  test("empty build domain prunes the fact to zero files") {
    starFixture()
    resetHooks()
    val df = spark.sql("""
      SELECT f.id FROM graft.db.fact f JOIN graft.db.dim d ON f.id = d.id
      WHERE d.tag = 'nope'""")
    assert(JoinFilePruning.pruneEvents.get() == 1L)
    assert(GraftTable.lastPrunedReadFiles.get() == 0L)
    assert(df.count() == 0L)
  }

  test("domain wider than maxKeys falls back to a min/max range") {
    starFixture()
    spark.conf.set("spark.graft.dynamicPruning.maxKeys", "4")
    try {
      resetHooks()
      val df = spark.sql("""
        SELECT f.id FROM graft.db.fact f JOIN graft.db.dim d ON f.id = d.id
        WHERE d.tag IN ('t2', 't3')""")
      assert(JoinFilePruning.pruneEvents.get() == 1L)
      assert(JoinFilePruning.lastBuildKeys.get() == -1L) // range path
      // ids 20-39 span exactly fact batch 0 (0-99): bounds keep 1 file
      assert(GraftTable.lastPrunedReadFiles.get() == 1L)
      assert(df.count() == 20L)
    } finally spark.conf.unset("spark.graft.dynamicPruning.maxKeys")
  }

  test("bucket-partitioned fact prunes by the IN-set's hashes") {
    import spark.implicits._
    val cat = freshCat()
    val fact = cat.createTable("db", "bfact",
      Seq("id" -> "long", "v" -> "long"), Seq("id" -> "bucket(8)"))
    fact.append((0 until 800).map(i => (i.toLong, i.toLong))
      .toDF("id", "v").repartition(1))
    val nFiles = fact.meta.currentSnapshot.get.files.size
    assert(nFiles == 8) // one file per bucket
    val dim = cat.createTable("db", "bdim",
      Seq("id" -> "long", "tag" -> "string"))
    dim.append(Seq((5L, "x"), (700L, "y"), (13L, "z")).toDF("id", "tag")
      .coalesce(1))
    resetHooks()
    val df = spark.sql("""
      SELECT f.id, d.tag FROM graft.db.bfact f
      JOIN graft.db.bdim d ON f.id = d.id""")
    assert(JoinFilePruning.pruneEvents.get() == 1L)
    // three keys hash into at most three of the eight bucket files
    assert(GraftTable.lastPrunedReadFiles.get() <= 3L)
    assert(df.collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq ==
      Seq((5L, "x"), (13L, "z"), (700L, "y")))
  }

  test("left outer join prunes only the non-preserved side") {
    starFixture()
    resetHooks()
    // fact LEFT JOIN dim: every fact row must survive, so the FACT
    // side must not prune; the dim (right) side may — but dim is the
    // small side here, so nothing fires at all
    val lo = spark.sql("""
      SELECT f.id, d.tag FROM graft.db.fact f
      LEFT JOIN graft.db.dim d ON f.id = d.id WHERE f.v >= 0""")
    assert(lo.count() == 800L)
    // dim LEFT JOIN fact: dim rows all survive, fact (right) prunes
    resetHooks()
    val lo2 = spark.sql("""
      SELECT d.id, f.v FROM graft.db.dim d
      LEFT JOIN graft.db.fact f ON d.id = f.id WHERE d.tag = 't0'""")
    assert(JoinFilePruning.pruneEvents.get() == 1L)
    assert(GraftTable.lastPrunedReadFiles.get() == 1L)
    assert(lo2.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq ==
      (0 until 10).map(i => (i.toLong, i.toLong * 2)))
  }

  test("self-joins and near-equal sides never pay the evaluation job") {
    starFixture()
    resetHooks()
    // self-join: same table location on both sides
    spark.sql("""
      SELECT a.id FROM graft.db.fact a JOIN graft.db.fact b ON a.id = b.id
      WHERE b.v < 20""").count()
    assert(JoinFilePruning.pruneEvents.get() == 0L)
    // dim-dim: ratio gate (80 vs 80 rows) refuses
    resetHooks()
    spark.sql("""
      SELECT a.id FROM graft.db.dim a JOIN graft.db.dim b ON a.tag = b.tag
      WHERE b.id = 3""").count()
    assert(JoinFilePruning.pruneEvents.get() == 0L)
  }

  test("MERGE source-key pruning: a small batch upsert plans against " +
      "only the buckets holding its keys") {
    import spark.implicits._
    import graft.engine.{MergeUpdateClause, MergeInsertValuesClause}
    val cat = freshCat()
    val t = cat.createTable("db", "mfact",
      Seq("id" -> "long", "v" -> "long"), Seq("id" -> "bucket(8)"),
      Map("write.distribution-mode" -> "hash"))
    t.append((0L until 800L).map(i => (i, i)).toDF("id", "v"))
    assert(t.meta.currentSnapshot.get.files.size == 8)
    val batch = Seq((5L, 5000L), (5L + 64L, 6900L), (9999L, 1L))
      .toDF("sid", "sv")
    GraftTable.lastMergeCandidateFiles.set(-1L)
    t.merge(batch, col("id") === col("sid"),
      matched = Seq(MergeUpdateClause(None, Map("v" -> col("sv")))),
      notMatched = Seq(MergeInsertValuesClause(None,
        Map("id" -> col("sid"), "v" -> col("sv")))))
    // three keys → at most three of the eight bucket files planned
    val cand = GraftTable.lastMergeCandidateFiles.get()
    assert(cand >= 1 && cand <= 3, s"candidates: $cand")
    val got = t.read().filter(col("id").isin(5L, 69L, 9999L))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((5L, 5000L), (69L, 6900L), (9999L, 1L)))
    assert(t.read().count() == 801)
    // untouched rows intact
    assert(t.read().filter(col("id") === 6L).head().getLong(1) == 6L)
  }

  test("MERGE pruning stays off when NOT MATCHED BY SOURCE needs " +
      "every file, and the cardinality gate still fires on candidates") {
    import spark.implicits._
    import graft.engine.{MergeUpdateClause, MergeDeleteClause}
    val cat = freshCat()
    val t = cat.createTable("db", "mnms",
      Seq("id" -> "long", "v" -> "long"), Seq("id" -> "bucket(8)"),
      Map("write.distribution-mode" -> "hash"))
    t.append((0L until 800L).map(i => (i, i)).toDF("id", "v"))
    GraftTable.lastMergeCandidateFiles.set(-1L)
    t.merge(Seq((5L, 1L)).toDF("sid", "sv"), col("id") === col("sid"),
      matched = Seq(MergeUpdateClause(None, Map("v" -> col("sv")))),
      notMatched = Nil,
      notMatchedBySource = Seq(MergeDeleteClause(Some(col("id") >= 790L))))
    assert(GraftTable.lastMergeCandidateFiles.get() == 8L,
      "NOT MATCHED BY SOURCE must plan against every file")
    assert(t.read().count() == 790)
    assert(t.read().filter(col("id") === 5L).head().getLong(1) == 1L)
    // duplicate source keys: the violation is caught on the pruned
    // candidate slice (all matches live inside it by construction)
    val dup = Seq((3L, 1L), (3L, 2L)).toDF("sid", "sv")
    val e = intercept[Exception](t.merge(dup, col("id") === col("sid"),
      matched = Seq(MergeUpdateClause(None, Map("v" -> col("sv")))),
      notMatched = Nil))
    assert(e.getMessage.contains("cardinality"), e.getMessage)
  }

  test("MERGE pruning: range fallback past maxKeys; empty and " +
      "nondeterministic sources stay sound") {
    import spark.implicits._
    import graft.engine.{MergeUpdateClause, MergeInsertValuesClause}
    val cat = freshCat()
    val t = cat.createTable("db", "mrange",
      Seq("id" -> "long", "v" -> "long"))
    // key-clustered: 8 single-file range batches
    (0 until 8).foreach { b =>
      t.append((b * 100 until (b + 1) * 100).map(i =>
        (i.toLong, i.toLong)).toDF("id", "v").coalesce(1))
    }
    spark.conf.set("spark.graft.dynamicPruning.maxKeys", "4")
    try {
      GraftTable.lastMergeCandidateFiles.set(-1L)
      // 10 keys inside batch 2 (200-299): min/max range keeps 1 file
      val batch = (200L until 210L).map(i => (i, i + 10000L)).toDF("sid", "sv")
      t.merge(batch, col("id") === col("sid"),
        matched = Seq(MergeUpdateClause(None, Map("v" -> col("sv")))),
        notMatched = Nil)
      assert(GraftTable.lastMergeCandidateFiles.get() == 1L)
      assert(t.read().filter(col("id") === 205L).head().getLong(1) == 10205L)
    } finally spark.conf.unset("spark.graft.dynamicPruning.maxKeys")
    // empty source: nothing matches, nothing inserts, no commit needed
    val before = t.meta.currentSnapshot.get.snapshotId
    t.merge(Seq.empty[(Long, Long)].toDF("sid", "sv"),
      col("id") === col("sid"),
      matched = Seq(MergeUpdateClause(None, Map("v" -> col("sv")))),
      notMatched = Seq(MergeInsertValuesClause(None,
        Map("id" -> col("sid"), "v" -> col("sv")))))
    assert(t.read().count() == 800)
    // nondeterministic source: pruning refuses (domain could differ
    // between evaluations), merge still correct over every file
    GraftTable.lastMergeCandidateFiles.set(-1L)
    val nd = spark.range(3).select(
      (col("id") + (rand(7) * 0).cast("long") + 100L).as("sid"),
      lit(42L).as("sv"))
    val allFiles = t.meta.currentSnapshot.get.files.size.toLong
    t.merge(nd, col("id") === col("sid"),
      matched = Seq(MergeUpdateClause(None, Map("v" -> col("sv")))),
      notMatched = Nil)
    assert(GraftTable.lastMergeCandidateFiles.get() == allFiles,
      "nondeterministic source must not prune")
    assert(t.read().filter(col("id") === 101L).head().getLong(1) == 42L)
  }

  test("plain build sides: VALUES lists and in-memory frames prune " +
      "the fact without being graft tables") {
    import spark.implicits._
    starFixture()
    // SQL VALUES join
    resetHooks()
    val df = spark.sql("""
      SELECT f.id, f.v FROM graft.db.fact f
      JOIN (VALUES (30L), (31L), (732L)) AS k(id) ON f.id = k.id""")
    assert(JoinFilePruning.pruneEvents.get() == 1L)
    assert(GraftTable.lastPrunedReadFiles.get() == 2L) // batches 0 and 7
    assert(df.collect().map(_.getLong(0)).sorted.toSeq == Seq(30L, 31L, 732L))
    // DataFrame-API join against a local Dataset
    resetHooks()
    val keys = Seq(205L, 206L).toDF("kid")
    val fact = spark.table("graft.db.fact")
    val got = fact.join(keys, fact("id") === keys("kid"))
      .select(fact("v")).collect().map(_.getLong(0)).sorted
    assert(JoinFilePruning.pruneEvents.get() == 1L)
    assert(GraftTable.lastPrunedReadFiles.get() == 1L)
    assert(got.toSeq == Seq(410L, 412L))
  }

  test("stream-static join: a streaming build side analyzes untouched " +
      "(no batch evaluation of a streaming plan)") {
    import spark.implicits._
    starFixture()
    val srcDir = java.nio.file.Files
      .createTempDirectory("graft-jpstream").toString
    (100L until 110L).map(i => (i, s"s$i")).toDF("kid", "tag")
      .coalesce(1).write.mode("overwrite").parquet(srcDir)
    val stream = spark.readStream
      .schema(spark.read.parquet(srcDir).schema).parquet(srcDir)
    val fact = spark.table("graft.db.fact")
    resetHooks()
    val joined = stream.join(fact, stream("kid") === fact("id"))
      .select(col("kid"), col("v"))
    val outDir = java.nio.file.Files
      .createTempDirectory("graft-jpsout").toString
    val q = joined.writeStream.format("parquet")
      .option("path", s"$outDir/data")
      .option("checkpointLocation", s"$outDir/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // the static graft side never fired an analysis-time evaluation of
    // the streaming side, and the join still produced correct rows
    assert(JoinFilePruning.pruneEvents.get() == 0L)
    val got = spark.read.parquet(s"$outDir/data")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(got.toSeq == (100L until 110L).map(i => (i, i * 2)))
  }

  test("subquery-domain pruning: the dedup-sweep DELETE plans only " +
      "the buckets holding the subquery's keys (CoW and MoR)") {
    import spark.implicits._
    val cat = freshCat()
    val t = cat.createTable("db", "swfact",
      Seq("id" -> "long", "v" -> "long"), Seq("id" -> "bucket(8)"),
      Map("write.distribution-mode" -> "hash"))
    t.append((0L until 800L).map(i => (i, i)).toDF("id", "v"))
    assert(t.meta.currentSnapshot.get.files.size == 8)
    val dup = cat.createTable("db", "swdup", Seq("id" -> "long"))
    dup.append(Seq(7L, 7L + 64L, 7L + 128L).toDF("id").coalesce(1))
    GraftTable.lastDmlCandidateFiles.set(-1L)
    spark.sql("""DELETE FROM graft.db.swfact
      WHERE id IN (SELECT id FROM graft.db.swdup)""")
    val cand = GraftTable.lastDmlCandidateFiles.get()
    // three keys hash into at most three of the eight bucket files
    assert(cand >= 1 && cand <= 3, s"candidates: $cand")
    assert(t.read().count() == 797)
    assert(t.read().filter(col("id").isin(7L, 71L, 135L)).count() == 0)
    // merge-on-read flavor: the delta write is also candidate-local
    t.setProperties(Map("write.delete.mode" -> "merge-on-read"))
    GraftTable.lastDmlCandidateFiles.set(-1L)
    spark.sql("""DELETE FROM graft.db.swfact
      WHERE id IN (SELECT id + 1 FROM graft.db.swdup)""")
    val cand2 = GraftTable.lastDmlCandidateFiles.get()
    assert(cand2 >= 1 && cand2 <= 3, s"MoR candidates: $cand2")
    assert(t.read().count() == 794)
  }

  test("subquery-domain pruning: scalar comparisons, empty domains, " +
      "and the shapes that must refuse") {
    import spark.implicits._
    val cat = freshCat()
    val t = cat.createTable("db", "scfact",
      Seq("id" -> "long", "v" -> "long"))
    (0 until 8).foreach { b =>
      t.append((b * 100 until (b + 1) * 100).map(i =>
        (i.toLong, i.toLong)).toDF("id", "v").coalesce(1))
    }
    val dim = cat.createTable("db", "scdim", Seq("k" -> "long"))
    dim.append(Seq(205L, 207L, 290L).toDF("k").coalesce(1))
    // read path: WHERE id IN (subquery) — the engine read plans one of
    // the eight key-range files
    GraftTable.lastPrunedReadFiles.set(-1L)
    val got = spark.sql("""SELECT id, v FROM graft.db.scfact
      WHERE id IN (SELECT k FROM graft.db.scdim)""")
      .collect().map(_.getLong(0)).sorted
    assert(GraftTable.lastPrunedReadFiles.get() == 1L)
    assert(got.toSeq == Seq(205L, 207L, 290L))
    // scalar: = (SELECT max(...)) collapses to one file
    GraftTable.lastPrunedReadFiles.set(-1L)
    assert(spark.sql("""SELECT v FROM graft.db.scfact
      WHERE id = (SELECT max(k) FROM graft.db.scdim)""")
      .head().getLong(0) == 290L)
    assert(GraftTable.lastPrunedReadFiles.get() == 1L)
    // scalar range: >= (SELECT ...) keeps only the tail files
    GraftTable.lastPrunedReadFiles.set(-1L)
    assert(spark.sql("""SELECT count(*) FROM graft.db.scfact
      WHERE id >= (SELECT max(k) + 410 FROM graft.db.scdim)""")
      .head().getLong(0) == 100L)
    assert(GraftTable.lastPrunedReadFiles.get() == 1L)
    // empty subquery: unsatisfiable conjunct — zero files planned
    GraftTable.lastPrunedReadFiles.set(-1L)
    assert(spark.sql("""SELECT count(*) FROM graft.db.scfact
      WHERE id IN (SELECT k FROM graft.db.scdim WHERE k < 0)""")
      .head().getLong(0) == 0L)
    assert(GraftTable.lastPrunedReadFiles.get() == 0L)
    // NOT IN must not prune (anti semantics have no sound domain form)
    GraftTable.lastPrunedReadFiles.set(-1L)
    assert(spark.sql("""SELECT count(*) FROM graft.db.scfact
      WHERE id NOT IN (SELECT k FROM graft.db.scdim)""")
      .head().getLong(0) == 797L)
    assert(GraftTable.lastPrunedReadFiles.get() == 8L)
    // correlated subquery must not prune — and stays correct
    assert(spark.sql("""SELECT count(*) FROM graft.db.scfact f
      WHERE f.id IN (SELECT k FROM graft.db.scdim d WHERE d.k = f.v)""")
      .head().getLong(0) == 3L)
  }

  test("correlated EXISTS: the equi-correlation's inner domain prunes " +
      "the fact; residual correlations and NOT EXISTS refuse") {
    import spark.implicits._
    val cat = freshCat()
    val t = cat.createTable("db", "exfact",
      Seq("id" -> "long", "v" -> "long"))
    (0 until 8).foreach { b =>
      t.append((b * 100 until (b + 1) * 100).map(i =>
        (i.toLong, i.toLong)).toDF("id", "v").coalesce(1))
    }
    val dup = cat.createTable("db", "exdup",
      Seq("k" -> "long", "tag" -> "string"))
    dup.append(Seq((301L, "x"), (302L, "x"), (720L, "y")).toDF("k", "tag")
      .coalesce(1))
    // the idiomatic dedup probe: EXISTS with an equi-correlation plus
    // an uncorrelated inner predicate — only batch 3's file plans
    GraftTable.lastPrunedReadFiles.set(-1L)
    val got = spark.sql("""SELECT id FROM graft.db.exfact f
      WHERE EXISTS (SELECT 1 FROM graft.db.exdup d
                    WHERE d.k = f.id AND d.tag = 'x')""")
      .collect().map(_.getLong(0)).sorted
    assert(GraftTable.lastPrunedReadFiles.get() == 1L)
    assert(got.toSeq == Seq(301L, 302L))
    // no tag filter: both touched batches plan, nothing else
    GraftTable.lastPrunedReadFiles.set(-1L)
    assert(spark.sql("""SELECT count(*) FROM graft.db.exfact f
      WHERE EXISTS (SELECT 1 FROM graft.db.exdup d WHERE d.k = f.id)""")
      .head().getLong(0) == 3L)
    assert(GraftTable.lastPrunedReadFiles.get() == 2L)
    // residual correlation (d.k < f.v) is unboundable — full plan,
    // correct result
    GraftTable.lastPrunedReadFiles.set(-1L)
    assert(spark.sql("""SELECT count(*) FROM graft.db.exfact f
      WHERE EXISTS (SELECT 1 FROM graft.db.exdup d
                    WHERE d.k = f.id AND d.k <= f.v)""")
      .head().getLong(0) == 3L)
    assert(GraftTable.lastPrunedReadFiles.get() == 8L)
    // NOT EXISTS keeps every file (anti semantics)
    GraftTable.lastPrunedReadFiles.set(-1L)
    assert(spark.sql("""SELECT count(*) FROM graft.db.exfact f
      WHERE NOT EXISTS (SELECT 1 FROM graft.db.exdup d
                        WHERE d.k = f.id)""")
      .head().getLong(0) == 797L)
    assert(GraftTable.lastPrunedReadFiles.get() == 8L)
    // DML flavor: the EXISTS dedup sweep as a DELETE
    GraftTable.lastDmlCandidateFiles.set(-1L)
    spark.sql("""DELETE FROM graft.db.exfact f
      WHERE EXISTS (SELECT 1 FROM graft.db.exdup d
                    WHERE d.k = f.id AND d.tag = 'y')""")
    assert(t.read().count() == 799)
    assert(t.read().filter(col("id") === 720L).count() == 0)
  }

  test("outer anti-join idiom: a null-tolerant WHERE on the " +
      "null-supplying side never prunes it (the IN-set still does)") {
    import spark.implicits._
    val cat = freshCat()
    val fact = cat.createTable("db", "afact",
      Seq("id" -> "long", "v" -> "long"))
    (0 until 8).foreach { b =>
      fact.append((b * 100 until (b + 1) * 100).map(i =>
        (i.toLong, i.toLong * 2)).toDF("id", "v").coalesce(1))
    }
    val dim = cat.createTable("db", "adim",
      Seq("id" -> "long", "tag" -> "string"))
    // ids 30-39 match fact batch 0; 900/901 match nothing
    dim.append(((30L until 40L) ++ Seq(900L, 901L)).map(i => (i, "t"))
      .toDF("id", "tag").coalesce(1))
    resetHooks()
    // f.id IS NULL is satisfied by exactly the null-extended rows a
    // LEFT JOIN manufactures — a stats IS-NULL veto on the fact would
    // prune all 8 files and null-extend EVERY dim row. The build
    // IN-set is still sound: 12 keys keep 1 file.
    val got = spark.sql("""
      SELECT d.id FROM graft.db.adim d
      LEFT JOIN graft.db.afact f ON d.id = f.id
      WHERE f.id IS NULL""").collect().map(_.getLong(0)).sorted
    assert(got.toSeq == Seq(900L, 901L))
    assert(JoinFilePruning.pruneEvents.get() == 1L)
    assert(GraftTable.lastPrunedReadFiles.get() == 1L)
    // a null-INTOLERANT WHERE on the null-supplying side still prunes
    // and stays correct (v = 66 can never hold on a manufactured row)
    resetHooks()
    val got2 = spark.sql("""
      SELECT d.id, f.v FROM graft.db.adim d
      LEFT JOIN graft.db.afact f ON d.id = f.id
      WHERE f.v = 66""").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got2.toSeq == Seq((33L, 66L)))
    assert(JoinFilePruning.pruneEvents.get() == 1L)
    assert(GraftTable.lastPrunedReadFiles.get() == 1L)
  }

  test("nested join under the null-supplying side: the enclosing " +
      "WHERE's null-tolerant conjuncts do not reach it") {
    import spark.implicits._
    val cat = freshCat()
    val fact = cat.createTable("db", "nnfact",
      Seq("id" -> "long", "v" -> "long"))
    (0 until 8).foreach { b =>
      fact.append((b * 100 until (b + 1) * 100).map(i =>
        (i.toLong, i.toLong)).toDF("id", "v").coalesce(1))
    }
    val d2 = cat.createTable("db", "nnd2",
      Seq("id" -> "long", "nm" -> "string"))
    d2.append((0 until 80).map(i => (i.toLong, s"n$i")).toDF("id", "nm")
      .coalesce(1))
    val probe = cat.createTable("db", "nnprobe", Seq("pid" -> "long"))
    probe.append(Seq(5L, 900L).toDF("pid").coalesce(1))
    resetHooks()
    // probe LEFT JOIN (fact JOIN d2): pid 5 matches, 900 null-extends.
    // The inner fact⋈d2 join prunes fact by d2's keys — but must never
    // see the enclosing IS NULL (it would veto every fact file, empty
    // the inner join, and null-extend pid 5 too).
    val got = spark.sql("""
      SELECT p.pid FROM graft.db.nnprobe p
      LEFT JOIN (graft.db.nnfact f JOIN graft.db.nnd2 d ON f.id = d.id)
        ON p.pid = f.id
      WHERE f.id IS NULL""").collect().map(_.getLong(0)).sorted
    assert(got.toSeq == Seq(900L))
    assert(JoinFilePruning.pruneEvents.get() == 1L)
    assert(GraftTable.lastPrunedReadFiles.get() == 1L)
  }

  test("EXISTS domains refuse when an ancestor above the correlated " +
      "filter can manufacture rows") {
    import spark.implicits._
    val cat = freshCat()
    val t = cat.createTable("db", "egfact",
      Seq("id" -> "long", "v" -> "long"))
    (0 until 8).foreach { b =>
      t.append((b * 100 until (b + 1) * 100).map(i =>
        (i.toLong, i.toLong)).toDF("id", "v").coalesce(1))
    }
    val dup = cat.createTable("db", "egdup", Seq("k" -> "long"))
    dup.append(Seq(301L, 720L).toDF("k").coalesce(1))
    // ungrouped aggregate: count(*) yields a row even when nothing
    // matches, so EXISTS is TRUE for EVERY outer row — must not prune
    GraftTable.lastPrunedReadFiles.set(-1L)
    assert(spark.sql("""SELECT count(*) FROM graft.db.egfact f
      WHERE EXISTS (SELECT count(*) FROM graft.db.egdup d
                    WHERE d.k = f.id)""").head().getLong(0) == 800L)
    assert(GraftTable.lastPrunedReadFiles.get() == 8L)
    // GROUPED aggregate above the filter propagates emptiness — prunes
    GraftTable.lastPrunedReadFiles.set(-1L)
    assert(spark.sql("""SELECT count(*) FROM graft.db.egfact f
      WHERE EXISTS (SELECT d.k, count(*) FROM graft.db.egdup d
                    WHERE d.k = f.id GROUP BY d.k)""")
      .head().getLong(0) == 2L)
    assert(GraftTable.lastPrunedReadFiles.get() == 2L)
    // a nested correlated subquery inside the EXISTS: the recursive
    // census sees the hidden OuterReference and bails explicitly
    GraftTable.lastPrunedReadFiles.set(-1L)
    assert(spark.sql("""SELECT count(*) FROM graft.db.egfact f
      WHERE EXISTS (SELECT 1 FROM graft.db.egdup d WHERE d.k = f.id
                    AND EXISTS (SELECT 1 FROM graft.db.egdup e
                                WHERE e.k = d.k))""")
      .head().getLong(0) == 2L)
    assert(GraftTable.lastPrunedReadFiles.get() == 8L)
  }

  test("domain residual reaches the kept files' scans: armed blooms " +
      "skip every row group of files the IN-set could not prune") {
    import spark.implicits._
    val cat = freshCat()
    // bloom-proof fixture (EngineSpec's shape): interleaved ids defeat
    // per-file min/max, 150k distinct longs/file overflow the
    // dictionary page — only the bloom can prove absence without
    // decoding, and it only sees the join domain if the residual
    // filter pushed it into the scan
    val fact = cat.createTable("db", "rbfact",
      Seq("id" -> "long", "v" -> "long"), Seq.empty,
      Map("write.parquet.bloom-filter-enabled.column.id" -> "true",
        "write.parquet.bloom-filter-fpp.column.id" -> "0.01"))
    (0 until 4).foreach { f =>
      fact.append((0 until 150000).map(i => (i.toLong * 8 + f, i.toLong))
        .toDF("id", "v").coalesce(1))
    }
    val dim = cat.createTable("db", "rbdim",
      Seq("id" -> "long", "tag" -> "string"))
    // 50 keys of residue 5 mod 8 — in-range everywhere, present
    // nowhere, and ABOVE Spark's default parquet inFilterThreshold
    // (10): this also pins the raised threshold in GraftSession —
    // degraded to a min/max range, the pushed filter could skip
    // nothing and the bloom would never fire
    dim.append((0 until 50).map(i => (5L + 8L * i * 13L, s"t$i"))
      .toDF("id", "tag").coalesce(1))
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      resetHooks()
      val df = spark.sql("""SELECT f.id, d.tag FROM graft.db.rbfact f
        JOIN graft.db.rbdim d ON f.id = d.id""")
      assert(JoinFilePruning.pruneEvents.get() == 1L)
      assert(GraftTable.lastPrunedReadFiles.get() == 4L,
        "interleaving must defeat file-level bounds — all files kept")
      assert(df.count() == 0L)
      df.collect()
      val decoded = df.queryExecution.executedPlan.collectLeaves().collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec
            if s.output.exists(_.name == "v") =>
          s.metrics("numOutputRows").value
      }.sum
      assert(decoded == 0L,
        s"armed bloom must skip every row group via the pushed IN-set, " +
          s"decoded $decoded rows")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("sampled-build admission: a wide-but-low-cardinality build " +
      "prunes the fact; high-cardinality wide builds still refuse") {
    import spark.implicits._
    val cat = freshCat()
    val fact = cat.createTable("db", "sbfact",
      Seq("id" -> "long", "v" -> "long"))
    (0 until 8).foreach { b =>
      fact.append((b * 100 until (b + 1) * 100).map(i =>
        (i.toLong, i.toLong * 2)).toDF("id", "v").coalesce(1))
    }
    // 200 rows but only TWO distinct join keys (30, 31) — over the
    // row gate, under the key-domain gate
    val wide = cat.createTable("db", "sbwide",
      Seq("id" -> "long", "tag" -> "string"))
    wide.append((0 until 200).map(i => (30L + i % 2, s"t$i"))
      .toDF("id", "tag").coalesce(1))
    // 200 rows, 200 distinct keys — the sampled gate must refuse
    val hi = cat.createTable("db", "sbhi",
      Seq("id" -> "long", "tag" -> "string"))
    hi.append((0 until 200).map(i => (i.toLong * 4, s"h$i"))
      .toDF("id", "tag").coalesce(1))
    spark.conf.set("spark.graft.dynamicPruning.maxBuildRows", "50")
    spark.conf.set("spark.graft.dynamicPruning.maxKeys", "50")
    try {
      resetHooks()
      val df = spark.sql("""
        SELECT f.id, w.tag FROM graft.db.sbfact f
        JOIN graft.db.sbwide w ON f.id = w.id""")
      assert(JoinFilePruning.pruneEvents.get() == 1L)
      assert(JoinFilePruning.lastBuildKeys.get() == 2L)
      assert(GraftTable.lastPrunedReadFiles.get() == 1L)
      assert(df.count() == 200L) // every wide row matches its fact key
      // high-cardinality wide build: approx_count_distinct > maxKeys
      resetHooks()
      val df2 = spark.sql("""
        SELECT f.id FROM graft.db.sbfact f
        JOIN graft.db.sbhi h ON f.id = h.id""")
      assert(JoinFilePruning.pruneEvents.get() == 0L,
        "a 200-key wide build must not pass the sampled gate")
      assert(df2.count() == 200L) // keys 0,4,...796 all inside 0-799
      // kill switch
      spark.conf.set("spark.graft.dynamicPruning.sampledBuild", "false")
      resetHooks()
      spark.sql("""
        SELECT f.id FROM graft.db.sbfact f
        JOIN graft.db.sbwide w ON f.id = w.id""").count()
      assert(JoinFilePruning.pruneEvents.get() == 0L)
    } finally {
      spark.conf.unset("spark.graft.dynamicPruning.maxBuildRows")
      spark.conf.unset("spark.graft.dynamicPruning.maxKeys")
      spark.conf.unset("spark.graft.dynamicPruning.sampledBuild")
    }
  }

  test("DISTINCT / pure GROUP BY build subqueries pass through: " +
      "JOIN (SELECT DISTINCT k FROM dim WHERE ...) prunes the fact") {
    starFixture()
    resetHooks()
    val df = spark.sql("""
      SELECT f.id, f.v FROM graft.db.fact f
      JOIN (SELECT DISTINCT id FROM graft.db.dim WHERE tag = 't3') d
        ON f.id = d.id""")
    assert(JoinFilePruning.pruneEvents.get() == 1L)
    assert(JoinFilePruning.lastBuildKeys.get() == 10L)
    assert(GraftTable.lastPrunedReadFiles.get() == 1L)
    assert(df.collect().map(_.getLong(0)).sorted.toSeq ==
      (30 until 40).map(_.toLong))
    // GROUP BY flavor of the same shape
    resetHooks()
    val df2 = spark.sql("""
      SELECT f.id FROM graft.db.fact f
      JOIN (SELECT id FROM graft.db.dim WHERE tag = 't5' GROUP BY id) d
        ON f.id = d.id""")
    assert(JoinFilePruning.pruneEvents.get() == 1L)
    assert(GraftTable.lastPrunedReadFiles.get() == 1L)
    assert(df2.count() == 10L)
    // an aggregate COMPUTING something is not a pass-through shape for
    // the graft-side walk — but its relation swaps (never deferred) and
    // the PLAIN-build path evaluates the subtree as-is when its stats
    // fit: the output domain is exact, so pruning is still sound
    resetHooks()
    val df3 = spark.sql("""
      SELECT f.id, d.n FROM graft.db.fact f
      JOIN (SELECT id, count(*) AS n FROM graft.db.dim
            WHERE tag = 't2' GROUP BY id) d
        ON f.id = d.id""")
    assert(df3.count() == 10L)
    assert(JoinFilePruning.pruneEvents.get() == 0L ||
      GraftTable.lastPrunedReadFiles.get() == 1L,
      "computed-aggregate build must either prune via the plain path " +
        "or stand down — never prune wrongly (the count above is the proof)")
  }

  test("three-way star: both dims prune the fact under one WHERE") {
    import spark.implicits._
    val cat = freshCat()
    val fact = cat.createTable("db", "f3",
      Seq("id" -> "long", "rid" -> "long", "v" -> "long"))
    (0 until 8).foreach { b =>
      fact.append((b * 100 until (b + 1) * 100).map(i =>
        (i.toLong, (i % 4).toLong, i.toLong)).toDF("id", "rid", "v").coalesce(1))
    }
    val d1 = cat.createTable("db", "d3a", Seq("id" -> "long", "tag" -> "string"))
    d1.append((0 until 80).map(i => (i.toLong, s"t${i / 10}")).toDF("id", "tag")
      .coalesce(1))
    val d2 = cat.createTable("db", "d3b", Seq("rid" -> "long", "nm" -> "string"))
    d2.append((0 until 4).map(i => (i.toLong, s"r$i")).toDF("rid", "nm")
      .coalesce(1))
    resetHooks()
    val df = spark.sql("""
      SELECT f.id, d2.nm FROM graft.db.f3 f
      JOIN graft.db.d3a d1 ON f.id = d1.id
      JOIN graft.db.d3b d2 ON f.rid = d2.rid
      WHERE d1.tag = 't2' AND d2.nm IN ('r0', 'r1')""")
    // the inner fact-d1 join fires (d2's join may not — the fact side
    // of the outer join is a Join node, not a relation)
    assert(JoinFilePruning.pruneEvents.get() >= 1L)
    assert(df.collect().map(_.getLong(0)).sorted.toSeq ==
      (20 until 30).map(_.toLong).filter(i => i % 4 <= 1))
  }

  test("malformed dynamicPruning settings read as their defaults: a " +
      "pruned join, a subquery DELETE and a MERGE return the default rows") {
    import spark.implicits._
    import graft.engine.{MergeUpdateClause, MergeInsertValuesClause}
    // (join rows, join prune events, fact rows after the DELETE, fact
    // rows after the MERGE), each on a fresh star fixture
    def run(): (Seq[(Long, Long)], Long, Seq[(Long, Long)], Seq[(Long, Long)]) = {
      val (_, fact, _) = starFixture()
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      resetHooks()
      val joined = rows(spark.sql("""
        SELECT f.id, f.v FROM graft.db.fact f JOIN graft.db.dim d
        ON f.id = d.id WHERE d.tag = 't3'"""))
      val events = JoinFilePruning.pruneEvents.get()
      spark.sql("""DELETE FROM graft.db.fact
        WHERE id IN (SELECT id FROM graft.db.dim WHERE tag = 't5')""")
      val deleted = rows(fact.read())
      fact.merge(Seq((205L, 1L), (206L, 2L), (9000L, 3L)).toDF("sid", "sv"),
        col("id") === col("sid"),
        matched = Seq(MergeUpdateClause(None, Map("v" -> col("sv")))),
        notMatched = Seq(MergeInsertValuesClause(None,
          Map("id" -> col("sid"), "v" -> col("sv")))))
      (joined, events, deleted, rows(fact.read()))
    }
    val default = run()
    assert(default._1.size == 10 && default._2 == 1L)
    assert(default._3.size == 790 && default._4.size == 791)
    for ((k, bad) <- Seq("enabled" -> "yes", "maxKeys" -> "abc",
        "maxBuildRows" -> "abc", "sampledBuild" -> "yes")) {
      val key = s"spark.graft.dynamicPruning.$k"
      spark.conf.set(key, bad)
      try assert(run() == default, s"$key=$bad")
      finally spark.conf.unset(key)
    }
  }

  test("subquery domains past maxKeys prune by the min/max range: " +
      "IN (SELECT ..) and correlated EXISTS") {
    import spark.implicits._
    val cat = freshCat()
    val t = cat.createTable("db", "rgfact", Seq("id" -> "long", "v" -> "long"))
    (0 until 8).foreach { b =>
      t.append((b * 100 until (b + 1) * 100).map(i =>
        (i.toLong, i.toLong)).toDF("id", "v").coalesce(1))
    }
    // three keys in batches 2 and 4: the IN-set would plan those 2
    // files, the range 205-410 plans batches 2, 3 and 4
    cat.createTable("db", "rgdim", Seq("k" -> "long"))
      .append(Seq(205L, 207L, 410L).toDF("k").coalesce(1))
    val queries = Seq(
      """SELECT id, v FROM graft.db.rgfact
         WHERE id IN (SELECT k FROM graft.db.rgdim)""",
      """SELECT id, v FROM graft.db.rgfact f
         WHERE EXISTS (SELECT 1 FROM graft.db.rgdim d WHERE d.k = f.id)""")
    def rows(q: String) = spark.sql(q).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    for (q <- queries) {
      spark.conf.set("spark.graft.dynamicPruning.enabled", "false")
      val plain = try rows(q)
        finally spark.conf.set("spark.graft.dynamicPruning.enabled", "true")
      assert(plain == Seq((205L, 205L), (207L, 207L), (410L, 410L)))
      spark.conf.set("spark.graft.dynamicPruning.maxKeys", "2")
      try {
        GraftTable.lastPrunedReadFiles.set(-1L)
        assert(rows(q) == plain, q)
        assert(GraftTable.lastPrunedReadFiles.get() == 3L, q)
      } finally spark.conf.unset("spark.graft.dynamicPruning.maxKeys")
    }
  }
}
