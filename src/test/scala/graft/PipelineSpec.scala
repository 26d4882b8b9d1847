package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.pipeline.{Clusters, Dedup, Multimodal, Similarity, TextAnalysis}

/** Correctness of the LLM-pipeline tier. The xxhash64-based operators
  * (MinHash-LSH, SimHash, hyperplane ANN) have no DuckDB oracle, so
  * their guarantees are pinned here against exact counterparts:
  * recall vs complete-Jaccard, pigeonhole completeness vs brute-force
  * hamming, ANN recall vs brute-force cosine.
  */
class PipelineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder("local[4]", Some(4))
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  private def docsWithNearDups(): DataFrame = {
    val b = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
      .filter(col("doc_id") < 200)
    val toks = TextFunctions.tokens(col("text"))
    b.unionByName(b.select((col("doc_id") + 100000).as("doc_id"),
      concat_ws(" ", slice(toks, lit(1),
        greatest(lit(1), floor(size(toks) * lit(0.8)).cast("int")))).as("text")))
  }

  /** `build()` twice with the incremental operators' touched-slice gate
    * (`Dedup.atScale`) forced, shut then open, on the `history`
    * relations. The gate fires once a relation's estimated bytes span
    * the cores at maxPartitionBytes, and decides while the DataFrame is
    * built, so that conf is set only around `build()`: 1 TB shuts it; a
    * quarter of the smallest history's bytes per core opens it (any
    * eager batch job then runs at that split size, still a handful of
    * splits per file at these sizes). The conf is restored before
    * either frame plans or runs. Asserts that only the open build
    * carries the broadcast-semi pre-filter (more LeftSemi joins); the
    * caller compares both frames' rows with its own run.
    */
  private def gateShutAndOpen(history: DataFrame*)(
      build: () => DataFrame): Seq[DataFrame] = {
    val key = "spark.sql.files.maxPartitionBytes"
    val openBytes = history.map(_.queryExecution.optimizedPlan.stats.sizeInBytes)
      .min / (4 * spark.sparkContext.defaultParallelism)
    val before = spark.conf.getOption(key)
    val Seq(shut, open) = Seq(BigInt(1L << 40), openBytes.max(1)).map { b =>
      spark.conf.set(key, b.toString)
      try build()
      finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
    def semis(d: DataFrame) =
      "LeftSemi".r.findAllMatchIn(d.queryExecution.optimizedPlan.toString).size
    assert(semis(open) > semis(shut), open.queryExecution.optimizedPlan)
    Seq(shut, open)
  }

  test("touchedSlice: a key set estimated past the broadcast cap " +
      "leaves the relation unfiltered, and a probe on the keys gets the " +
      "gated path's rows") {
    import spark.implicits._
    val rel = (0L until 2000L).map(i => (i % 50, i)).toDF("k", "x")
    val keys = Seq(3L, 7L, 7L, 11L).toDF("k")
    assert(keys.queryExecution.optimizedPlan.stats.sizeInBytes > 0)
    // a one-byte split size puts `rel` at scale while the frames are
    // built; restored before either runs
    val key = "spark.sql.files.maxPartitionBytes"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, "1")
    val (gated, capped) =
      try (Dedup.touchedSlice(rel, keys, Seq("k")),
        Dedup.touchedSlice(rel, keys, Seq("k"), maxBroadcastBytes = 0L))
      finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    def semis(d: DataFrame) =
      "LeftSemi".r.findAllMatchIn(d.queryExecution.optimizedPlan.toString).size
    assert(semis(gated) == 1, gated.queryExecution.optimizedPlan)
    assert(capped eq rel)
    def probe(d: DataFrame) = keys.distinct().join(d, Seq("k"))
      .as[(Long, Long)].collect().toSeq.sorted
    assert(probe(capped) == probe(gated) && probe(gated).size == 120)
  }

  test("exact dedup groups identical content, keeps min id") {
    import spark.implicits._
    val df = Seq((1L, "a b c"), (2L, "a b c"), (3L, "x y"), (4L, "x y"),
      (5L, "unique")).toDF("doc_id", "text")
    val got = Dedup.exact(df, "doc_id", "text")
      .select("keep_id", "n_copies").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L), (3L, 2L), (5L, 1L)))
  }

  test("minhash-LSH near-dup: high recall vs complete Jaccard, no false positives") {
    import spark.implicits._
    val corpus = docsWithNearDups()
    val exact = Dedup.nearDupJaccard(corpus, "doc_id", "text",
        k = 3, threshold = 0.7)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    val lsh = Dedup.nearDupMinhashLsh(corpus, "doc_id", "text",
        k = 3, bands = 16, rowsPerBand = 4, threshold = 0.7)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "fixture must contain near-dups")
    // verification step recomputes exact Jaccard => no false positives
    assert(lsh.subsetOf(exact))
    val recall = lsh.size.toDouble / exact.size
    assert(recall >= 0.9, s"LSH recall $recall < 0.9 (${lsh.size}/${exact.size})")
  }

  test("capped-index Jaccard: no-op at generous cap, subset + recall at tight cap") {
    import spark.implicits._
    val corpus = docsWithNearDups()
    val uncapped = Dedup.nearDupJaccard(corpus, "doc_id", "text",
        k = 3, threshold = 0.5)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(uncapped.nonEmpty, "fixture must contain near-dups")
    // a cap above every shingle's df must not change anything
    val loose = Dedup.nearDupJaccard(corpus, "doc_id", "text",
        k = 3, threshold = 0.5, maxShingleDf = Some(1000000))
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(loose == uncapped)
    // a tight cap only SHRINKS the capped intersection count, so capped
    // results are a subset of the complete pairs; on the fixture (near-
    // dups share many distinct, hence rare, shingles) recall stays high
    val tight = Dedup.nearDupJaccard(corpus, "doc_id", "text",
        k = 3, threshold = 0.5, maxShingleDf = Some(32))
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(tight.subsetOf(uncapped))
    val recall = tight.size.toDouble / uncapped.size
    assert(recall >= 0.8, s"capped recall $recall < 0.8 " +
      s"(${tight.size}/${uncapped.size})")
  }

  test("LSH bucket cap collapses the mass-duplicate blowup; pairs in " +
      "normal buckets keep full recall") {
    import spark.implicits._
    // 60 copies of one page (the mass-dup cluster: one bucket per band
    // holds all 60 -> 1770 candidate pairs per band uncapped) + 20
    // near-dup pairs with distinct content (small buckets)
    val copyText = "identical boilerplate page repeated across mirrors " +
      "many many times with the same words in the same order every time"
    val copies = (0 until 60).map(i => (i.toLong, copyText))
    val pairs = (0 until 20).flatMap { p =>
      val base = (0 until 25).map(t => s"tok${p}w$t").mkString(" ")
      val trunc = (0 until 20).map(t => s"tok${p}w$t").mkString(" ")
      Seq((1000L + p * 2, base), (1001L + p * 2, trunc))
    }
    val docs = (copies ++ pairs).toDF("doc_id", "text")
    def run(cap: Option[Int]): Set[(Long, Long)] =
      Dedup.nearDupMinhashLsh(docs, "doc_id", "text", k = 3,
          threshold = 0.5, maxBucketSize = cap)
        .select("id1", "id2").as[(Long, Long)].collect().toSet
    val uncapped = run(None)
    val capped = run(Some(32))
    // all 1770 identical-copy pairs surface uncapped; the cap removes
    // exactly that cluster (its every bucket is oversized)...
    assert(uncapped.count(p => p._1 < 100 && p._2 < 100) == 60 * 59 / 2)
    assert(capped.count(p => p._1 < 100 && p._2 < 100) == 0)
    // ...while every near-dup pair in a normal bucket is retained
    val truePairs = (0 until 20).map(p => (1000L + p * 2, 1001L + p * 2)).toSet
    assert(truePairs.subsetOf(uncapped))
    assert(truePairs.intersect(capped).size == truePairs.size,
      s"capped lost normal-bucket pairs: ${truePairs.diff(capped)}")
  }

  test("df cap collapses the hot-key candidate blowup on a Zipf-skewed slice") {
    import spark.implicits._
    // Zipf-shaped corpus: a boilerplate header appears in EVERY doc (the
    // df head — df = 200), each pair of docs shares a unique tail (df =
    // 2). This is the distribution the capped index exists for: without
    // the cap every pair of docs is a candidate through the boilerplate
    // shingles; with it, only pairs sharing rare content collide.
    val boiler = "common header text shared across every document in corpus"
    val docs = (0 until 200).map { i =>
      val pair = i / 2
      val tail = (0 until 20).map(t => s"tok${pair}x$t").mkString(" ")
      (i.toLong, s"$boiler unique body $pair $tail")
    }.toDF("doc_id", "text")
    def pairs(threshold: Double, cap: Option[Int]): Set[(Long, Long)] =
      Dedup.nearDupJaccard(docs, "doc_id", "text", k = 3,
          threshold = threshold, maxShingleDf = cap)
        .select("id1", "id2").as[(Long, Long)].collect().toSet
    // threshold ~0 surfaces every candidate pair the index generates
    val uncappedCand = pairs(1e-9, None)
    val cappedCand = pairs(1e-9, Some(16))
    assert(uncappedCand.size == 200 * 199 / 2,
      s"every doc pair shares boilerplate: ${uncappedCand.size}")
    assert(cappedCand.subsetOf(uncappedCand))
    // the measured payoff: candidate volume collapses ~200x (19900 ->
    // the 100 truly-related pairs) because the df>cap head is pruned
    assert(cappedCand.size * 20 <= uncappedCand.size,
      s"cap must collapse candidates: ${cappedCand.size} vs ${uncappedCand.size}")
    // and the capped operator still FINDS the near-dups: recall vs the
    // complete result at the real threshold
    val uncapped = pairs(0.5, None)
    val capped = pairs(0.5, Some(16))
    assert(uncapped.size == 100, s"fixture has 100 true dup pairs: ${uncapped.size}")
    val recall = capped.intersect(uncapped).size.toDouble / uncapped.size
    assert(recall >= 0.8, s"capped recall $recall < 0.8")
  }

  test("WordShingles is byte-identical to the composed built-in form") {
    import spark.implicits._
    // bench corpus + adversarial edges: empty, whitespace-only, interior
    // tabs/newlines (trailing-empty split semantics), shorter than k,
    // repeated shingles (distinct order), null
    val edges = Seq((900001L, ""), (900002L, "   "), (900003L, "a\tb\nc d"),
      (900004L, "one two"), (900005L, "x y x y x y x y"),
      (900006L, "\ttab first")).toDF("doc_id", "text")
      .unionByName(Seq((900007L, null.asInstanceOf[String]))
        .toDF("doc_id", "text"))
    val corpus = docsWithNearDups().unionByName(edges)
    val composed = corpus.select(col("doc_id"),
      TextFunctions.shingles(TextFunctions.tokens(col("text")), 3).as("sh"))
    val native = corpus.select(col("doc_id"),
      graft.functions.ShingleExpressions.wordShingles(col("text"), 3).as("sh"))
    val c = composed.as[(Long, Seq[String])].collect().toMap
    val n = native.as[(Long, Seq[String])].collect().toMap
    assert(n.keySet == c.keySet)
    // includes the null-text row: both forms yield the empty set
    n.keySet.foreach { id =>
      assert(n(id) == c(id), s"doc $id: native=${n(id)} composed=${c(id)}")
    }
  }

  test("simhash chunk-bucketing is complete for hamming <= 3 (vs brute force)") {
    import spark.implicits._
    val corpus = docsWithNearDups()
    val fps = corpus.select(col("doc_id"),
      TextFunctions.simhash(TextFunctions.tokens(col("text"))).as("fp"))
    val brute = fps.as("a").join(fps.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"),
        TextFunctions.hamming(col("a.fp"), col("b.fp")).as("h"))
      .filter(col("h") <= 3)
      .as[(Long, Long, Long)].collect().map(t => (t._1, t._2)).toSet
    val bandedRows = Dedup.nearDupSimhash(corpus, "doc_id", "text", maxHamming = 3)
      .select("id1", "id2").as[(Long, Long)].collect()
    val banded = bandedRows.toSet
    assert(bandedRows.length == banded.size, "a pair was emitted more than once")
    assert(banded == brute, s"banded=${banded.size} brute=${brute.size}")
    assert(brute.nonEmpty, "fixture must contain simhash near-dups")
  }

  test("SimhashFingerprint equals the simhashOfHashes reference per row; " +
      "null and empty token arrays have no fingerprint") {
    import spark.implicits._
    import graft.functions.ShingleExpressions.simhashFingerprint
    val docs = Tables.documents(spark, "/root/testdata/sf0.01")
    val toks = TextFunctions.tokens(col("text"))
    // the repartition keeps the optimizer from folding the projection
    // over the local rows, so it runs like the corpus' does
    val fixed = Seq((1, Seq("graft")), (2, Seq("the", "quick", "brown", "fox", "the")),
        (3, Seq("a", null, "b")), (4, Seq.empty[String]), (5, null))
      .toDF("k", "toks").repartition(2)
    val rows = docs.select(simhashFingerprint(toks).as("fp"),
        TextFunctions.simhash(toks).as("ref"))
      .as[(Long, Long)].collect()
    assert(rows.length == 500)
    rows.foreach { case (fp, ref) => assert(fp == ref, s"$fp != $ref") }
    assert(rows.map(_._1).distinct.length > 490, "fingerprints must spread")
    val got = fixed.select(col("k"), simhashFingerprint(col("toks")))
      .collect().map(r => r.getInt(0) -> Option(r.get(1))).toMap
    // the composed reference's values at the parent (a one-token array
    // is that token's xxhash64, -4815631219266125053 for "graft"; a
    // null token hashes to the seed); it gives 0 for 4 and 5
    assert(got == Map(1 -> Some(-4815631219266125053L),
      2 -> Some(-7592950307366065958L), 3 -> Some(-9205289395534126902L),
      4 -> None, 5 -> None))
  }

  test("nearDupSimhash emits each pair once: equals the " +
      "chunk-join-distinct shape on planted clusters") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.expressions.XXH64
    import org.apache.spark.unsafe.types.UTF8String
    val rnd = new scala.util.Random(4321L)
    def doc() = Vector.fill(30 + rnd.nextInt(31))(s"w${rnd.nextInt(200)}")
    def fp(d: Seq[String]): Long = {
      val hs = d.map(t => XXH64.hashUTF8String(UTF8String.fromString(t), 42L))
      (0 until 64).foldLeft(0L) { (f, j) =>
        if (2 * hs.count(h => ((h >>> j) & 1L) == 1L) > d.size) f | (1L << j) else f
      }
    }
    // 10 clusters of 2-4 identical copies (they share all four chunks),
    // 15 clusters of a base and 2-3 one-token edits at hamming 1-3, 60
    // loners, and two texts without tokens
    val identical = (0 until 10).flatMap { _ =>
      val d = doc(); Seq.fill(2 + rnd.nextInt(3))(d)
    }
    val near = (0 until 15).flatMap { _ =>
      val base = doc()
      val edits = Iterator.fill(500)(
          base.updated(rnd.nextInt(base.size), s"w${rnd.nextInt(200)}"))
        .filter(e => (1 to 3).contains(java.lang.Long.bitCount(fp(e) ^ fp(base))))
        .take(2 + rnd.nextInt(2)).toSeq
      base +: edits
    }
    val texts = (identical ++ near ++ Seq.fill(60)(doc())).map(_.mkString(" ")) ++
      Seq("", " \t ")
    // an RDD source, so the optimizer cannot fold the fingerprint
    // projection over local rows and the plan shows where it runs
    val df = spark.sparkContext.parallelize(
        texts.zipWithIndex.map { case (t, i) => (i.toLong * 7 % 1009, t) }, 2)
      .toDF("id", "text")
    val got = Dedup.nearDupSimhash(df, "id", "text")
    val rows = got.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got.count() == got.distinct().count(), "a pair was emitted more than once")
    // the previous shape: per-row reference fingerprints of the rows
    // with tokens, chunk self-join, distinct, hamming filter
    val toks = TextFunctions.tokens(col("text"))
    val fps = df.filter(size(toks) > 0)
      .select(col("id"), TextFunctions.simhash(toks).as("fp"))
    val ch = fps.select(col("id"), col("fp"),
        explode(TextFunctions.simhashChunks(col("fp"))).as("c"))
      .select(col("id"), col("fp"), col("c.chunk").as("chunk"),
        col("c.value").as("value"))
    val collisions = ch.as("a").join(ch.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.value") === col("b.value") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"),
        TextFunctions.hamming(col("a.fp"), col("b.fp")).as("hamming"))
    val want = collisions.distinct().filter(col("hamming") <= 3)
      .as[(Long, Long, Int)].collect().toSet
    assert(rows == want)
    assert(want.map(_._3) == Set(0, 1, 2, 3),
      s"fixture must plant pairs at hamming 0-3: ${want.map(_._3)}")
    assert(collisions.count() > want.size + 50,
      "fixture pairs must collide in several chunks")
    // one pass: each row is fingerprinted once; no aggregate or
    // round-robin; one hash exchange feeds both self-join sides
    val plan = got.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("isFinalPlan=true"), plan)
    assert(!plan.contains("HashAggregate") &&
      !plan.contains("RoundRobinPartitioning"), plan)
    assert("\\+- Exchange hashpartitioning".r.findAllMatchIn(plan).size == 1,
      plan)
    assert("ReusedExchange".r.findAllMatchIn(plan).size == 1, plan)
    assert("simhash_fingerprint\\(".r.findAllMatchIn(plan).size == 1, plan)
  }

  test("embedding near-dup LSH: subset of exact pairs, high recall") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
    val exact = Dedup.nearDupEmbedding(emb, "vec_id", "embedding", 0.4)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "fixture must contain cosine near-dups at 0.4")
    val lsh = Dedup.nearDupEmbeddingLsh(emb, "vec_id", "embedding", 0.4)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    // exact-cosine verification => no false positives
    assert(lsh.subsetOf(exact))
    val recall = lsh.size.toDouble / exact.size
    assert(recall >= 0.8, s"embedding LSH recall $recall < 0.8 " +
      s"(${lsh.size}/${exact.size})")
  }

  test("ANN LSH: reasonable recall vs brute-force cosine top-k") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
    val q = emb.filter(col("vec_id") < 20)
    val exact = Similarity.cosineTopK(emb, q, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ann = Similarity.cosineTopKLsh(emb, q, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    // fixture neighbors are weak (5th-neighbor cos ~0.29, theta ~72deg):
    // hyperplane LSH collision prob per table is only (1-theta/pi)^m, so
    // 0.6 is the honest bar at m=4, L=16 on near-random vectors
    val recall = exact.intersect(ann).size.toDouble / exact.size
    assert(recall >= 0.6, s"ANN recall $recall < 0.6")
  }

  test("binding candidate cap cuts by relevance and is observable") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
    val q = emb.filter(col("vec_id") < 20)
    val exact = Similarity.cosineTopK(emb, q, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    // cap of 40 binds hard here: default LSH tables yield hundreds of
    // candidates per query on this corpus
    val capped = Similarity.cosineTopKLsh(emb, q, "vec_id", "embedding", 5,
      maxCandidatesPerQuery = 40)
    // collect capped ITSELF (a derived .select would execute its own
    // QueryExecution and leave capped's observed metrics empty)
    val got = capped.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
      .toSet
    // the votes-ordered cut keeps the most-promising candidates: even
    // at 40 of ~hundreds, recall must stay meaningful (an id-ordered
    // cut is uncorrelated with similarity and collapses toward
    // cap/corpus odds)
    val recall = exact.intersect(got).size.toDouble / exact.size
    assert(recall >= 0.3, s"relevance-capped recall $recall < 0.3")
    // binding must be observable: the CollectMetrics observation on the
    // candidate scan records dropped rows + affected queries
    val m = capped.queryExecution.observedMetrics(Similarity.CapMetricName)
    assert(m.getAs[Long]("dropped_candidates") > 0L,
      s"cap at 40 must bind on this fixture: $m")
    assert(m.getAs[Long]("capped_queries") > 0L, s"$m")
  }

  test("ANN IVF: reasonable recall vs brute-force cosine top-k") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
    val q = emb.filter(col("vec_id") < 20)
    val exact = Similarity.cosineTopK(emb, q, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.cosineTopKIvf(emb, q, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    // nprobe=4 of nlist=16 cells searches ~1/4 of the corpus; the
    // fixture is near-random (weak 5th neighbors, cos ~0.29), i.e. has
    // NO cluster structure for the quantizer to exploit, so recall ~
    // probed fraction is the honest floor (measured 0.52)
    val recall = exact.intersect(ivf).size.toDouble / exact.size
    assert(recall >= 0.45, s"IVF recall $recall < 0.45")
    // correctness anchor: probing EVERY cell must reproduce brute force
    // exactly, codebook jitter and all — the approximation lives only
    // in which cells are skipped
    val full = Similarity.cosineTopKIvf(emb, q, "vec_id", "embedding", 5,
        nlist = 16, nprobe = 16)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(full == exact, "full-probe IVF must equal exact top-k")
  }

  test("HyperplaneBuckets equals the per-row lshSignature reference") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.01")
    def rows(df: DataFrame) = df.select("vec_id", "table", "bucket")
      .as[(Long, Int, Long)].collect().toSet
    // 8 planes x 64 dims in one table, codegen'd and interpreted
    val planes = Similarity.hyperplanes(8, 64, seed = 7L)
    val ref8 = emb.select(col("vec_id"), lit(0).as("table"),
        Similarity.lshSignature(col("embedding"), planes).as("bucket"))
    val got8 = () => Similarity.lshBuckets(emb, "vec_id", "embedding",
      planesPerTable = 8, numTables = 1, seed = 7L)
    assert(rows(got8()) == rows(ref8))
    val interpreted = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    interpreted.foreach { case (k, v) => spark.conf.set(k, v) }
    try assert(rows(got8()) == rows(ref8))
    finally interpreted.foreach { case (k, _) => spark.conf.unset(k) }
    // the default 4 planes x 16 tables: table t hashes with seed 42 + t
    val ref16 = emb.select(col("vec_id"), posexplode(array((0 until 16).map(t =>
        Similarity.lshSignature(col("embedding"),
          Similarity.hyperplanes(4, 64, 42L + t))): _*)).as(Seq("table", "bucket")))
    val got16 = rows(Similarity.lshBuckets(emb, "vec_id", "embedding"))
    assert(got16 == rows(ref16))
    assert(got16.size == 16 * emb.count())
    assert(got16.map(_._3).size > 8, "buckets must spread over the table")
  }

  test("lshBuckets: buckets of fixed vectors, a null element adds " +
      "nothing, wrong-length and null vectors fail") {
    import spark.implicits._
    val withNull: Array[java.lang.Float] = Array.tabulate(64)(i =>
      if (i == 3) null else java.lang.Float.valueOf(0.5f - i * 0.01f))
    val df = Seq((1L, Array.fill(64)(0.5f).map(java.lang.Float.valueOf)),
        (2L, Array.fill(63)(java.lang.Float.valueOf(0.5f))), (3L, null),
        (4L, withNull))
      .toDF("id", "v")
    def run(id: Long) = Similarity.lshBuckets(df.filter(col("id") === id),
      "id", "v").select("table", "bucket").as[(Int, Long)].collect()
      .sortBy(_._1).map(_._2).toSeq
    // the buckets the grouped plane-dot form assigned to these vectors
    assert(run(1L) == Seq(6, 10, 7, 14, 2, 3, 10, 1, 3, 7, 3, 2, 4, 6, 10, 1))
    assert(run(4L) == Seq(7, 13, 7, 14, 13, 3, 9, 9, 1, 7, 3, 8, 4, 14, 10, 1))
    val short = intercept[RuntimeException](run(2L))
    assert(short.getMessage.contains("embedding length != 64: id=2 len=63"),
      short.getMessage)
    // size(null) is null under ANSI, so the length guard raises with a
    // null message
    val nul = intercept[RuntimeException](run(3L))
    assert(nul.getMessage.contains("[USER_RAISED_EXCEPTION] null"),
      nul.getMessage)
  }

  test("nearDupEmbeddingLsh emits each pair once: equals the " +
      "bucket-distinct-verify shape on planted clusters") {
    import spark.implicits._
    import graft.functions.VectorFunctions.{dotF, safeRatio}
    // 30 clusters of 3-6 near-copies (noise 0.05 on unit-variance
    // gaussians: members share most of the 16 tables), 60 loners and
    // one zero vector
    val rnd = new scala.util.Random(1234L)
    def gauss() = Array.fill(64)(rnd.nextGaussian().toFloat)
    val clustered = (0 until 30).flatMap { c =>
      val center = gauss()
      (0 until 3 + rnd.nextInt(4)).map(_ =>
        center.map(x => x + 0.05f * rnd.nextGaussian().toFloat))
    }
    val vecs = clustered ++ Seq.fill(60)(gauss()) :+ Array.fill(64)(0f)
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong * 7 % 1000, v) }
      .toDF("id", "v")
    val threshold = 0.3
    val got = Dedup.nearDupEmbeddingLsh(df, "id", "v", threshold)
    val pairs = got.collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.map(p => (p._1, p._2)).distinct.size == pairs.size,
      "a pair was emitted more than once")
    // the previous shape: bucket self-join, distinct, vector re-join
    val b = Similarity.lshBuckets(df, "id", "v")
    val collisions = b.as("a").join(b.as("b"),
        col("a.table") === col("b.table") &&
          col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"))
    val vn = df.select(col("id"), col("v"),
      sqrt(dotF(col("v"), col("v"))).as("nrm"))
    val want = collisions.distinct()
      .join(vn.select(col("id").as("id1"), col("v").as("va"),
        col("nrm").as("na")), "id1")
      .join(vn.select(col("id").as("id2"), col("v").as("vb"),
        col("nrm").as("nb")), "id2")
      .select(col("id1"), col("id2"), safeRatio(dotF(col("va"), col("vb")),
        col("na") * col("nb")).as("sim"))
      .filter(col("sim") >= threshold)
      .as[(Long, Long, Double)].collect().toSet
    assert(pairs.toSet == want)
    assert(want.size >= 60, s"fixture must plant near-dup pairs: ${want.size}")
    assert(collisions.count() > 3 * want.size,
      "fixture pairs must collide in several tables")
    // one pass: no aggregate or broadcast join; one hash exchange feeds
    // both self-join sides
    val plan = got.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("isFinalPlan=true"), plan)
    assert(!plan.contains("HashAggregate") && !plan.contains("Broadcast"), plan)
    assert("\\+- Exchange hashpartitioning".r.findAllMatchIn(plan).size == 1,
      plan)
    assert("ReusedExchange".r.findAllMatchIn(plan).size == 1, plan)
  }

  test("cosine is exact on known vectors") {
    import spark.implicits._
    val df = Seq((Array(1f, 0f), Array(0f, 1f), 0.0),
      (Array(1f, 1f), Array(1f, 1f), 1.0),
      (Array(3f, 4f), Array(3f, 4f), 1.0)).toDF("a", "b", "want")
    val got = df.select(Similarity.cosine(col("a"), col("b")).as("s"), col("want"))
      .as[(Double, Double)].collect()
    got.foreach { case (s, want) => assert(math.abs(s - want) < 1e-12) }
  }

  test("zero vectors yield NULL cosine, not an ANSI divide-by-zero error") {
    import spark.implicits._
    val df = Seq((Array(0f, 0f), Array(1f, 2f)),
      (Array(0f, 0f), Array(0f, 0f))).toDF("a", "b")
    val got = df.select(Similarity.cosine(col("a"), col("b")).as("s"))
      .collect().map(r => r.isNullAt(0)).toSeq
    assert(got == Seq(true, true))
    // and a zero embedding in a corpus must not abort near-dup scans
    val emb = Seq((1L, Array.fill(64)(1f)), (2L, Array.fill(64)(1f)),
      (3L, Array.fill(64)(0f))).toDF("vec_id", "embedding")
    val pairs = Dedup.nearDupEmbedding(emb, "vec_id", "embedding", 0.9)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("quality score bounds and lang-id determinism") {
    import spark.implicits._
    val f = TextAnalysis.docFeatures(
      Tables.documents(spark, sf), "doc_id", "text")
    val q = f.select(TextAnalysis.qualityScore(col("n_tokens"),
      col("n_distinct"), col("n_stop")).as("q")).as[Double].collect()
    assert(q.forall(x => x >= 0.0 && x <= 1.0))
    val p1 = TextAnalysis.langId(TextFunctions.tokens(lit("the a of test")))
    val p2 = TextAnalysis.langId(TextFunctions.tokens(lit("der und ist zzz")))
    val got = spark.range(1).select(p1.as("a"), p2.as("b"))
      .as[(String, String)].head()
    assert(got == ("en", "de"))
  }

  test("multimodal: deterministic decode stub, frames, features") {
    val assets = Multimodal.assetsFromDocs(
      Tables.documents(spark, sf).limit(60), "doc_id", "text")
    assert(assets.select("kind").distinct().count() == 3)
    val meta1 = Multimodal.decodeMeta(spark, assets).collect().sortBy(_.asset_id)
    val meta2 = Multimodal.decodeMeta(spark, assets).collect().sortBy(_.asset_id)
    assert(meta1.toSeq == meta2.toSeq, "decode must be deterministic")
    assert(meta1.forall(m => m.width >= 64 && m.height >= 64))
    assert(meta1.filter(_.kind == "image").forall(_.duration_ms == 0L))
    val feats = Multimodal.extractFeatures(spark, assets, dim = 16).collect()
    assert(feats.forall(_.features.length == 16))
    val frames = Multimodal.sampleFrames(spark, assets, n = 4)
    val perAsset = frames.groupBy("asset_id").count().collect()
    assert(perAsset.nonEmpty && perAsset.forall(_.getLong(1) == 4L))
    // resize: fits the box, preserves aspect within rounding, shrinks
    // payload with pixel area, deterministic
    val dims = meta1.filter(_.kind == "image").map(m =>
      m.asset_id -> ((m.width, m.height))).toMap
    val resized = Multimodal.resizeImages(spark, assets, 256, 256)
      .collect().sortBy(_.asset_id)
    assert(resized.nonEmpty)
    resized.foreach { r =>
      val (w, h) = dims(r.asset_id)
      assert(r.width <= 256 && r.height <= 256 && r.width >= 1 && r.height >= 1)
      val want = math.min(1.0, math.min(256.0 / w, 256.0 / h))
      assert(math.abs(r.width.toDouble / w - want) <= 1.0 / w &&
        math.abs(r.height.toDouble / h - want) <= 1.0 / h,
        s"aspect drift for asset ${r.asset_id}")
    }
    val resized2 = Multimodal.resizeImages(spark, assets, 256, 256)
      .collect().sortBy(_.asset_id)
    assert(resized.map(_.payload.toSeq).toSeq ==
      resized2.map(_.payload.toSeq).toSeq, "resize must be deterministic")
  }

  test("curation: deterministic mixture sampling and token packing") {
    import spark.implicits._
    import graft.pipeline.Curation
    val df = (0L until 100L).map(i =>
      (i, if (i % 2 == 0) "a" else "b", 10)).toDF("id", "dom", "nt")
    // domains without a weight drop; sampling is a pure function of id
    val s1 = Curation.sampleMixture(df, "id", "dom", Map("a" -> 5))
    assert(s1.select("dom").distinct().as[String].collect().toSeq == Seq("a"))
    assert(s1.count() == 30) // even ids with id%10 in {0,2,4}
    assert(Curation.sampleMixture(df, "id", "dom", Map("a" -> 5))
      .select("id").as[Long].collect().sorted.toSeq ==
      s1.select("id").as[Long].collect().sorted.toSeq)
    intercept[IllegalArgumentException](
      Curation.sampleMixture(df, "id", "dom", Map("a" -> 11)))
    // packing: 10-token docs into a 25 budget never exceed 3 per bucket
    val packed = Curation.packTokens(
      df.filter(col("dom") === "a"), "dom", "id", "nt", 25)
    assert(packed.groupBy("bucket").count()
      .select("count").as[Long].collect().forall(_ <= 3))
    // an oversized doc occupies its cumulative bucket; the next doc
    // lands after it, not on top of it
    val big = Seq(("x", 1L, 100), ("x", 2L, 10)).toDF("dom", "id", "nt")
    val pb = Curation.packTokens(big, "dom", "id", "nt", 25)
      .select("id", "bucket").as[(Long, Int)].collect().toMap
    assert(pb(1L) == 0 && pb(2L) == 4)
  }

  test("decontamination drops exactly the n-gram-overlapping docs") {
    import spark.implicits._
    import graft.pipeline.Curation
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "a completely different sentence with no overlap at all"),
      (3L, "prefix words then the quick brown fox jumps over the lazy dog"),
      (4L, "short doc"), // shorter than n: can never be contaminated
      (5L, "The QUICK brown fox JUMPS over the lazy dog casing")
    ).toDF("doc_id", "text")
    val bench = Seq(
      (100L, "we evaluate on the quick brown fox jumps over the lazy dog")
    ).toDF("bid", "btext")
    val survivors = Curation.decontaminate(
        corpus, "doc_id", "text", bench, "btext", n = 8)
      .select("doc_id").as[Long].collect().sorted.toSeq
    // 1, 3 share the 8-gram; 5 shares it too after lowercasing; 2 and
    // the shorter-than-n doc 4 survive
    assert(survivors == Seq(2L, 4L))
    // n larger than every overlap: nothing drops
    assert(Curation.decontaminate(corpus, "doc_id", "text", bench, "btext",
      n = 12).count() == 5)
    // plan: benchmark grams and hit ids broadcast — the corpus is
    // never shuffled (no exchange other than the two broadcasts)
    val plan = Curation.decontaminate(corpus, "doc_id", "text", bench,
      "btext", n = 8).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("SortMergeJoin"))
    intercept[IllegalArgumentException](
      Curation.decontaminate(corpus, "doc_id", "text", bench, "btext", n = 1))
  }

  test("repetitionStats: run-length fold equals hand-counted frequencies") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spam spam spam spam eggs"),   // max 4/5, distinct 2
      (2L, "all tokens unique here now"), // max 1/5, distinct 5
      (3L, "A a a B b"),                  // lowercased: a 3/5, distinct 2
      (4L, "one")
    ).toDF("doc_id", "text")
    val got = graft.pipeline.TextAnalysis
      .repetitionStats(docs, "doc_id", "text")
      .orderBy("doc_id").as[(Long, Long, Double, Double)].collect().toSeq
    assert(got == Seq(
      (1L, 5L, 0.8, 0.6),
      (2L, 5L, 0.2, 0.0),
      (3L, 5L, 0.6, 0.6),
      (4L, 1L, 1.0, 0.0)))
    // the scale contract: scoring is a pure projection — no exchange,
    // no aggregation node; the corpus is scanned exactly once
    val plan = graft.pipeline.TextAnalysis
      .repetitionStats(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"repetition scoring must not shuffle:\n$plan")
    assert(!plan.contains("HashAggregate"), s"repetition scoring must not aggregate:\n$plan")
  }

  test("repetitionStats: empty and whitespace-only documents score " +
      "n_tokens=0 with NULL ratios, never NaN") {
    import spark.implicits._
    val docs = Seq(
      (1L, ""), (2L, "   \t  \n "), (3L, "real text here")
    ).toDF("doc_id", "text")
    val got = graft.pipeline.TextAnalysis
      .repetitionStats(docs, "doc_id", "text")
      .orderBy("doc_id")
      .as[(Long, Long, Option[Double], Option[Double])].collect().toSeq
    assert(got == Seq(
      (1L, 0L, None, None),
      (2L, 0L, None, None),
      (3L, 3L, Some(0.3333), Some(0.0))))
    // the same contract at the tokenizer: empty/whitespace-only text
    // yields the EMPTY array (a regex split would return [""] and count
    // one phantom token in every stat downstream)
    val sizes = docs.select(size(TextFunctions.tokens(col("text"))))
      .as[Int].collect().toSeq
    assert(sizes == Seq(0, 0, 3))
  }

  test("dedupLines: cross-document boilerplate struck everywhere, " +
      "organic and within-doc repeats kept, all-removed docs survive") {
    import spark.implicits._
    val hdr = "subscribe now"
    val docs = Seq(
      (1L, s"$hdr\nalpha beta\nalpha beta"), // within-doc repeat kept
      (2L, s"$hdr\ngamma delta"),
      (3L, s"$hdr\nepsilon zeta"),
      (4L, hdr),                             // all lines boilerplate
      (5L, "eta theta")                      // untouched
    ).toDF("doc_id", "text")
    val got = graft.pipeline.Curation
      .dedupLines(docs, "doc_id", "text", minDf = 3)
      .orderBy("doc_id").as[(Long, String, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, "alpha beta\nalpha beta", 3L, 1L),
      (2L, "gamma delta", 2L, 1L),
      (3L, "epsilon zeta", 2L, 1L),
      (4L, "", 1L, 1L),
      (5L, "eta theta", 1L, 0L)))
    // minDf boundary: the header's df is 4 (docs 1-4) — at minDf = 5
    // it is one short of boilerplate and every line is kept
    val kept = graft.pipeline.Curation
      .dedupLines(docs, "doc_id", "text", minDf = 5)
      .orderBy("doc_id").as[(Long, String, Long, Long)].collect().toSeq
    assert(kept.forall(_._4 == 0L), s"df=4 < minDf=5 must keep all: $kept")
    intercept[IllegalArgumentException](
      graft.pipeline.Curation.dedupLines(docs, "doc_id", "text", minDf = 1))
    // scale contract: the df-count side partial-aggregates the
    // distinct (hash, id) pairs BEFORE its exchange (map-side combine
    // on fixed-width rows — line strings must never ride that
    // shuffle), and the hot probe is the pinned SMJ (unbounded key set
    // — never a broadcast)
    val planned = graft.pipeline.Curation
      .dedupLines(docs, "doc_id", "text", minDf = 3)
    planned.collect() // AQE finalizes the plan only at execution
    val plan = planned.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), s"hot probe must be SMJ:\n$plan")
    assert(!plan.contains("BroadcastHashJoin"),
      s"hot set is unbounded at scale — no broadcast:\n$plan")
    // the partial (__k, __id) distinct-agg must sit UNDER a shuffle
    // whose partition expression is __k alone, and that exchange's
    // input must not carry __line
    val dfExchange = plan.linesIterator.find(l =>
      l.contains("Exchange hashpartitioning(__k") && !l.contains("__line"))
    assert(dfExchange.isDefined,
      s"df-count exchange must be the narrow keyed one:\n$plan")
  }

  test("gopherFilter: each rule fires on its own trigger; zero-token " +
      "docs fail n_words only, with NULL ratios and no phantom reasons") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the deal is that we keep all of these good plain words here"),
      (2L, ""),                                   // n_words + stopwords
      (3L, "### ### ### the cats is boxing boxes here now"), // symbols+alpha
      (4L, "the dog dog dog dog dog is barking barking loud"), // dup_tokens
      (5L, "12 34 56 78 90 11 22 33 44 55")       // alpha + stopwords
    ).toDF("doc_id", "text")
      .unionByName(Seq((6L, null.asInstanceOf[String]))
        .toDF("doc_id", "text")) // NULL text must FAIL, not slip through
    val got = graft.pipeline.TextAnalysis
      .gopherFilter(docs, "doc_id", "text", minWords = 5)
      .select("doc_id", "reasons", "keep")
      .orderBy("doc_id").as[(Long, String, Boolean)].collect().toSeq
    assert(got == Seq(
      (1L, "", true),
      (2L, "n_words,stopwords", false),
      (3L, "symbols,alpha", false),
      (4L, "dup_tokens", false),
      (5L, "word_len,alpha,stopwords", false),
      (6L, "n_words", false)), got.toString)
    // keepInput refuses to shadow gate outputs
    intercept[IllegalArgumentException](graft.pipeline.TextAnalysis
      .gopherFilter(docs.withColumn("keep", lit(1)), "doc_id", "text",
        keepInput = true))
    // zero-token ratios are NULL, not NaN/0
    val row2 = graft.pipeline.TextAnalysis
      .gopherFilter(docs, "doc_id", "text", minWords = 5)
      .filter(col("doc_id") === 2)
      .select("mean_word_len", "symbol_ratio", "alpha_frac", "dup_tok_frac")
      .collect()(0)
    assert((0 until 4).forall(row2.isNullAt), row2.toString)
    // scale contract: pure projection — no exchange, no aggregate
    val plan = graft.pipeline.TextAnalysis
      .gopherFilter(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"quality gate must not shuffle:\n$plan")
    assert(!plan.contains("HashAggregate"),
      s"quality gate must not aggregate:\n$plan")
  }

  test("composed curation pipeline is one job with exactly two " +
      "exchanges: the dedup aggregate and the output sort") {
    import spark.implicits._
    val docs = (1L to 60L).map(i =>
        (i, s"the quick brown fox number ${i % 20} jumps over a lazy dog " +
          "with plenty of ordinary filler words to pass the gate today"))
      .toDF("doc_id", "text")
    val cleaned = docs.select(col("doc_id"),
      graft.pipeline.Curation.normalizeText(col("text")).as("text"))
    val gated = TextAnalysis.gopherFilter(cleaned, "doc_id", "text",
        minWords = 5, maxDupFrac = 0.8, keepInput = true)
      .filter(col("keep")).select(col("doc_id"), col("text"))
    val unique = Dedup.exactKeepFirst(gated, "doc_id", "text")
    val out = graft.pipeline.Curation.assignSplit(unique, "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select(col("doc_id"), col("split")).orderBy(col("doc_id"))
    val rows = out.as[(Long, String)].collect()
    // 60 docs, 20 distinct texts, min id survives each group: 1..20
    assert(rows.map(_._1).toSeq == (1L to 20L), rows.mkString(","))
    // every per-doc stage fused into the aggregate's map side: the
    // whole pipeline plans the dedup hash exchange + the sort's range
    // exchange, nothing else — no join, no extra shuffle
    val plan = out.queryExecution.executedPlan.toString
    val exchanges = plan.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") ||
        l.contains("Exchange rangepartitioning"))
    assert(exchanges == 2, s"expected 2 exchanges, got $exchanges:\n$plan")
    assert(!plan.contains("Join"), s"no join belongs in this pipeline:\n$plan")
  }

  test("contaminationReport is decontaminate's exact dual: reported " +
      "docs == dropped docs, and counts match hand-derived overlap") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "a b c d e f g h i j"),  // shares 8-grams with bench doc
      (2L, "totally different words here with no overlap at all now"),
      (3L, "a b c d e f g h zz yy") // shares exactly one 8-gram
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "a b c d e f g h i j k")).toDF("doc_id", "text")
    val report = graft.pipeline.Curation
      .contaminationReport(corpus, "doc_id", "text", bench, "text", n = 8)
      .as[(Long, Long)].collect().toMap
    // doc 1: its three 8-grams all appear in the bench doc; doc 3:
    // only "a..h"; doc 2: clean and absent
    assert(report == Map(1L -> 3L, 3L -> 1L), report.toString)
    val kept = graft.pipeline.Curation
      .decontaminate(corpus, "doc_id", "text", bench, "text", n = 8)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L))
    assert(report.keySet == Set(1L, 3L) &&
      (report.keySet ++ kept) == Set(1L, 2L, 3L),
      "report must name exactly the docs the filter drops")
  }

  test("normalizeText: strips controls, collapses runs, CRLF becomes " +
      "LF, and the pass is idempotent") {
    import spark.implicits._
    val in = Seq(
      "\u0001a \t b\u0007c", // controls out, space/tab run to one
      "line1\r\nline2",            // CR is a control: CRLF -> LF
      "p1 \n \n\n\n p2",           // spaces around newlines, run to 2
      "  already clean  ").toDF("t")
    val out = in.select(graft.pipeline.Curation.normalizeText(col("t")))
      .as[String].collect().toSeq
    assert(out == Seq("a bc", "line1\nline2", "p1\n\np2", "already clean"),
      out.toString)
    // idempotent: normalizing clean text changes nothing
    val twice = in.select(graft.pipeline.Curation.normalizeText(
      graft.pipeline.Curation.normalizeText(col("t")))).as[String]
      .collect().toSeq
    assert(twice == out)
  }

  test("assignSplit: deterministic, exhaustive, near-target fractions; " +
      "salt re-splits independently; bad fractions rejected") {
    import spark.implicits._
    val ids = (1L to 2000L).toDF("id")
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val a = graft.pipeline.Curation.assignSplit(ids, "id", splits)
      .groupBy("split").count().as[(String, Long)].collect().toMap
    assert(a.keySet == Set("train", "val", "test"), a.toString)
    assert(a.values.sum == 2000)
    // md5 is uniform: 2000 ids land within a few percent of target
    assert(math.abs(a("train") - 1600L) < 100, a.toString)
    // same input, same assignment — and repartitioning changes nothing
    val b = graft.pipeline.Curation
      .assignSplit(ids.repartition(7), "id", splits)
      .as[(Long, String)].collect().toMap
    val aRows = graft.pipeline.Curation.assignSplit(ids, "id", splits)
      .as[(Long, String)].collect().toMap
    assert(aRows == b)
    // a salt produces a DIFFERENT (but still deterministic) assignment
    val c = graft.pipeline.Curation
      .assignSplit(ids, "id", splits, salt = "fold2")
      .as[(Long, String)].collect().toMap
    assert(c != aRows)
    intercept[IllegalArgumentException](graft.pipeline.Curation
      .assignSplit(ids, "id", Seq("a" -> 0.5, "b" -> 0.4)))
    intercept[IllegalArgumentException](graft.pipeline.Curation
      .assignSplit(ids, "id", Seq.empty))
    // a NULL id gets a NULL split — never silently the last label
    val withNull = Seq(Some(1L), None).toDF("id")
    val ns = graft.pipeline.Curation.assignSplit(withNull, "id", splits)
      .as[(Option[Long], Option[String])].collect().toMap
    assert(ns(None).isEmpty && ns(Some(1L)).nonEmpty, ns.toString)
  }

  test("frequentNgrams: document frequency of lowercased n-grams; " +
      "within-doc repeats count once; below-threshold grams dropped") {
    import spark.implicits._
    val docs = Seq(
      (1L, "click here now for more stuff click here now"), // dup in-doc
      (2L, "CLICK HERE NOW please"),
      (3L, "click here now thanks"),
      (4L, "unrelated words entirely")
    ).toDF("doc_id", "text")
    val got = graft.pipeline.TextAnalysis
      .frequentNgrams(docs, "doc_id", "text", n = 3, minDf = 3)
      .as[(String, Long)].collect().toSeq.sortBy(_._1)
    // "click here now" appears in docs 1 (twice, counted once), 2
    // (lowercased), 3 — df = 3; every other gram has df <= 2
    assert(got == Seq(("click here now", 3L)), got.toString)
    // the df-count side must exchange only fixed-width rows — gram
    // strings appear in no hashpartitioned exchange on that branch
    val planned = graft.pipeline.TextAnalysis
      .frequentNgrams(docs, "doc_id", "text", n = 3, minDf = 3)
    planned.collect()
    val plan = planned.queryExecution.executedPlan.toString
    val countExchange = plan.linesIterator.find(l =>
      l.contains("Exchange hashpartitioning(h#") && !l.contains("gram"))
    assert(countExchange.isDefined,
      s"df count must shuffle hashes, not strings:\n$plan")
    intercept[IllegalArgumentException](graft.pipeline.TextAnalysis
      .frequentNgrams(docs, "doc_id", "text", n = 0, minDf = 1))
  }

  test("shingleHashes is elementwise xxhash64 of shingles") {
    import spark.implicits._
    // the decontamination probe matches on these hashes: they must be
    // exactly xxhash64 over the string shingle set (same order, same
    // distinct semantics, same short-doc empty set)
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "x y x y x y"), (3L, "too short"), (4L, "")
    ).toDF("doc_id", "text")
    val both = corpus.select(
      TextFunctions.shingleHashes(TextFunctions.tokens(col("text")), 3)
        .as("fused"),
      transform(
        TextFunctions.shingles(TextFunctions.tokens(col("text")), 3),
        s => xxhash64(s)).as("composed"))
    assert(both.filter(not(col("fused") === col("composed"))).isEmpty)
    assert(both.count() == 4)
  }

  test("native WordShingleHashes is hash-for-hash the composed " +
      "shingleHashes(tokens(text), k)") {
    import spark.implicits._
    // decontamination now runs the fused one-pass expression; every
    // hash, its order, the distinct semantics, the short-doc and
    // whitespace-edge cases must stay bit-identical to the composed
    // built-in form — including XXH64's default seed 42
    val corpus = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), lower(col("text")).as("text"))
      .unionByName(Seq(
        (900001L, "x y x y x y x y"), (900002L, "too short"),
        (900003L, ""), (900004L, "   \t  "), (900005L, "a b c a b c a b c"),
        (900006L, "\ttab first then words enough for one shingle")
      ).toDF("doc_id", "text"))
    val both = corpus.select(
      graft.functions.ShingleExpressions.wordShingleHashes(col("text"), 13)
        .as("native"),
      TextFunctions.shingleHashes(TextFunctions.tokens(col("text")), 13)
        .as("composed"))
    assert(both.filter(not(col("native") === col("composed"))).isEmpty)
    assert(both.count() > 500)
  }

  test("connected components: a 64-node chain collapses to one min-labeled cluster") {
    import spark.implicits._
    // worst case for min-label propagation (rounds = diameter); the
    // alternating star algorithm must converge in O(log^2 n) rounds
    val edges = (1L until 64L).map(i => (i, i + 1)).toDF("id1", "id2")
    val got = Clusters.dupClusters(edges, "id1", "id2")
      .as[(Long, Long)].collect().toMap
    assert(got.keySet == (1L to 64L).toSet)
    assert(got.values.forall(_ == 1L))
  }

  test("connected components match driver-side union-find on a random graph") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val n = 500
    // duplicated + reversed + self-loop edges exercise canonicalization
    val edges = Seq.fill(400)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)) ++
      Seq((5L, 5L), (17L, 3L), (3L, 17L), (17L, 3L))
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    edges.filter(e => e._1 != e._2).foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = edges.filter(e => e._1 != e._2)
      .flatMap(e => Seq(e._1, e._2)).distinct
    val expect = nodes.groupBy(x => find(x.toInt)).values.flatMap { ms =>
      val m = ms.min; ms.map(_ -> m)
    }.toMap
    val got = Clusters.dupClusters(edges.toDF("a", "b"), "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(got == expect)
  }

  test("connected components: rounds run only while the edges are " +
      "not a min-centred star forest") {
    import spark.implicits._
    def clusters(edges: Seq[(Long, Long)], maxIter: Int) =
      Clusters.dupClusters(edges.toDF("id1", "id2"), "id1", "id2", maxIter)
        .as[(Long, Long)].collect().toMap
    // the 64-node chain reaches its star forest after exactly 6 rounds
    val chain = (1L until 64L).map(i => (i, i + 1))
    assert(clusters(chain, 6) == (1L to 64L).map(_ -> 1L).toMap)
    intercept[IllegalStateException](clusters(chain, 5))
    // already a min-centred star forest: no round runs
    assert(clusters(Seq((2L, 1L), (3L, 1L), (5L, 4L)), 0) ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L))
    // a star whose centre is not the minimum needs a round
    intercept[IllegalStateException](clusters(Seq((5L, 1L), (9L, 5L)), 0))
  }

  /** Component minimum of every node in a pair, by driver-side
    * union-find: the exact answer `dupClusters` must reproduce. */
  private def unionFindClusters(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x; while (parent.getOrElseUpdate(r, r) != r) r = parent(r); r
    }
    edges.filter(e => e._1 != e._2).foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.toList.map(x => x -> find(x)).toMap
  }

  test("connected components and dedupByCluster match driver-side " +
      "union-find across densities, a hub, a clique and no pairs") {
    import spark.implicits._
    val rnd = new scala.util.Random(20261020L)
    // sparse (mostly isolated pairs) through dense (one giant component)
    val random = Seq(200 -> 60, 200 -> 150, 300 -> 300, 100 -> 250, 60 -> 400)
      .map { case (n, m) =>
        Seq.fill(m)((rnd.nextInt(n).toLong + 1, rnd.nextInt(n).toLong + 1))
      }
    // a hub of degree 81 whose id is not its component's minimum, with
    // a tail below it; a 12-node clique
    val hub = (1L to 80L).map(i => (500L, 1000L + i)) ++ Seq((500L, 7L), (7L, 3L))
    val clique = for (a <- 20L to 31L; b <- 20L to 31L if a < b) yield (b, a)
    for (edges <- random :+ hub :+ clique :+ (hub ++ clique ++ random.head)) {
      val expect = unionFindClusters(edges)
      val pairs = edges.toDF("a", "b")
      assert(Clusters.dupClusters(pairs, "a", "b").as[(Long, Long)]
        .collect().toMap == expect)
      val ids = (edges.flatMap(e => Seq(e._1, e._2)) ++ (2001L to 2010L)).distinct
      val docs = ids.toDF("doc_id")
      val kept = Clusters.dedupByCluster(docs, "doc_id", pairs, "a", "b")
        .as[Long].collect().toSet
      assert(kept == ids.filter(i => expect.getOrElse(i, i) == i).toSet)
    }
    // no pairs: no rows, and no round may run
    val none = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(Clusters.dupClusters(none, "a", "b", maxIter = 0).isEmpty)
  }

  test("dedupByCluster keeps min-id representative, passes untouched docs") {
    import spark.implicits._
    val docs = Seq((1L, "a"), (2L, "b"), (3L, "c"), (9L, "z"))
      .toDF("doc_id", "text")
    // 1~2, 2~3 but never 1~3: non-transitive pairs must still collapse
    val pairs = Seq((2L, 1L), (2L, 3L)).toDF("id1", "id2")
    val kept = Clusters.dedupByCluster(docs, "doc_id", pairs, "id1", "id2")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 9L))
    // empty pair set: everything survives
    val none = pairs.filter(lit(false))
    assert(Clusters.dedupByCluster(docs, "doc_id", none, "id1", "id2")
      .count() == 4)
  }

  test("shardShuffle: a permutation — deterministic, dense ranks, " +
      "seed changes the order, one exchange") {
    import graft.pipeline.Curation
    val docs = Tables.documents(spark, sf).select(col("doc_id"))
    val a = Curation.shardShuffle(docs, "doc_id", numShards = 8, seed = 1L)
    val b = Curation.shardShuffle(docs, "doc_id", numShards = 8, seed = 1L)
    val c = Curation.shardShuffle(docs, "doc_id", numShards = 8, seed = 2L)
    // every row exactly once, shard in range, positions dense from 1
    assert(a.count() === docs.count())
    assert(a.select("doc_id").distinct().count() === docs.count())
    assert(a.filter(col("shard") < 0 || col("shard") >= 8).count() === 0)
    val perShard = a.groupBy("shard")
      .agg(count(lit(1)).as("n"), max("pos").as("mx"), min("pos").as("mn"))
      .filter(col("mx") =!= col("n") || col("mn") =!= 1)
    assert(perShard.count() === 0, "pos must be dense 1..n per shard")
    // determinism + seed sensitivity
    assert(a.exceptAll(b).isEmpty)
    assert(c.exceptAll(a).count() > 0, "a new seed must reorder")
    val p = a.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1,
      s"shardShuffle must cost one exchange:\n$p")
  }

  test("upsampleByWeight: integer weights replicate exactly, fractional " +
      "weights hit the expected count, zero-shuffle plan") {
    import spark.implicits._
    import graft.pipeline.Curation
    val docs = Tables.documents(spark, sf).select(col("doc_id"))
    val n = docs.count()
    // w = 2.0 exactly: 2 copies per row, copy_id 0 and 1
    val twice = Curation.upsampleByWeight(docs, "doc_id", lit(2.0))
    assert(twice.count() === 2 * n)
    assert(twice.groupBy("doc_id").count().filter(col("count") =!= 2)
      .count() === 0)
    // w = 0.5: the deterministic coin keeps about half, 0 or 1 copies
    val half = Curation.upsampleByWeight(docs, "doc_id", lit(0.5))
    val kept = half.count()
    assert(kept > n / 3 && kept < 2 * n / 3, s"kept $kept of $n")
    assert(half.groupBy("doc_id").count().filter(col("count") > 1)
      .count() === 0)
    // reproducible: same salt same multiset; different salt differs
    assert(Curation.upsampleByWeight(docs, "doc_id", lit(0.5))
      .exceptAll(half).isEmpty)
    val other = Curation.upsampleByWeight(docs, "doc_id", lit(0.5), "s2")
    assert(other.select("doc_id").exceptAll(half.select("doc_id"))
      .count() > 0)
    val p = twice.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"),
      s"upsample must be a generate over a scan:\n$p")
  }

  test("semanticDedup: nlist=1 equals the exact nearDupEmbedding keep " +
      "set; clustering keeps a superset") {
    val emb = Tables.embeddings(spark, sf)
    val dropped = Dedup.nearDupEmbedding(emb, "vec_id", "embedding", 0.4)
      .select(col("id2").as("vec_id")).distinct()
    val expectKeep = emb.select("vec_id").exceptAll(dropped)
      .collect().map(_.getLong(0)).toSet
    val one = Dedup.semanticDedup(emb, "vec_id", "embedding", 0.4,
        nlist = 1).select("vec_id").collect().map(_.getLong(0)).toSet
    assert(one === expectKeep)
    val clustered = Dedup.semanticDedup(emb, "vec_id", "embedding", 0.4,
        nlist = 8).select("vec_id").collect().map(_.getLong(0)).toSet
    assert(expectKeep.subsetOf(clustered),
      "cluster-local pruning can only drop FEWER vectors than all-pairs")
    assert(clustered.size < emb.count(), "the threshold must bite")
  }

  test("selectByTokenBudget: equals the naive global window at any " +
      "bucketScale; inclusive boundary; zero budget empty") {
    import org.apache.spark.sql.expressions.Window
    import graft.pipeline.Curation
    val f = TextAnalysis.docFeatures(
        Tables.documents(spark, sf), "doc_id", "text")
      .select(col("doc_id"), col("n_tokens"),
        TextAnalysis.qualityScore(col("n_tokens"), col("n_distinct"),
          col("n_stop")).as("quality"))
    val naive = f.withColumn("cum_tokens",
        sum(col("n_tokens")).over(Window
          .orderBy(col("quality").desc, col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("cum_tokens") <= 5000)
      .select("doc_id", "cum_tokens")
    for (scale <- Seq(1, 1000, 100000)) {
      val got = Curation.selectByTokenBudget(f, "doc_id", "n_tokens",
        "quality", budget = 5000L, bucketScale = scale)
        .select("doc_id", "cum_tokens")
      assert(got.exceptAll(naive).isEmpty && naive.exceptAll(got).isEmpty,
        s"bucketScale=$scale must not change the selection")
    }
    // the boundary document whose cum hits the budget exactly stays in
    val total = Curation.selectByTokenBudget(f, "doc_id", "n_tokens",
      "quality", budget = 5000L).agg(max("cum_tokens")).head.getLong(0)
    assert(total <= 5000)
    assert(Curation.selectByTokenBudget(f, "doc_id", "n_tokens",
      "quality", budget = 0L).count() === 0)
  }

  test("exactIncremental: batch keep-first + history anti-join; " +
      "emitted fps extend the index consistently") {
    import spark.implicits._
    val seen = Seq("old text").toDF("text")
      .select(md5(col("text")).as("fp"))
    val batch = Seq((10L, "old text"), (11L, "fresh a"), (12L, "fresh a"),
      (13L, "fresh b")).toDF("doc_id", "text")
    val run = () => Dedup.exactIncremental(batch, "doc_id", "text", seen, "fp")
    val out = run()
    val kept = out.select("doc_id").as[Long].collect().toSet
    assert(kept === Set(11L, 13L),
      "history dupes and in-batch later copies must drop")
    gateShutAndOpen(seen)(run).foreach(df =>
      assert(df.select("doc_id").as[Long].collect().toSet === kept))
    // feeding the emitted fps back makes a replay of the SAME batch empty
    val seen2 = seen.unionByName(out.select("fp"))
    assert(Dedup.exactIncremental(batch, "doc_id", "text", seen2, "fp")
      .count() === 0, "the updated index must absorb the batch")
  }

  test("nearDupMinhashIncremental equals the full batch run restricted " +
      "to batch-touching pairs") {
    val all = docsWithNearDups()
    val hist = all.filter(col("doc_id") < 200)
    val batch = all.filter(col("doc_id") >= 100000)
    def norm(df: DataFrame) = df.select(
        least(col("id1"), col("id2")).as("a"),
        greatest(col("id1"), col("id2")).as("b"),
        round(col("jaccard"), 6).as("j"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val full = norm(Dedup.nearDupMinhashLsh(all, "doc_id", "text")
      .filter(col("id1") >= 100000 || col("id2") >= 100000))
    val (bands, shingles) = (Dedup.bandIndex(hist, "doc_id", "text"),
      Dedup.shingleIndex(hist, "doc_id", "text"))
    val run = () =>
      Dedup.nearDupMinhashIncremental(batch, "doc_id", "text", bands, shingles)
    val inc = norm(run())
    assert(inc === full,
      s"incremental minus full: ${inc -- full}; full minus incremental: ${full -- inc}")
    gateShutAndOpen(bands, shingles)(run).foreach(df => assert(norm(df) === inc))
    assert(full.nonEmpty, "fixture must actually produce cross pairs")
  }

  test("PQ: deterministic codes, ADC recall vs exact top-k") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") < 10)
    val books = Similarity.pqCodebooks(emb, "vec_id", "embedding")
    val c1 = Similarity.pqEncode(emb, "vec_id", "embedding", books)
      .select("id", "codes").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val c2 = Similarity.pqEncode(emb, "vec_id", "embedding", books)
      .select("id", "codes").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(c1 === c2, "encoding must be deterministic given the books")
    assert(c1.values.forall(_.size == 8), "m codes per vector")
    val exact = Similarity.cosineTopK(emb, queries, "vec_id",
        "embedding", k = 10)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(factor: Int): Double = {
      val approx = Similarity.cosineTopKPq(emb, queries, "vec_id",
          "embedding", k = 10, m = 16, codebookK = 32, iters = 3,
          shortlistFactor = factor)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (exact & approx).size.toDouble / exact.size
    }
    val adc = recallOf(1)
    val refined = recallOf(4)
    info(f"PQ recall@10: pure ADC $adc%.3f, shortlist re-rank $refined%.3f")
    assert(adc >= 0.4,
      f"ADC recall@10 $adc%.3f collapsed — quantization is broken")
    assert(refined >= adc && refined >= 0.6,
      f"re-ranked recall $refined%.3f must recover most of the exact set")
  }

  test("IVF-PQ: full probe equals plain PQ exactly; probed recall holds") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") < 10)
    def rows(df: DataFrame) = df
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = rows(Similarity.cosineTopKPq(emb, queries, "vec_id",
      "embedding", k = 10, m = 16, codebookK = 32, iters = 3))
    val fullProbe = rows(Similarity.cosineTopKIvfPq(emb, queries,
      "vec_id", "embedding", k = 10, nlist = 8, nprobe = 8, m = 16,
      codebookK = 32, iters = 3))
    assert(fullProbe === pq,
      "probing every cell must reproduce the plain PQ scan exactly")
    val exact = rows(Similarity.cosineTopK(emb, queries, "vec_id",
      "embedding", k = 10))
    val probed = rows(Similarity.cosineTopKIvfPq(emb, queries, "vec_id",
      "embedding", k = 10, nlist = 8, nprobe = 4, m = 16,
      codebookK = 32, iters = 3))
    val recall = (exact & probed).size.toDouble / exact.size
    info(f"IVF-PQ recall@10 at nprobe=4/8 = $recall%.3f")
    assert(recall >= 0.5, f"probed recall $recall%.3f collapsed")
  }

  test("nearDupEmbeddingIncremental equals the full LSH run restricted " +
      "to batch-touching pairs") {
    val emb = Tables.embeddings(spark, sf)
    val hist = emb.filter(col("vec_id") % 2 === 0)
    val batch = emb.filter(col("vec_id") % 2 =!= 0)
    def norm(df: DataFrame) = df.select(
        least(col("id1"), col("id2")).as("a"),
        greatest(col("id1"), col("id2")).as("b"),
        round(col("sim"), 6).as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val full = norm(Dedup.nearDupEmbeddingLsh(emb, "vec_id", "embedding",
        threshold = 0.4)
      .filter(col("id1") % 2 =!= 0 || col("id2") % 2 =!= 0))
    val buckets = Dedup.embeddingBucketIndex(hist, "vec_id", "embedding")
    val run = () => Dedup.nearDupEmbeddingIncremental(batch, "vec_id",
      "embedding", buckets, Dedup.vectorIndex(hist, "vec_id", "embedding"),
      threshold = 0.4)
    val inc = norm(run())
    assert(inc === full,
      s"inc-only: ${inc -- full}; full-only: ${full -- inc}")
    gateShutAndOpen(buckets)(run).foreach(df => assert(norm(df) === inc))
    assert(full.nonEmpty, "fixture must produce batch-touching pairs")
  }

  test("sampleKPerGroup: exactly k (or group size), deterministic, " +
      "WindowGroupLimit in the plan") {
    import graft.pipeline.Curation
    val d = Tables.documents(spark, sf).select(col("doc_id"), col("source"))
    val got = Curation.sampleKPerGroup(d, "doc_id", "source", k = 3)
    val sizes = got.groupBy("source").count()
    val groupSizes = d.groupBy("source").count()
      .withColumnRenamed("count", "full")
    assert(sizes.join(groupSizes, "source")
      .filter(col("count") =!= least(lit(3L), col("full"))).isEmpty,
      "each group yields min(k, |group|) rows")
    assert(got.exceptAll(
      Curation.sampleKPerGroup(d, "doc_id", "source", k = 3)).isEmpty)
    // a different salt picks a different sample
    assert(Curation.sampleKPerGroup(d, "doc_id", "source", 3, "other")
      .exceptAll(got).count() > 0)
    val p = got.queryExecution.executedPlan.toString
    assert(p.contains("WindowGroupLimit"),
      s"rank filter must push map-side top-k:\n$p")
  }

  test("approxCorpusStats: sketch distincts within 3*rsd of exact, " +
      "quantiles inside the exact rank neighborhood") {
    val d = Tables.documents(spark, sf)
    val rsd = 0.02
    val got = TextAnalysis.approxCorpusStats(d, "doc_id", "text",
        Seq("lang"), rsd)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getInt(3), r.getInt(4))).toMap
    val toks = graft.functions.TextFunctions.tokens(lower(col("text")))
    val exact = d.select(col("lang"), toks.as("toks"))
      .select(col("lang"), size(col("toks")).as("n"),
        xxhash64(concat_ws(" ", col("toks"))).as("fp"), col("toks"))
      .groupBy("lang")
      .agg(countDistinct(col("fp")).as("docs"),
        size(array_distinct(flatten(collect_list(col("toks")))))
          .as("vocab"),
        sort_array(collect_list(col("n"))).as("ns"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getInt(2).toLong, r.getSeq[Int](3))).toMap
    assert(got.keySet === exact.keySet)
    for ((lang, (aDocs, aVocab, p50, p95)) <- got) {
      val (eDocs, eVocab, ns) = exact(lang)
      assert(math.abs(aDocs - eDocs).toDouble / eDocs <= 3 * rsd,
        s"$lang docs: $aDocs vs $eDocs")
      assert(math.abs(aVocab - eVocab).toDouble / eVocab <= 3 * rsd,
        s"$lang vocab: $aVocab vs $eVocab")
      // a quantile estimate must be an observed value whose rank is in
      // the +-5% neighborhood of the requested quantile
      def rankOk(v: Int, q: Double): Boolean = {
        val below = ns.count(_ < v).toDouble / ns.size
        val atOrBelow = ns.count(_ <= v).toDouble / ns.size
        below <= q + 0.05 && atOrBelow >= q - 0.05
      }
      assert(ns.contains(p50) && rankOk(p50, 0.5), s"$lang p50=$p50")
      assert(ns.contains(p95) && rankOk(p95, 0.95), s"$lang p95=$p95")
    }
  }

  test("native WordGrams is elementwise the composed unigram+bigram " +
      "multiset, edge cases included") {
    import spark.implicits._
    import graft.functions.ShingleExpressions.wordGrams
    val edge = Seq((9000001L, ""), (9000002L, "   \t\n "), (9000003L, "one"),
      (9000004L, "a b"), (9000005L, "a a a")).toDF("doc_id", "text")
    val df = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
      .unionByName(edge)
    val toks = graft.functions.TextFunctions.tokens(lower(col("text")))
    val bi = when(size(toks) >= 2,
      transform(sequence(lit(1), size(toks) - 1),
        i => concat_ws(" ", slice(toks, i, lit(2)))))
      .otherwise(array().cast("array<string>"))
    val mismatches = df.select(
        wordGrams(lower(col("text")), 2).as("fast"),
        concat(toks, bi).as("slow"))
      .filter(col("fast") =!= col("slow"))
    assert(mismatches.isEmpty,
      "WordGrams must reproduce the composed form byte-for-byte")
  }

  test("dsirScores: target-domain docs outscore the rest on average; " +
      "empty docs absent; the model joins as a broadcast") {
    import spark.implicits._
    import graft.pipeline.Curation
    val base = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"), col("lang"))
    val raw = base.unionByName(
      Seq((900001L, "", "en")).toDF("doc_id", "text", "lang"))
    val target = base.filter(col("lang") === "de")
    val scored = Curation.dsirScores(raw, "doc_id", "text", target, "text")
    assert(scored.filter(col("doc_id") === 900001L).count() === 0,
      "a zero-feature document has no defined score")
    val byLang = scored.join(base, "doc_id")
      .groupBy(col("lang") === "de")
      .agg(avg(col("dsir_score")).as("s"))
      .collect().map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    assert(byLang(true) > byLang(false),
      s"de target must outscore non-de: $byLang")
    val p = scored.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"the bucket-sized model must broadcast:\n$p")
  }

  test("lmScores: reference-like text scores lower NLL than unseen " +
      "vocabulary; model broadcasts; empty docs absent") {
    import spark.implicits._
    import graft.pipeline.Curation
    val ref = (1 to 50).map(i =>
      (i.toLong, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val probe = Seq(
      (100L, "the quick brown fox"),              // in-reference vocab
      (101L, "zxq vvw qqj plk mnb"),              // unseen vocab
      (102L, "")).toDF("doc_id", "text")          // no features
    val scored = Curation.lmScores(probe, "doc_id", "text", ref, "text",
      numBuckets = 256)
    val byId = scored.collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(byId(100L) < byId(101L),
      s"reference-like must be more likely: $byId")
    assert(!byId.contains(102L), "zero-feature docs are absent")
    val p = scored.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"the bucket-sized model must broadcast:\n$p")
  }

  test("dedupSpans: shared k-token spans keep one canonical copy " +
      "(min-id owner), overlapping windows merge, short docs untouched, " +
      "fully-cut docs emit empty text") {
    import spark.implicits._
    import graft.pipeline.Dedup
    val boiler = (1 to 13).map(i => s"b$i").mkString(" ")
    val passage = (1 to 15).map(i => s"p$i").mkString(" ") // 15 > k: overlap
    val docs = Seq(
      (1L, s"alpha $boiler omega"),   // owner (min id): keeps its copy
      (2L, s"x y $boiler z"),         // non-owner: 13 tokens cut
      (3L, boiler),                   // fully covered -> empty text
      (4L, "short doc"),              // < k tokens: never cut
      (5L, "entirely unique tokens nothing shared with anyone at all ok"),
      (8L, s"lead $passage"),         // owner of the longer passage
      (9L, s"$passage tail tail2")    // overlapping windows merge: 15 cut
    ).toDF("doc_id", "text")
    val got = Dedup.dedupSpans(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getInt(2), r.getLong(3)))).toMap
    assert(got(1L) == ((s"alpha $boiler omega", 15, 0L)))
    assert(got(2L) == (("x y z", 16, 13L)))
    assert(got(3L) == (("", 13, 13L)))
    assert(got(4L) == (("short doc", 2, 0L)))
    assert(got(5L)._3 == 0L)
    assert(got(8L) == ((s"lead $passage", 16, 0L)))
    assert(got(9L) == (("tail tail2", 17, 15L)))
    // determinism: a second run is identical
    val again = Dedup.dedupSpans(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getInt(2), r.getLong(3)))).toMap
    assert(again == got)
    // minDf=3: the pairwise passage survives, the 3-way boilerplate
    // still cuts
    val g3 = Dedup.dedupSpans(docs, "doc_id", "text", minDf = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(g3(9L) == 0L && g3(2L) == 13L && g3(3L) == 13L)
  }

  test("qualityClassifierScores: a linear model over hashed n-grams " +
      "separates reference-like from noise text, scores in [0,1], " +
      "rank order stable across runs") {
    import spark.implicits._
    import graft.pipeline.Curation
    val good = (1 to 40).map(i =>
      (s"clean structured prose sentence number $i with informative " +
        "words and helpful grammar", 1))
    val bad = (1 to 40).map(i =>
      (s"zx$i qq ww spam spam buy now click here zzz$i garbage tokens", 0))
    val labeled = (good ++ bad).toDF("text", "label")
    val probe = Seq(
      (1L, "clean structured prose with informative words and grammar"),
      (2L, "spam spam buy now click here garbage"),
      (3L, "clean prose sentence with helpful informative words"),
      (4L, "qq ww zzz1 click here buy now")).toDF("doc_id", "text")
    def scores() = Curation.qualityClassifierScores(labeled, "text",
        "label", probe, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val s1 = scores()
    assert(s1.values.forall(v => v >= 0.0 && v <= 1.0))
    assert(s1(1L) > 0.9 && s1(3L) > 0.9, s"good docs must score high: $s1")
    assert(s1(2L) < 0.1 && s1(4L) < 0.1, s"spam must score low: $s1")
    // rank stability (scores are float-reduction sensitive; order of
    // clearly-separated docs is not)
    val s2 = scores()
    assert(Seq(1L, 2L, 3L, 4L).sortBy(s1) == Seq(1L, 2L, 3L, 4L).sortBy(s2))
  }

  test("dedupSpansIncremental: a batch against the persisted gram " +
      "index equals the full run restricted to batch docs (monotone " +
      "ids), history-held grams cut batch copies, and the index merge " +
      "is exact") {
    import spark.implicits._
    import graft.pipeline.Dedup
    val boiler = (1 to 13).map(i => s"h$i").mkString(" ")
    val hist = Seq(
      (1L, s"one $boiler two"),            // holds the gram ONCE (df=1)
      (2L, "plain history text with nothing repeated anywhere at all"),
      (3L, s"$boiler")                     // second copy: df=2 already
    ).toDF("doc_id", "text")
    val newSpan = (1 to 14).map(i => s"n$i").mkString(" ")
    val batch = Seq(
      (10L, s"lead $boiler tail"),         // history-owned gram: cut
      (11L, s"a $newSpan"),                // batch-internal owner: keeps
      (12L, s"$newSpan b"),                // batch-internal dup: cut 14
      (13L, "nothing shared here truly unique tokens forever and ever ok")
    ).toDF("doc_id", "text")
    val idx = Dedup.spanGramIndex(hist, "doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2),
        r.getLong(3))).toSet
    val run = () => Dedup.dedupSpansIncremental(batch, "doc_id", "text", idx)
    val inc = rows(run())
    // exactness: full run over history ∪ batch, restricted to batch ids
    val full = rows(Dedup.dedupSpans(hist.unionByName(batch),
      "doc_id", "text").filter(col("doc_id") >= 10L))
    assert(inc == full, s"inc=$inc\nfull=$full")
    gateShutAndOpen(idx)(run).foreach(df => assert(rows(df) == inc))
    // the history-held gram cut doc 10's copy (13 tokens)
    assert(inc.find(_._1 == 10L).get._4 == 13L)
    assert(inc.find(_._1 == 11L).get._4 == 0L)
    assert(inc.find(_._1 == 12L).get._4 == 14L)
    assert(inc.find(_._1 == 13L).get._4 == 0L)
    // a df=1 history gram becomes duplicated through the batch: the
    // BATCH copy is the one cut (arrival-ordered ownership) — build a
    // second batch probing the merged index
    val merged = idx.unionByName(
        Dedup.spanGramIndex(batch, "doc_id", "text"))
      .groupBy("g").agg(min(col("owner")).as("owner"),
        sum(col("ndocs")).as("ndocs"))
    assert(rows(Dedup.dedupSpans(hist.unionByName(batch), "doc_id", "text"))
      .map(t => t._1 -> t._4).toMap ==
      Map(1L -> 0L, 2L -> 0L, 3L -> 13L, 10L -> 13L, 11L -> 0L,
        12L -> 14L, 13L -> 0L))
    // merged index equals the from-scratch index
    val scratch = Dedup.spanGramIndex(hist.unionByName(batch),
      "doc_id", "text")
    assert(merged.orderBy("g").collect().toSeq ==
      scratch.orderBy("g").collect().toSeq)
  }

  test("portableHash=false (xxhash64) n-gram scorers: same doc " +
      "coverage and the same rank BEHAVIOR as the md5 oracle path") {
    import spark.implicits._
    import graft.pipeline.Curation
    val base = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"), col("lang"))
    val target = base.filter(col("lang") === "de")
    val md = Curation.dsirScores(base, "doc_id", "text", target, "text")
    val xx = Curation.dsirScores(base, "doc_id", "text", target, "text",
      portableHash = false)
    // identical coverage: a doc has features independent of the hash
    assert(md.select("doc_id").collect().map(_.getLong(0)).toSet ==
      xx.select("doc_id").collect().map(_.getLong(0)).toSet)
    // the behavioral pin: the target domain outranks the rest under
    // BOTH hashes (scores differ within hash noise; ordering of the
    // separated populations must not)
    def deGap(scored: org.apache.spark.sql.DataFrame): Double = {
      val m = scored.join(base, "doc_id")
        .groupBy(col("lang") === "de")
        .agg(avg(col("dsir_score")).as("s"))
        .collect().map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
      m(true) - m(false)
    }
    assert(deGap(md) > 0 && deGap(xx) > 0)
    // lmScores under xxhash64: reference-like text stays more likely
    val ref = (1 to 50).map(i =>
      (i.toLong, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val probe = Seq((100L, "the quick brown fox"),
      (101L, "zxq vvw qqj plk mnb")).toDF("doc_id", "text")
    val byId = Curation.lmScores(probe, "doc_id", "text", ref, "text",
        numBuckets = 256, portableHash = false)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(byId(100L) < byId(101L), s"$byId")
    // no md5 in the fast path's plan (the point of the knob)
    val p = Curation.lmScores(probe, "doc_id", "text", ref, "text",
      numBuckets = 256, portableHash = false)
      .queryExecution.executedPlan.toString
    assert(p.contains("xxhash64") && !p.toLowerCase.contains("md5"), p)
  }

  test("PQ and IVF-PQ search with pre-trained models equals the " +
      "train-inline run exactly") {
    val emb = Tables.embeddings(spark, sf)
    val q = emb.filter(col("vec_id") < 5)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("query_id"), col("neighbor_id"), round(col("sim"), 6))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
    val books = Similarity.pqCodebooks(emb, "vec_id", "embedding")
    assert(rows(Similarity.cosineTopKPq(emb, q, "vec_id", "embedding",
        k = 5, trainedBooks = Some(books))) ==
      rows(Similarity.cosineTopKPq(emb, q, "vec_id", "embedding", k = 5)))
    val coarse = Similarity.ivfCodebook(emb, "vec_id", "embedding")
    assert(rows(Similarity.cosineTopKIvfPq(emb, q, "vec_id", "embedding",
        k = 5, trainedCoarse = Some(coarse), trainedBooks = Some(books))) ==
      rows(Similarity.cosineTopKIvfPq(emb, q, "vec_id", "embedding", k = 5)))
  }

  test("topPercentPerStratum equals the naive per-stratum window at " +
      "every percent, with id-ordered tie admission") {
    import spark.implicits._
    import graft.pipeline.Curation
    import org.apache.spark.sql.expressions.Window
    // tie-heavy: scores drawn from a tiny domain so the quota almost
    // always lands INSIDE a tie group, plus a stratum smaller than any
    // quota and a single-score stratum (all ties)
    val df = (1 to 400).map(i =>
        (i.toLong, s"s${i % 3}", (i * 7919) % 5)).toDF("id", "g", "score")
      .unionByName(Seq((1001L, "tiny", 9), (1002L, "mono", 4),
        (1003L, "mono", 4), (1004L, "mono", 4)).toDF("id", "g", "score"))
      // NULLs on both axes: a NULL stratum is its own partition, NULL
      // scores rank last (inc. a stratum of ONLY null scores, where
      // the tie group itself is the NULL group)
      .unionByName(Seq[(Long, Option[String], Option[Int])](
        (2001L, None, Some(5)), (2002L, None, Some(3)),
        (2003L, None, Some(3)), (2004L, None, Some(1)),
        (2005L, Some("s0"), None), (2006L, Some("s0"), None),
        (2007L, Some("nul"), None), (2008L, Some("nul"), None),
        (2009L, Some("nul"), None), (2010L, None, None))
        .toDF("id", "g", "score"))
    for (p <- Seq(0, 17, 30, 50, 100)) {
      val got = Curation.topPercentPerStratum(df, "id", "g", "score", p)
        .select("id").as[Long].collect().toSet
      val naive = df
        .withColumn("rn", row_number().over(Window.partitionBy(col("g"))
          .orderBy(col("score").desc, col("id"))))
        .withColumn("n", count(lit(1)).over(Window.partitionBy(col("g"))))
        .filter(col("rn") <= (col("n") * p + 99).cast("long") / 100)
        .select("id").as[Long].collect().toSet
      assert(got == naive, s"percent=$p")
    }
    // the corpus-side joins must broadcast the tiny threshold relation
    val plan = Curation.topPercentPerStratum(df, "id", "g", "score", 30)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"thresholds must broadcast:\n$plan")
  }

  test("chunkDocuments: windows cover every token once per stride slot, " +
      "overlap is exact, empty docs emit nothing, plan has no exchange") {
    import spark.implicits._
    val docs = Seq(
      (1L, (1 to 25).map(i => s"t$i").mkString(" ")), // 3 chunks of 10/s=8
      (2L, "a b c"),                                  // shorter than chunk
      (3L, ""), (4L, "   \t  "),                      // no tokens -> no rows
      (5L, (1 to 18).map(i => s"u$i").mkString(" ")), // exactly 1+ceil(8/8)
      (6L, null.asInstanceOf[String])                 // NULL text -> no rows
    ).toDF("doc_id", "text")
    val got = TextAnalysis.chunkDocuments(docs, "doc_id", "text",
      chunkTokens = 10, overlapTokens = 2)
    val rows = got.as[(Long, Int, Int, Int, String)].collect()
      .sortBy(r => (r._1, r._2))
    // doc 1: n=25, stride=8 -> starts 0,8,16; last chunk short (9 toks)
    val d1 = rows.filter(_._1 == 1L)
    assert(d1.map(r => (r._2, r._3, r._4)).toSeq ==
      Seq((0, 0, 10), (1, 8, 10), (2, 16, 9)))
    // overlap: chunk k's first `overlap` tokens == chunk k-1's last ones
    val c0 = d1(0)._5.split(" "); val c1 = d1(1)._5.split(" ")
    assert(c0.takeRight(2).toSeq == c1.take(2).toSeq)
    // reconstruction: dropping each chunk's overlap prefix (k>0) and
    // concatenating rebuilds the document exactly — nothing lost or
    // duplicated by the window arithmetic
    val rebuilt = d1.flatMap(r =>
      r._5.split(" ").drop(if (r._2 == 0) 0 else 2)).toSeq
    assert(rebuilt == (1 to 25).map(i => s"t$i"))
    assert(rows.filter(_._1 == 2L).map(r => (r._2, r._4, r._5)).toSeq ==
      Seq((0, 3, "a b c")))
    assert(!rows.exists(r => r._1 == 3L || r._1 == 4L || r._1 == 6L))
    // n=18, chunk=10, stride=8: starts 0 and 8 — the second window ends
    // exactly at the document end, no degenerate third window
    assert(rows.filter(_._1 == 5L).map(_._3).toSeq == Seq(0, 8))
    // zero-shuffle contract: chunking is a scan, not an exchange
    val plan = got.queryExecution.executedPlan.toString
    println("FINALPLAN\n" + plan)
    assert(!plan.contains("Exchange"), s"chunking must not shuffle:\n$plan")
  }

  test("BPE: byte-exact detokenize round-trip on arbitrary unicode, " +
      "merges.txt parsing, and count/tokens agreement") {
    import spark.implicits._
    import graft.functions.BpeExpressions._
    val vocab = BpeRanks.parseMerges(Seq("a" -> "b", "ab" -> "c",
      "Ġ" -> "t", "Ġt" -> "he"))
    val texts = Seq(
      "the quick brown fox", "ação café naïve", "日本語のテキスト",
      "mixed  \t whitespace\nlines", "emoji 🎉 inside", "",
      "code: if (x<=3) { y+=1; }", "don't stop")
    val df = texts.zipWithIndex.map { case (t, i) => (i, t) }.toDF("id", "t")
    // round-trip is vocabulary-independent: tokens partition the byte
    // stream, so rejoin + byte-decode is the identity
    val rt = df.select(col("id"), col("t"),
      bpeDetokenize(bpeTokens(col("t"), vocab)).as("back"),
      bpeTokenCount(col("t"), vocab).as("n"),
      size(bpeTokens(col("t"), vocab)).as("n2")).collect()
    rt.foreach { r =>
      assert(r.getString(1) == r.getString(2),
        s"round-trip broke on '${r.getString(1)}'")
      assert(r.getInt(3) == r.getInt(4), "count != tokens().size")
    }
    // "the" under the demo merges: pre-token " the" (after "x ...")
    // exercises multi-level merges Ġ+t, Ġt+he? — no 'he' merge rank
    // for (h,e), so spot-pin a simple case instead: counts are
    // positive on every non-empty text
    assert(rt.filter(_.getString(1).nonEmpty).forall(_.getInt(3) > 0))
    // merges.txt format: header skipped, rank order = line order
    val mf = java.nio.file.Files.createTempFile("merges", ".txt")
    java.nio.file.Files.writeString(mf,
      "#version: 0.2\na b\nab c\n")
    val fromFile = BpeRanks.loadFile(mf.toString)
    assert(fromFile.ranks == Map(("a", "b") -> 0, ("ab", "c") -> 1))
    // chunking in MODEL tokens with byte-exact reassembly: overlap 0
    // means chunk texts concatenate back to the original document
    val doc = Seq((1L, "abcabc abc! the abs 12 end")).toDF("doc_id", "text")
    val chunks = graft.pipeline.TextAnalysis.chunkDocuments(
      doc, "doc_id", "text", chunkTokens = 3, overlapTokens = 0,
      tokenizer = c => bpeTokens(c, fromFile),
      detokenizer = c => bpeDetokenize(c))
      .orderBy(col("chunk_id")).collect()
    assert(chunks.map(_.getAs[String]("chunk_text")).mkString ==
      "abcabc abc! the abs 12 end")
    assert(chunks.dropRight(1).forall(_.getAs[Int]("n_chunk_tokens") == 3))
    // the whitespace default is unchanged: 5-arg and hooked-with-
    // defaults spell the same result
    val a = graft.pipeline.TextAnalysis.chunkDocuments(
      doc, "doc_id", "text", 4, 1).collect()
    val b = graft.pipeline.TextAnalysis.chunkDocuments(
      doc, "doc_id", "text", 4, 1,
      graft.functions.TextFunctions.tokens, c => concat_ws(" ", c)).collect()
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
  }
}
