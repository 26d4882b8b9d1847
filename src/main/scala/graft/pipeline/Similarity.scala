package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Row, types}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (Array[Float]) — the
  * LLM-pipeline tier's ANN surface.
  *
  * Scale design (100 TB): the exact path broadcasts the (small) query
  * set against a single scan of the corpus — no corpus self-join, one
  * shuffle for the per-query top-k. The approximate path buckets both
  * sides by random-hyperplane LSH signs so the join is bucket-local;
  * multiprobe widens recall without widening the shuffle. All math is
  * codegen'd double-precision expressions (built-ins plus the native
  * vector expressions in [[graft.functions]]), no UDFs.
  */
object Similarity {

  /** Double-precision cosine similarity of two float arrays. Backed by
    * the native [[graft.functions.FloatVectorDot]] expression: the
    * higher-order `aggregate(zip_with(...))` form it replaces is
    * CodegenFallback (~35us/pair interpreted) with identical summation
    * order, so results are bit-equal and the scan is codegen'd.
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.cosineF(a, b)

  import graft.functions.VectorFunctions.dotF

  // norms once per VECTOR (linear), never per pair: scoring computes
  // ONE codegen'd dot per candidate — `cosine()` inline would run 3
  // dots per pair and recompute both norms quadratically. Same formula,
  // same operand order, so sim values are bit-equal to cosine().
  private def withCorpusNorm(c: DataFrame): DataFrame =
    c.withColumn("cnrm", sqrt(dotF(col("cv"), col("cv"))))
  private def withQueryNorm(q: DataFrame): DataFrame =
    q.withColumn("qnrm", sqrt(dotF(col("qv"), col("qv"))))
  private val simExpr: Column =
    graft.functions.VectorFunctions.safeRatio(
      dotF(col("qv"), col("cv")), col("qnrm") * col("cnrm"))

  /** Shared ranking tail: top k per query by sim, neighbor-id
    * tie-broken, fixed output schema.
    */
  private def topKPerQuery(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("sim"))
  }

  /** Deterministic per-query candidate bound: keeps the verification
    * broadcast at |queries| x cap rows no matter how hot the corpus's
    * buckets/cells are — without it, bucket occupancy (which scales
    * with the CORPUS, not the query set) could push the candidate set
    * past broadcast limits on a large corpus.
    *
    * The cap cuts by RELEVANCE, not id: callers pass a cheap proxy
    * (LSH: agreeing-table votes, descending; IVF: probe rank,
    * ascending) so a binding cap keeps the most-promising candidates —
    * an id-ordered cut was uncorrelated with similarity and degraded
    * recall invisibly on hot buckets (round-5/6 advice). neighbor_id
    * stays as the final tiebreak so the bound is reproducible.
    *
    * Binding is OBSERVABLE: a CollectMetrics node counts dropped
    * candidates and affected queries; [[CapBindingListener]] (installed
    * by GraftSession) logs a warning whenever the cap actually bound,
    * so silently degraded recall can't happen. The metrics aggregate
    * rides the existing scan — no extra action or shuffle.
    */
  private def capPerQuery(cand: DataFrame, cap: Int,
      relevance: Column*): DataFrame =
    cand.withColumn("cr", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(relevance :+ col("neighbor_id").asc: _*)))
      .observe(CapMetricName,
        sum(when(col("cr") > cap, lit(1L)).otherwise(lit(0L)))
          .as("dropped_candidates"),
        // rank cap+1 occurs exactly once per capped query (DISTINCT
        // aggregates are not allowed in observed metrics)
        sum(when(col("cr") === cap + 1, lit(1L)).otherwise(lit(0L)))
          .as("capped_queries"))
      .filter(col("cr") <= cap)
      .select(col("query_id"), col("neighbor_id"))

  /** Name of the cap-binding observation ([[capPerQuery]]). */
  val CapMetricName = "graft.ann.cap"

  /** Exact brute-force top-k: for each row of `queries`, the k nearest
    * corpus rows by cosine. Queries are broadcast (they are small by
    * assumption); the corpus is scanned once.
    */
  def cosineTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    // spread: the per-(query, corpus-row) dot products are driven by the
    // streamed corpus scan's partitioning — one small parquet file
    // serializes the whole brute-force pass otherwise; no-op at scale
    val c = Dedup.spread(
      corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv")))
    val scored = withCorpusNorm(c)
      .join(broadcast(withQueryNorm(q)),
        col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", simExpr)
    topKPerQuery(scored, k)
  }

  /** Deterministic random hyperplanes: `numPlanes` x `dim` doubles from
    * a seeded PRNG (no data-dependent state, identical on every
    * executor) — the planes [[lshBuckets]] table t uses at `seed + t`.
    */
  def hyperplanes(numPlanes: Int, dim: Int, seed: Long): Seq[Array[Double]] =
    graft.functions.HyperplaneBuckets.planes(numPlanes, dim, seed).toSeq

  /** Sign-bit LSH signature (one long, numPlanes <= 63 bits). NOTE:
    * this per-row form runs one interpreted `aggregate` pass PER plane
    * (higher-order functions are CodegenFallback) — it exists as the
    * independent reference implementation for tests; the corpus-scale
    * path is [[lshSignatures]]' native expression, pinned bit-identical
    * to this in PipelineSpec.
    */
  def lshSignature(vec: Column, planes: Seq[Array[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      val plane = array(p.map(lit(_)): _*)
      val d = aggregate(zip_with(vec, plane, (x, w) => x.cast("double") * w),
        lit(0.0), (acc, v) => acc + v)
      when(d >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Per-row multi-table LSH signature: `array<bigint>` whose element t
    * is the row's bucket in table t, all `numTables * planesPerTable`
    * dots computed by one codegen'd
    * [[graft.functions.HyperplaneBuckets]] pass over the vector — no
    * explode, join or aggregate. Deterministic given `seed`: each dot
    * sums in position order, so a bucket never depends on the
    * partitioning. A vector whose length != dim fails LOUDLY, naming
    * its id.
    */
  private[pipeline] def lshSignatures(idCol: String, vecCol: String,
      planesPerTable: Int, numTables: Int, dim: Int, seed: Long): Column = {
    val checked = when(size(col(vecCol)) === dim, col(vecCol))
      .otherwise(raise_error(concat(
        lit(s"embedding length != $dim: id="), col(idCol).cast("string"),
        lit(" len="), size(col(vecCol)).cast("string"))))
    graft.functions.VectorFunctions.hyperplaneBuckets(checked, numTables,
      planesPerTable, dim, seed)
  }

  /** Multi-table hyperplane LSH bucket assignments: one (id, table,
    * bucket) row per table — the shared candidate-generation front end
    * of [[cosineTopKLsh]] and the embedding incremental index. One
    * per-row signature ([[lshSignatures]]) exploded over the tables:
    * a narrow stage with no shuffle. Deterministic given `seed`.
    */
  def lshBuckets(df: DataFrame, idCol: String, vecCol: String,
      planesPerTable: Int = 4, numTables: Int = 16, dim: Int = 64,
      seed: Long = 42L): DataFrame =
    df.select(col(idCol), posexplode(lshSignatures(idCol, vecCol,
        planesPerTable, numTables, dim, seed)).as(Seq("table", "bucket")))

  /** Approximate top-k via multi-table hyperplane LSH: `numTables`
    * independent tables of `planesPerTable` sign bits; candidates are
    * rows sharing (table, bucket) with the query in ANY table, then
    * exact cosine ranks the candidates. Recall rises with tables,
    * join volume stays bucket-local — at 100 TB each bucket is a tiny
    * slice vs the exact path's full corpus scan per query batch.
    * (One of the two scale paths the brute-force operator pairs with,
    * next to [[cosineTopKIvf]]; deterministic given `seed`.)
    *
    * When it pays off: signature cost is numTables*planesPerTable dots
    * per corpus row, brute force is |queries| dots per corpus row — LSH
    * only wins when the query batch is much larger than the plane count
    * (or the corpus is re-probed across batches with signatures
    * persisted). For a handful of queries, use [[cosineTopK]].
    */
  def cosineTopKLsh(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, planesPerTable: Int = 4, numTables: Int = 16,
      dim: Int = 64, seed: Long = 42L,
      maxCandidatesPerQuery: Int = 10000): DataFrame = {
    def bucketed(df: DataFrame, id: String, vec: String): DataFrame =
      lshBuckets(df, id, vec, planesPerTable, numTables, dim, seed)
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    // votes = number of tables whose bucket both sides share — the
    // relevance proxy for a binding cap (more agreeing tables = higher
    // collision probability = likely-nearer neighbor). The groupBy has
    // the same shuffle shape as the distinct it replaces.
    val cand = capPerQuery(
      bucketed(Dedup.spread(c), "neighbor_id", "cv")
        .join(broadcast(bucketed(q, "query_id", "qv")), Seq("table", "bucket"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .groupBy(col("query_id"), col("neighbor_id"))
        .agg(count(lit(1)).as("votes")),
      maxCandidatesPerQuery, col("votes").desc)
    // candidates are ids-only and bounded at |queries| x cap (see
    // capPerQuery), so the verification joins pin broadcast and stream
    // ONE corpus scan. Left to AQE, the strategy choice flapped in long
    // sessions (round-4 driver full-suite 11.7s vs 2.8s isolated, same
    // commit — the q42 instability round 3 fixed in Dedup) by shuffling
    // the full corpus WITH vectors when the size estimate drifted.
    val scored = withCorpusNorm(c)
      .join(broadcast(cand), "neighbor_id")
      .join(broadcast(withQueryNorm(q)), "query_id")
      .withColumn("sim", simExpr)
    topKPerQuery(scored, k)
  }

  // ---- IVF (inverted-file) ANN ----------------------------------------

  import graft.functions.VectorFunctions.dotF

  /** Centroids as a broadcastable (cluster, c, cnrm) relation — the IVF
    * codebook travels as DATA, never as plan literals (same lesson as
    * the plane matrix: literal payloads bloat task binaries).
    */
  private[pipeline] def centroidDf(spark: org.apache.spark.sql.SparkSession,
      cents: Seq[Array[Float]]): DataFrame = {
    val schema = types.StructType(Seq(
      types.StructField("cluster", types.IntegerType, nullable = false),
      types.StructField("c", types.ArrayType(types.FloatType, false), false)))
    val rows: java.util.List[Row] = java.util.Arrays.asList(
      cents.zipWithIndex.map { case (c, i) => Row(i, c.toSeq) }: _*)
    spark.createDataFrame(rows, schema)
      .withColumn("cnrm", sqrt(dotF(col("c"), col("c"))))
  }

  /** Nearest centroid per row by cosine: a k-row broadcast cross join +
    * codegen'd dots + one max_by per id. Ties break toward the lowest
    * cluster id, so assignment is deterministic given the codebook.
    */
  private[pipeline] def assign(v: DataFrame, cents: DataFrame): DataFrame =
    v.crossJoin(broadcast(cents))
      .select(col("id"), col("cluster"),
        graft.functions.VectorFunctions.safeRatio(dotF(col("v"), col("c")),
          col("nrm") * col("cnrm")).as("sim"))
      .groupBy(col("id"))
      .agg(max_by(col("cluster"),
        struct(col("sim"), -col("cluster"))).as("cluster"))

  /** Spherical k-means codebook over the corpus: `iters` Lloyd rounds,
    * deterministically seeded (initial centroids are the `nlist` corpus
    * vectors with the smallest xxhash64(id, seed)). The model state
    * collected to the driver is nlist x dim floats — an endpoint-sized
    * codebook, the one legitimate driver-side artifact of IVF (the
    * corpus-sized work: assignment and per-cluster means, stays in
    * map-side-combined DataFrame aggregations).
    *
    * Caveat (documented, not hidden): per-cluster means sum floating
    * point in partition order, so codebooks can differ at ~1e-16 across
    * cluster layouts; boundary vectors may then land in a different
    * cell. IVF recall is therefore pinned statistically in PipelineSpec
    * rather than oracled.
    */
  def ivfCodebook(corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int = 16, iters: Int = 2, seed: Long = 42L): Seq[Array[Float]] = {
    val spark = corpus.sparkSession
    val v = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("nrm", sqrt(dotF(col("v"), col("v"))))
    var cents: Seq[Array[Float]] =
      v.select(col("v"), xxhash64(col("id"), lit(seed)).as("h"))
        .orderBy(col("h")).limit(nlist)
        .collect().map(_.getSeq[Float](0).toArray).toSeq
    for (_ <- 1 to iters) {
      val assigned = assign(v, centroidDf(spark, cents))
      val means = assigned.join(v, "id")
        .select(col("cluster"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("cluster"), col("pos"))
        .agg(avg(col("x").cast("double")).as("m"))
        .collect()
      val byCluster = means.groupBy(_.getInt(0))
      cents = cents.zipWithIndex.map { case (old, i) =>
        byCluster.get(i) match {
          case Some(rows) =>
            rows.sortBy(_.getInt(1)).map(_.getDouble(2).toFloat).toArray
          case None => old // empty cell keeps its centroid
        }
      }
    }
    cents
  }

  /** Flat (sub-space, centroid id, centroid) relation of a PQ model —
    * m*k small rows, the broadcastable form every PQ stage consumes.
    */
  private def flatBooks(spark: org.apache.spark.sql.SparkSession,
      books: Seq[Seq[Array[Float]]]): DataFrame = {
    import spark.implicits._
    books.zipWithIndex.flatMap { case (book, j) =>
      book.zipWithIndex.map { case (c, ci) => (j, ci, c.toSeq) }
    }.toDF("j", "ci", "c")
  }

  /** Product-quantization codebooks (Jégou et al. 2011): the vector
    * space splits into `m` contiguous sub-spaces and each gets its own
    * `k`-centroid EUCLIDEAN k-means codebook (the objective ADC
    * reconstruction minimizes). All m sub-problems train TOGETHER:
    * each Lloyd round is ONE assignment job over the flat
    * (sub-space, centroid) relation and ONE per-(sub-space, centroid,
    * coordinate) mean aggregation — iters+1 driver round-trips total,
    * where a per-sub-space loop would pay m*iters*2 sequential jobs
    * (measured 4x the whole query's budget at m=16). The model is
    * m*k*(dim/m) floats — an endpoint-sized driver artifact like the
    * IVF codebook, with the same documented float-mean caveat.
    */
  def pqCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int = 8, k: Int = 16, dim: Int = 64, iters: Int = 2,
      seed: Long = 42L): Seq[Seq[Array[Float]]] = {
    import graft.functions.VectorFunctions.dotF
    require(dim % m == 0, s"dim $dim must split evenly into $m sub-spaces")
    val sub = dim / m
    val spark = corpus.sparkSession
    val v = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
    // init: the k corpus vectors with the smallest xxhash64(id, seed),
    // sliced per sub-space (standard sample-init, shared across subs)
    val initRows = v.select(col("v"), xxhash64(col("id"), lit(seed)).as("h"))
      .orderBy(col("h")).limit(k)
      .collect().map(_.getSeq[Float](0).toArray)
    var books: Seq[Seq[Array[Float]]] = (0 until m).map(j =>
      initRows.toSeq.map(r => r.slice(j * sub, j * sub + sub)))
    for (_ <- 1 to iters) {
      val cents = flatBooks(spark, books)
      val assigned = v.crossJoin(broadcast(cents))
        .select(col("id"), col("j"), col("ci"),
          (dotF(slice(col("v"), col("j") * sub + 1, lit(sub)), col("c")) -
            dotF(col("c"), col("c")) / 2).as("s"))
        .groupBy(col("id"), col("j"))
        .agg(max_by(col("ci"), struct(col("s"), -col("ci"))).as("ci"))
      val means = assigned.join(v, "id")
        .select(col("j"), col("ci"),
          posexplode(slice(col("v"), col("j") * sub + 1, lit(sub)))
            .as(Seq("pos", "x")))
        .groupBy(col("j"), col("ci"), col("pos"))
        .agg(avg(col("x").cast("double")).as("mv"))
        .collect()
      val byJc = means.groupBy(r => (r.getInt(0), r.getInt(1)))
      books = books.zipWithIndex.map { case (book, j) =>
        book.zipWithIndex.map { case (old, ci) =>
          byJc.get((j, ci)) match {
            case Some(rows) =>
              rows.sortBy(_.getInt(2)).map(_.getDouble(3).toFloat).toArray
            case None => old // empty cell keeps its centroid
          }
        }
      }
    }
    books
  }

  /** PQ encoding: each vector becomes m small codes (nearest centroid
    * per sub-space) plus its TRUE norm — 1 byte per sub-space instead
    * of 4*dim, the ~32x compression that lets a billion-vector index
    * sit in cluster memory. Output: (id, codes array<int>, nrm).
    * Deterministic given the codebooks (ties break to the lowest
    * centroid id, same rule as [[assign]]).
    */
  def pqEncode(df: DataFrame, idCol: String, vecCol: String,
      books: Seq[Seq[Array[Float]]]): DataFrame = {
    import graft.functions.VectorFunctions.dotF
    val spark = df.sparkSession
    val dimSub = books.head.head.length
    // spread: encode is m*k dots per corpus row against the broadcast
    // codebooks, driven by the scan's partitioning (no-op at scale)
    val v = Dedup.spread(df.select(col(idCol).as("id"), col(vecCol).as("v")))
      .withColumn("nrm", sqrt(dotF(col("v"), col("v"))))
    // one cross join against the FLAT (subspace, centroid) relation —
    // m*k rows broadcast — then one max_by per (id, subspace): encode
    // is a single pass however many sub-spaces there are
    val cents = flatBooks(spark, books)
      .withColumn("cnrm", sqrt(dotF(col("c"), col("c"))))
    // Euclidean-optimal assignment: argmin ||x_j - c||^2 ==
    // argmax (x_j . c - ||c||^2 / 2) — the objective that minimizes
    // the ADC dot-product reconstruction error (a cosine assignment
    // here picks directionally-close but magnitude-wrong centroids
    // and measurably collapses recall)
    val scored = v.crossJoin(broadcast(cents))
      .select(col("id"), col("nrm"), col("j"), col("ci"),
        (dotF(slice(col("v"), col("j") * dimSub + 1, lit(dimSub)),
          col("c")) - col("cnrm") * col("cnrm") / 2).as("s"))
    scored.groupBy(col("id"), col("nrm"), col("j"))
      .agg(max_by(col("ci"), struct(col("s"), -col("ci"))).as("ci"))
      .groupBy(col("id"), col("nrm"))
      .agg(array_sort(collect_list(struct(col("j"), col("ci")))).as("p"))
      .select(col("id"),
        transform(col("p"), e => e("ci")).as("codes"), col("nrm"))
  }

  /** Approximate cosine top-k by asymmetric distance computation over
    * PQ codes: each query precomputes an m*k lookup table of partial
    * dots against the codebooks (a broadcast of m*k rows per query),
    * and a corpus row's approximate dot is the sum of its m table
    * hits — the scan touches CODES (m bytes/vector), never the
    * vectors. This is the memory-bound ANN path: the win is 32x fewer
    * bytes per comparison, not fewer comparisons (compose with the
    * IVF cell restriction of [[cosineTopKIvf]] when comparison COUNT
    * is the bottleneck). Normalization uses the stored true corpus
    * norms, so scores are approximate only through quantization.
    * Accuracy is pinned statistically in PipelineSpec (recall vs
    * [[cosineTopK]]; rows-only in the gate like the other float-mean
    * paths).
    */
  /** `shortlistFactor`: ADC keeps k*factor candidates per query and the
    * TRUE vectors of only that shortlist are fetched for an exact
    * cosine re-rank — the standard PQ serving shape (codes prune, a
    * bounded exact pass ranks). factor=1 skips the re-rank (pure ADC).
    */
  def cosineTopKPq(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, m: Int = 8, codebookK: Int = 16,
      dim: Int = 64, iters: Int = 2, seed: Long = 42L,
      shortlistFactor: Int = 4,
      // a pre-trained model ([[pqCodebooks]] output) skips training:
      // production indexes train ONCE and serve many query batches —
      // the search path is the steady-state operator
      trainedBooks: Option[Seq[Seq[Array[Float]]]] = None): DataFrame = {
    require(shortlistFactor >= 1, "shortlistFactor must be >= 1")
    import graft.functions.VectorFunctions.dotF
    val spark = corpus.sparkSession
    val books = trainedBooks.getOrElse(
      pqCodebooks(corpus, idCol, vecCol, m, codebookK, dim, iters, seed))
    val dimSub = dim / m
    val codes = pqEncode(corpus, idCol, vecCol, books)
      .select(col("id").as("neighbor_id"),
        posexplode(col("codes")).as(Seq("j", "ci")), col("nrm"))
    val cents = flatBooks(spark, books)
    // per-query LUT: partial dot of the query's j-th slice with every
    // centroid of sub-space j — m*k rows per query, broadcast
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("qnrm", sqrt(dotF(col("qv"), col("qv"))))
    val lut = q.crossJoin(broadcast(cents))
      .select(col("query_id"), col("qnrm"), col("j"), col("ci"),
        dotF(slice(col("qv"), col("j") * dimSub + 1, lit(dimSub)),
          col("c")).as("pd"))
    val scored = codes.join(broadcast(lut), Seq("j", "ci"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .groupBy(col("query_id"), col("neighbor_id"), col("qnrm"), col("nrm"))
      .agg(sum(col("pd")).as("adot"))
      .select(col("query_id"), col("neighbor_id"),
        graft.functions.VectorFunctions.safeRatio(col("adot"),
          col("qnrm") * col("nrm")).as("sim"))
    if (shortlistFactor == 1) topKPerQuery(scored, k)
    else {
      val shortlist = topKPerQuery(scored, k * shortlistFactor)
        .select(col("query_id"), col("neighbor_id"))
      val c = withCorpusNorm(corpus.select(col(idCol).as("neighbor_id"),
        col(vecCol).as("cv")))
      val rescored = c.join(broadcast(shortlist), "neighbor_id")
        .join(broadcast(withQueryNorm(q.select(col("query_id"),
          col("qv")))), "query_id")
        .withColumn("sim", simExpr)
      topKPerQuery(rescored, k)
    }
  }

  /** Approximate top-k via IVF: corpus rows are indexed by nearest
    * codebook cell, each query probes its `nprobe` closest cells, and
    * exact cosine ranks the candidates — the second scale path next to
    * [[cosineTopKLsh]]. The candidate join is cell-local (an equi join
    * on the cluster id), so at 100 TB each probe touches ~nprobe/nlist
    * of the corpus instead of all of it; the codebook is nlist x dim
    * floats broadcast to every task. Same pinning as the LSH path:
    * query-side relations and the id-only candidate set are broadcast,
    * the corpus is streamed.
    */
  def cosineTopKIvf(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nlist: Int = 16, nprobe: Int = 4,
      iters: Int = 2, seed: Long = 42L,
      maxCandidatesPerQuery: Int = 10000): DataFrame = {
    val spark = corpus.sparkSession
    val cents = centroidDf(spark,
      ivfCodebook(corpus, idCol, vecCol, nlist, iters, seed))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val cAssigned = assign(
      Dedup.spread(c).select(col("neighbor_id").as("id"), col("cv").as("v"))
        .withColumn("nrm", sqrt(dotF(col("v"), col("v")))), cents)
      .select(col("id").as("neighbor_id"), col("cluster"))
    // nprobe nearest cells per query (not just the top one) — recall
    // insurance for queries near cell boundaries
    val qProbes = q
      .withColumn("nrm", sqrt(dotF(col("qv"), col("qv"))))
      .crossJoin(broadcast(cents))
      .select(col("query_id"),
        graft.functions.VectorFunctions.safeRatio(dotF(col("qv"), col("c")),
          col("nrm") * col("cnrm")).as("sim"),
        col("cluster"))
      .withColumn("pr", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("sim").desc, col("cluster"))))
      .filter(col("pr") <= nprobe)
      .select(col("query_id"), col("cluster"), col("pr"))
    // each corpus row sits in exactly one cell, so (query, neighbor)
    // pairs are already unique — probe rank (how close the neighbor's
    // cell is to the query) is the relevance proxy for a binding cap
    val cand = capPerQuery(
      cAssigned.join(broadcast(qProbes), "cluster")
        .filter(col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"), col("pr")),
      maxCandidatesPerQuery, col("pr").asc)
    val scored = withCorpusNorm(c)
      .join(broadcast(cand), "neighbor_id")
      .join(broadcast(withQueryNorm(q)), "query_id")
      .withColumn("sim", simExpr)
    topKPerQuery(scored, k)
  }

  /** IVF-PQ — the production vector-index composition (FAISS's IVFPQ
    * shape): the IVF coarse quantizer restricts WHICH vectors each
    * query compares against (~nprobe/nlist of the corpus), and PQ
    * codes bound HOW MANY BYTES each comparison touches (m bytes, not
    * 4*dim floats); the ADC shortlist is re-ranked with true vectors
    * exactly as in [[cosineTopKPq]]. This variant encodes raw vectors
    * (not IVF residuals) — the simpler book-sharing form, documented
    * deliberately: it keeps full-probe behavior EXACTLY equal to the
    * plain PQ scan (the anchor PipelineSpec pins, the same
    * full-probe==exact contract q72 uses for IVF).
    */
  def cosineTopKIvfPq(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, nlist: Int = 16,
      nprobe: Int = 4, m: Int = 8, codebookK: Int = 16, dim: Int = 64,
      iters: Int = 2, seed: Long = 42L,
      shortlistFactor: Int = 4,
      // pre-trained coarse + PQ models ([[ivfCodebook]]/[[pqCodebooks]]
      // outputs) skip training — see [[cosineTopKPq]]
      trainedCoarse: Option[Seq[Array[Float]]] = None,
      trainedBooks: Option[Seq[Seq[Array[Float]]]] = None): DataFrame = {
    require(shortlistFactor >= 1, "shortlistFactor must be >= 1")
    val spark = corpus.sparkSession
    val coarse = centroidDf(spark, trainedCoarse.getOrElse(
      ivfCodebook(corpus, idCol, vecCol, nlist, iters, seed)))
    val books = trainedBooks.getOrElse(
      pqCodebooks(corpus, idCol, vecCol, m, codebookK, dim, iters, seed))
    val dimSub = dim / m
    val cAssigned = assign(
      Dedup.spread(corpus.select(col(idCol).as("id"), col(vecCol).as("v")))
        .withColumn("nrm", sqrt(dotF(col("v"), col("v")))), coarse)
      .select(col("id"), col("cluster"))
    val codes = pqEncode(corpus, idCol, vecCol, books)
      .join(cAssigned, "id")
      .select(col("id").as("neighbor_id"), col("cluster"),
        posexplode(col("codes")).as(Seq("j", "ci")), col("nrm"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("qnrm", sqrt(dotF(col("qv"), col("qv"))))
    val qProbes = q
      .crossJoin(broadcast(coarse))
      .select(col("query_id"),
        graft.functions.VectorFunctions.safeRatio(dotF(col("qv"), col("c")),
          col("qnrm") * col("cnrm")).as("sim"),
        col("cluster"))
      .withColumn("pr", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("sim").desc, col("cluster"))))
      .filter(col("pr") <= nprobe)
      .select(col("query_id"), col("cluster"))
    val lut = q.crossJoin(broadcast(flatBooks(spark, books)))
      .select(col("query_id"), col("qnrm"), col("j"), col("ci"),
        dotF(slice(col("qv"), col("j") * dimSub + 1, lit(dimSub)),
          col("c")).as("pd"))
    // the probed-cell restriction joins BEFORE the LUT: only codes in
    // a query's nprobe cells are ever scored
    val scored = codes.join(broadcast(qProbes), "cluster")
      .join(broadcast(lut), Seq("query_id", "j", "ci"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .groupBy(col("query_id"), col("neighbor_id"), col("qnrm"), col("nrm"))
      .agg(sum(col("pd")).as("adot"))
      .select(col("query_id"), col("neighbor_id"),
        graft.functions.VectorFunctions.safeRatio(col("adot"),
          col("qnrm") * col("nrm")).as("sim"))
    if (shortlistFactor == 1) topKPerQuery(scored, k)
    else {
      val shortlist = topKPerQuery(scored, k * shortlistFactor)
        .select(col("query_id"), col("neighbor_id"))
      val c = withCorpusNorm(corpus.select(col(idCol).as("neighbor_id"),
        col(vecCol).as("cv")))
      val rescored = c.join(broadcast(shortlist), "neighbor_id")
        .join(broadcast(withQueryNorm(q.select(col("query_id"),
          col("qv")))), "query_id")
        .withColumn("sim", simExpr)
      topKPerQuery(rescored, k)
    }
  }
}
