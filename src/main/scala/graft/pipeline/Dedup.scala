package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._

/** Deduplication operators for large text corpora (the LLM-pipeline
  * tier of BASELINE's north star; absent in the reference, which never
  * goes beyond scan/filter — SURVEY §2).
  *
  * Scale design (100 TB): every strategy here generates candidate
  * pairs through a KEY-BUCKETED equi-join (content hash, shared
  * shingle, LSH band bucket, SimHash chunk) — never an all-pairs
  * cartesian. Buckets shuffle-partition by key, so 1000 executors
  * each see only their buckets; skewed buckets (a shingle present in
  * every doc) are the one hazard, handled by `maxShingleDf` document-
  * frequency capping plus AQE skew splitting. A pair that shares
  * several buckets is deduplicated before verification: with a
  * `distinct` on the MinHash and incremental paths, and on the
  * embedding LSH and SimHash paths by emitting it only in its first
  * shared table or chunk, which the per-row signature or fingerprint
  * carried through the bucket exchange decides inside the join
  * ([[nearDupEmbeddingLsh]], [[nearDupSimhash]]).
  */
object Dedup {

  /** Exact dedup by content hash: one shuffle (groupBy md5), keeps the
    * smallest id per distinct content. Output: (hash, keep_id, n_copies).
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Exact dedup, ROW-PRESERVING form: returns the surviving rows
    * themselves (smallest id per distinct content, with its text) in
    * ONE shuffle — `min` over a (id, text) struct is lexicographic, so
    * the min-id row rides the same map-side-combined aggregate that
    * [[exact]] uses for group stats. This is the form a pipeline
    * composes: downstream projections (splits, packing, export) chain
    * onto the survivors without joining back to the corpus.
    */
  def exactKeepFirst(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("__h"))
      .agg(min(struct(col(idCol), col(textCol))).as("__r"))
      .select(col(s"__r.$idCol").as(idCol), col(s"__r.$textCol").as(textCol))

  /** Estimated-size cap of a batch-side relation the incremental
    * operators broadcast: past it they fall back to a shuffle, or skip
    * the broadcast pre-filter, rather than die on the 8 GB broadcast
    * hard cap or an executor OOM.
    */
  private[graft] val MaxBroadcastBytes: Long = 512L << 20

  /** `df`'s scan partition count ESTIMATED from logical-plan stats
    * (file bytes / maxPartitionBytes) — never `.rdd`, which forces
    * physical planning and under AQE can eagerly run upstream shuffle
    * stages that the real query then recomputes. Unknown-size sources
    * (stats = default huge) estimate high.
    */
  private def estParts(df: DataFrame): BigInt =
    df.queryExecution.optimizedPlan.stats.sizeInBytes /
      df.sparkSession.sessionState.conf.filesMaxPartitionBytes + 1

  /** Round-robin repartition to full parallelism — ONLY when the scan
    * would plan fewer partitions than cores (small-file artifact; see
    * [[estParts]]). Explicit numPartitions, so AQE never coalesces it
    * back; unknown-size sources are left untouched.
    */
  private[graft] def spread(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (estParts(df) < p) df.repartition(p) else df
  }

  /** True when `df`'s estimated size already spans at least core-count
    * scan partitions — [[spread]]'s stats gate, inverted: the
    * incremental operators use it to decide whether a corpus-sized
    * history relation is worth touched-slice pre-filtering. The
    * broadcast-semi filter pays one broadcast build plus a probe and
    * SERIALIZES the history stage behind the batch key scan (the
    * stages ran concurrently without it), so it is pure added latency
    * while the history exchange it removes is small — measured +0.4 s
    * on q151's 400-doc inline index at sf0.1 — and an arbitrarily
    * large win once history outgrows the batch (any real scale: the
    * full-index exchange this removes is O(corpus) per batch).
    */
  private[graft] def atScale(df: DataFrame): Boolean =
    estParts(df) >= df.sparkSession.sparkContext.defaultParallelism

  /** `rel` pre-filtered to the touched slice — a broadcast LEFT SEMI
    * against the (batch-bounded) `keys` relation on `joinCols` — when
    * the [[atScale]] gate says the filter pays and the key set
    * estimates at most `maxBroadcastBytes`; `rel` unchanged otherwise.
    * Output-preserving wherever rows of `rel` outside `keys` cannot
    * affect the result (the incremental operators' probes all have
    * this property), so either branch gives the same rows.
    */
  private[graft] def touchedSlice(rel: DataFrame, keys: DataFrame,
      joinCols: Seq[String],
      maxBroadcastBytes: Long = MaxBroadcastBytes): DataFrame = {
    lazy val touched = keys.select(joinCols.map(col): _*).distinct()
    if (atScale(rel) &&
        touched.queryExecution.optimizedPlan.stats.sizeInBytes <= maxBroadcastBytes)
      rel.join(broadcast(touched), joinCols, "left_semi")
    else rel
  }

  /** COMPLETE near-dup pairs by exact n-gram Jaccard >= threshold.
    *
    * Candidate generation is an inverted-index self-join on shingles:
    * any pair with Jaccard > 0 shares >= 1 shingle, so recall is 1.0
    * by construction (unlike MinHash) while still being a bucketed
    * equi-join. Verification recomputes exact Jaccard on candidates
    * only. `maxShingleDf` drops ubiquitous shingles from the INDEX
    * (candidate gen) for skew control at scale — pairs sharing only
    * those are below any useful threshold anyway; pass None for the
    * oracle-exact complete variant.
    */
  def nearDupJaccard(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3, threshold: Double = 0.5,
      maxShingleDf: Option[Int] = None): DataFrame = {
    // the index carries 64-bit shingle HASHES, not strings
    // (WordShingleHashes — same one-pass tokenization as WordShingles,
    // xxhash64 per window): every exchange, sort, and join comparison
    // below runs on fixed 8-byte keys instead of variable ~20-40-byte
    // text. |A ∩ B| via hash equality over-counts only on a 64-bit
    // collision (odds ~1e-10 at 1e9 shingles — the same budget the
    // MinHash index and the decontamination probe already accept);
    // the string-shingle oracle stays value-identical at any fixture
    // scale that can't produce one.
    val sets = spread(docs)
      .select(col(idCol).as("id"),
        graft.functions.ShingleExpressions.wordShingleHashes(
          col(textCol), k).as("sh"))
    // carry |set| through the index so Jaccard needs NO join back to the
    // shingle arrays: for distinct-element sets, the equi-join emits one
    // row per SHARED shingle, so count(*) per pair IS |A ∩ B|, and
    // |A ∪ B| = |A| + |B| - |A ∩ B|. The join feeds straight into a
    // partially-aggregated groupBy (map-side combine) instead of a
    // distinct + two wide array shuffles — the difference between
    // O(pairs) small rows and O(pairs) array payloads at 100 TB.
    val inv0 = sets.select(col("id"), size(col("sh")).as("n"),
      explode(col("sh")).as("s"))
    // the explicit repartition by the JOIN KEY makes both self-join
    // sides consume one identical exchange: the shuffle-stage cache
    // materializes the index (shingling included) ONCE and the second
    // side is a ReusedExchange — without it each side re-evaluated the
    // whole shingle pipeline (measured 3.5x at sf0.1). The capped
    // variant filters on top of the SAME exchange. The partition count
    // is PINNED (user-specified counts are exempt from AQE coalescing):
    // with it floating on AQE's advisory sizing, the self-join's stage
    // boundaries re-planned run-to-run and the operator oscillated
    // ~1.9x between identical runs (BENCH_NOTES r14-r16's q41/q63
    // lightning rod). defaultParallelism keeps it cluster-proportional.
    val part = inv0.repartition(
      inv0.sparkSession.sparkContext.defaultParallelism, col("s"))
    val inv1 = maxShingleDf match {
      case Some(cap) =>
        // df-cap as a broadcast ANTI join against the HOT keys only:
        // shingles with df > cap are the Zipf head — few by definition —
        // so the dropped-key set is tiny, broadcasts, and the filter
        // streams over the reused exchange with no sort and O(1)-per-key
        // agg state. Rejected shapes: a window-df pass buffers every
        // shingle group to count it (an unbounded-group hazard at scale
        // — the exact blowup the cap exists to prevent) and measured 2x
        // the UNCAPPED operator at sf0.1 (round-4 verdict); a groupBy +
        // join-back on the KEPT keys evaluates the shingle expression
        // twice (measured 1.4x). Honest scale note: the cap pays off on
        // Zipfian real corpora where the df head carries most of Σ df²;
        // the synthetic bench fixture's dfs are uniformly moderate
        // (median 17, max 47 at sf0.1 — cap=32 prunes only ~4% of join
        // work while keeping recall 0.999); PipelineSpec's Zipf-slice
        // case demonstrates the hot-key collapse production corpora see.
        val hot = part.groupBy(col("s")).agg(count(lit(1)).as("df"))
          .filter(col("df") > cap).select("s")
        // the anti join is SMJ, NOT broadcast: `hot` is every distinct
        // shingle with df > cap, and on a billion-document corpus at
        // cap=32 that is tens of millions of keys — "few" as a fraction
        // of index ROWS (the Zipf head), unbounded as a KEY SET, so a
        // broadcast would collect it to the driver and die exactly in
        // the at-scale configuration the cap exists for. Both sides
        // already hash-partition by s from the same exchange, so the
        // SMJ anti adds sorts the downstream self-join needs anyway.
        //
        // known cost, measured and accepted: AQE's stage cache does NOT
        // reuse this subtree between the two self-join sides (it does
        // for the uncapped path, PlanSpec-asserted) — with a nested
        // join inside the subtree and the verification aggregate above,
        // the sides stop canonical-matching after adaptive replanning,
        // so shingling and the df count run once per side. Bisected:
        // join-only consumers reuse; adding the top agg breaks it;
        // broadcast-vs-SMJ anti and a trailing repartition change
        // nothing. Even so this shape beats the round-4 window-df pass
        // 2.5x at sf0.1 (the window buffered every shingle group — the
        // unbounded-memory hazard the cap exists to prevent), and
        // recomputing a narrow fixed-width index is embarrassingly
        // parallel at scale while a buffering window is not.
        part.join(hot.hint("SHUFFLE_MERGE"), Seq("s"), "left_anti")
      case None => part
    }
    // pin sort-merge for the index self-join: the skewed hot-shingle
    // key makes AQE's size-based strategy choice flap (measured up to
    // 10x run-to-run variance); SMJ is the stable, spill-safe plan.
    val inv = inv1.hint("SHUFFLE_MERGE")
    inv.as("a").join(inv.as("b"),
        col("a.s") === col("b.s") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id1"), col("b.id").as("id2"),
        col("a.n").as("na"), col("b.n").as("nb"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("na") + col("nb") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("id1", "id2", "jaccard")
  }

  /** MinHash + banded-LSH near-dup: candidates only within LSH band
    * buckets (numHashes = bands * rowsPerBand), then exact-Jaccard
    * verified. Probabilistic recall (tunable via bands/rows), but the
    * join volume is bucket-local — the scale path when the full
    * inverted index is too hot. Signature is deterministic (seeded
    * permutations), so results are stable across runs/cluster sizes.
    *
    * Round-3 shape (the round-2 bench had this 4x slower than the
    * EXACT inverted-index path it exists to beat):
    *   - all 64 permutation minima come from ONE codegen'd groupBy
    *     pass over exploded shingle hashes (map-side combined), not 64
    *     interpreted per-row `aggregate` traversals;
    *   - verification uses the count-shared-shingles identity (see
    *     nearDupJaccard) — candidate pairs join the exploded index on
    *     small (id, n, shingle) rows; the wide shingle ARRAYS are
    *     never shuffled at all.
    * The exploded index feeds signatures and both verification sides
    * from one definition; recomputing it per consumer is a narrow
    * projection + split, measured cheaper than caching string arrays
    * (round-2 note) and embarrassingly parallel at any scale.
    */
  /** Exploded distinct-shingle-hash inverted index of a corpus:
    * (id, n = |shingle set|, hv = one 64-bit shingle hash per row),
    * hv-partitioned. The shared substrate of the MinHash family —
    * signatures derive from it, and Jaccard verification counts
    * shared hv values on it. Also the PERSISTABLE half of the
    * incremental index ([[nearDupMinhashIncremental]]).
    */
  def shingleIndex(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3): DataFrame =
    spread(docs)
      .select(col(idCol).as("id"),
        graft.functions.ShingleExpressions.wordShingleHashes(
          col(textCol), k).as("sh"))
      .select(col("id"), size(col("sh")).as("n"),
        explode(col("sh")).as("hv"))
      .repartition(col("hv"))

  /** LSH band-bucket index of a corpus: (id, band, key) — one row per
    * (doc, band). Deterministic given (k, bands, rowsPerBand, seed),
    * so an index built yesterday buckets compatibly with a batch
    * hashed today — the property [[nearDupMinhashIncremental]] rests
    * on. The other persistable half of the incremental index.
    */
  def bandIndex(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3, bands: Int = 16, rowsPerBand: Int = 4,
      seed: Long = 42L): DataFrame =
    bandsOf(shingleIndex(docs, idCol, textCol, k), bands, rowsPerBand, seed)

  private def bandsOf(inv: DataFrame, bands: Int, rowsPerBand: Int,
      seed: Long): DataFrame = {
    val sigs = minhashSignaturesGrouped(
      inv.select(col("id"), pmod(col("hv"), lit(MersennePrime)).as("h")),
      "id", "h", bands * rowsPerBand, seed)
    sigs.select(col("id"),
        explode(lshBandKeys(bands, rowsPerBand)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.key").as("key"))
  }

  def nearDupMinhashLsh(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3, bands: Int = 16, rowsPerBand: Int = 4,
      threshold: Double = 0.5, seed: Long = 42L,
      maxBucketSize: Option[Int] = None): DataFrame = {
    require(threshold > 0.0, "threshold must be positive (pairs sharing " +
      "no shingle are dropped before verification)")
    // shingle STRINGS never exist outside the per-row expression: the
    // fused WordShingleHashes emits the distinct 64-bit xxhash64 set
    // directly (collision odds ~1e-10 at 1e9 shingles), the
    // signature's 31-bit hash derives from it by pmod, and
    // verification counts shared 64-bit values — every shuffle is
    // (long, long) rows.
    // the exploded index feeds THREE consumers (signatures + both
    // verification sides) with three different downstream keys — the
    // trailing repartition materializes one shuffle stage that all
    // three reuse (ReusedExchange), so the shingle pipeline runs once
    // per corpus, not once per consumer. One extra narrow (long,long)
    // shuffle buys 2 fewer shingling passes. It is NOT cached:
    // recomputing a narrow projection per consumer is cheaper than
    // cache residency + eviction churn (round-2 note), and keeps the
    // operator stateless for callers.
    val inv = shingleIndex(docs, idCol, textCol, k)
    val sigs = minhashSignaturesGrouped(
      inv.select(col("id"), pmod(col("hv"), lit(MersennePrime)).as("h")),
      "id", "h", bands * rowsPerBand, seed)
    // every join below pins SHUFFLE_MERGE, same treatment as the q41
    // index self-join (see nearDupJaccard): the band-bucket and shared-
    // hash keys are skewed, and AQE's size-based strategy choice flaps
    // on them — measured 20x run-to-run variance in long sessions
    // (round-3 driver bench 110.8s vs 5.5s isolated, same commit).
    // SMJ is the stable, spill-safe plan at any scale; hints are placed
    // so every hinted subtree ends under a join (no dangling-hint logs)
    val buckets0 = sigs.select(col("id"),
        explode(lshBandKeys(bands, rowsPerBand)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.key").as("key"))
    // bucket-size cap — the MinHash twin of the Jaccard index's df cap:
    // a mass-duplicate cluster (N copies of one page) lands its whole
    // membership in ONE bucket of EVERY band, and the self-join below
    // would emit N²/2 candidates per band — the quadratic blowup no
    // cluster size survives. Buckets larger than the cap are dropped
    // from candidate generation via the same SMJ anti shape as the
    // Jaccard cap (oversized-key set is unbounded — never broadcast).
    // Recall loss is confined to pairs whose EVERY shared bucket is
    // oversized — i.e. mass-duplicate groups, which exact dedup
    // upstream removes for a fraction of the cost; pairs sharing any
    // normal-sized bucket still surface.
    val buckets1 = maxBucketSize match {
      case Some(cap) =>
        val big = buckets0.groupBy(col("band"), col("key"))
          .agg(count(lit(1)).as("bs"))
          .filter(col("bs") > cap).select("band", "key")
        buckets0.join(big.hint("SHUFFLE_MERGE"),
          Seq("band", "key"), "left_anti")
      case None => buckets0
    }
    // explicit repartition by the self-join key, the q41 inverted-index
    // treatment (see nearDupJaccard): one exchange materializes the
    // whole signature+banding pipeline and BOTH self-join sides consume
    // it (the second as a runtime ReusedExchange — join-only consumers
    // reuse, unlike the agg-topped shapes documented above), so the
    // 64-min MinHash aggregate runs once per corpus, not once per side
    val buckets = buckets1
      .repartition(col("band"), col("key")).hint("SHUFFLE_MERGE")
    val cand = buckets.as("a").join(buckets.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"))
      .distinct()
    val invJ = inv.hint("SHUFFLE_MERGE")
    cand
      .join(invJ.select(col("id").as("id1"), col("n").as("na"), col("hv")), "id1")
      .join(invJ.select(col("id").as("id2"), col("n").as("nb"), col("hv")),
        Seq("id2", "hv"))
      .groupBy("id1", "id2", "na", "nb")
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("na") + col("nb") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("id1", "id2", "jaccard")
  }

  /** Embedding-cosine near-dup, COMPLETE variant: every pair of rows
    * whose embedding cosine >= threshold. All-pairs by construction —
    * the oracle-exact baseline, quadratic in corpus size (the join has
    * no equi key, so it plans as a broadcast nested loop). Use
    * [[nearDupEmbeddingLsh]] at scale; this exists as its correctness
    * anchor and for endpoint-sized slices.
    */
  import graft.functions.VectorFunctions.dotF

  def nearDupEmbedding(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    // norms once per VECTOR (linear), not per pair (quadratic); the
    // pair dot is the native FloatVectorDot expression — the built-in
    // higher-order form ran interpreted at ~35us/pair, which DOMINATED
    // this operator (17s for 320k pairs at sf0.1; 0.9s of that was the
    // join)
    // spread: the all-pairs join's per-pair dot work is driven by the
    // LEFT (streamed) side's scan partitioning — a single small parquet
    // file otherwise serializes the whole quadratic verify on one task
    // (r19 profile: the entire operator ran as 1 partition)
    val v = spread(df.select(col(idCol).as("id"), col(vecCol).as("v")))
      .withColumn("nrm", sqrt(dotF(col("v"), col("v"))))
    v.as("a").join(v.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"),
        graft.functions.VectorFunctions.safeRatio(
          dotF(col("a.v"), col("b.v")),
          col("a.nrm") * col("b.nrm")).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** Embedding-cosine near-dup, scale path: candidates are pairs
    * sharing a hyperplane-LSH bucket in ANY of `numTables` tables
    * (the same bucketing as [[Similarity.cosineTopKLsh]]), verified by
    * exact cosine — so no false positives vs [[nearDupEmbedding]], and
    * recall rises with numTables (PipelineSpec pins it vs the exact
    * variant). Join volume is bucket-local: at 100 TB each (table,
    * bucket) key holds a small slice of the corpus instead of the
    * quadratic all-pairs.
    *
    * One pass: each row's vector, norm and per-table signature
    * (`sig`, [[Similarity.lshSignatures]]) are computed once and ride
    * through the ONE (table, bucket) exchange that feeds both sides of
    * the pinned-SMJ self-join (the second side reuses it). A pair that
    * collides in several tables is emitted only in the lowest-numbered
    * table where the two signatures agree, so each pair appears exactly
    * once with no `distinct`, and its sim is computed in the join's
    * projection from the carried vectors, with no re-join. The exchange
    * moves O(numTables x corpus x vector) bytes, independent of the
    * number of candidate pairs.
    */
  def nearDupEmbeddingLsh(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, planesPerTable: Int = 4, numTables: Int = 16,
      dim: Int = 64, seed: Long = 42L): DataFrame = {
    val v = df.select(col(idCol).as("id"), col(vecCol).as("v"))
      .select(col("id"), col("v"), sqrt(dotF(col("v"), col("v"))).as("nrm"),
        Similarity.lshSignatures("id", "v", planesPerTable, numTables, dim,
          seed).as("sig"))
    val buckets = v
      .select(col("id"), col("v"), col("nrm"), col("sig"),
        posexplode(col("sig")).as(Seq("table", "bucket")))
      .repartition(col("table"), col("bucket")).hint("SHUFFLE_MERGE")
    // lowest table in which the pair shares a bucket (the join keys
    // guarantee one exists)
    val firstShared = coalesce((0 until numTables).map(t =>
      when(col("a.sig")(t) === col("b.sig")(t), lit(t))): _*)
    buckets.as("a").join(buckets.as("b"),
        col("a.table") === col("b.table") &&
          col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id") &&
          col("a.table") === firstShared)
      .select(col("a.id").as("id1"), col("b.id").as("id2"),
        graft.functions.VectorFunctions.safeRatio(
          dotF(col("a.v"), col("b.v")),
          col("a.nrm") * col("b.nrm")).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** SimHash near-dup: 64-bit fingerprints, candidates = pairs sharing
    * one of four 16-bit chunks (pigeonhole-complete for hamming <= 3),
    * verified by exact hamming distance. Candidate join is chunk-value
    * bucketed.
    *
    * One pass: each row's fingerprint is computed once by the native
    * [[graft.functions.SimhashFingerprint]] (equal to
    * `TextFunctions.simhash`) and rides through the ONE (chunk, value)
    * exchange that feeds both sides of the pinned-SMJ self-join (the
    * second side reuses it). A pair that shares several chunks is
    * emitted only in the lowest chunk where the two fingerprints agree,
    * so each pair appears exactly once with no `distinct`. Rows without
    * tokens have no fingerprint, so every chunk value is null and the
    * join on `value` drops them. Each row is fingerprinted on its own,
    * so `idCol` should be unique: two rows with one id that both match
    * a third row emit that pair twice.
    */
  def nearDupSimhash(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3, "chunk scheme is complete only for hamming <= 3")
    // the fingerprint leaves the explode as a generator output, so the
    // isnotnull(fp) that the optimizer infers from the join condition
    // stays above the explode; on a projected fp it would be pushed
    // below, as a second kernel evaluation per row
    val chunks = docs
      .select(col(idCol).as("id"), posexplode(array_repeat(
          graft.functions.ShingleExpressions.simhashFingerprint(
            tokens(col(textCol))), 4)).as(Seq("chunk", "fp")))
      .withColumn("value", call_function("shiftright", col("fp"),
        col("chunk") * 16).bitwiseAND(lit(0xffffL)))
      .repartition(col("chunk"), col("value")).hint("SHUFFLE_MERGE")
    // lowest chunk in which the two fingerprints agree (the join keys
    // guarantee one exists)
    val diff = col("a.fp").bitwiseXOR(col("b.fp"))
    val firstShared = coalesce((0 until 4).map(c =>
      when(shiftright(diff, c * 16).bitwiseAND(lit(0xffffL)) === 0L, lit(c))): _*)
    chunks.as("a").join(chunks.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.value") === col("b.value") &&
          col("a.id") < col("b.id") && col("a.chunk") === firstShared &&
          hamming(col("a.fp"), col("b.fp")) <= maxHamming)
      .select(col("a.id").as("id1"), col("b.id").as("id2"),
        hamming(col("a.fp"), col("b.fp")).as("hamming"))
  }

  /** Incremental exact dedup — the production shape: dedup a NEW batch
    * against the fingerprints of everything already ingested, without
    * re-touching the historical corpus. `seen` is the fingerprint
    * relation accumulated so far (one md5 hex per distinct historical
    * text — md5 so any engine can rebuild or audit the index);
    * the result is the batch rows that are first-occurrences both
    * within the batch (keep-first by id) and against history
    * (anti-join on the fingerprint), plus their `fp` column so the
    * caller appends exactly these rows' fingerprints back to the index
    * (e.g. a graft table the stream sink upserts).
    *
    * Scale: one map-side-combined groupBy over the BATCH (small) and
    * one anti-join against the index keyed on the 32-byte fingerprint
    * — shuffle volume is O(batch + matching index slice), never
    * O(corpus): the corpus-sized index is pre-filtered by a broadcast
    * LEFT SEMI on the batch's own distinct fingerprints (bounded by
    * the batch contract) before its exchange, so only index rows that
    * could actually veto a batch row ever shuffle (guide §3.2;
    * stats-gated on the index size — see [[atScale]]). The historical
    * text itself is never read.
    */
  def exactIncremental(batch: DataFrame, idCol: String, textCol: String,
      seen: DataFrame, fpCol: String): DataFrame = {
    val fp = md5(col(textCol))
    val firstInBatch = batch.withColumn("fp", fp)
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))
          .orderBy(col(idCol))))
      .filter(col("__rn") === 1).drop("__rn")
    // touched-slice probe (stats-gated): an index row whose fp no batch
    // row carries can never remove anything from the anti join's left
    // side
    val seenTouched = touchedSlice(seen.select(col(fpCol).as("fp")),
      batch.select(fp.as("fp")), Seq("fp"))
    firstInBatch.join(seenTouched.distinct(), Seq("fp"), "left_anti")
  }

  /** Incremental MinHash near-dup — [[exactIncremental]]'s fuzzy twin:
    * find every near-duplicate pair between a NEW batch and everything
    * already indexed (plus within the batch itself) WITHOUT re-hashing
    * the historical corpus. History is represented by its two
    * persistable index relations — [[bandIndex]] (candidate
    * generation) and [[shingleIndex]] (Jaccard verification) — built
    * with the SAME (k, bands, rowsPerBand, seed); after the call the
    * caller appends the batch's own index rows (also returned by those
    * functions) to keep the index current.
    *
    * Output: (id1 = batch id, id2 = matched id — historical or
    * batch-internal with id1 < id2, jaccard). Exactness contract
    * (pinned in PipelineSpec): equals [[nearDupMinhashLsh]] run over
    * history ∪ batch, restricted to pairs touching the batch —
    * signatures are deterministic in the seed, so yesterday's buckets
    * and today's agree.
    *
    * Scale: candidate joins are band-bucket equi-joins (batch side is
    * small, the history side streams as SMJ — never broadcast, bucket
    * keys are unbounded); verification joins the batch's shingles
    * against the union index keyed on the 8-byte hash. Work is
    * O(batch + touched index slice), never O(corpus): the history
    * index relations are corpus-sized, but a candidate or verification
    * row can only ever match a key the BATCH itself produces — band
    * keys for candidate generation, shingle hashes for verification —
    * so both history sides are pre-filtered by a broadcast LEFT SEMI
    * on the batch's own distinct key sets before any exchange
    * (stats-gated: engaged once the history relation outgrows
    * core-count scan partitions, i.e. at any real scale; a small
    * history exchanges whole, cheaper than the filter's serialized
    * broadcast — see [[atScale]]). Those key sets are bounded by the
    * batch (the operator's bounded-side contract; mass duplication
    * only SHRINKS a distinct set), unlike the matched-history-id set,
    * which a duplicate-heavy history can blow up — which is why the
    * filters key on batch-derived keys and never on candidate ids.
    * Output-preserving by construction: a history row dropped here
    * joins nothing downstream.
    *
    * Building the returned frame runs Spark jobs: the batch-side
    * shingle index and band relation are materialized by an eager
    * `localCheckpoint()` inside this call, so constructing or
    * explaining the result already executes the batch's shingling and
    * MinHash, before any action on it.
    */
  def nearDupMinhashIncremental(batch: DataFrame, idCol: String,
      textCol: String, histBands: DataFrame, histShingles: DataFrame,
      k: Int = 3, bands: Int = 16, rowsPerBand: Int = 4,
      threshold: Double = 0.5, seed: Long = 42L): DataFrame = {
    require(threshold > 0.0, "threshold must be positive")
    // the BATCH-side index relations are materialized once per
    // execution (localCheckpoint — per-DataFrame, so nothing survives
    // the query; never CacheManager state): they are bounded by the
    // operator's batch contract at any scale, and each feeds 3-4
    // consumers (both candidate self-join sides, verification, and the
    // touched-slice key broadcasts below) that AQE's stage cache fails
    // to reuse across the self-join's b-side — the r20 profile showed
    // the whole batch shingle+MinHash pipeline evaluated twice and the
    // shingle index four times. This is the OPPOSITE call from the
    // full-corpus operator (nearDupMinhashLsh keeps recompute-over-
    // cache): there the relation is corpus-sized, here it is the
    // bounded side.
    val inv = shingleIndex(batch, idCol, textCol, k).localCheckpoint()
    val bBands0 = bandsOf(inv, bands, rowsPerBand, seed).localCheckpoint()
    val bBands = bBands0.hint("SHUFFLE_MERGE")
    // touched-slice probe (guide §3.2 pre-filter the big side,
    // stats-gated — see touchedSlice): only band buckets the batch
    // occupies can generate candidates
    val hBands = touchedSlice(histBands, bBands0, Seq("band", "key"))
      .hint("SHUFFLE_MERGE")
    val candHist = bBands.as("a").join(hBands.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"))
    val candBatch = bBands.as("a").join(bBands.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"))
    val cand = candHist.unionByName(candBatch).distinct()
    // touched-slice probe, verification side (stats-gated): the join
    // below matches history rows on (id2, hv) where hv comes from the
    // batch doc's own shingles — history shingles outside the batch's
    // hv set can never contribute to `inter`
    val histTouched = touchedSlice(histShingles, inv, Seq("hv"))
    val allSh = inv.unionByName(histTouched).hint("SHUFFLE_MERGE")
    val invJ = inv.hint("SHUFFLE_MERGE")
    cand
      .join(invJ.select(col("id").as("id1"), col("n").as("na"), col("hv")),
        "id1")
      .join(allSh.select(col("id").as("id2"), col("n").as("nb"), col("hv")),
        Seq("id2", "hv"))
      .groupBy("id1", "id2", "na", "nb")
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("na") + col("nb") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("id1", "id2", "jaccard")
  }

  /** Normalized vector relation (id, v, nrm) — the persistable
    * verification half of the embedding incremental index
    * ([[nearDupEmbeddingIncremental]]); norms computed once per
    * vector, never per pair.
    */
  def vectorIndex(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    import graft.functions.VectorFunctions.dotF
    df.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("nrm", sqrt(dotF(col("v"), col("v"))))
  }

  /** Hyperplane-LSH bucket relation (id, table, bucket) — the
    * persistable candidate-generation half of the embedding
    * incremental index. Deterministic given (planesPerTable,
    * numTables, dim, seed), so an index built yesterday buckets
    * compatibly with vectors hashed today.
    */
  def embeddingBucketIndex(df: DataFrame, idCol: String, vecCol: String,
      planesPerTable: Int = 4, numTables: Int = 16, dim: Int = 64,
      seed: Long = 42L): DataFrame =
    Similarity.lshBuckets(
      spread(df.select(col(idCol).as("id"), col(vecCol).as("v"))),
      "id", "v", planesPerTable, numTables, dim, seed)

  /** Incremental embedding near-dup — the vector twin of
    * [[nearDupMinhashIncremental]]: every cosine near-duplicate pair
    * between a NEW batch and the indexed history (plus within the
    * batch), probing the persistable [[embeddingBucketIndex]] /
    * [[vectorIndex]] relations instead of re-hashing the corpus.
    * Candidates are bucket-local (batch×history and batch self-join on
    * the (table, bucket) key, distinct because a pair can collide in
    * several tables), verification is the exact codegen'd dot — no
    * false positives vs [[nearDupEmbedding]], recall as in
    * [[nearDupEmbeddingLsh]]. Pinned in PipelineSpec equal to the full
    * nearDupEmbeddingLsh run restricted to batch-touching pairs.
    * Output: (id1 = batch id, id2 = matched id, sim).
    *
    * Building the returned frame runs Spark jobs: the batch-side
    * bucket relation is materialized by an eager `localCheckpoint()`
    * inside this call, so constructing or explaining the result
    * already executes the batch's hyperplane hashing, before any
    * action on it.
    */
  def nearDupEmbeddingIncremental(batch: DataFrame, idCol: String,
      vecCol: String, histBuckets: DataFrame, histVectors: DataFrame,
      threshold: Double, planesPerTable: Int = 4, numTables: Int = 16,
      dim: Int = 64, seed: Long = 42L): DataFrame = {
    import graft.functions.VectorFunctions.{dotF, safeRatio}
    val bVec = vectorIndex(batch, idCol, vecCol)
    // batch-side bucket relation materialized once per execution (same
    // bounded-side localCheckpoint call as nearDupMinhashIncremental —
    // it feeds both candidate self-join sides plus the touched-slice
    // key broadcast below)
    val bBuckets0 = embeddingBucketIndex(batch, idCol, vecCol,
      planesPerTable, numTables, dim, seed).localCheckpoint()
    val bBuckets = bBuckets0.hint("SHUFFLE_MERGE")
    // touched-slice probe (guide §3.2, same shape as
    // nearDupMinhashIncremental, stats-gated): only buckets the batch
    // occupies can generate candidates, and the batch's distinct
    // (table, bucket) set is bounded by numTables x batch — history
    // rows outside it join nothing. The VECTOR side has no such
    // batch-derived key (id2 is a history id), so it stays an
    // unfiltered SMJ stream.
    val hBuckets = touchedSlice(histBuckets, bBuckets0,
        Seq("table", "bucket"))
      .hint("SHUFFLE_MERGE")
    val candHist = bBuckets.as("a").join(hBuckets.as("b"),
        col("a.table") === col("b.table") &&
          col("a.bucket") === col("b.bucket"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"))
    val candBatch = bBuckets.as("a").join(bBuckets.as("b"),
        col("a.table") === col("b.table") &&
          col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"))
    val cand = candHist.unionByName(candBatch).distinct()
    val vAll = bVec.unionByName(histVectors).hint("SHUFFLE_MERGE")
    // join ORDER moves the heavy payload once (guide-§8 shape): the
    // corpus-sized side (vAll — history vectors) attaches first, while
    // the pair rows are still NARROW (id1, id2), and the batch-side
    // vectors then arrive by BROADCAST, so the wide vector-carrying
    // intermediate never re-exchanges. The old order attached va first
    // and shuffled (pairs x 2 vectors) into the second SMJ — a 300 MB
    // exchange for 963k candidates at sf0.1. Broadcasting bVec is the
    // operator's own contract (the BATCH is the bounded side; history
    // streams as SMJ, never broadcast) — but the contract is now also
    // ENFORCED by a stats gate rather than assumed: a batch whose
    // vector relation estimates past MaxBroadcastBytes falls back to
    // the SMJ attach.
    val bVecJ = bVec.select(col("id").as("id1"),
      col("v").as("va"), col("nrm").as("na"))
    val withVb = cand
      .join(vAll.select(col("id").as("id2"), col("v").as("vb"),
        col("nrm").as("nb")), "id2")
    val paired =
      if (bVecJ.queryExecution.optimizedPlan.stats.sizeInBytes <=
          MaxBroadcastBytes)
        withVb.join(broadcast(bVecJ), "id1")
      else withVb.join(bVecJ.hint("SHUFFLE_MERGE"), "id1")
    paired
      .select(col("id1"), col("id2"),
        safeRatio(dotF(col("va"), col("vb")),
          col("na") * col("nb")).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** Semantic dedup (SemDeDup, Abbas et al. 2023): k-means the
    * embedding space, then inside each cluster drop every vector that
    * has a LOWER-id cluster-mate with cosine >= threshold — one
    * representative survives per semantic near-duplicate group without
    * ever comparing across clusters. The keep rule is closed-form
    * (no iteration): id x survives iff no kept-or-dropped y < x in its
    * cluster is within the threshold, which equals "no y < x at all
    * within threshold" — deterministic given the codebook.
    *
    * Scale shape: the candidate join is CLUSTER-LOCAL (equi-join on
    * the cluster id, pinned SMJ on one exchange), so the quadratic
    * term is bounded by the largest cell, not the corpus — size nlist
    * ~ N/target_cell and the cost is N * cell, the same contract as
    * the paper's FAISS clustering. Codebook floats are
    * partition-order sensitive at ~1e-16 (see [[Similarity
    * .ivfCodebook]]) so cluster boundaries aren't oracle-stable:
    * the query runs rows-only, and PipelineSpec pins the nlist=1 case
    * exactly equal to the [[nearDupEmbedding]]-derived keep set plus
    * the clustered case a superset of it (clustering only ever
    * REMOVES candidate pairs).
    */
  /** Cross-document SUBSTRING dedup at k-token-span granularity — the
    * tier between document dedup and [[graft.pipeline.Curation.dedupLines]]
    * (Lee et al. 2022, "Deduplicating Training Data Makes Language
    * Models Better": repeated long spans — licenses, templates,
    * quoted chunks — survive doc- and line-level passes and memorize
    * hardest). A k-token gram appearing in >= `minDf` distinct
    * documents keeps ONE canonical occurrence corpus-wide (every copy
    * in the min-doc-id OWNER document) and is cut everywhere else;
    * overlapping duplicated grams merge through position coverage, so
    * a long shared passage is removed whole. Matching is exact and
    * case-sensitive (Lee et al. operate on raw bytes); output
    * `clean_text` is the kept tokens re-joined with single spaces
    * (token-level surgery cannot preserve original whitespace), plus
    * `n_tokens`/`n_removed` audit counts. Docs shorter than k tokens
    * are never cut.
    *
    * Scale shape — every stage linear, keyed small: positional gram
    * hashes (8-byte, one codegen'd pass per row) exchange once to find
    * duplicated grams and their owner (map-side-combined groupBy);
    * occurrences probe that relation hash-keyed; coverage positions
    * and reassembly shuffle (id, pos) pairs — token-count-proportional
    * rows of ~20 bytes, the price of span granularity. No all-pairs
    * term anywhere; a 64-bit hash collision could only over-remove
    * (conservative for training data).
    */
  def dedupSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int = 13, minDf: Int = 2): DataFrame = {
    require(k >= 2, "span gram size must be >= 2")
    require(minDf >= 2, "minDf < 2 would cut every document")
    val base = spanBase(df, idCol, textCol)
    val grams = spanGrams(base, k)
    val owners = grams.groupBy(col("__g"))
      .agg(countDistinct(col("__id")).as("__df"),
        min(col("__id")).as("__owner"))
      .filter(col("__df") >= minDf)
      .select("__g", "__owner")
    cutAndReassemble(base, grams, owners, idCol, k)
  }

  private[pipeline] def spanBase(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    spread(df).select(col(idCol).as("__id"), col(textCol).as("__text"))
      .withColumn("__toks", tokens(col("__text")))

  /** Positional k-gram hashes: one (id, pos, gram-hash) row per
    * starting token position — one codegen'd pass per document.
    */
  private[pipeline] def spanGrams(base: DataFrame, k: Int): DataFrame =
    base.select(col("__id"), posexplode(
        when(size(col("__toks")) >= k, expr(
          s"transform(sequence(0, size(__toks) - $k), " +
            s"i -> xxhash64(concat_ws(' ', slice(__toks, i + 1, $k))))"))
          .otherwise(expr("CAST(array() AS array<bigint>)")))
        .as(Seq("__pos", "__g")))

  /** Shared tail of the span-dedup family: cut every NON-owner
    * occurrence of an owned gram ([pos, pos+k) coverage) and
    * reassemble the kept tokens.
    *
    * RANGE-MERGED form (round-12; the per-position original was the
    * soak's heaviest term): cut START positions — already ~k× fewer
    * rows than exploded coverage — merge per document into disjoint
    * [start, end) spans with one id-partitioned window (overlapping
    * and adjacent occurrences collapse, so a fully-duplicated
    * document is ONE span), and reassemble by filtering each
    * document's own token array against its span list in a single
    * projection. Nothing here ever explodes per-token rows: the old
    * tail shuffled (id, pos) pairs for every COVERED TOKEN plus every
    * token of the corpus for the anti-join/collect_list reassembly —
    * token-count-proportional exchanges; this one shuffles cut START
    * occurrences once (window) and per-document span lists once
    * (join), both bounded by duplication structure, not token count.
    * The per-token work (span membership) runs inside the projection
    * against the handful of merged spans a real document has.
    */
  private def cutAndReassemble(base: DataFrame, grams: DataFrame,
      owners: DataFrame, idCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val occ = grams.join(owners.hint("SHUFFLE_MERGE"), Seq("__g"))
      .filter(!(col("__id") <=> col("__owner")))
      .select(col("__id"), col("__pos")).distinct()
    val w = Window.partitionBy(col("__id")).orderBy(col("__pos"))
    val spans = occ
      // how far previous occurrences reach; a start past the reach
      // opens a new span (== reach is adjacent: same span, exact
      // coverage arithmetic either way)
      .withColumn("__reach", max(col("__pos") + lit(k)).over(
        w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("__new",
        when(col("__reach").isNull || col("__pos") > col("__reach"), 1L)
          .otherwise(0L))
      .withColumn("__sid", sum(col("__new")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("__id"), col("__sid"))
      .agg(min(col("__pos")).as("__s"),
        (max(col("__pos")) + lit(k)).as("__e"))
      .groupBy(col("__id"))
      .agg(sort_array(collect_list(struct(col("__s"), col("__e"))))
          .as("__spans"),
        sum(col("__e") - col("__s")).as("__cut"))
    // fully-cut documents yield one all-covering span (empty text);
    // untouched documents join nothing and keep every token
    base.select(col("__id"), col("__toks"), size(col("__toks")).as("__orig"))
      .join(spans.hint("SHUFFLE_MERGE"), Seq("__id"), "left_outer")
      .withColumn("__sp", coalesce(col("__spans"),
        array().cast("array<struct<__s:int,__e:int>>")))
      .select(col("__id").as(idCol),
        expr("concat_ws(' ', transform(filter(" +
          "transform(__toks, (t, i) -> named_struct('t', t, 'i', i)), " +
          "p -> NOT exists(__sp, sp -> p.i >= sp.__s AND p.i < sp.__e))," +
          " p -> p.t))").as("clean_text"),
        col("__orig").as("n_tokens"),
        coalesce(col("__cut"), lit(0L)).as("n_removed"))
  }

  /** Persistable gram index for [[dedupSpansIncremental]]: one row per
    * DISTINCT k-gram hash of the corpus slice — (g, owner = min doc
    * id, ndocs = distinct docs). Mergeable across batches by
    * `groupBy(g).agg(min(owner), sum(ndocs))` because ids never repeat
    * across batches; O(distinct grams), not O(occurrences).
    */
  def spanGramIndex(df: DataFrame, idCol: String, textCol: String,
      k: Int = 13): DataFrame =
    spanGrams(spanBase(df, idCol, textCol), k)
      .groupBy(col("__g").as("g"))
      .agg(min(col("__id")).as("owner"),
        countDistinct(col("__id")).as("ndocs"))

  /** Incremental span dedup under continuous ingestion —
    * [[dedupSpans]] for a NEW batch against the accumulated
    * [[spanGramIndex]] WITHOUT re-tokenizing history: a batch gram
    * whose combined document count (history + batch) reaches `minDf`
    * is cut from every batch document except its canonical owner.
    * Ownership is ARRIVAL-ORDERED — history is immutable, so a gram
    * history already holds keeps its historical owner and every batch
    * copy is cut; a gram first duplicated WITHIN the batch keeps the
    * batch's min-id copy. With monotonically-assigned doc ids (the
    * production ingestion case) this equals the full [[dedupSpans]]
    * run restricted to batch documents, pinned in PipelineSpec.
    * After the call, fold `spanGramIndex(batch)` into the index with
    * the documented merge to stay current.
    *
    * Work is O(batch + touched index slice): batch grams aggregate
    * map-side to distinct hashes, probe the index hash-keyed (SMJ —
    * the gram key space is unbounded, never broadcast), and only
    * batch documents re-assemble. The corpus-sized index is
    * pre-filtered by a broadcast LEFT SEMI on the batch's own distinct
    * gram set before its exchange (guide §3.2; stats-gated on the
    * index size — see [[atScale]]) — the left_outer probe can only
    * ever match grams the batch itself produces, and that key set is
    * bounded by the batch contract (duplication only shrinks it).
    * When the index is computed inline rather than read from storage,
    * Catalyst pushes the semi join below the index's aggregation, so
    * untouched history grams are pruned before they are even counted.
    */
  def dedupSpansIncremental(batch: DataFrame, idCol: String,
      textCol: String, histIndex: DataFrame, k: Int = 13,
      minDf: Int = 2): DataFrame = {
    require(k >= 2, "span gram size must be >= 2")
    require(minDf >= 2, "minDf < 2 would cut every document")
    val base = spanBase(batch, idCol, textCol)
    // grams is consumed by the ownership aggregate, the cut-occurrence
    // probe, and (at scale) the touched-slice broadcast. Deliberately
    // NOT checkpointed, unlike nearDupMinhashIncremental's batch index:
    // each recompute here is ONE embarrassingly-parallel projection
    // pass (near-zero wall time spread over the cores), while an eager
    // checkpoint adds a serialized job barrier — measured +0.2-0.3 s
    // on q151 at sf0.1. The MinHash case saves whole multi-stage
    // aggregate CHAINS per recompute, which is why it checkpoints.
    val grams = spanGrams(base, k)
    val batchAgg = grams.groupBy(col("__g"))
      .agg(min(col("__id")).as("__bowner"),
        countDistinct(col("__id")).as("__bdocs"))
    // touched-slice probe (guide §3.2, stats-gated): see the docstring
    val histTouched = touchedSlice(histIndex,
      grams.select(col("__g").as("g")), Seq("g"))
    val owners = batchAgg
      .join(histTouched.select(col("g").as("__g"), col("owner"),
        col("ndocs")).hint("SHUFFLE_MERGE"), Seq("__g"), "left_outer")
      .filter(col("__bdocs") + coalesce(col("ndocs"), lit(0L)) >= minDf)
      .select(col("__g"),
        when(col("ndocs").isNotNull, col("owner"))
          .otherwise(col("__bowner")).as("__owner"))
    cutAndReassemble(base, grams, owners, idCol, k)
  }

  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nlist: Int = 16, iters: Int = 2,
      seed: Long = 42L): DataFrame = {
    import graft.functions.VectorFunctions.{dotF, safeRatio}
    val v = df.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("nrm", sqrt(dotF(col("v"), col("v"))))
    val cents = Similarity.centroidDf(df.sparkSession,
      Similarity.ivfCodebook(df, idCol, vecCol, nlist, iters, seed))
    val assigned = Similarity.assign(spread(v), cents)
    val m = v.join(assigned, "id").hint("SHUFFLE_MERGE")
    val drops = m.as("a").join(m.as("b"),
        col("a.cluster") === col("b.cluster") && col("a.id") < col("b.id"))
      .filter(safeRatio(dotF(col("a.v"), col("b.v")),
        col("a.nrm") * col("b.nrm")) >= threshold)
      .select(col("b.id").as(idCol)).distinct()
    df.join(drops, Seq(idCol), "left_anti")
  }
}
