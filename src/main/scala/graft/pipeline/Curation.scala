package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators a large-scale training-data pipeline runs
  * between dedup and tokenization: domain-mixture sampling, PII
  * redaction, and token-budget packing. All three are single-pass,
  * codegen-friendly column expressions or one partitioned window — no
  * UDFs, no driver-side loops — so they scale as scans.
  */
object Curation {

  /** Deterministic domain-mixture sampling: a row survives iff
    * `id % base < weights(domain)` — the "mix 30% web, 50% books"
    * shape. No RNG: retries, re-runs, and different partitionings keep
    * EXACTLY the same rows (sampling decisions must be reproducible or
    * every downstream artifact changes under the pipeline), and the
    * filter pushes into the scan. Domains absent from `weights` drop.
    */
  def sampleMixture(df: DataFrame, idCol: String, domainCol: String,
      weights: Map[String, Int], base: Int = 10): DataFrame = {
    require(base > 0, "base must be positive")
    weights.foreach { case (d, w) =>
      require(w >= 0 && w <= base, s"weight for $d must be in [0, $base]")
    }
    // deterministic CASE order (sorted) so plans are stable run-to-run
    val keep = weights.toSeq.sortBy(_._1).foldRight(lit(0)) {
      case ((dom, w), els) => when(col(domainCol) === dom, lit(w)).otherwise(els)
    }
    df.filter(pmod(col(idCol), lit(base)) < keep)
  }

  /** PII redaction: emails then long digit runs (phone/SSN-ish), as
    * two chained codegen'd regexp_replace passes. Patterns stick to
    * portable regex (character classes + bounded repetition — no
    * lookarounds), so the same semantics hold across engines.
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text,
        "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
      "[0-9]{7,}", "<NUM>")

  /** Text normalization — the cleanup pass crawl pipelines apply
    * before any token statistic (C4-style): strip control characters
    * (keeping newline and tab), collapse space/tab runs to one space,
    * strip spaces hugging a newline, collapse 3+ newlines to a
    * paragraph break, trim. Four chained codegen'd regexp_replace
    * passes over portable regexes (character classes + bounded
    * repetition only — no lookarounds, same portability contract as
    * [[redactPii]]); scales as a scan.
    */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(text, "[\\x00-\\x08\\x0B-\\x1F\\x7F]", ""),
          "[ \\t]+", " "),
        " *\\n *", "\n"),
      "\\n{3,}", "\n\n"))

  /** Benchmark decontamination — the n-gram overlap filter every
    * training pipeline runs before training (GPT-3's 13-gram rule):
    * drop corpus documents sharing ANY word n-gram with a benchmark
    * document, so eval sets can't leak into training data.
    *
    * Scale shape: the benchmark side reduces to DISTINCT n-grams and
    * BROADCASTS (benchmarks are eval-set-sized by construction, not
    * corpus-sized); the corpus side explodes its shingles in one
    * codegen'd projection and LEFT ANTI semi-probes the broadcast —
    * the corpus is never shuffled, never collected, and a document
    * short-circuits out of the probe on its first hit. Both sides
    * match on the 64-BIT HASH of the gram, not the string: only 8-byte
    * keys reach the bench-side distinct/broadcast and the probe
    * (~10x smaller than 13-word strings), and the collision error is
    * both negligible and conservative (see
    * [[graft.functions.TextFunctions.shingleHashes]]). Lowercasing is
    * the only normalization (decontamination wants high precision;
    * callers wanting stemmed/fuzzy matching should pre-normalize both
    * sides the same way).
    */
  def decontaminate(docs: DataFrame, idCol: String, textCol: String,
      benchmark: DataFrame, benchTextCol: String, n: Int = 13): DataFrame = {
    require(n >= 2, "decontamination n-gram size must be >= 2")
    // fused native form of shingleHashes(tokens(lower(text)), n): one
    // pass per row instead of re-evaluating the token array once per
    // shingle window (PipelineSpec pins hash-for-hash equivalence)
    import graft.functions.ShingleExpressions.wordShingleHashes
    val benchGrams = benchmark
      .select(explode(wordShingleHashes(lower(col(benchTextCol)), n))
        .as("__gram"))
      .distinct()
    // spread: the probe's gram hashing is the operator's dominant term
    // and is scan-partitioned (no-op at scale, see Dedup.spread)
    val hits = Dedup.spread(docs.select(col(idCol), col(textCol)))
      .select(col(idCol),
        explode(wordShingleHashes(lower(col(textCol)), n)).as("__gram"))
      .join(broadcast(benchGrams), "__gram")
      .select(idCol).distinct()
    // hit ids broadcast too: contaminated docs are a small fraction by
    // construction (eval leakage, typically well under 1%), and an
    // unhinted anti-join would shuffle the whole corpus instead
    docs.join(broadcast(hits), Seq(idCol), "left_anti")
  }

  /** Deterministic train/val/test split assignment: each row's `split`
    * label comes from the md5 of its (salted) id, cut at the
    * cumulative fractions over 10,000 hash buckets. No RNG — re-runs,
    * retries, and any repartitioning assign the SAME rows to the same
    * split (a nondeterministic split leaks val into train on every
    * rerun), and because membership depends only on the id, growing
    * the corpus never moves an existing document between splits. md5
    * (not xxhash64) keeps membership engine-portable: any system can
    * recompute which split a document landed in. Integer bucket math,
    * so engines agree bit-for-bit; the salt gives independent
    * re-splits (fold assignment) from the same ids.
    */
  def assignSplit(df: DataFrame, idCol: String,
      splits: Seq[(String, Double)], salt: String = ""): DataFrame = {
    require(splits.nonEmpty, "at least one split required")
    require(splits.map(_._2).forall(_ > 0), "fractions must be positive")
    require(math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
      s"fractions must sum to 1, got ${splits.map(_._2).sum}")
    val bucket = pmod(
      conv(substring(md5(concat(lit(salt), col(idCol).cast("string"))),
        1, 8), 16, 10).cast("long"),
      lit(10000L))
    val cuts = splits.map(_._2).scanLeft(0.0)(_ + _).tail
      .map(c => math.round(c * 10000).toInt)
    val label = splits.init.zip(cuts.init).reverse
      .foldLeft(lit(splits.last._1): Column) {
        case (els, ((name, _), cut)) => when(bucket < cut, lit(name))
          .otherwise(els)
      }
    // a NULL id hashes to NULL and every `when` would fall through to
    // the LAST split — a silent assignment. NULL ids get a NULL split
    // instead: visible to the caller, never quietly in "test".
    df.withColumn("split",
      when(col(idCol).isNull, lit(null: String)).otherwise(label))
  }

  /** Corpus-level line deduplication — the boilerplate-removal pass
    * web-scale pipelines run before document dedup (RefinedWeb /
    * MassiveText drop any line repeated across enough pages: nav bars,
    * cookie banners, "subscribe" footers). A line is removed from EVERY
    * document when it appears in >= `minDf` distinct documents; output
    * is the reassembled cleaned text plus per-doc removal counts.
    *
    * Scale shape — three exchanges, line TEXT rides exactly one:
    *   1. the document-frequency side re-scans the corpus as a narrow
    *      (id, line-hash) projection, partial-aggregates the distinct
    *      (hash, id) pairs map-side, and exchanges only ~16-byte rows.
    *      This is deliberately NOT a ReusedExchange off the wide probe
    *      exchange: column pruning would be defeated and the df
    *      consumer would shuffle-read the full line strings it never
    *      looks at — a second embarrassingly-parallel scan plus a
    *      fixed-width exchange beats re-reading a string-bearing
    *      shuffle (same recompute-over-cache call as the MinHash
    *      index, [[Dedup.nearDupMinhashLsh]]);
    *   2. the probe side exchanges (id, pos, line, hash) once —
    *      irreducible, since the output IS the cleaned text — and the
    *      planner's ENSURE_REQUIREMENTS exchange stays AQE-coalescible;
    *   3. one exchange by doc id reassembles kept lines in position
    *      order.
    * The hot set joins as a pinned SMJ, never a broadcast: lines with
    * df >= minDf are few as a fraction of line INSTANCES (the Zipf
    * head) but unbounded as a KEY SET on a crawl corpus — same
    * rationale as the Jaccard df-cap ([[Dedup.nearDupJaccard]]).
    * Matching on the 64-bit hash instead of the string keeps the df
    * aggregate's state fixed-width; a collision can only over-remove
    * one innocent line at ~1e-10 odds per billion distinct lines — the
    * same bounded, conservative-direction budget the decontamination
    * probe documents.
    *
    * Docs whose every line is boilerplate still appear (clean_text = "",
    * n_removed = n_lines); within-doc repeats of a non-hot line are
    * kept (this pass removes CROSS-document boilerplate — within-doc
    * repetition is [[TextAnalysis.repetitionStats]]'s job).
    */
  def dedupLines(df: DataFrame, idCol: String, textCol: String,
      minDf: Int, sep: String = "\n"): DataFrame = {
    require(minDf >= 2, "minDf < 2 would remove every line")
    // spread: both consumers (df-count scan and probe) re-derive the
    // line explode from the scan — a single small parquet file
    // serializes the split+hash work otherwise; no-op at scale
    val lines = Dedup.spread(df).select(col(idCol).as("__id"),
        posexplode(split(col(textCol),
          java.util.regex.Pattern.quote(sep))).as(Seq("__pos", "__line")))
      .withColumn("__k", xxhash64(col("__line")))
    // ONE exchange for the whole df-count side (guide §2.4):
    // countDistinct alone plans two — hashpartitioning(__k, __id) for
    // the distinct pass, then hashpartitioning(__k) for the count.
    // Pre-partitioning by __k alone satisfies BOTH downstream
    // requirements (hash-clustering by __k colocates every (__k, __id)
    // pair — Spark's subset rule) AND the probe join's, so the dedup,
    // the count, and the SMJ all run on this single narrow exchange.
    // Trade, measured and accepted: the exchanged rows are pre-dedup
    // (__k, __id) line instances instead of map-side-deduped pairs;
    // map-side dedup could only drop a line repeated WITHIN one
    // document (cross-document repeats carry distinct ids), while the
    // saved exchange+aggregate pass is the full distinct relation.
    // AQE-coalescible on purpose (no pinned count).
    val hot = lines.select(col("__k"), col("__id"))
      .repartition(col("__k"))
      .groupBy(col("__k"))
      .agg(countDistinct(col("__id")).as("__df"))
      .filter(col("__df") >= minDf)
      .select(col("__k"), lit(true).as("__hot"))
    val flagged = lines.join(hot.hint("SHUFFLE_MERGE"), Seq("__k"), "left")
    flagged.groupBy(col("__id").as(idCol))
      .agg(
        // collect_list drops the nulls the `when` leaves on hot lines;
        // array_sort on (pos, line) structs restores document order
        // (pos is unique per doc, so the line never tie-breaks)
        concat_ws(sep, transform(
          array_sort(collect_list(when(col("__hot").isNull,
            struct(col("__pos"), col("__line"))))),
          s => s.getField("__line"))).as("clean_text"),
        count(lit(1)).as("n_lines"),
        sum(when(col("__hot"), 1L).otherwise(0L)).as("n_removed"))
  }

  /** Contamination REPORT — the audit complement of [[decontaminate]]:
    * instead of dropping contaminated documents, emit each document's
    * count of distinct word n-grams shared with the benchmark (docs
    * with zero overlap are absent). Eval teams run this to grade HOW
    * contaminated a corpus is and tune the n-gram rule before the
    * destructive pass. Same scale shape as the filter: bench-side
    * distinct 8-byte gram hashes broadcast, the corpus explodes
    * through one codegen'd projection into a broadcast semi-probe and
    * a map-side-combined count — the corpus never shuffles (the only
    * exchange carries (id, count) partial aggregates).
    */
  def contaminationReport(docs: DataFrame, idCol: String, textCol: String,
      benchmark: DataFrame, benchTextCol: String, n: Int = 13): DataFrame = {
    require(n >= 2, "contamination n-gram size must be >= 2")
    import graft.functions.ShingleExpressions.wordShingleHashes
    val benchGrams = benchmark
      .select(explode(wordShingleHashes(lower(col(benchTextCol)), n))
        .as("__gram"))
      .distinct()
    // spread: same probe-side scan-parallelism treatment as
    // [[decontaminate]] (no-op at scale)
    Dedup.spread(docs.select(col(idCol), col(textCol)))
      .select(col(idCol),
        explode(wordShingleHashes(lower(col(textCol)), n)).as("__gram"))
      .join(broadcast(benchGrams), "__gram")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shared_grams"))
  }

  /** Token-budget packing: assign each document to a context-window
    * bucket via a running token count per `partCol` — the
    * concat-then-chunk pretokenization shape (a document straddling a
    * boundary starts in its cumulative bucket). One partitioned,
    * ordered window: parallel across partitions, streaming within one
    * — the 100 TB form is "pack per (domain, shard)", never one global
    * ordered window.
    */
  def packTokens(df: DataFrame, partCol: String, orderCol: String,
      nTokensCol: String, budget: Int): DataFrame = {
    require(budget > 0, "budget must be positive")
    val w = Window.partitionBy(partCol).orderBy(orderCol)
    df.withColumn("__cum", sum(col(nTokensCol)).over(w))
      .withColumn("bucket",
        floor((col("__cum") - col(nTokensCol)) / budget).cast("int"))
      .drop("__cum")
  }

  /** Engine-portable uniform in [0, 1) from (salt, id): the top 32 md5
    * bits over 2^32. Division by a power of two is exact in double, so
    * any engine that can md5 reproduces the SAME u — the primitive
    * under [[assignSplit]]'s buckets, [[upsampleByWeight]]'s fractional
    * coin, and any future deterministic sampler.
    */
  def hashUniform(idCol: Column, salt: String): Column =
    conv(substring(md5(concat(lit(salt), idCol.cast("string"))), 1, 8),
      16, 10).cast("long").cast("double") / 4294967296.0

  /** Deterministic sharded shuffle — the "global random order" pass
    * that turns a curated corpus into a training stream. Direct
    * ORDER BY rand() is both nondeterministic and, at 100 TB, a global
    * sort; instead every row gets an md5 position key, the key's top
    * bits pick one of `numShards` shards, and rows are ranked inside
    *  their shard: one hash exchange + per-shard sort, fully
    * reproducible (same seed → same order, any cluster layout), and
    * any shard subset is already a uniform sample of the corpus.
    * Readers stream shards in (shard, pos) order; epochs re-shuffle by
    * changing the seed, never by re-moving bytes twice.
    */
  def shardShuffle(df: DataFrame, idCol: String, numShards: Int,
      seed: Long): DataFrame = {
    require(numShards > 0, "numShards must be positive")
    val key = md5(concat_ws(":", lit(seed), col(idCol).cast("string")))
    val shard = pmod(conv(substring(key, 1, 8), 16, 10).cast("long"),
      lit(numShards.toLong)).cast("int")
    df.withColumn("__key", key).withColumn("shard", shard)
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("shard"))
          .orderBy(col("__key"), col(idCol))))
      .drop("__key")
  }

  /** Weighted corpus replication — epoch mixing ("2.3 epochs of wiki,
    * 0.5 of web"). Each row yields floor(w) copies plus one more when
    * its deterministic coin ([[hashUniform]]) lands under frac(w), so
    * the expected multiplicity is exactly w, the realized multiset is
    * reproducible run-to-run, and E[output] matches the mixture spec
    * without any global counting pass. A pure generate/explode over a
    * scan — zero shuffles; rows with w < 1 act as deterministic
    * down-sampling (0 or 1 copies). copy_id disambiguates replicas for
    * downstream shuffling (feed [[shardShuffle]] on (id, copy_id) so
    * replicas land in different shards, not adjacent).
    */
  def upsampleByWeight(df: DataFrame, idCol: String, weight: Column,
      salt: String = ""): DataFrame = {
    val base = floor(weight).cast("long")
    val extra = (hashUniform(col(idCol), salt) < (weight - base))
      .cast("long")
    val copies = base + extra
    df.withColumn("copy_id", explode(
      when(copies > 0, sequence(lit(0L), copies - 1))
        .otherwise(array().cast("array<bigint>"))))
  }

  /** Quality-ordered token-budget selection: take documents in
    * (score DESC, id ASC) order until the running token total would
    * exceed `budget` — "the best B tokens of the corpus", the
    * data-constrained-scaling selection step.
    *
    * The naive form is a GLOBAL ordered cumulative sum — one partition,
    * a scale killer. This is the two-phase form with identical output:
    * scores quantize to `bucketScale` buckets (floor is monotone, so
    * (bucket DESC, score DESC, id) IS (score DESC, id)); per-bucket
    * token totals aggregate map-side to a <= bucketScale-row relation
    * whose prefix sum is driver-trivial; each doc then needs only its
    * bucket's prefix plus a cumulative window PARTITIONED BY its own
    * bucket. Cost: one map-side-combined agg over a tiny key space +
    * one broadcast join + one per-bucket window — nothing global. A
    * bucket is to the score axis what [[packTokens]]'s partCol is to
    * the domain axis: the unit of bounded window state; size
    * bucketScale so the densest score bucket fits an executor.
    */
  def selectByTokenBudget(df: DataFrame, idCol: String,
      nTokensCol: String, scoreCol: String, budget: Long,
      bucketScale: Int = 1000): DataFrame = {
    require(budget >= 0, "budget must be non-negative")
    require(bucketScale > 0, "bucketScale must be positive")
    val withB = df.withColumn("__bkt",
      floor(col(scoreCol) * bucketScale).cast("long"))
    val prefix = withB.groupBy(col("__bkt"))
      .agg(sum(col(nTokensCol)).as("__btok"))
      .withColumn("__before", coalesce(sum(col("__btok")).over(
        Window.orderBy(col("__bkt").desc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__bkt"), col("__before"))
    val wIn = Window.partitionBy(col("__bkt"))
      .orderBy(col(scoreCol).desc, col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    withB.join(broadcast(prefix), "__bkt")
      .withColumn("cum_tokens",
        col("__before") + sum(col(nTokensCol)).over(wIn))
      .filter(col("cum_tokens") <= budget)
      .drop("__bkt", "__before")
  }

  /** Deterministic k-per-group sample: the k rows of each group whose
    * md5 coin ([[hashUniform]]) is smallest — "5 example docs per
    * source", eval-set carving, per-domain spot checks. No RNG: reruns
    * and engines agree on the exact membership, and adding rows to a
    * group only ever swaps members whose coins cross the k-th coin.
    *
    * Scale: the rank filter compiles to Spark's WindowGroupLimit
    * (pinned in PipelineSpec) — each map task keeps only its local
    * top-k per group BEFORE the exchange, so the shuffle carries
    * ~k rows per (group, partition), not the group.
    */
  def sampleKPerGroup(df: DataFrame, idCol: String, groupCol: String,
      k: Int, salt: String = ""): DataFrame = {
    require(k > 0, "k must be positive")
    df.withColumn("__u", hashUniform(col(idCol), salt))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col(groupCol))
          .orderBy(col("__u"), col(idCol))))
      .filter(col("__rn") <= k)
      .drop("__u", "__rn")
  }

  /** Per-stratum quality cut: keep the top `percent`% of rows in each
    * stratum, ranked by (score desc, id asc) — the classifier-score
    * filter every curation pipeline applies ("top 30% per language").
    * The quota is integer arithmetic, ceil(n*percent/100) via
    * (n*percent + 99) div 100, so engines agree at every boundary
    * (a double `frac*n` can land on either side of an integer).
    *
    * Scale: the naive spelling is row_number over
    * (stratum, score desc) — a full-corpus exchange hashed on a
    * HANDFUL of stratum keys, i.e. maximal skew: one task per
    * language sorts that language's entire corpus. This never ranks
    * the corpus: a per-(stratum, score) histogram (small — score
    * cardinality is bounded for integer/bucketed classifier scores) is
    * aggregated map-side, a running count over that tiny relation
    * finds each stratum's threshold score, and the corpus is filtered
    * against the broadcast thresholds. Only the TIE GROUP (rows at
    * exactly the threshold score) is ranked, and a tie group is one
    * score value per stratum. Pinned equal to the naive window in
    * PipelineSpec.
    */
  def topPercentPerStratum(df: DataFrame, idCol: String,
      stratumCol: String, scoreCol: String, percent: Int): DataFrame = {
    require(percent >= 0 && percent <= 100, "percent must be in [0,100]")
    // NULLs are first-class on both axes: a NULL stratum is its own
    // partition (the naive window groups it), and NULL scores rank
    // LAST (desc nulls-last, Spark's window default) — admitted only
    // when the quota reaches them
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(col(scoreCol).desc_nulls_last)
    val hist = df.groupBy(col(stratumCol), col(scoreCol))
      .agg(count(lit(1)).as("__c"))
      .withColumn("__before", coalesce(sum(col("__c")).over(
        w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("__k",
        (sum(col("__c")).over(w.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)) * percent + 99) / 100)
      .withColumn("__k", floor(col("__k")).cast("long"))
    // per stratum: the lowest fully-admitted score (cum <= quota) and
    // the single partially-admitted tie score straddling the quota.
    // min/max skip NULL scores, so the NULL-score group (always last
    // in rank order) carries explicit flags instead
    val fullCond = col("__before") + col("__c") <= col("__k")
    val tieCond = col("__before") < col("__k") &&
      col("__before") + col("__c") > col("__k")
    val th = hist.groupBy(col(stratumCol)).agg(
      min(when(fullCond, col(scoreCol))).as("__full_min"),
      max(when(fullCond && col(scoreCol).isNull, lit(true)))
        .as("__null_full"),
      max(when(tieCond, col(scoreCol))).as("__tie_score"),
      max(when(tieCond, col(scoreCol).isNull)).as("__tie_is_null"),
      max(when(tieCond, col("__k") - col("__before"))).as("__tie_quota"))
    // null-safe stratum equality: the NULL stratum must find its own
    // threshold row, not vanish from the join
    val joined = df.join(broadcast(th),
      df(s"`$stratumCol`") <=> th(s"`$stratumCol`"))
      .drop(th(s"`$stratumCol`"))
    val full = joined.filter(
      (col(scoreCol).isNotNull && col("__full_min").isNotNull &&
        col(scoreCol) >= col("__full_min")) ||
      (col(scoreCol).isNull && col("__null_full")))
    // tie membership: <=> admits the NULL-score tie group; the
    // is-null flag rejects a NULL row when the tie score is non-null
    // (there <=> is already false, but the flag keeps intent explicit)
    val ties = joined.filter(col("__tie_quota").isNotNull &&
        (col(scoreCol) <=> col("__tie_score")) &&
        (col(scoreCol).isNull === coalesce(col("__tie_is_null"), lit(false))))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col(stratumCol)).orderBy(col(idCol))))
      .filter(col("__rn") <= col("__tie_quota"))
      .drop("__rn")
    full.unionByName(ties)
      .drop("__full_min", "__null_full", "__tie_score", "__tie_is_null",
        "__tie_quota")
  }

  /** Hashed unigram+bigram features of a text column, exploded to one
    * (id, bucket) row per feature OCCURRENCE (counts matter to the
    * n-gram language models below, so no distinct).
    *
    * `portableHash = true` buckets on the top 32 md5 bits mod
    * `numBuckets` — engine-portable (DuckDB reproduces it, the oracle
    * path, like [[hashUniform]]) but string-md5-priced. `false`
    * buckets on xxhash64 — the production path: same uniformity, no
    * hex/string round-trip, measured ~2× faster end-to-end on the
    * n-gram scorers. The two paths yield DIFFERENT bucket ids (scores
    * shift within hash noise); rank BEHAVIOR is what's stable, pinned
    * in PipelineSpec (target-domain docs outrank noise under both).
    */
  private def hashedFeatures(df: DataFrame, idCol: String,
      textCol: String, numBuckets: Int,
      portableHash: Boolean = true): DataFrame = {
    val f = col("f")
    val bucket =
      if (portableHash)
        pmod(conv(substring(md5(f), 1, 8), 16, 10).cast("long"),
          lit(numBuckets.toLong))
      else pmod(xxhash64(f), lit(numBuckets.toLong))
    // spread: gram generation + per-feature hashing is the scorers'
    // dominant term and is scan-partitioned — one small parquet file
    // otherwise runs the whole feature pipeline on a single task
    // (r19 profile: q121's two raw-side scans were 1-partition each).
    // No-op at scale (stats-gated round-robin, see Dedup.spread).
    Dedup.spread(df.select(col(idCol), col(textCol)))
      .select(col(idCol).as("id"), explode(
        graft.functions.ShingleExpressions.wordGrams(lower(col(textCol)), 2))
        .as("f"))
      .select(col("id"), bucket.as("b"))
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): each raw
    * document scores the log-likelihood ratio of a target-domain
    * hashed-n-gram unigram model against the raw-corpus model,
    * sum over its features of log(p_target(b) / p_raw(b)) with
    * Laplace-`alpha` smoothing. High scores = "looks like the target
    * domain"; feed the scores to [[selectByTokenBudget]] /
    * [[upsampleByWeight]] for the resampling step.
    *
    * Scale shape: both models are map-side-combined counts over a
    * <= `numBuckets` key space (tiny exchanges), their totals come
    * from a window over that bucket-sized relation (never a
    * driver-side collect), and scoring is one broadcast of the
    * numBuckets-row log-ratio table against a feature scan + one
    * map-side-combined sum per document. Two feature scans total
    * (model + probe), zero wide exchanges. Documents with no tokens
    * have no features and are absent from the output (score of an
    * empty document is undefined, not 0).
    */
  def dsirScores(raw: DataFrame, idCol: String, textCol: String,
      target: DataFrame, targetTextCol: String, numBuckets: Int = 1024,
      alpha: Double = 1.0, portableHash: Boolean = true): DataFrame = {
    require(numBuckets > 0, "numBuckets must be positive")
    require(alpha > 0, "alpha must be positive (unsmoothed zeros divide)")
    // the raw corpus is feature-hashed TWICE (model count + probe) —
    // examined and deliberately kept in r20: inserting a shared
    // `repartition(id)` exchange between the two consumers was
    // measured at runtime (the per-operator SQL metrics graft.Plans
    // dumps) to NOT stage-reuse — AQE's stage cache fails to
    // canonicalize across the two aggregate-topped consumers (the same
    // limitation documented on the capped
    // Jaccard index, Dedup.nearDupJaccard), so the plan paid the full
    // feature exchange twice ON TOP of both hash passes. The
    // recompute-over-share status quo is also the at-scale call: the
    // raw side is CORPUS-sized (never checkpointable), and a second
    // embarrassingly-parallel scan+hash pass beats shuffling the whole
    // feature relation when the share doesn't dedupe.
    val rCnt = hashedFeatures(raw, idCol, textCol, numBuckets, portableHash)
      .groupBy(col("b")).agg(count(lit(1)).as("rc"))
    // the model side needs no document identity — a constant id keeps
    // the exploded rows narrow (no text string riding along)
    val tCnt = hashedFeatures(
        target.select(lit(0L).as("__tid"), col(targetTextCol)),
        "__tid", targetTextCol, numBuckets, portableHash)
      .groupBy(col("b")).agg(count(lit(1)).as("tc"))
    // totals over the full outer bucket union (a target-only bucket
    // still counts toward the target total); the window spans a
    // <= numBuckets-row relation, so "global" is bounded by design
    val wAll = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val aB = alpha * numBuckets
    val model = rCnt.join(tCnt, Seq("b"), "full_outer")
      .select(col("b"), coalesce(col("rc"), lit(0L)).as("rc"),
        coalesce(col("tc"), lit(0L)).as("tc"))
      .withColumn("rtot", sum(col("rc")).over(wAll))
      .withColumn("ttot", sum(col("tc")).over(wAll))
      .filter(col("rc") > 0) // probe buckets all come from raw
      .select(col("b"),
        (log((col("tc") + alpha) / (col("ttot") + aB)) -
          log((col("rc") + alpha) / (col("rtot") + aB))).as("lr"))
    hashedFeatures(raw, idCol, textCol, numBuckets, portableHash)
      .join(broadcast(model), "b")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_feats"), sum(col("lr")).as("dsir_score"))
      .withColumnRenamed("id", idCol)
  }

  /** CCNet-style LM fluency scoring (Wenzek et al. 2020 rank pages by
    * KenLM perplexity): mean negative log-likelihood, nats per
    * feature, of each document's hashed unigram+bigram features under
    * a bucket-multinomial model trained on a REFERENCE corpus with
    * add-`alpha` smoothing — the engine-native analog of the KenLM
    * score: monotone in the same "reads like the reference" direction,
    * trivially mergeable, and reproducible by an independent SQL
    * engine. Low = fluent/reference-like. Filter on a threshold or
    * stratify with [[topPercentPerStratum]] downstream; pairs with
    * [[dsirScores]] (relative domain preference) as the absolute
    * quality axis.
    *
    * Scale shape mirrors DSIR's: the model is a map-side-combined
    * count over EXACTLY `numBuckets` keys (densified over the full
    * bucket range, so probe features falling in buckets the reference
    * never produced still price at the smoothing floor), its total
    * comes from a window over that bucket-sized relation, and scoring
    * is one broadcast of the numBuckets-row log-prob table against a
    * feature scan + one map-side-combined mean per document. Zero-token
    * documents have no features and are absent from the output.
    */
  def lmScores(docs: DataFrame, idCol: String, textCol: String,
      reference: DataFrame, refTextCol: String, numBuckets: Int = 1024,
      alpha: Double = 1.0, portableHash: Boolean = true): DataFrame = {
    require(numBuckets > 0, "numBuckets must be positive")
    require(alpha > 0, "alpha must be positive (unsmoothed zeros)")
    val spark = docs.sparkSession
    val refCnt = hashedFeatures(
        reference.select(lit(0L).as("__rid"), col(refTextCol)),
        "__rid", refTextCol, numBuckets, portableHash)
      .groupBy(col("b")).agg(count(lit(1)).as("rc"))
    val wAll = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val model = spark.range(numBuckets).toDF("b")
      .join(refCnt, Seq("b"), "left_outer")
      .select(col("b"), coalesce(col("rc"), lit(0L)).as("rc"))
      .withColumn("tot", sum(col("rc")).over(wAll))
      .select(col("b"),
        (-log((col("rc") + alpha) / (col("tot") + alpha * numBuckets)))
          .as("nlp"))
    hashedFeatures(docs, idCol, textCol, numBuckets, portableHash)
      .join(broadcast(model), "b")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_feats"), avg(col("nlp")).as("nll"))
      .withColumnRenamed("id", idCol)
  }

  /** fastText-style quality classifier, trained and served in-engine
    * (the GPT-3/CCNet seat: score "does this look like the curated
    * reference" with a LINEAR model over hashed n-gram features --
    * Joulin et al. 2016's recipe, which at corpus scale matches deep
    * models for this filtering job). `labeled` supplies (text,
    * 0/1 label); every probe row gets `quality` = P(label = 1).
    * Composes with [[topPercentPerStratum]] for the per-language cut.
    *
    * Spark-native end to end -- no UDFs: features are the one-pass
    * [[graft.functions.ShingleExpressions.wordGrams]] uni+bigram
    * multiset hashed by `HashingTF` (a library Transformer), the
    * model is MLlib's `LogisticRegression` (distributed L-BFGS: one
    * gradient pass over the training slice per iteration), and
    * scoring is a single projection with the coefficient vector
    * broadcast (O(numFeatures) driver state, ~2 MB at the default --
    * endpoint-sized like the IVF/PQ codebooks). Training cost is
    * bounded by the LABELED set (reference-corpus-sized, not
    * 100 TB); scoring is one linear scan of the probe.
    *
    * Determinism note: distributed float reduction makes low-order
    * score bits partition-order sensitive -- equal RANKING on
    * separable data, not bit-equal scores (unit pins the ranking;
    * queries built on this should gate on thresholds, not hash score
    * bytes).
    */
  def qualityClassifierScores(labeled: DataFrame, textCol: String,
      labelCol: String, probe: DataFrame, probeIdCol: String,
      probeTextCol: String, numFeatures: Int = 1 << 18,
      maxIter: Int = 20, regParam: Double = 1e-4): DataFrame = {
    require(numFeatures > 0, "numFeatures must be positive")
    import org.apache.spark.ml.classification.LogisticRegression
    import org.apache.spark.ml.feature.HashingTF
    import org.apache.spark.ml.functions.vector_to_array
    import graft.functions.ShingleExpressions.wordGrams
    val tf = new HashingTF().setInputCol("__grams")
      .setOutputCol("__feats").setNumFeatures(numFeatures)
    // the probe scoring scan is spread (single pass, scan-partitioned —
    // no-op at scale, see Dedup.spread); the TRAINING side deliberately
    // is NOT: MLlib persists the featurized instances after one pass,
    // so every one of the maxIter L-BFGS rounds is a treeAggregate over
    // the instance partitions — on a labeled set small enough to plan
    // few partitions, spreading it just multiplies per-iteration task
    // scheduling (measured: 3.0 s -> 5.0 s at sf0.1 with the train side
    // spread to 32 partitions)
    val train = tf.transform(labeled.select(
      col(labelCol).cast("double").as("label"),
      wordGrams(lower(col(textCol)), 2).as("__grams")))
    val model = new LogisticRegression().setFeaturesCol("__feats")
      .setMaxIter(maxIter).setRegParam(regParam).fit(train)
    model.transform(tf.transform(Dedup.spread(probe).select(
        col(probeIdCol), wordGrams(lower(col(probeTextCol)), 2)
          .as("__grams"))))
      .select(col(probeIdCol),
        vector_to_array(col("probability")).getItem(1).as("quality"))
  }
}
