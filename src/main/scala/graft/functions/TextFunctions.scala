package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level text primitives for the LLM-data-pipeline tier: all
  * built-in codegen'd expressions (split/transform/aggregate/xxhash64),
  * no UDFs — every function here stays inside whole-stage codegen and
  * pushes through Catalyst untouched.
  *
  * The reference corpus (BASELINE north star) has no text operators of
  * its own; these are the standard pipeline primitives (tokenize,
  * shingle, MinHash, SimHash, quality/lang heuristics) re-expressed as
  * Spark expressions, designed so oracle SQL can mirror them exactly
  * (integer-ratio arithmetic, md5 for cross-engine-stable hashing).
  */
object TextFunctions {

  /** Whitespace tokenization; trim first so no empty edge tokens.
    * Empty and whitespace-only text tokenize to the EMPTY array, not
    * `[""]` — regex split on an empty string returns one empty token,
    * which would count phantom tokens in every downstream stat (an
    * empty document scoring n_tokens=1 with max_tok_frac=1.0 reads as
    * maximally repetitive instead of contentless). NULL text stays
    * NULL.
    */
  // trim() strips only 0x20 spaces, so non-space edge whitespace
  // (tabs/newlines) survives it and split() emits "" edge tokens —
  // interior "" can't occur under "\s+", so removing "" afterwards IS
  // the full-whitespace edge trim. Why this shape and not a regex trim
  // + empty guard: consumers like shingleHashes reference the token
  // array once per shingle window, and Catalyst inlines this whole
  // expression at every reference — an extra regexp_replace pass (and
  // a CASE double-evaluating it) re-runs per WINDOW and measured 2.3x
  // on the decontamination bench. split+trim+array_remove are all
  // codegen'd single passes. Empty/whitespace-only text yields the
  // EMPTY array (a bare regex split returns [""], which would count a
  // phantom token in every downstream stat); NULL stays NULL.
  def tokens(text: Column): Column =
    array_remove(split(trim(text), "\\s+"), "")

  /** Distinct word k-shingles ("w1 w2 w3") of a token array. Documents
    * shorter than k yield an empty set (they can never near-dup).
    */
  def shingles(toks: Column, k: Int): Column =
    when(size(toks) >= k,
      array_distinct(transform(sequence(lit(1), size(toks) - (k - 1)),
        i => concat_ws(" ", slice(toks, i, lit(k))))))
      .otherwise(array().cast("array<string>"))

  /** xxhash64 of each word k-shingle. Same shingle set as [[shingles]]
    * (pinned elementwise-equal in units), but the joined string dies
    * inside the codegen'd projection — only the 8-byte hash reaches any
    * exchange, distinct, or broadcast. For set-overlap consumers
    * (decontamination) this shrinks the data movement ~10x; the price
    * is the 64-bit collision rate, negligible against a benchmark-sized
    * gram set (expected false hits ~ |corpus grams| x |bench grams| /
    * 2^64, and the error direction is conservative — a collision DROPS
    * a clean document, never leaks a contaminated one).
    */
  def shingleHashes(toks: Column, k: Int): Column =
    when(size(toks) >= k,
      array_distinct(transform(sequence(lit(1), size(toks) - (k - 1)),
        i => xxhash64(concat_ws(" ", slice(toks, i, lit(k)))))))
      .otherwise(array().cast("array<bigint>"))

  /** Exact Jaccard similarity of two (distinct-element) arrays — an
    * integer/integer ratio, so Spark and any oracle engine compute the
    * bit-identical double. Two EMPTY sets yield NULL (undefined), not
    * the ANSI DIVIDE_BY_ZERO error Spark 4 raises by default.
    */
  def jaccard(a: Column, b: Column): Column = {
    val union = size(array_union(a, b))
    when(union === 0, lit(null).cast("double"))
      .otherwise(size(array_intersect(a, b)).cast("double") /
        union.cast("double"))
  }

  /** Count of tokens matched by a marker set (lang-ID / stopword use). */
  def markerCount(toks: Column, markers: Seq[String]): Column =
    size(filter(toks, t => t.isin(markers.map(lit): _*)))

  /** 32-bit-domain shingle hash (xxhash64 folded into [0, 2^31-1)):
    * keeps MinHash permutation arithmetic overflow-free in a Long.
    */
  def hash31(s: Column): Column = pmod(xxhash64(s), lit(MersennePrime))

  val MersennePrime: Long = 2147483647L // 2^31 - 1

  /** MinHash signatures for a whole corpus in ONE aggregation pass:
    * `exploded` is (id, elementHash) rows — one per (doc, element) —
    * and the output is one row per id with columns m0..m{n-1}, where
    * mi = min over the doc's element hashes of (a_i*h + b_i) mod p.
    *
    * Why grouped and not per-row: Spark's `aggregate` higher-order
    * function is CodegenFallback (interpreted), so n per-row array
    * traversals cost n interpreted passes over every element — the
    * round-2 bench's dominant term. A groupBy with n `min` aggregates
    * is whole-stage-codegen'd with map-side partial aggregation: each
    * element is touched once, and (after the id repartition below
    * restores doc-locality) the partial-aggregate output is exactly
    * one (id, n longs) row per document.
    *
    * Permutations derive from `seed` via splitmix64 — deterministic
    * across runs, executors, and cluster sizes.
    */
  def minhashSignaturesGrouped(exploded: org.apache.spark.sql.DataFrame,
      idCol: String, hashCol: String, numHashes: Int,
      seed: Long = 42L): org.apache.spark.sql.DataFrame = {
    val h = col(hashCol)
    val aggs = permutations(numHashes, seed).zipWithIndex.map {
      case ((a, b), i) =>
        min(pmod(h * lit(a) + lit(b), lit(MersennePrime))).as(s"m$i")
    }
    // restore doc-locality before the wide aggregate: callers feed this
    // from an element-hash-partitioned index, where EVERY partition
    // holds rows of nearly every document — partial aggregation then
    // emits one (id, numHashes longs) row per (doc, partition), a
    // shuffle of docs x partitions x ~8*numHashes bytes that dwarfs the
    // exploded input (measured 120 MB of partials vs 7 MB of (id, h)
    // rows at sf0.1/32 partitions; at cluster partition counts the
    // inflation is bounded only by elements-per-doc). One narrow
    // exchange of the 16-byte input rows keyed by id makes the partial
    // output exactly one row per document. AQE-coalescible on purpose —
    // sizing is the planner's job; locality is the point.
    exploded.repartition(col(idCol))
      .groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** Deterministic (a, b) pairs in [1, p) / [0, p). */
  def permutations(n: Int, seed: Long): Seq[(Long, Long)] = {
    var x = seed
    def next(): Long = { // splitmix64 step
      x += 0x9e3779b97f4a7c15L
      var z = x
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    (0 until n).map { _ =>
      val a = Math.floorMod(next(), MersennePrime - 1) + 1
      val b = Math.floorMod(next(), MersennePrime)
      (a, b)
    }
  }

  /** LSH band keys over grouped signature columns m0..m{n-1} (the
    * shape [[minhashSignaturesGrouped]] emits): hash of each r-column
    * band. Two docs land in the same (band, key) bucket iff a band of
    * their signatures agrees — the classic banding scheme, so candidate
    * generation is a bucket equi-join, never all-pairs.
    */
  def lshBandKeys(bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64(concat_ws(",",
          (0 until rowsPerBand).map(r => col(s"m${b * rowsPerBand + r}")): _*),
          lit(b)).as("key"))
    }: _*)

  /** 64-bit SimHash over a token array: per bit, sign of the sum of
    * ±1 votes from each token's xxhash64 bit. One groupBy-free
    * expression per document; near-dup search bands the 64 bits into
    * 16-bit chunks (pigeonhole: hamming<=3 pairs must share a chunk).
    */
  def simhash(toks: Column): Column =
    simhashOfHashes(transform(toks, t => xxhash64(t)))

  /** Same, over a materialized token-hash column. NOTE: this per-row
    * form runs 64 interpreted `aggregate` passes (higher-order
    * functions are CodegenFallback) — it exists as the independent
    * reference implementation for tests; Dedup.nearDupSimhash uses the
    * native one-loop [[ShingleExpressions.simhashFingerprint]], pinned
    * bit-identical to this in PipelineSpec (except that a token-less
    * row fingerprints to null there and to 0 here).
    */
  def simhashOfHashes(hashes: Column): Column = {
    val bits = (0 until 64).map { j =>
      val votes = aggregate(hashes, lit(0L),
        (acc, h) => acc + when(shiftright(h, j).bitwiseAND(lit(1L)) === 1L, lit(1L))
          .otherwise(lit(-1L)))
      when(votes > 0, lit(1L)).otherwise(lit(0L)) * lit(1L << j)
    }
    bits.reduce(_ + _)
  }

  /** 16-bit chunks of a 64-bit fingerprint, as (chunkIdx, value). */
  def simhashChunks(fp: Column): Column =
    array((0 until 4).map { c =>
      struct(lit(c).as("chunk"),
        shiftright(fp, c * 16).bitwiseAND(lit(0xffffL)).as("value"))
    }: _*)

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))
}
