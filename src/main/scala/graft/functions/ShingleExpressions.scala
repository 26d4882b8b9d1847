package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.sql.graftshim
import org.apache.spark.unsafe.types.UTF8String

/** Distinct word k-shingles of a text column as ONE native expression.
  *
  * Semantically identical — byte-for-byte — to the composed built-in
  * form `shingles(tokens(text), k)` (TextFunctions), because it calls
  * the same UTF8String primitives those built-ins bottom out in:
  * `split("\s+", -1)` (what StringSplit evaluates) with empty edge
  * tokens dropped (what tokens' regex whitespace edge-trim produces —
  * zero tokens for empty/whitespace-only text), `concatWs` (what
  * ConcatWs evaluates), and first-occurrence dedup (what
  * array_distinct does). PipelineSpec pins the equivalence on the
  * bench corpus, and the DuckDB oracles for q41/q63 keep hash-matching.
  *
  * Why it exists: the composed form evaluates an interpreted
  * `transform` lambda per window with a fresh `slice` + `concat_ws`
  * allocation each — per-ELEMENT interpreted dispatch, repeatedly
  * measured as the most expensive expression in the library (the
  * comments in Dedup.shingleSets exist to keep Catalyst from ever
  * evaluating it twice). This expression does one pass per ROW in a
  * single JVM method: scan, window, dedup, emit. It is CodegenFallback
  * (one boxed call per row), which is noise next to the per-element
  * interpretation it replaces.
  */
case class WordShingles(child: Expression, k: Int)
    extends UnaryExpression with CodegenFallback {

  require(k >= 1, s"shingle size must be >= 1, got $k")

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string input, got ${child.dataType.simpleString}")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_shingles"
  // null text -> EMPTY set, exactly like the composed form (size(null)
  // is null, so its `when` guard falls through to the empty branch);
  // non-nullable output lets Catalyst fold downstream isnotnull
  // constraints away instead of re-inlining this expression below
  // exchanges (the q41 plan trap documented in Dedup.shingleSets)
  override def nullable: Boolean = false

  private val space = UTF8String.fromString(" ")
  private val splitPattern = UTF8String.fromString("\\s+")
  private val empty = new GenericArrayData(Array.empty[Any])

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) empty else nullSafeEval(v)
  }

  override protected def nullSafeEval(input: Any): Any = {
    val raw = input.asInstanceOf[UTF8String].trim().split(splitPattern, -1)
    // drop empty edge tokens: split's leading/trailing "" artifacts on
    // text whose edge whitespace isn't plain spaces (UTF8String.trim
    // strips only 0x20). Interior "" can't occur under "\s+", so this
    // is byte-equivalent to TextFunctions.tokens' regex edge-trim —
    // including whitespace-only text tokenizing to ZERO tokens.
    val toks =
      if (raw.length > 0 &&
          (raw(0).numBytes == 0 || raw(raw.length - 1).numBytes == 0))
        raw.filter(_.numBytes > 0)
      else raw
    val n = toks.length
    if (n < k) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[UTF8String](n * 2)
    var i = 0
    while (i <= n - k) {
      val window = new Array[UTF8String](k)
      System.arraycopy(toks, i, window, 0, k)
      seen.add(UTF8String.concatWs(space, window: _*))
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): WordShingles =
    copy(child = newChild)
}

/** Distinct xxhash64 values of the word k-shingles of a text column,
  * as ONE native expression — the fused form of
  * `shingleHashes(tokens(text), k)` (TextFunctions), for consumers
  * that only ever look at the 8-byte hashes (decontamination's
  * gram-overlap probe). Same tokenization as [[WordShingles]]; each
  * window is hashed with `XXH64.hashUTF8String(_, 42L)` — the exact
  * evaluation of the built-in `xxhash64(string)` with its default
  * seed, so values stay bit-identical to the composed form (pinned
  * elementwise in PipelineSpec) — and deduped hash-first, matching
  * array_distinct over the hash array. The joined shingle string
  * dies inside this one JVM method: per row, no per-window
  * re-tokenization (the composed form re-evaluates its token-array
  * child once per window — measured 2.3x on the decontamination
  * bench when that child grew one extra pass), no string array
  * materialized at all.
  */
case class WordShingleHashes(child: Expression, k: Int)
    extends UnaryExpression with CodegenFallback {

  require(k >= 1, s"shingle size must be >= 1, got $k")

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string input, got ${child.dataType.simpleString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "word_shingle_hashes"
  override def nullable: Boolean = false

  private val space = UTF8String.fromString(" ")
  private val splitPattern = UTF8String.fromString("\\s+")
  private val empty = UnsafeArrayData.fromPrimitiveArray(Array.empty[Long])

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) empty else nullSafeEval(v)
  }

  override protected def nullSafeEval(input: Any): Any = {
    val raw = input.asInstanceOf[UTF8String].trim().split(splitPattern, -1)
    // same empty-edge-token drop as WordShingles (= tokens' edge trim)
    val toks =
      if (raw.length > 0 &&
          (raw(0).numBytes == 0 || raw(raw.length - 1).numBytes == 0))
        raw.filter(_.numBytes > 0)
      else raw
    val n = toks.length
    if (n < k) return empty
    val seen = new java.util.LinkedHashSet[java.lang.Long](n * 2)
    var i = 0
    while (i <= n - k) {
      val window = new Array[UTF8String](k)
      System.arraycopy(toks, i, window, 0, k)
      seen.add(XXH64.hashUTF8String(UTF8String.concatWs(space, window: _*), 42L))
      i += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def withNewChildInternal(newChild: Expression): WordShingleHashes =
    copy(child = newChild)
}

/** 64-bit SimHash fingerprint of one document's token array as ONE
  * native expression: equal, bit for bit, to
  * `TextFunctions.simhash(toks)`, i.e. `simhashOfHashes` over
  * `transform(toks, xxhash64)` (pinned per row in PipelineSpec). Each
  * token is hashed with `XXH64.hashUTF8String(_, 42L)`, the evaluation
  * of the built-in `xxhash64(string)`; a null token hashes to the seed,
  * as `xxhash64(null)` does. Bit j is set when `2 * votes_j >
  * tokenCount`, where votes_j counts the tokens whose hash has bit j
  * set: the composed form's "sum of +-1 votes > 0".
  *
  * A null or empty array yields null (the composed form yields 0): a
  * document without tokens has no fingerprint, so it can never pair.
  *
  * Why it exists: the composed form runs 64 interpreted `aggregate`
  * passes per row, and an explode + 64-column grouped vote sum costs
  * an aggregate exchange. This is one loop per row; it is
  * CodegenFallback (one boxed call per row), which is noise next to
  * the n token hashes and 64 bit-votes per token.
  */
case class SimhashFingerprint(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires an array<string> input, got ${t.simpleString}")
    }
  }

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash_fingerprint"
  override def nullable: Boolean = true

  override protected def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n == 0) return null
    val ones = new Array[Int](64)
    var i = 0
    while (i < n) {
      val h = if (a.isNullAt(i)) 42L else XXH64.hashUTF8String(a.getUTF8String(i), 42L)
      var j = 0
      while (j < 64) { ones(j) += ((h >>> j) & 1L).toInt; j += 1 }
      i += 1
    }
    var fp = 0L
    var j = 0
    while (j < 64) { if (2 * ones(j) > n) fp |= 1L << j; j += 1 }
    fp
  }

  override protected def withNewChildInternal(newChild: Expression): SimhashFingerprint =
    copy(child = newChild)
}

/** ALL word n-grams for n = 1..maxK of a text column, NON-distinct, as
  * ONE native expression — the language-model feature multiset (DSIR
  * counts occurrences, so dedup would change the model). Output order
  * is all unigrams in position order, then all bigrams, ... — exactly
  * the layout of `concat(tokens(text), shingles-without-distinct(2),
  * ...)`, which PipelineSpec pins elementwise. Same tokenization as
  * [[WordShingles]] (UTF8String split + edge-token drop).
  *
  * Why it exists: the composed `transform(sequence(...), i =>
  * concat_ws(" ", slice(toks, i, k)))` runs an interpreted lambda with
  * a fresh slice allocation per ELEMENT — measured at 12x the cost of
  * the unigram scan on the DSIR feature path (3.7 s vs 0.3 s per scan
  * at sf0.1). One boxed call per ROW replaces all of it.
  */
case class WordGrams(child: Expression, maxK: Int)
    extends UnaryExpression with CodegenFallback {

  require(maxK >= 1, s"max gram size must be >= 1, got $maxK")

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string input, got ${child.dataType.simpleString}")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_grams"
  override def nullable: Boolean = false

  private val space = UTF8String.fromString(" ")
  private val splitPattern = UTF8String.fromString("\\s+")
  private val empty = new GenericArrayData(Array.empty[Any])

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) empty else nullSafeEval(v)
  }

  override protected def nullSafeEval(input: Any): Any = {
    val raw = input.asInstanceOf[UTF8String].trim().split(splitPattern, -1)
    val toks =
      if (raw.length > 0 &&
          (raw(0).numBytes == 0 || raw(raw.length - 1).numBytes == 0))
        raw.filter(_.numBytes > 0)
      else raw
    val n = toks.length
    if (n == 0) return empty
    var total = 0
    var k = 1
    while (k <= maxK) { total += math.max(0, n - k + 1); k += 1 }
    val out = new Array[Any](total)
    var j = 0
    k = 1
    while (k <= maxK) {
      if (k == 1) {
        var i = 0
        while (i < n) { out(j) = toks(i); j += 1; i += 1 }
      } else {
        var i = 0
        while (i <= n - k) {
          val window = new Array[UTF8String](k)
          System.arraycopy(toks, i, window, 0, k)
          out(j) = UTF8String.concatWs(space, window: _*)
          j += 1
          i += 1
        }
      }
      k += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): WordGrams =
    copy(child = newChild)
}

object ShingleExpressions {

  /** Column API: distinct word k-shingles straight from text —
    * equivalent to `shingles(tokens(text), k)`, one pass per row.
    */
  def wordShingles(text: Column, k: Int): Column =
    graftshim.columnOf(WordShingles(graftshim.expressionOf(text), k))

  /** Column API: all non-distinct 1..maxK word grams straight from
    * text — the LM feature multiset, one pass per row.
    */
  def wordGrams(text: Column, maxK: Int): Column =
    graftshim.columnOf(WordGrams(graftshim.expressionOf(text), maxK))

  /** Column API: distinct xxhash64 word-k-shingle hashes straight from
    * text — equivalent to `shingleHashes(tokens(text), k)`, one pass
    * per row.
    */
  def wordShingleHashes(text: Column, k: Int): Column =
    graftshim.columnOf(WordShingleHashes(graftshim.expressionOf(text), k))

  /** Column API: the 64-bit SimHash fingerprint of a token array —
    * equal to `TextFunctions.simhash(toks)`, null for a null or empty
    * array; one pass per row.
    */
  def simhashFingerprint(toks: Column): Column =
    graftshim.columnOf(SimhashFingerprint(graftshim.expressionOf(toks)))
}
