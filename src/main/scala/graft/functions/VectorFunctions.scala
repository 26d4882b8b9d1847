package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression,
  UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType,
  LongType}
import org.apache.spark.sql.{functions => F, graftshim}

/** Double-precision dot product of two float arrays as a native
  * Catalyst expression with a tight generated loop.
  *
  * Why not built-ins: `aggregate(zip_with(...))` is CodegenFallback —
  * interpreted per ROW it costs ~35us/pair (measured in round 2),
  * and an unrolled `element_at` sum fuses into a whole-stage method so
  * large the JVM refuses to JIT it, leaving the stage in the bytecode
  * interpreter at ~22us/row (measured on the embedding near-dup pair
  * scan at sf0.1: 0.9s of join + 13s of dot). A 6-line loop in
  * doGenCode is JIT-friendly, allocation-free, and identical in
  * summation order (left-to-right over positions, products widened to
  * double) — so results are bit-equal to the zip_with/aggregate form
  * the oracle queries were validated against.
  *
  * Null semantics mirror `aggregate(zip_with(a, b, _ * _), 0.0, _ + _)`:
  * null array -> null; length mismatch -> null (zip_with pads with
  * nulls, which poison the sum); any null element -> null.
  */
case class FloatVectorDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType): Boolean = t match {
      case ArrayType(FloatType, _) => true
      case _                       => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<float> inputs, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "float_vector_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      s += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $s += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |  }
         |  ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatVectorDot =
    copy(left = newLeft, right = newRight)
}

/** Multi-table hyperplane-LSH bucket ids of one `array<float>` row as a
  * native Catalyst expression: all `numTables * planesPerTable` plane
  * dots of the row in one generated loop, returned as `numTables`
  * bucket ids (`array<bigint>`, element t = table t). Table t's planes
  * are [[HyperplaneBuckets.planes]]`(planesPerTable, dim, seed + t)`,
  * and its bucket is `sum_i [d_i >= 0] << i` over their dots `d_i`.
  *
  * Each dot sums left to right over positions with products widened
  * to double, the summation of `Similarity.lshSignature`, so buckets
  * are bit-equal to that reference (pinned in PipelineSpec) whatever
  * the partitioning. A null element adds nothing, and `d >= 0` follows
  * Spark's ordering, in which NaN is non-negative.
  *
  * The plane matrix is not in the plan: the expression carries its
  * four shape parameters and rebuilds the matrix lazily where it is
  * evaluated; generated code references it as one `double[]` object
  * per task.
  * Per-plane literal arrays built plans of numPlanes*dim Literal nodes
  * (64x64 -> ~1.3 MiB task binaries).
  *
  * A row whose length is not `dim` fails: past the plane end a dot
  * would silently become a partial sum. A null row yields null.
  */
case class HyperplaneBuckets(child: Expression, numTables: Int,
    planesPerTable: Int, dim: Int, seed: Long) extends UnaryExpression {

  require(numTables >= 1 && dim >= 1, "need at least one table and one dim")
  require(planesPerTable >= 1 && planesPerTable <= 63,
    s"planesPerTable must be in 1..63 (one bucket is a long), got $planesPerTable")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<float> input, got ${t.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "hyperplane_buckets"

  /** Row-major planes: table t, plane i, position j at
    * `((t * planesPerTable) + i) * dim + j`.
    */
  @transient private lazy val weights: Array[Double] =
    (0 until numTables).toArray.flatMap(t =>
      HyperplaneBuckets.planes(planesPerTable, dim, seed + t).flatten)

  override protected def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != dim) throw new IllegalArgumentException(
      s"embedding length != $dim: len=$n")
    val w = weights
    val out = new Array[Long](numTables)
    var k = 0
    var t = 0
    while (t < numTables) {
      var b = 0L
      var i = 0
      while (i < planesPerTable) {
        var s = 0.0
        var j = 0
        while (j < n) {
          if (!a.isNullAt(j)) s += a.getFloat(j).toDouble * w(k + j)
          j += 1
        }
        k += n
        if (!(s < 0.0)) b |= 1L << i
        i += 1
      }
      out(t) = b
      t += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planes = ctx.addReferenceObj("planes", weights, "double[]")
    nullSafeCodeGen(ctx, ev, a => {
      val Seq(n, w, out, k, t, i, j, s, b) =
        Seq("n", "w", "out", "k", "t", "i", "j", "s", "b").map(ctx.freshName)
      s"""
         |int $n = $a.numElements();
         |if ($n != $dim) {
         |  throw new IllegalArgumentException("embedding length != $dim: len=" + $n);
         |}
         |double[] $w = $planes;
         |long[] $out = new long[$numTables];
         |int $k = 0;
         |for (int $t = 0; $t < $numTables; $t++) {
         |  long $b = 0L;
         |  for (int $i = 0; $i < $planesPerTable; $i++) {
         |    double $s = 0.0;
         |    for (int $j = 0; $j < $n; $j++) {
         |      if (!$a.isNullAt($j)) $s += (double) $a.getFloat($j) * $w[$k + $j];
         |    }
         |    $k += $n;
         |    if (!($s < 0.0)) $b |= 1L << $i;
         |  }
         |  $out[$t] = $b;
         |}
         |${ev.value} = ${classOf[UnsafeArrayData].getName}.fromPrimitiveArray($out);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): HyperplaneBuckets =
    copy(child = newChild)
}

object HyperplaneBuckets {

  /** Deterministic random hyperplanes: `numPlanes` x `dim` standard
    * gaussians from a PRNG seeded with `seed`, plane by plane.
    */
  def planes(numPlanes: Int, dim: Int, seed: Long): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(numPlanes)(Array.fill(dim)(rnd.nextGaussian()))
  }
}

object VectorFunctions {

  /** Column API for [[FloatVectorDot]]. */
  def dotF(a: Column, b: Column): Column =
    graftshim.columnOf(FloatVectorDot(
      graftshim.expressionOf(a), graftshim.expressionOf(b)))

  /** Column API for [[HyperplaneBuckets]]. */
  def hyperplaneBuckets(v: Column, numTables: Int, planesPerTable: Int,
      dim: Int, seed: Long): Column =
    graftshim.columnOf(HyperplaneBuckets(graftshim.expressionOf(v),
      numTables, planesPerTable, dim, seed))

  /** Ratio that yields NULL on a zero denominator instead of the ANSI
    * DIVIDE_BY_ZERO error (Spark 4 defaults to ANSI mode): cosine of a
    * zero vector is undefined, and one empty-document embedding must
    * not abort a corpus-wide scan. NULL sims drop out of `>= threshold`
    * filters and sort last in top-k rankings.
    */
  def safeRatio(num: Column, den: Column): Column =
    F.when(den === 0.0, F.lit(null).cast("double")).otherwise(num / den)

  /** Double-precision cosine similarity of two float arrays — one
    * codegen'd pass per dot, norms in double; NULL for zero vectors.
    */
  def cosineF(a: Column, b: Column): Column =
    safeRatio(dotF(a, b), F.sqrt(dotF(a, a)) * F.sqrt(dotF(b, b)))
}
