package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

private object HashExpressions {
  def requireStringArray(name: String, child: Expression): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(s"$name needs array<string>, got $other")
    }
}

/** Native Catalyst expressions for the dedup hash kernels — the
  * custom-Expression rung of the extension ladder (SURVEY §4.3):
  * Spark's lambda higher-order functions (`aggregate`/`transform`)
  * are never code-generated and a Scala UDF pays an encoder
  * round-trip per row, so the hot paths use these instead. Both
  * participate in whole-stage codegen via `doGenCode` (a static call
  * into the kernel — no virtual dispatch, no boxing of the array),
  * keep the codegen span unbroken (a ScalaUDF node would split it),
  * and evaluate bit-identically to the interpreted expression specs
  * the DuckDB oracle mirrors (pinned in PipelineSpec).
  *
  * Registered as SQL functions (`graft_minhash`, `graft_simhash`) by
  * [[graft.GraftExtensions]]; Column-level callers go through
  * [[graft.internal.exprColumn]].
  */
case class MinhashSignatureExpr(child: Expression, numHashes: Int)
    extends UnaryExpression {
  require(numHashes > 0, s"numHashes must be positive, got $numHashes")

  override def checkInputDataTypes(): TypeCheckResult =
    HashExpressions.requireStringArray(prettyName, child)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_minhash"

  override protected def nullSafeEval(input: Any): Any =
    graft.functions.MinhashKernel.signature(input.asInstanceOf[ArrayData], numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.MinhashKernel.signature($c, $numHashes)")

  override protected def withNewChildInternal(newChild: Expression): MinhashSignatureExpr =
    copy(child = newChild)
}

/** Banded MinHash signatures in one evaluation — see
  * [[graft.functions.MinhashKernel.bands]] for why single-call
  * banding matters in plans without a persist barrier (streams).
  */
case class MinhashBandsExpr(child: Expression, numHashes: Int, bands: Int)
    extends UnaryExpression {
  require(numHashes > 0 && bands > 0 && numHashes % bands == 0,
    s"numHashes ($numHashes) must be a positive multiple of bands ($bands)")

  override def checkInputDataTypes(): TypeCheckResult =
    HashExpressions.requireStringArray(prettyName, child)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_minhash_bands"

  override protected def nullSafeEval(input: Any): Any =
    graft.functions.MinhashKernel.bands(input.asInstanceOf[ArrayData], numHashes, bands)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.MinhashKernel.bands($c, $numHashes, $bands)")

  override protected def withNewChildInternal(newChild: Expression): MinhashBandsExpr =
    copy(child = newChild)
}

/** Codegen'd word-shingling — see
  * [[graft.functions.ShingleKernel.shingles]]. The Scala-UDF form it
  * replaces paid a Seq[String] encoder round-trip per row AND split
  * the whole-stage-codegen span at every shingle site (tokenize →
  * shingle → minhash now fuse into one generated method).
  */
case class ShinglesExpr(child: Expression, n: Int)
    extends UnaryExpression {
  require(n > 0, s"n must be positive, got $n")

  override def checkInputDataTypes(): TypeCheckResult =
    HashExpressions.requireStringArray(prettyName, child)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_shingles"

  override protected def nullSafeEval(input: Any): Any =
    graft.functions.ShingleKernel.shingles(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ShingleKernel.shingles($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): ShinglesExpr =
    copy(child = newChild)
}

/** Codegen'd dot product of two `array<double>` columns — the vector
  * hot path shared by every ANN/k-means/semantic-dedup operator.
  * The `aggregate(zip_with(...))` form it replaces is an interpreted
  * lambda fold (Spark never codegens HOFs) costing ~microseconds per
  * element; this is a tight primitive loop with the same left-to-right
  * accumulation order AND the same null semantics (null on length
  * mismatch or null element, like zip_with's null padding), so
  * results are identical in every case — which is what makes the
  * [[RewriteDotProduct]] substitution a sound optimization. The
  * interpreted form remains the oracle spec (pinned in PipelineSpec).
  */
case class DotProductExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType | ByteType, _), ArrayType(DoubleType | ByteType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(s"graft_dot needs array<double|tinyint> sides, got $other")
    }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_dot"

  private def isByte(e: Expression): Boolean = e.dataType match {
    case ArrayType(ByteType, _) => true
    case _                      => false
  }

  /** Kernel per side-type combination — int8 code arrays dot in
    * their stored 1-byte form (exact: products ≤ 127², sums ≪ 2^53),
    * so the int8 ANN joins never inflate codes back to doubles. A
    * byte×double input is evaluated as double×byte with the sides
    * swapped (dot is symmetric).
    */
  private lazy val kernel: String = (isByte(left), isByte(right)) match {
    case (false, false) => "dotOrNull"
    case (true, true)   => "dotOrNullBB"
    case _              => "dotOrNullDB"
  }
  private lazy val swapped: Boolean = isByte(left) && !isByte(right)

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = if (swapped) (b, a) else (a, b)
    kernel match {
      case "dotOrNull"   => graft.functions.VectorKernel.dotOrNull(x.asInstanceOf[ArrayData], y.asInstanceOf[ArrayData])
      case "dotOrNullBB" => graft.functions.VectorKernel.dotOrNullBB(x.asInstanceOf[ArrayData], y.asInstanceOf[ArrayData])
      case _             => graft.functions.VectorKernel.dotOrNullDB(x.asInstanceOf[ArrayData], y.asInstanceOf[ArrayData])
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val boxed = ctx.freshName("dotBoxed")
      val (x, y) = if (swapped) (b, a) else (a, b)
      s"""
         |java.lang.Double $boxed = graft.functions.VectorKernel.$kernel($x, $y);
         |if ($boxed == null) { ${ev.isNull} = true; } else { ${ev.value} = $boxed.doubleValue(); }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductExpr =
    copy(left = newLeft, right = newRight)
}

/** Fused int8 quantization — struct(codes: array<int>, scale) from
  * one primitive pass over the vector; see
  * [[graft.functions.VectorKernel.int8Quantize]] for the exactness
  * contract vs the three-lambda expression form it replaces.
  */
case class Int8QuantizeExpr(child: Expression)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(s"$prettyName needs array<double>, got $other")
    }
  override def dataType: DataType = StructType(Seq(
    StructField("codes", ArrayType(IntegerType, containsNull = true), nullable = false),
    StructField("scale", DoubleType, nullable = false)))
  override def prettyName: String = "graft_int8"

  override protected def nullSafeEval(input: Any): Any =
    graft.functions.VectorKernel.int8Quantize(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VectorKernel.int8Quantize($c)")

  override protected def withNewChildInternal(newChild: Expression): Int8QuantizeExpr =
    copy(child = newChild)
}

case class SimhashBitsExpr(child: Expression, bits: Int)
    extends UnaryExpression {
  require(bits > 0 && bits <= 32, "hex-nibble simhash supports 1..32 bits")

  override def checkInputDataTypes(): TypeCheckResult =
    HashExpressions.requireStringArray(prettyName, child)
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_simhash"

  override protected def nullSafeEval(input: Any): Any =
    graft.functions.SimhashKernel.bits(input.asInstanceOf[ArrayData], bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimhashKernel.bits($c, $bits)")

  override protected def withNewChildInternal(newChild: Expression): SimhashBitsExpr =
    copy(child = newChild)
}

/** Codegen'd sliding-window xxhash64 array — see
  * [[graft.functions.WindowHashKernel.hashes]] for why the
  * `transform(sequence, substr)` form it replaces is quadratic and
  * interpreted. Used by the ExactSubstr grid
  * ([[graft.pipeline.Dedup.repeatedSubstringSpans]]).
  */
case class WindowHashesExpr(child: Expression, window: Int, stride: Int)
    extends UnaryExpression {
  require(window > 0 && stride > 0, s"window/stride must be positive, got $window/$stride")

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(s"$prettyName needs string, got $other")
    }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_window_hashes"

  override protected def nullSafeEval(input: Any): Any =
    graft.functions.WindowHashKernel.hashes(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], window, stride)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.WindowHashKernel.hashes($c, $window, $stride)")

  override protected def withNewChildInternal(newChild: Expression): WindowHashesExpr =
    copy(child = newChild)
}

/** Codegen'd winnowing fingerprint selection — see
  * [[graft.functions.WinnowKernel.fingerprints]] (Schleimer et al.
  * 2003): O(n) rolling k-gram hash + monotonic-deque window minima
  * in one pass; no per-gram rows exist until the (sparse) selected
  * set explodes. Used by
  * [[graft.pipeline.TextAnalysis.winnowedFingerprints]].
  */
case class WinnowExpr(child: Expression, k: Int, w: Int)
    extends UnaryExpression {
  require(k > 0 && w > 0, s"k/w must be positive, got $k/$w")

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(s"$prettyName needs string, got $other")
    }
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("pos", IntegerType, nullable = false),
      StructField("hash", LongType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "graft_winnow"

  override protected def nullSafeEval(input: Any): Any =
    graft.functions.WinnowKernel.fingerprints(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.WinnowKernel.fingerprints($c, $k, $w)")

  override protected def withNewChildInternal(newChild: Expression): WinnowExpr =
    copy(child = newChild)
}

/** Codegen'd rank-1 codeword argbest for the PACKED PQ encode/training
  * (r19 opt): the winning codeword index of one subvector against one
  * subspace's codebook, as a tight primitive loop over driver-collected
  * codeword arrays — replacing the interpreted
  * `array_max(transform(lit, ...))` fold, whose per-element lambda
  * machinery dominated the m=8/ksub=256 builds (4M lambda evals per
  * corpus pass at sf0.1; 400M at sf10).
  *
  * Replays the SQL rank `row_number() OVER (ORDER BY metric, id ASC)`:
  *  - the metric replays the expression arithmetic term for term —
  *    cosine `round(dot / (aux * |cw|), dec)` with `aux` the staged
  *    subvector norm, L2 `round((aux - 2·dot) + |cw|², dec)` with
  *    `aux` the staged squared norm; dot is the same left-to-right
  *    accumulation as [[graft.functions.VectorKernel.dotOrNull]]
  *    (null on length mismatch or null element), and `round` is
  *    Spark's own Round recipe for doubles —
  *    `BigDecimal.valueOf(x).setScale(dec, HALF_UP)` with NaN/Inf
  *    passed through;
  *  - the id tiebreak is POSITIONAL: callers pass each subspace's
  *    codewords sorted by id in Spark's SQL ascending order (nulls
  *    first), so the first strictly better codeword wins. A null
  *    metric orders SMALLEST exactly like the window defaults (desc
  *    NULLS LAST → loses under cosine-max; asc NULLS FIRST → wins
  *    under L2-min) and NaN orders largest, NaN == NaN
  *    (java.lang.Double.compare — divergence from SQL comparison
  *    semantics is only possible at -0.0 vs 0.0, which Spark's Round
  *    can never emit).
  *
  * Children: (subvector: array<double>, aux: double, subId: int).
  * The codebook rides the expression as driver data (one codeword
  * array per subspace, bounded by m·ksub — the frame serving
  * broadcasts whole) and lands on executors inside the serialized
  * plan, exactly like a literal. Returns the winner's position in
  * `vs(subId)` — -1 when that subspace has no codeword; callers map
  * the index to id/norm/codeword via literal lookups.
  */
case class PqArgBestExpr(
    sv: Expression,
    aux: Expression,
    subId: Expression,
    vs: Array[Array[Array[Double]]],
    ns: Array[Array[Double]],
    dec: Int,
    l2: Boolean
) extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {

  override def first: Expression = sv
  override def second: Expression = aux
  override def third: Expression = subId

  override def checkInputDataTypes(): TypeCheckResult =
    (sv.dataType, aux.dataType, subId.dataType) match {
      case (ArrayType(DoubleType, _), DoubleType, IntegerType) =>
        TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName needs (array<double>, double, int), got $other")
    }
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_pq_argbest"

  // L2 codeword squared norms: the same left-to-right self-dot as
  // `dot(cbv, cbv)` in SQL (IEEE doubles — deterministic)
  private lazy val n2s: Array[Array[Double]] = vs.map(_.map(PqArgBestExpr.selfDot))

  /** dot(sv, cw) with dotOrNull's null contract; null encoded as NaN
    * sentinel is NOT possible (NaN is a legal value), so the winner
    * loop carries an explicit null flag instead.
    */
  def best(svA: ArrayData, aux: Double, s: Int): Int = {
    // NON-NULL INPUT CONTRACT: nullable = false means codegen omits
    // child null guards, so a null vector would otherwise NPE deep in
    // the loop. Every call site routes through dropZeroVectors first;
    // this names the contract violation instead of crashing opaquely.
    if (svA == null) throw new IllegalArgumentException(
      "graft_pq_argbest: null subvector - callers must drop null/zero vectors " +
        "(Similarity.dropZeroVectors) before the packed encode")
    if (s < 0 || s >= vs.length || vs(s).isEmpty) return -1
    val vsS = vs(s); val nsS = ns(s); val n2sS = n2s(s)
    val n = svA.numElements()
    var bi = 0
    var bNull = true
    var bMet = 0.0d
    var j = 0
    while (j < vsS.length) {
      val cw = vsS(j)
      var d = 0.0d
      var isNull = n != cw.length
      var i = 0
      while (!isNull && i < n) {
        if (svA.isNullAt(i)) isNull = true
        else { d += svA.getDouble(i) * cw(i); i += 1 }
      }
      var met = 0.0d
      var metNull = isNull
      if (!isNull) {
        if (!l2) {
          // Spark's Divide returns NULL on a zero divisor (non-ANSI),
          // so a zero-norm codeword LOSES under desc NULLS LAST in the
          // window/aggregation forms this kernel replays — replicate
          // that instead of Java's 0/0 = NaN, which the comparator
          // would rank LARGEST (a zero-norm codeword would win every
          // row in its subspace). Reachable: an init draw over an
          // all-zero subvector slice, or Lloyd means rounding to zero.
          val div = aux * nsS(j)
          if (div == 0.0d) metNull = true
          else met = PqArgBestExpr.roundHalfUp(d / div, dec)
        } else met = PqArgBestExpr.roundHalfUp((aux - 2.0d * d) + n2sS(j), dec)
      }
      val better =
        if (j == 0) true
        else {
          // cmp with null smallest, NaN largest (Double.compare)
          val c =
            if (metNull && bNull) 0
            else if (metNull) -1
            else if (bNull) 1
            else java.lang.Double.compare(met, bMet)
          if (!l2) c > 0 else c < 0 // max (sim desc) / min (dist asc)
        }
      if (better) { bi = j; bNull = metNull; bMet = met }
      j += 1
    }
    bi
  }

  /** [[best]] over a plain driver-side vector — the k-means driver
    * route ranks its collected rows with the kernel's own loop.
    */
  def best(sv: Array[Double], aux: Double, s: Int): Int =
    best(org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(sv), aux, s)

  override protected def nullSafeEval(a: Any, b: Any, c: Any): Any =
    best(a.asInstanceOf[ArrayData], b.asInstanceOf[Double], c.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, c) => {
      val ref = ctx.addReferenceObj("pqArgBest", this, classOf[PqArgBestExpr].getName)
      s"${ev.value} = $ref.best($a, $b, $c);"
    })

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): PqArgBestExpr =
    copy(sv = f, aux = s, subId = t)
}

object PqArgBestExpr {

  /** Spark's own Round recipe for doubles at `dec` decimals:
    * `BigDecimal.valueOf(x).setScale(dec, HALF_UP)`, NaN and the
    * infinities passed through.
    */
  def roundHalfUp(x: Double, dec: Int): Double =
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(dec, java.math.RoundingMode.HALF_UP).doubleValue()

  /** `dot(v, v)` by the same left-to-right accumulation as
    * [[graft.functions.VectorKernel.dotOrNull]] — the codeword squared
    * norm, bit-identical to the SQL expression.
    */
  def selfDot(v: Array[Double]): Double = {
    var s = 0.0d; var i = 0
    while (i < v.length) { s += v(i) * v(i); i += 1 }
    s
  }
}
