package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, TernaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Shared float-vector kernel for interpreted eval and generated code —
  * operates directly on Catalyst [[ArrayData]] (no `Array[Float]`
  * materialization, no Encoder round-trip). The arithmetic REPLICATES
  * [[graft.operators.Similarity.dotP]] exactly: left-to-right sum of
  * per-element double-promoted products, so a plan scored through this
  * expression is bit-identical to the typed-map path it replaces (the
  * DuckDB oracles' rounding discipline depends on that). */
object VectorKernels {
  def dotF(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getFloat(i).toDouble * b.getFloat(i).toDouble; i += 1 }
    s
  }

  /** Integer dot over int8 code arrays (`binary` columns) — replicates
    * [[graft.operators.Similarity.dotI]]: exact integer arithmetic, no
    * floating point until the caller's final division, which is what
    * keeps the int8 search path hash-oracle-able. */
  def dotI8(a: Array[Byte], b: Array[Byte]): Long = {
    val n = a.length
    var s = 0L
    var i = 0
    while (i < n) { s += a(i).toLong * b(i).toLong; i += 1 }
    s
  }

  /** Asymmetric-distance lookup over a PQ code — replicates
    * [[graft.operators.Pq.adcDot]]: `Σ_m tab[m·k + code[m]]` in ascending
    * subspace order (the pinned oracle summation), code bytes read as
    * UNSIGNED cids. No multiply touches the candidate — the whole point
    * of the ADC tier. */
  def adc(tab: ArrayData, code: Array[Byte], k: Int): Double = {
    var s = 0.0
    var m = 0
    while (m < code.length) { s += tab.getDouble(m * k + (code(m) & 0xFF)); m += 1 }
    s
  }
}

/** Native codegen dot product over two `array<float>` columns — the
  * ANN scoring hot path. The candidate-scoring stage of
  * [[graft.operators.IvfIndex.search]] / [[graft.operators.ImiIndex.search]]
  * evaluates one dot per (query, neighbor) candidate pair — the single
  * largest term in the streaming vector gate's per-batch wall (StreamBench
  * r7 attribution; the probe is last in commit 7edabe5). As a typed
  * Dataset `.map` that cost an Encoder
  * deserialization of BOTH 64-float vectors per pair plus a norm
  * recomputation of the stored side; as a native expression the scoring
  * stays inside whole-stage codegen reading [[ArrayData]] in place.
  *
  * Null semantics: SQL-idiomatic (either side NULL → NULL); array
  * ELEMENTS are assumed non-null (embedding columns are dense by
  * contract — a null element would read as 0.0, same as the typed path's
  * Encoder would produce). Length contract matches `dotP`: iterates the
  * LEFT array's length. */
case class DotFloat(left: Expression, right: Expression) extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"${DotFloat.FuncName} requires two array<float> arguments, got " +
        s"${left.dataType.catalogString}, ${right.dataType.catalogString}")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = DotFloat.FuncName

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.dotF(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.plans.VectorKernels.dotF($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotFloat =
    copy(left = newLeft, right = newRight)
}

/** Native codegen integer dot product over two `binary` int8-code
  * columns — the scoring kernel of the stored int8 search tier
  * ([[graft.operators.IvfIndex.searchInt8]]): 64-byte codes instead of
  * 256-byte float arrays per candidate (4× less scanned/joined data),
  * exact integer scoring. Same null/length contract as [[DotFloat]]. */
case class DotInt8(left: Expression, right: Expression) extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == BinaryType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"${DotInt8.FuncName} requires two binary arguments, got " +
        s"${left.dataType.catalogString}, ${right.dataType.catalogString}")
  override def dataType: DataType = LongType
  override def prettyName: String = DotInt8.FuncName

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.dotI8(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.plans.VectorKernels.dotI8($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotInt8 =
    copy(left = newLeft, right = newRight)
}

/** Native codegen ADC (asymmetric distance computation) lookup — the
  * scoring kernel of the stored PQ search tier
  * ([[graft.operators.IvfIndex.searchPq]]): the query's precomputed
  * `array<double>` lookup table (`m·k` flat, see
  * [[graft.operators.Pq.adcTable]]), the candidate's `m`-byte `binary`
  * PQ code, and the per-subspace codebook size `k`. 8-byte codes instead
  * of 64-byte int8 vectors per candidate — another 8× off the candidate
  * scan's bytes; scoring is `m` array reads per candidate, zero
  * multiplies. Null semantics: any NULL argument → NULL (the table and
  * code are dense by contract). */
case class AdcLookup(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(DoubleType, _), BinaryType, IntegerType) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b, c) => TypeCheckResult.TypeCheckFailure(
        s"${AdcLookup.FuncName} requires (array<double>, binary, int), got " +
          s"${a.catalogString}, ${b.catalogString}, ${c.catalogString}")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = AdcLookup.FuncName

  override def nullSafeEval(tab: Any, code: Any, k: Any): Any =
    VectorKernels.adc(tab.asInstanceOf[ArrayData],
      code.asInstanceOf[Array[Byte]], k.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, c, k) => s"graft.plans.VectorKernels.adc($t, $c, $k)")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): AdcLookup =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object AdcLookup {
  val FuncName = "graft_adc"

  def ensureRegistered(spark: SparkSession): Unit = {
    val id = FunctionIdentifier(FuncName)
    val registry = spark.sessionState.functionRegistry
    if (!registry.functionExists(id))
      registry.registerFunction(id,
        new ExpressionInfo(classOf[AdcLookup].getName, FuncName),
        (children: Seq[Expression]) => {
          require(children.length == 3, s"$FuncName takes exactly 3 arguments")
          AdcLookup(children.head, children(1), children(2))
        })
  }
}

object DotInt8 {
  val FuncName = "graft_dot_i8"

  def ensureRegistered(spark: SparkSession): Unit = {
    val id = FunctionIdentifier(FuncName)
    val registry = spark.sessionState.functionRegistry
    if (!registry.functionExists(id))
      registry.registerFunction(id,
        new ExpressionInfo(classOf[DotInt8].getName, FuncName),
        (children: Seq[Expression]) => {
          require(children.length == 2, s"$FuncName takes exactly 2 arguments")
          DotInt8(children.head, children(1))
        })
  }
}

object DotFloat {
  val FuncName = "graft_dot_f"

  /** Idempotent per-session registration (same pattern as
    * [[CappedCollectLong.ensureRegistered]]). */
  def ensureRegistered(spark: SparkSession): Unit = {
    val id = FunctionIdentifier(FuncName)
    val registry = spark.sessionState.functionRegistry
    if (!registry.functionExists(id))
      registry.registerFunction(id,
        new ExpressionInfo(classOf[DotFloat].getName, FuncName),
        (children: Seq[Expression]) => {
          require(children.length == 2, s"$FuncName takes exactly 2 arguments")
          DotFloat(children.head, children(1))
        })
  }
}
