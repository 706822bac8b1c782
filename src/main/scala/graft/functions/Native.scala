package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Whole-stage-codegen'd whitespace token count over UTF8String bytes.
  *
  * Semantics: token count = number of maximal runs of non-whitespace, with
  * whitespace = the RE2 \s class [\t\n\f\r ] (see NativeKernels.isWsByte),
  * i.e. exactly `len(regexp_extract_all(text, '\S+'))` in DuckDB. Blank
  * input counts 0 (the `split` idiom would return 1 there); NULL input
  * null-propagates to NULL, like every Catalyst null-safe expression — SQL
  * surfaces that need 0-for-null wrap it in coalesce. Counting runs directly
  * over the UTF-8 bytes with no Pattern, no String materialization and no
  * array allocation: the whitespace class is pure ASCII, and UTF-8
  * continuation/lead bytes of multibyte code points are never ASCII, so a
  * byte-level scan is exact.
  *
  * This is the preference-order (b) path of the engine contract — a native
  * Catalyst Expression with `doGenCode` where a UDF would break whole-stage
  * codegen. Registered for SQL via [[graft.plans.GraftExtensions]] (the
  * `spark.sql.extensions` production route) or
  * [[NativeFunctions.ensureRegistered]] (works on any already-built session).
  */
case class WsTokenCount(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"ws_token_count requires STRING, got ${child.dataType.catalogString}")
  override def dataType: DataType = IntegerType
  override def prettyName: String = "ws_token_count"

  override protected def nullSafeEval(input: Any): Any =
    NativeKernels.wsTokenCount(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NativeKernels.wsTokenCount($c)")

  override protected def withNewChildInternal(newChild: Expression): WsTokenCount =
    copy(child = newChild)
}

/** Codegen'd float-vector dot product: sum over index order of
  * double-promoted elementwise products — bit-identical to the
  * `aggregate(zip_with(a, b, (x, y) -> double(x)*double(y)), 0d, +)` HOF
  * chain (and to DuckDB's ordered list_sum) INCLUDING null semantics:
  * mismatched lengths or a null element yield NULL, exactly as zip_with's
  * null padding / null-product poisoning would. Higher-order functions are
  * CodegenFallback in Spark — on an all-pairs similarity join this
  * expression is the difference between interpreted and compiled inner
  * loops. Norm = sqrt(dot(a, a)).
  */
case class FloatVecDot(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"float_vec_dot requires ARRAY<FLOAT> args, got " +
        s"${left.dataType.catalogString}, ${right.dataType.catalogString}")
  }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "float_vec_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    NativeKernels.floatVecDotOrNull(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
         |java.lang.Double ${ev.value}_r = graft.functions.NativeKernels.floatVecDotOrNull($a, $b);
         |if (${ev.value}_r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = ${ev.value}_r.doubleValue(); }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatVecDot =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd PQ asymmetric-style distance (the e09 scoring kernel): exact
  * L2² of the query against the codebook reconstruction, summed in
  * dimension order — operation-for-operation identical to the Scala-UDF
  * form it replaces (`(q(j).toDouble - cents(code(j/sd))(j).toDouble)²`
  * accumulated left-to-right, float→double promotion per element), so every
  * score is bit-identical and the DuckDB oracle is unchanged. The subspace
  * width is derived as `q.length / code.length`.
  *
  * Contract: `q.length` must be a multiple of `code.length` (both 0 is the
  * empty distance 0.0); anything else fails the row with an
  * IllegalArgumentException rather than silently dropping the trailing
  * dimensions.
  *
  * Why native (guide §4 / round-6 measurement): a Spark 4 Scala UDF pays
  * ~40µs PER CALL just converting its collection arguments (measured: a
  * `Seq[Int] => Double` UDF that only reads `.length` costs 1.7 s over the
  * 40k scoring pairs where the same projection without a UDF costs 0.13 s)
  * — on the candidate-scoring join that overhead IS the query's cost. The
  * codebook rides along as a (constant-folded) nested-array literal, read
  * directly as ArrayData with no per-row conversion.
  */
case class PqDist(query: Expression, code: Expression, codebook: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {

  import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, IntegerType => IntT}

  override def first: Expression = query
  override def second: Expression = code
  override def third: Expression = codebook

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = (query.dataType, code.dataType, codebook.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(IntT, _),
            ArrayType(ArrayType(FloatType, _), _)) => true
      case _ => false
    }
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "pq_dist requires (ARRAY<FLOAT>, ARRAY<INT>, ARRAY<ARRAY<FLOAT>>), got " +
        s"${query.dataType.catalogString}, ${code.dataType.catalogString}, " +
        s"${codebook.dataType.catalogString}")
  }
  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def prettyName: String = "pq_dist"

  override protected def nullSafeEval(q: Any, c: Any, cb: Any): Any =
    NativeKernels.pqDist(
      q.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      c.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      cb.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (q, c, cb) =>
      s"${ev.value} = graft.functions.NativeKernels.pqDist($q, $c, $cb);")

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): PqDist = copy(f, s, t)
}

/** Codegen'd SQ8 quantized cosine (the e08 scoring kernel): exact Long sums
  * of dot/norms over the int8 codes in index order, then the same final
  * double expression the query previously assembled from the UDF's struct —
  * `if (na == 0 || nb == 0) 0.0 else dt / (sqrt(na) * sqrt(nb))` — so the
  * result is bit-identical and the oracle unchanged. Same rationale as
  * [[PqDist]]: the two ARRAY<BIGINT> arguments made the Scala UDF's per-call
  * conversion the dominant cost of the scoring join.
  */
case class Sq8Cos(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType}

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"sq8_cos requires ARRAY<BIGINT> args, got " +
        s"${left.dataType.catalogString}, ${right.dataType.catalogString}")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "sq8_cos"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    NativeKernels.sq8Cos(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.NativeKernels.sq8Cos($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Sq8Cos =
    copy(left = newLeft, right = newRight)
}

/** Static kernels referenced from generated code (must be stable, public,
  * and JVM-static-reachable from the codegen'd class).
  */
object NativeKernels {

  /** PQ reconstruction distance; see [[PqDist]]. Mirrors the former UDF
    * loop exactly: j ascends 0 until q.length, diff in double, sum += diff².
    */
  def pqDist(q: org.apache.spark.sql.catalyst.util.ArrayData,
      code: org.apache.spark.sql.catalyst.util.ArrayData,
      cb: org.apache.spark.sql.catalyst.util.ArrayData): Double = {
    val n = q.numElements()
    val m = code.numElements()
    require(if (m == 0) n == 0 else n % m == 0,
      s"pq_dist: query length $n is not a multiple of code length $m")
    val sd = if (m == 0) 0 else n / m
    var sum = 0.0
    var s = 0
    while (s < m) {
      val cent = cb.getArray(code.getInt(s))
      var j = s * sd
      val end = (s + 1) * sd
      while (j < end) {
        val diff = q.getFloat(j).toDouble - cent.getFloat(j).toDouble
        sum += diff * diff
        j += 1
      }
      s += 1
    }
    sum
  }

  /** SQ8 quantized cosine; see [[Sq8Cos]]. Mirrors the former UDF's Long
    * accumulation (loop bound = min length) and the query's final
    * when/otherwise double expression.
    */
  def sq8Cos(a: org.apache.spark.sql.catalyst.util.ArrayData,
      b: org.apache.spark.sql.catalyst.util.ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dt = 0L; var na = 0L; var nb = 0L
    var i = 0
    while (i < n) {
      val x = a.getLong(i); val y = b.getLong(i)
      dt += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0L || nb == 0L) 0.0
    else dt.toDouble / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble))
  }

  /** Dot product with the HOF chain's null semantics: null when lengths
    * differ (zip_with null padding) or any element is null (null product
    * poisons the running sum). Null-slot probing is a bitset read on
    * UnsafeArrayData — negligible next to the multiply-adds.
    */
  def floatVecDotOrNull(a: org.apache.spark.sql.catalyst.util.ArrayData,
      b: org.apache.spark.sql.catalyst.util.ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }

  /** Whitespace class = RE2/DuckDB `\s` = [\t\n\f\r ]. Deliberately EXCLUDES
    * \x0B (which Java's regex \s includes) so the kernel agrees byte-for-byte
    * with the DuckDB `\S+` oracle; texts are vertical-tab-free in practice,
    * and the oracle's class is the documented contract.
    */
  @inline private def isWsByte(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == '\f' || b == '\r'

  def wsTokenCount(s: UTF8String): Int = {
    if (s == null) return 0
    val n = s.numBytes()
    var count = 0
    var i = 0
    while (i < n) {
      while (i < n && isWsByte(s.getByte(i))) i += 1
      if (i < n) { count += 1; while (i < n && !isWsByte(s.getByte(i))) i += 1 }
    }
    count
  }
}

/** Session-level registration helpers for the native expression library. */
object NativeFunctions {

  /** The native functions as (SQL name, expression class, builder): the one
    * list both [[graft.plans.GraftExtensions]] and [[ensureRegistered]] read.
    */
  val All: Seq[(String, Class[_ <: Expression], Seq[Expression] => Expression)] = Seq(
    ("ws_token_count", classOf[WsTokenCount], e => WsTokenCount(e.head)),
    ("float_vec_dot", classOf[FloatVecDot], e => FloatVecDot(e.head, e(1))),
    ("pq_dist", classOf[PqDist], e => PqDist(e.head, e(1), e(2))),
    ("sq8_cos", classOf[Sq8Cos], e => Sq8Cos(e.head, e(1))))

  /** Idempotently register the native functions on an existing session —
    * covers harnesses that build the SparkSession without
    * `spark.sql.extensions` wired.
    */
  def ensureRegistered(spark: org.apache.spark.sql.SparkSession): Unit =
    All.foreach { case (name, _, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        name, builder, "scala_udf")
    }
}
