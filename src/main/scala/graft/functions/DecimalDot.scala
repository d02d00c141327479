package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.TypeBridge.AbstractType
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Fused exact dot product of two `array<float>` columns — the kernel
  * form of VectorOps' declarative `zip_with` + decimal-`aggregate`
  * fold, with bit-identical results:
  *
  *  - each product is the double rounding of x·y after float→double
  *    widening (same in any engine);
  *  - the per-term decimal quantization reproduces Spark's
  *    double→DECIMAL(26,12) cast exactly: `BigDecimal.valueOf(p)`
  *    (shortest decimal representation, like `Cast`) then
  *    `setScale(12, HALF_UP)`;
  *  - terms whose magnitude would overflow DECIMAL(26,12), or running
  *    sums that would overflow the DECIMAL(25,12) accumulator, throw —
  *    mirroring the ANSI behavior of the declarative form and of the
  *    DuckDB twin, so failure stays symmetric across engines;
  *  - the exact scale-12 sum is widened to double at the end.
  *
  * Why a kernel: the declarative fold allocates one zipped array plus
  * one Catalyst Decimal per element per pair; in the similarity join
  * family that is the hot loop. This is one pass, no intermediate
  * array, and `java.math.BigDecimal` arithmetic only.
  *
  * Null contract (mirrors zip_with + fold): null result if either
  * array is null, any element is null, or lengths differ (zip_with
  * pads the short side with nulls, which nulls the fold).
  */
case class DecimalDot(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  // array<float> only — an implicit double→float downcast would change
  // values silently, and Catalyst correctly refuses to insert one
  override def inputTypes: Seq[AbstractType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def eval(
      input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val a = left.eval(input)
    if (a == null) return null
    val b = right.eval(input)
    if (b == null) return null
    DecimalDot.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val leftGen = left.genCode(ctx)
    val rightGen = right.genCode(ctx)
    val boxed = ctx.freshName("dotRes")
    val code =
      code"""
        |${leftGen.code}
        |${rightGen.code}
        |boolean ${ev.isNull} = true;
        |double ${ev.value} = 0.0;
        |if (!${leftGen.isNull} && !${rightGen.isNull}) {
        |  Double $boxed = graft.functions.DecimalDot.dot(
        |    ${leftGen.value}, ${rightGen.value});
        |  if ($boxed != null) { ${ev.isNull} = false; ${ev.value} = $boxed; }
        |}
      """.stripMargin
    ev.copy(code = code)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DecimalDot =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "decimal_dot"
}

object DecimalDot {
  import java.math.{BigDecimal => JBD, RoundingMode}

  private val TermLimit = new JBD(java.math.BigInteger.TEN.pow(26), 12)
  private val AccLimit = new JBD(java.math.BigInteger.TEN.pow(25), 12)

  /** Shared by interpreted eval and generated code. Returns a boxed
    * Double, or null per the expression's null contract.
    *
    * Hot path: the scale-12 quantization of each term is carried as a
    * scaled LONG (`p · 1e12` rounded to nearest) whenever that rounding
    * is provably unambiguous — the scaled value sits further from the
    * nearest .5 boundary than the combined error of the ×1e12 multiply
    * (≤ ½ ulp) and of the shortest-repr↔binary gap that Spark's
    * double→decimal Cast introduces (≤ ½ ulp of p, scaled). Outside
    * that guard (ties, |scaled| ≥ 2^51, NaN/Inf) the term falls back
    * to the exact BigDecimal quantization, and a long-accumulator
    * overflow restarts the whole dot in the all-BigDecimal path, which
    * also owns the DECIMAL(26,12)/(25,12) overflow errors. Same value
    * bit-for-bit as the pure-BigDecimal form on every input
    * (SimilarityTextSpec pins kernel ≡ declarative fold; DecimalDotSpec
    * stress-tests the boundary guard) — just ~20× less allocation on
    * the similarity hot loop. */
  def dot(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0L // unscaled scale-12 sum
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val p = a.getFloat(i).toDouble * b.getFloat(i).toDouble
      val scaled = p * 1e12
      var t = 0L
      // NaN fails both comparisons → falls through to the exact path
      // (which throws, as the decimal cast always did)
      if (scaled > -2.2e15 && scaled < 2.2e15) {
        val fl = Math.floor(scaled)
        val distToHalf = Math.abs((scaled - fl) - 0.5)
        if (distToHalf > 2.0 * Math.ulp(scaled) + 1e-9) {
          t = Math.floor(scaled + 0.5).toLong
        } else {
          t = quantizeExact(p) // near a tie: decide exactly
        }
      } else if (java.lang.Double.isNaN(scaled) ||
          java.lang.Double.isInfinite(scaled)) {
        quantizeExact(p) // throws NumberFormatException like the cast
      } else {
        return dotSlow(a, b) // huge terms: all-BigDecimal semantics
      }
      val next = acc + t
      // overflow check (Math.addExact without the exception cost)
      if (((acc ^ next) & (t ^ next)) < 0L) return dotSlow(a, b)
      acc = next
      i += 1
    }
    widen(acc)
  }

  /** The exact scale-12 sum `acc / 10^12` as a double. Below 2^53 both
    * `acc` and 1e12 are exact doubles, so one IEEE division IS the
    * correctly rounded quotient — the same bits `BigDecimal.doubleValue`
    * returns (itself correctly rounded), without allocating it. */
  private[graft] def widen(acc: Long): Double =
    if (acc > -(1L << 53) && acc < (1L << 53)) acc.toDouble / 1e12
    else JBD.valueOf(acc, 12).doubleValue()

  /** Exact scale-12 unscaled quantization of one term — the literal
    * semantics of Spark's Cast(double → DECIMAL(26,12)). */
  private def quantizeExact(p: Double): Long = {
    val term = JBD.valueOf(p).setScale(12, RoundingMode.HALF_UP)
    if (term.abs.compareTo(TermLimit) >= 0)
      throw new ArithmeticException(
        s"decimal_dot term $term overflows DECIMAL(26,12)")
    term.unscaledValue().longValueExact() // < 2.2e15+1 by the guard above
  }

  /** The original all-BigDecimal path: large-magnitude terms and
    * accumulator overflow land here so the DECIMAL(26,12)/(25,12)
    * limit errors fire exactly as the declarative form's would. */
  private def dotSlow(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    var sum = JBD.ZERO
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val p = a.getFloat(i).toDouble * b.getFloat(i).toDouble
      // exact twin of Spark's Cast(double -> DECIMAL(26,12))
      val term = JBD.valueOf(p).setScale(12, RoundingMode.HALF_UP)
      if (term.abs.compareTo(TermLimit) >= 0)
        throw new ArithmeticException(
          s"decimal_dot term $term overflows DECIMAL(26,12)")
      sum = sum.add(term)
      if (sum.abs.compareTo(AccLimit) >= 0)
        throw new ArithmeticException(
          s"decimal_dot sum $sum overflows DECIMAL(25,12)")
      i += 1
    }
    sum.doubleValue()
  }
}
