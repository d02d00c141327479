package graft

import graft.functions.VectorOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The DecimalDot long fast path must be bit-identical to the
  * declarative decimal fold (Spark's own Cast does the quantization
  * there — the ground truth) across magnitudes, signs, and the rounding
  * boundary zone the guard falls back on. */
class DecimalDotSpec extends AnyFunSuite with SparkSuite {

  private def check(vecs: Seq[(Seq[Float], Seq[Float])]): Unit = {
    import spark.implicits._
    val df = vecs.toDF("a", "b")
      .select(VectorOps.dot(col("a"), col("b")).as("kernel"),
        col("a"), col("b"))
      .select(col("kernel"),
        VectorOps.dotDeclarative(col("a"), col("b")).as("decl"))
    df.collect().foreach { r =>
      val (k, d) = (r.get(0), r.get(1))
      assert(k == d, s"kernel=$k declarative=$d")
    }
  }

  test("fast path ≡ declarative fold on wide-magnitude random vectors") {
    val rnd = new scala.util.Random(1234)
    def v(scale: Double) = Seq.fill(64)((rnd.nextGaussian() * scale).toFloat)
    val cases = for {
      _ <- 1 to 50
      // ≤1e4: keeps Σ|x·y| inside the DECIMAL(25,12) accumulator —
      // beyond it BOTH forms throw the ANSI overflow (defined behavior)
      s <- Seq(1e-20, 1e-8, 0.15, 1.0, 100.0, 1e4)
    } yield (v(s), v(s))
    check(cases)
  }

  test("boundary zone: products landing near scale-12 rounding ties") {
    // floats chosen so x·y · 1e12 sits within ~1e-4 of a .5 boundary —
    // inside the guard's fallback margin for these magnitudes, forcing
    // the exact-quantization branch to agree with Cast
    val rnd = new scala.util.Random(99)
    val cases = (1 to 2000).map { _ =>
      val k = rnd.nextInt(1000000)
      // target product ≈ (k + 0.5) / 1e12
      val a = rnd.nextFloat() + 0.5f
      val b = ((k + 0.5) / 1e12 / a).toFloat
      (Seq(a), Seq(b))
    }
    check(cases)
  }

  test("denormal and tiny products quantize to zero identically") {
    check(Seq(
      (Seq(1e-30f, -1e-30f, 1e-38f), Seq(1e-30f, 1e-30f, 1e-38f)),
      (Seq(Float.MinPositiveValue), Seq(Float.MinPositiveValue))))
  }

  test("null/length contract unchanged: mismatch and null element → null") {
    import spark.implicits._
    val df = Seq(
      (Seq(1.0f, 2.0f), Seq(1.0f)),
      (Seq(1.0f), Seq(2.0f))
    ).toDF("a", "b")
    val out = df.select(VectorOps.dot(col("a"), col("b"))).collect()
    assert(out(0).isNullAt(0))
    assert(out(1).getDouble(0) == 2.0)
  }

  test("term overflow beyond DECIMAL(26,12) still throws") {
    import spark.implicits._
    val df = Seq((Seq(1e19f), Seq(1e19f))).toDF("a", "b")
    val e = intercept[Exception] {
      df.select(VectorOps.dot(col("a"), col("b"))).collect()
    }
    assert(e.getMessage != null)
  }

  test("widening the exact sum: the double division ≡ BigDecimal's " +
      "doubleValue, bit for bit") {
    import graft.functions.DecimalDot.widen
    def viaBigDecimal(acc: Long): Double =
      java.math.BigDecimal.valueOf(acc, 12).doubleValue()
    def same(acc: Long): Unit = assert(
      java.lang.Double.doubleToRawLongBits(widen(acc)) ==
        java.lang.Double.doubleToRawLongBits(viaBigDecimal(acc)), s"acc=$acc")
    val top = (1L << 53) - 1
    Seq(0L, 1L, -1L, top, -top, top + 1, -top - 1, (1L << 52) - 1,
      1L << 52, (1L << 52) + 1, Long.MaxValue, Long.MinValue,
      999999999999L, 1000000000000L, 1000000000001L).foreach(same)
    val rnd = new scala.util.Random(53)
    // uniform bits at every magnitude, across the 2^53 switch
    (1 to 20000).foreach { _ =>
      same(rnd.nextLong() >> rnd.nextInt(64))
    }
    // sums whose quotient sits next to a midpoint between two doubles:
    // the unscaled value nearest (d + ulp(d)/2) · 10^12, and its
    // neighbours
    (1 to 20000).foreach { _ =>
      val d = math.pow(10, rnd.nextDouble() * 7 - 3) // 1e-3 … 1e4
      val mid = new java.math.BigDecimal(d)
        .add(new java.math.BigDecimal(math.ulp(d) / 2))
        .movePointRight(12)
        .setScale(0, java.math.RoundingMode.HALF_EVEN).longValueExact()
      (-2L to 2L).foreach { o =>
        val acc = if (rnd.nextBoolean()) mid + o else -(mid + o)
        same(acc)
      }
    }
  }
}
