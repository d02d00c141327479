package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Vector arithmetic over `array<float>` embedding columns, built from
  * codegen'd higher-order functions (`zip_with` + `aggregate`) — no UDF,
  * no driver-side math.
  *
  * Determinism contract (same scheme as graft.Det): float elements are
  * cast to double *before* multiplying (float bits → identical doubles in
  * any engine), each product is cast to DECIMAL(26,12) — the SAME type on
  * the Spark side and in the DuckDB [[sqlDot]] twin, so an overflowing
  * term (|product| >= 1e14) errors symmetrically on both engines instead
  * of only one — and the decimal sum is exact, so dot products and norms
  * are bit-identical to the oracle's unnest-and-SUM formulation
  * regardless of summation order. The 1e-12 quantum sits far above a
  * double product's ~1e-20 ulp (unit-magnitude data), so the per-term
  * cast is unambiguous.
  *
  * Scale: these are per-row expressions — a brute-force top-k over them
  * is a single scan + TakeOrderedAndProject. The ANN path (LSH bucketing,
  * see Similarity.sim_ann_lsh) reuses the same kernels inside buckets.
  */
object VectorOps {

  // Accumulator precision must stay low enough that decimal addition
  // never exceeds Spark's max precision 38: (25,12)+(26,12) promotes to
  // (27,12) — exact. A (38,12) accumulator would promote to (39,12),
  // overflow, and silently round to scale 11 under allowPrecisionLoss,
  // which is exactly the 1e-11 cross-engine drift this type exists to
  // prevent.
  private val Term = DecimalType(26, 12)
  private val Acc = DecimalType(25, 12)

  private def dsumArr(terms: Column): Column =
    aggregate(terms,
      lit(java.math.BigDecimal.ZERO).cast(Acc),
      (acc, x) => (acc + x).cast(Acc)
    ).cast(DoubleType)

  /** Exact (order-independent) dot product of two float-array columns,
    * via the fused [[DecimalDot]] kernel (one pass, no intermediate
    * array, bit-identical to [[dotDeclarative]] — DecimalDotSpec's
    * "fast path ≡ declarative fold" test pins the equivalence). */
  def dot(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(
      DecimalDot(ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }

  /** The declarative formulation [[dot]] fuses: zip_with product terms
    * cast to [[Term]], decimal-folded at [[Acc]]. Kept as the executable
    * spec of the kernel (and of the DuckDB [[sqlDot]] twin). */
  private[graft] def dotDeclarative(a: Column, b: Column): Column =
    dsumArr(zip_with(a, b,
      (x, y) => (x.cast(DoubleType) * y.cast(DoubleType)).cast(Term)))

  /** Exact squared L2 norm. */
  def norm2(a: Column): Column = dot(a, a)

  /** Cosine similarity; deterministic given [[dot]]/[[norm2]] (double
    * division and IEEE sqrt are correctly rounded). */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(norm2(a)) * sqrt(norm2(b)))

  /** Cosine from a fresh dot product and *precomputed* squared norms.
    * Bit-identical to [[cosine]] (the norm fold yields the same double
    * whether run once per row or once per pair), but in a join each side's
    * norm is computed once per row instead of once per candidate pair —
    * at k probes per vector that is ~3× less decimal arithmetic. */
  def cosineWithNorms(a: Column, b: Column, n2a: Column, n2b: Column): Column =
    dot(a, b) / (sqrt(n2a) * sqrt(n2b))

  /** SQL twin of [[dot]] for DuckDB oracles: aggregate over rows of
    * zipped unnested elements `x`,`y`. Per-term type matches [[Term]]. */
  def sqlDot(x: String, y: String): String =
    s"CAST(SUM(CAST(CAST($x AS DOUBLE) * CAST($y AS DOUBLE) AS DECIMAL(26,12))) AS DOUBLE)"

  /** List-indexed twin of [[dot]] for two DuckDB list expressions
    * (same DECIMAL(26,12) per-term contract as [[sqlDot]], but usable
    * per-row instead of via unnest + GROUP BY). The range is derived
    * from len() with an equality guard so a dimension mismatch nulls
    * the whole result — exactly what the Spark DecimalDot kernel does —
    * instead of list_sum silently skipping the NULL out-of-range terms. */
  def sqlDotList(a: String, b: String): String =
    s"CAST(CASE WHEN len($a) = len($b) THEN " +
      s"list_sum(list_transform(range(1, len($a) + 1), k -> " +
      s"CAST(CAST(($a)[k] AS DOUBLE) * CAST(($b)[k] AS DOUBLE) " +
      s"AS DECIMAL(26,12)))) END AS DOUBLE)"

  /** DuckDB twin of [[cosine]] over two list expressions, built from
    * [[sqlDotList]]. */
  def sqlCosList(a: String, b: String): String =
    s"${sqlDotList(a, b)} / (sqrt(${sqlDotList(a, a)}) * " +
      s"sqrt(${sqlDotList(b, b)}))"
}
