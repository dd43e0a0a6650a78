package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Engine-portable exact aggregation arithmetic (SURVEY §10).
  *
  * Two divergence classes make a plain `round(avg/sum(double), 6)`
  * unverifiable against a second engine at scale:
  * 1. distributed partial-aggregation ORDER makes the double sum
  *    differ from a sequential engine's in the low bits;
  * 2. when the TRUE result is a terminating decimal sitting exactly on
  *    a 5·10⁻⁷ midpoint, Spark's exact-decimal rounding and another
  *    engine's double rounding resolve the tie differently.
  * The fixes: sums ride exact decimals (order-free); means quantize
  * terms to integer microunits and round half-up in pure int64
  * arithmetic (deterministic on both engines, agreeing even on exact
  * ties). Quantization error ≤ 5e-7 per term — below a 6-dp output.
  */
object ExactAgg {

  /** Exact decimal(28,6) sum, returned as double — order-independent,
    * so distributed partial aggregation matches a sequential engine.
    * The cast rounds terms at 6 dp; for terms that are ≤6-dp decimals
    * (prices, quantities, rates) it is exact.
    */
  def decSum(e: Column): Column =
    sum(e.cast("decimal(28,6)")).cast("double")

  /** [[decSum]] kept as EXACT decimal(38,6) — for published sums whose
    * magnitude can exceed 2^53·1e-6 ≈ 9.0e9, where a 6-dp double is no
    * longer well-defined (the 1e-6 grid falls below one ulp and the
    * engines' round(·, 6) pick ADJACENT doubles: the r15 sf1 class —
    * q_agg's 2.7e10 sum_disc_price differed at the 6th decimal with
    * both engines "right"). The decimal survives any corpus size; the
    * oracle mirrors with sum(x::DECIMAL(28,6)) and both sides print
    * the identical scale-6 string.
    */
  def decSumExact(e: Column): Column =
    sum(e.cast("decimal(28,6)"))

  /** Half-up mean of terms quantized to integer microunits: exact
    * int64 arithmetic end-to-end. Assumes |term|·n·1e6 fits int64.
    */
  def microAvg(e: Column): Column =
    microQuotient(sum(round(e * lit(1e6), 0).cast("long")), count(e))

  /** [[microAvg]] as a WINDOW aggregate (e.g. the per-series mean that
    * feeds central moments) — same exact int64 arithmetic, evaluated
    * over `w` instead of a grouping.
    */
  def microAvgWindow(e: Column, w: org.apache.spark.sql.expressions.WindowSpec): Column =
    microQuotient(sum(round(e * lit(1e6), 0).cast("long")).over(w),
      count(e).over(w))

  /** Half-up s/n in pure int64 (shared by the grouped and windowed
    * micro means, and by any caller carrying a precomputed micro sum —
    * e.g. the k-means training loop's fed-forward centroid means),
    * returned as double units. Engine-unambiguous: no double division
    * happens before the quantization digit is settled, so a replaying
    * engine whose round() breaks 5e-7 ties differently (DuckDB's
    * scaled-double round vs Spark's BigDecimal HALF_UP) still lands on
    * the identical value.
    */
  def microQuotient(s: Column, n: Column): Column = {
    // exact integer division a div b for non-negative a: a - pmod is a
    // multiple of b, so the double division is exact
    def intDiv(a: Column, b: Column): Column = (a - pmod(a, b)) / b
    val q = when(s >= 0, intDiv(s * 2 + n, n * 2))
      .otherwise(-intDiv(-(s * 2) + n, n * 2))
    q / lit(1e6)
  }

  /** Least-squares (slope, intercept) of v over the 0-based row index,
    * in CLOSED FORM from exact components: Σx and Σx² are integer
    * functions of n alone, Σy and Σxy ride exact decimal sums — every
    * input to the final double arithmetic is bit-identical on both
    * engines, unlike regr_slope/regr_intercept whose internal moment
    * accumulation differs in the low bits. (Σx² fits int64 for
    * n ≤ ~2.4e5 per series.)
    */
  def trendFit(v: Column, idx: Column): (Column, Column) = {
    val n = count(v).cast("double")
    val cnt = count(v)
    val sx = ((cnt * (cnt - 1) - pmod(cnt * (cnt - 1), lit(2L))) / 2)
    val sx2 = {
      val p = cnt * (cnt - 1) * (cnt * 2 - 1)
      (p - pmod(p, lit(6L))) / 6
    }
    val sy = sum(v.cast("decimal(18,6)")).cast("double")
    val sxy = sum((idx * v).cast("decimal(28,6)")).cast("double")
    val slope = try_divide(n * sxy - sx * sy, n * sx2 - sx * sx)
    val intercept = try_divide(sy - slope * sx, n)
    (slope, intercept)
  }
}
