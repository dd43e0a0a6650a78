package graft.prep

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Fitted scaling transforms (reference: utils/numerical_transformer.py
  * SCALING_STRATEGIES). Each is a pure column expression + exact
  * inverse; fitted parameters are plain doubles broadcast inside the
  * expression tree, so transform/inverse stay inside whole-stage
  * codegen at any scale.
  */
sealed trait Scaler {
  def transform(c: Column): Column
  def inverse(c: Column): Column
}

/** Min-max to [0,1] ("normalize", numerical_transformer.py:140-145). */
final case class MinMaxScaler(min: Double, max: Double) extends Scaler {
  private val range = max - min
  def transform(c: Column): Column = (c - lit(min)) / lit(range)
  def inverse(c: Column): Column   = c * lit(range) + lit(min)
}

/** Z-score ("standardize", numerical_transformer.py:146-151). */
final case class StandardScaler(mean: Double, std: Double) extends Scaler {
  def transform(c: Column): Column = (c - lit(mean)) / lit(std)
  def inverse(c: Column): Column   = c * lit(std) + lit(mean)
}

/** Median/IQR scaling (sklearn RobustScaler analog): outlier-robust
  * centering — the fit stats are exact percentiles at small scale and
  * the deterministic log-histogram sketch
  * ([[QuantileFitMode.Sketch]]) on the 100 TB path, like every
  * quantile fit in this module.
  */
final case class RobustScaler(median: Double, q25: Double, q75: Double) extends Scaler {
  private val iqr = q75 - q25
  def transform(c: Column): Column = (c - lit(median)) / lit(iqr)
  def inverse(c: Column): Column   = c * lit(iqr) + lit(median)
}

/** Max-absolute scaling to [-1,1] (sklearn MaxAbsScaler analog):
  * preserves zero and sign — the sparse-data-friendly scaler.
  */
final case class MaxAbsScaler(maxAbs: Double) extends Scaler {
  def transform(c: Column): Column = c / lit(maxAbs)
  def inverse(c: Column): Column   = c * lit(maxAbs)
}

/** Yeo-Johnson power transform (sklearn PowerTransformer analog) for a
  * FIXED fitted lambda: sign-branched pow/log column expressions with
  * an exact inverse. transform(0) == 0, so the sign of the transformed
  * value mirrors the input's and `inverse` can branch on it.
  */
final case class YeoJohnsonScaler(lambda: Double) extends Scaler {
  def transform(c: Column): Column = {
    val pos =
      if (lambda == 0.0) log(c + lit(1.0))
      else (pow(c + lit(1.0), lit(lambda)) - lit(1.0)) / lit(lambda)
    val neg =
      if (lambda == 2.0) -log(lit(1.0) - c)
      else -(pow(lit(1.0) - c, lit(2.0 - lambda)) - lit(1.0)) / lit(2.0 - lambda)
    when(c >= 0, pos).otherwise(neg)
  }
  def inverse(y: Column): Column = {
    val pos =
      if (lambda == 0.0) exp(y) - lit(1.0)
      else pow(y * lit(lambda) + lit(1.0), lit(1.0 / lambda)) - lit(1.0)
    val neg =
      if (lambda == 2.0) lit(1.0) - exp(-y)
      else lit(1.0) - pow(lit(1.0) - lit(2.0 - lambda) * y, lit(1.0 / (2.0 - lambda)))
    when(y >= 0, pos).otherwise(neg)
  }
}

/** Signed log transform y = sign(x)·ln(1+|x|) (the symmetric log1p,
  * a.k.a. symlog — the fit-free heavy-tail compressor a pandas user
  * reaches for before the Yeo-Johnson MLE): exact inverse
  * sign(y)·(e^|y|−1), zero-preserving, monotone. Stateless — no fit
  * pass at any scale.
  */
case object SignedLogScaler extends Scaler {
  def transform(c: Column): Column = signum(c) * log(lit(1.0) + abs(c))
  def inverse(y: Column): Column   = signum(y) * (exp(abs(y)) - lit(1.0))
}

/** Grid-MLE fit for [[YeoJohnsonScaler]]: one aggregation pass computes,
  * for every candidate lambda, the transformed column's Σψ and Σψ² as
  * EXACT milli-unit integer sums (plus the shared Σ sign(x)·ln(|x|+1)
  * Jacobian term), then the driver picks the log-likelihood argmax —
  * LL(λ) = −(n/2)·ln(varMLE(ψ)) + (λ−1)·Σ sign(x)ln(|x|+1).
  *
  * Scale design: the fit is one job with 2·|grid|+2 aggregate columns
  * and O(|grid|) driver state; transform stays a narrow codegen
  * projection. Exact-integer milli quantization (±5e-4 per value —
  * far under the 0.25 grid step's LL gaps) makes the partial-sum ORDER
  * irrelevant, so an external SQL engine replays the identical argmax
  * (the §10 ExactAgg discipline applied to a model FIT).
  */
object PowerTransform {
  /** λ ∈ [−2, 2] step 0.25 — covers the sklearn-practical range while
    * keeping the worst-case ψ² milli-sum (λ = −2 on x ≈ −10³: ψ ≈
    * −2.5e11) inside decimal(38,0) headroom at any realistic n.
    */
  val defaultGrid: Seq[Double] = (-8 to 8).map(_ * 0.25)

  def fitYeoJohnson(df: org.apache.spark.sql.DataFrame, valueCol: String,
                    grid: Seq[Double] = defaultGrid): Double = {
    import org.apache.spark.sql.types.DecimalType
    val c = col(valueCol)
    val dec38 = DecimalType(38, 0)
    val perLambda = grid.zipWithIndex.flatMap { case (l, i) =>
      val pm = round(YeoJohnsonScaler(l).transform(c) * lit(1e3), 0)
        .cast("long").cast(dec38)
      Seq(sum(pm).as(s"s1_$i"), sum(pm * pm).as(s"s2_$i"))
    }
    val slogMilli = sum(round(signum(c) * log(abs(c) + lit(1.0)) * lit(1e3), 0)
      .cast("long")).as("slog")
    val row = df.where(c.isNotNull)
      .agg(count(lit(1)).as("n"), (slogMilli +: perLambda): _*).head()
    val n = row.getLong(0).toDouble
    require(n > 1, s"fitYeoJohnson: need >1 non-null rows in $valueCol")
    val slog = row.getLong(1) / 1e3
    var bestL = grid.head
    var bestLl = Double.NegativeInfinity
    grid.zipWithIndex.foreach { case (l, i) =>
      val s1 = row.getDecimal(2 + 2 * i).doubleValue()
      val s2 = row.getDecimal(3 + 2 * i).doubleValue()
      // identical double arithmetic to the SQL replay: exact integer
      // sums -> double, then the closed-form MLE variance in milli²
      val v = (s2 - s1 * s1 / n) / n / 1e6
      if (v > 0) {
        val ll = -(n / 2.0) * StrictMath.log(v) + (l - 1.0) * slog
        if (ll > bestLl) { bestLl = ll; bestL = l } // ties keep smaller λ
      }
    }
    bestL
  }
}

/** Equal-frequency binning into `boundaries.size + 1` bins (polars
  * `qcut` / sklearn KBinsDiscretizer(strategy="quantile") analog,
  * numerical_transformer.py:168-174). Boundaries are the fitted
  * k/n-quantiles; bin(x) = #{b : b < x}, i.e. left-closed bins. A
  * null stays null both ways.
  * The when-chain is branch-per-boundary — fine for codegen at the
  * typical n_bins <= 100.
  */
final case class KBinsScaler(boundaries: Seq[Double]) extends Scaler {
  def transform(c: Column): Column =
    boundaries.map(b => (c > lit(b)).cast("int")).reduce(_ + _)
  /** qcut has no exact inverse; reconstruct the bin's midpoint. A value
    * that is no bin index, null included, maps to null.
    */
  def inverse(c: Column): Column = {
    val mids = midpoints
    mids.zipWithIndex.foldLeft(lit(null): Column) { case (acc, (m, i)) =>
      when(c === lit(i), lit(m)).otherwise(acc)
    }
  }
  private def midpoints: Seq[Double] = {
    if (boundaries.isEmpty) Seq(0.0)
    else {
      val lo = boundaries.head - (boundaries.last - boundaries.head).max(1.0)
      val hi = boundaries.last + (boundaries.last - boundaries.head).max(1.0)
      (lo +: boundaries).zip(boundaries :+ hi).map { case (a, b) => (a + b) / 2 }
    }
  }
}

/** Quantile transform against a fitted quantile grid (sklearn
  * QuantileTransformer analog, numerical_transformer.py:152-167).
  * `grid(k)` is the k/(n-1)-quantile of the fit data; transform maps
  * x to its interpolated CDF position in [0,1] ("uniform") and
  * optionally through the normal inverse CDF ("normal"). A null stays
  * null both ways.
  *
  * Scale note: unlike a percent_rank window (global sort of the
  * transformed data), the grid makes transform a pure per-row
  * expression — the 100 TB path. The grid itself is one
  * `percentile`/`percentile_approx` aggregate at fit time.
  */
final case class QuantileGridScaler(grid: IndexedSeq[Double], normal: Boolean = false)
    extends Scaler {
  require(grid.size >= 2, "quantile grid needs >= 2 points")
  private val n = grid.size

  def transform(c: Column): Column = {
    // piecewise-linear CDF: for x in [grid(i), grid(i+1)) ->
    // (i + frac) / (n-1); clamp outside the grid. Only a null reaches
    // the fold's base.
    val segs = (0 until n - 1).map { i =>
      val lo = grid(i); val hi = grid(i + 1)
      val frac =
        if (hi > lo) (c - lit(lo)) / lit(hi - lo) else lit(0.0)
      (lit(i.toDouble) + frac) / lit((n - 1).toDouble)
    }
    val uniform = (0 until n - 1).reverse.foldLeft(lit(null): Column) { (acc, i) =>
      when(c < lit(grid(i + 1)), segs(i)).otherwise(acc)
    }
    val clamped = when(c <= lit(grid.head), 0.0)
      .when(c >= lit(grid.last), 1.0)
      .otherwise(uniform)
    if (normal) Probit(clamped) else clamped
  }

  def inverse(c: Column): Column = {
    val u = if (normal) Probit.inverse(c) else c
    val pos = u * lit((n - 1).toDouble)
    val segs = (0 until n - 1).map { i =>
      lit(grid(i)) + (pos - lit(i.toDouble)) * lit(grid(i + 1) - grid(i))
    }
    // only a null reaches the fold's base
    val interp = (0 until n - 1).reverse.foldLeft(lit(null): Column) { (acc, i) =>
      when(pos < lit((i + 1).toDouble), segs(i)).otherwise(acc)
    }
    when(u <= 0.0, grid.head).when(u >= 1.0, grid.last).otherwise(interp)
  }
}

/** Inverse normal CDF (probit) and normal CDF as pure column
  * arithmetic — Acklam's rational approximation (~1.15e-9 relative
  * error) and the Abramowitz–Stegun erf-based CDF. Keeps
  * quantile->normal scaling inside codegen: no UDF.
  */
object Probit {
  // Acklam coefficients.
  private val a = Seq(-3.969683028665376e+01, 2.209460984245205e+02,
    -2.759285104469687e+02, 1.383577518672690e+02, -3.066479806614716e+01,
    2.506628277459239e+00)
  private val b = Seq(-5.447609879822406e+01, 1.615858368580409e+02,
    -1.556989798598866e+02, 6.680131188771972e+01, -1.328068155288572e+01)
  private val cc = Seq(-7.784894002430293e-03, -3.223964580411365e-01,
    -2.400758277161838e+00, -2.549732539343734e+00, 4.374664141464968e+00,
    2.938163982698783e+00)
  private val d = Seq(7.784695709041462e-03, 3.224671290700398e-01,
    2.445134137142996e+00, 3.754408661907416e+00)
  private val pLow  = 0.02425
  private val pHigh = 1 - pLow
  private val eps   = 1e-7

  private def poly(coeffs: Seq[Double], x: Column): Column =
    coeffs.tail.foldLeft(lit(coeffs.head): Column)((acc, k) => acc * x + lit(k))

  /** probit(p) for p in (0,1); input clipped to [1e-7, 1-1e-7]
    * (SURVEY §3) so transformed extremes stay finite. A null stays null
    * (`greatest`/`least` would skip it and clip it to 1e-7).
    */
  def apply(p0: Column): Column = {
    val p = when(p0 < lit(eps), lit(eps)).when(p0 > lit(1 - eps), lit(1 - eps)).otherwise(p0)
    val qLow  = sqrt(lit(-2.0) * log(p))
    val xLow  = poly(cc, qLow) / (poly(d, qLow) * qLow + lit(1.0))
    val qMid  = p - lit(0.5)
    val r     = qMid * qMid
    val xMid  = poly(a, r) * qMid / (poly(b, r) * r + lit(1.0))
    val qHigh = sqrt(lit(-2.0) * log(lit(1.0) - p))
    val xHigh = -(poly(cc, qHigh) / (poly(d, qHigh) * qHigh + lit(1.0)))
    when(p < lit(pLow), xLow).when(p > lit(pHigh), xHigh).otherwise(xMid)
  }

  /** The same probit as ANSI SQL (DuckDB-compatible), generated from
    * the same coefficients — the oracle for quantile->normal queries.
    * `p` is a SQL expression for the (unclipped) uniform input.
    */
  def sql(p: String): String = {
    def poly(coeffs: Seq[Double], x: String): String =
      coeffs.tail.foldLeft(s"(${coeffs.head})")((acc, k) => s"($acc * $x + ($k))")
    val pc = s"least(greatest($p, $eps), ${1 - eps})"
    s"""(CASE
       |  WHEN $pc < $pLow THEN
       |    (${poly(cc, s"sqrt(-2.0 * ln($pc))")}) /
       |    ((${poly(d, s"sqrt(-2.0 * ln($pc))")}) * sqrt(-2.0 * ln($pc)) + 1.0)
       |  WHEN $pc > $pHigh THEN
       |    -((${poly(cc, s"sqrt(-2.0 * ln(1.0 - $pc))")}) /
       |      ((${poly(d, s"sqrt(-2.0 * ln(1.0 - $pc))")}) * sqrt(-2.0 * ln(1.0 - $pc)) + 1.0))
       |  ELSE
       |    (${poly(a, s"(($pc - 0.5) * ($pc - 0.5))")}) * ($pc - 0.5) /
       |    ((${poly(b, s"(($pc - 0.5) * ($pc - 0.5))")}) * (($pc - 0.5) * ($pc - 0.5)) + 1.0)
       |END)""".stripMargin
  }

  /** Newton steps of [[inverse]]: from [[cdf]]'s start, two reach the
    * double round-off of u everywhere in the clip range; the third
    * covers the ends, where the start is relatively coarsest.
    */
  private val newtonSteps = 3

  /** The u in [0, 1] that [[apply]] maps to z. It starts from [[cdf]]
    * (good to 1.5e-7) clamped into the clip range and takes Newton
    * steps u ← u − (probit(u) − z)·φ(z) against this probit itself —
    * φ(z) is 1/probit′(u) at the root — so a transformed u comes back
    * to about 1e-14. A z at or past a clip bound, probit(1e-7) or
    * probit(1 − 1e-7), maps to exactly 0 or 1, the way sklearn's
    * `BOUNDS_THRESHOLD` sends the clipped extremes to the grid ends. A
    * null stays null.
    */
  def inverse(z: Column): Column = {
    val phi = exp(-z * z / lit(2.0)) / lit(math.sqrt(2 * math.Pi))
    val u0 = cdf(z)
    val start = when(u0 < lit(eps), lit(eps)).when(u0 > lit(1 - eps), lit(1 - eps)).otherwise(u0)
    val refined = aggregate(sequence(lit(1), lit(newtonSteps)), start,
      (u, _) => u - (apply(u) - z) * phi)
    when(z <= apply(lit(eps)), 0.0).when(z >= apply(lit(1 - eps)), 1.0).otherwise(refined)
  }

  /** Standard normal CDF via erf (A&S 7.1.26, |err| < 1.5e-7). */
  def cdf(x: Column): Column = {
    val t = lit(1.0) / (lit(1.0) + lit(0.3275911) * abs(x) / sqrt(lit(2.0)))
    val poly = t * (lit(0.254829592) + t * (lit(-0.284496736) + t *
      (lit(1.421413741) + t * (lit(-1.453152027) + t * lit(1.061405429)))))
    val erf = lit(1.0) - poly * exp(-x * x / lit(2.0))
    val half = erf / lit(2.0)
    when(x >= 0, lit(0.5) + half).otherwise(lit(0.5) - half)
  }
}
