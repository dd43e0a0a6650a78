package graft.operators

import java.math.{BigDecimal, RoundingMode}

import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, LongType}

/** The per-series pass behind the extract family ([[TsFeatures.extract]],
  * [[TsFeatures.extractMulti]], [[TsFeatures.extractWindowed]]): the 82
  * tsfresh-style features of one value column of one series, from its
  * values in series order, by loops over primitive arrays — first the
  * whole-series statistics, then the terms that depend on the mean.
  *
  * The kernel repeats Spark SQL's arithmetic operation for operation, so
  * each feature is the double a window + aggregate plan over the same
  * rows computes:
  *  - a sum adds its defined terms left to right in series order,
  *    starting from 0.0, and is null when no term is defined (Spark
  *    `sum`); a mean divides that sum by the term count (`avg`);
  *  - the population variance is Spark's Welford update of (n, avg, m2)
  *    in series order (`var_pop`, `stddev_pop`);
  *  - a percentile interpolates `(higher − pos)·lo + (pos − lower)·hi`
  *    between the sorted values around `pos = (n − 1)·p` (`percentile`);
  *  - a decimal sum casts each term as Spark's `Decimal` does (its
  *    shortest decimal form half-up to the target scale; a term that
  *    overflows the precision is null, as without ANSI), adds exactly,
  *    and converts with `BigDecimal.doubleValue` (`Decimal.toDouble`);
  *  - `round(x, s)` rounds x's shortest decimal form half-up;
  *  - comparisons follow Spark's double ordering (NaN above everything,
  *    -0.0 equal to 0.0) and min/max keep the first extreme seen;
  *  - log, log10 and pow are `StrictMath`'s and sqrt, sin, cos and abs
  *    `java.lang.Math`'s, as in Spark's generated code;
  *  - every division is `try_divide`: null on a zero divisor, so an
  *    all-zero or all-null series yields null features, not an error.
  */
private[operators] object ExtractKernel {

  /** Feature names and output types of one value column, in output
    * order. The extract family emits every value column's first
    * `Features.size - Late` features, then every value column's last
    * [[Late]] (the ones computed from the rounded autocorrelation
    * ladder and magnitude spectrum).
    */
  val Features: Seq[(String, DataType)] = {
    val longs = Set("n", "count_above_mean", "count_below_mean", "n_peaks",
      "n_crossings_mean", "n_crossings_0")
    val ints = Set("strike_above", "strike_below", "has_dup_max", "has_dup_min",
      "large_std", "symmetry_look")
    Seq("n", "mean_v", "std_v", "min_v", "max_v", "sum_v", "median_v", "abs_energy",
      "mean_abs_change", "mean_change", "autocorr_lag1", "trend_slope", "trend_intercept",
      "skewness", "kurtosis", "count_above_mean", "count_below_mean", "first_v", "last_v",
      "range_v", "q25", "q75", "abs_max", "cid_ce", "n_peaks", "strike_above", "strike_below",
      "energy_ratio_c0", "first_loc_max", "last_loc_min", "ratio_beyond_1sigma",
      "mean_2nd_derivative", "c3", "time_reversal_asym", "n_crossings_mean", "autocorr_lag2",
      "binned_entropy", "pacf_2", "fft_abs_c1", "fft_abs_c2", "imq_25", "imq_50", "imq_75",
      "perm_entropy_3", "rms_v", "variance_v", "has_dup_max", "has_dup_min", "large_std",
      "symmetry_look", "benford_corr", "mean_3_abs_max", "change_q_20_80", "fft_abs_c0",
      "fft_abs_c3", "fft_abs_c4", "fft_abs_c5", "fft_abs_c6", "fft_abs_c7", "fft_abs_c8",
      "abs_sum_changes", "variation_coeff", "q10", "q90", "first_loc_min", "last_loc_max",
      "n_crossings_0", "ar1_coeff", "ar1_intercept", "autocorr_lag3", "autocorr_lag4",
      "agg_autocorr_mean", "agg_autocorr_var", "ar4_phi1", "ar4_phi2", "ar4_phi3", "ar4_phi4",
      "welch_psd_c1", "welch_psd_c2", "fft_agg_centroid", "fft_agg_variance", "fourier_entropy")
      .map(f => f -> (if (longs(f)) LongType else if (ints(f)) IntegerType else DoubleType))
  }

  /** How many of [[Features]] come last in the output, after every value column's others. */
  val Late = 11

  /** Null-propagating arithmetic on nullable doubles; `/` is `try_divide`. */
  private implicit final class Nullable(private val a: Option[Double]) extends AnyVal {
    def +(b: Option[Double]): Option[Double] = for (x <- a; y <- b) yield x + y
    def -(b: Option[Double]): Option[Double] = for (x <- a; y <- b) yield x - y
    def *(b: Option[Double]): Option[Double] = for (x <- a; y <- b) yield x * y
    def /(b: Option[Double]): Option[Double] = for (x <- a; y <- b if y != 0.0) yield x / y
  }

  /** Spark's double ordering (`SQLOrderingUtil.compareDoubles`). */
  private def cmp(a: Double, b: Double): Int = if (a == b) 0 else java.lang.Double.compare(a, b)

  /** Spark's `round(x, scale)` on a double. */
  private def round(x: Double, scale: Int): Double =
    if (x.isNaN || x.isInfinite) x
    else BigDecimal.valueOf(x).setScale(scale, RoundingMode.HALF_UP).doubleValue

  /** Spark's `ln`: null at or below zero. */
  private def ln(x: Double): Option[Double] = if (x <= 0) None else Some(StrictMath.log(x))

  /** Spark's `pmod` on longs. */
  private def pmod(a: Long, b: Long): Long = { val r = a % b; if (r < 0) (r + b) % b else r }

  /** [[ExactAgg.microQuotient]]: half-up s/n of a microunit sum, in int64. */
  private def microQuotient(s: Long, n: Long): Double = {
    def intDiv(a: Long, b: Long): Double = (a - pmod(a, b)).toDouble / b
    val q = if (s >= 0) intDiv(s * 2 + n, n * 2) else -intDiv(-(s * 2) + n, n * 2)
    q / 1e6
  }

  /** -Σ p·ln(p) over a histogram, p = count / n; empty buckets add 0. */
  private def entropy(counts: Seq[Long], n: Long): Option[Double] =
    counts.map { c =>
      if (c > 0) (Some(c.toDouble) / Some(n.toDouble)).flatMap(p => ln(p).map(-p * _))
      else Some(0.0)
    }.reduce(_ + _)

  /** The [[Features]] of one value column of one series, in order:
    * `v(r)` is row r's value where `has(r)`; the rows are in series
    * order and `lastTie` is the first row whose order values equal the
    * last row's (where `max_by` over the order finds the last value).
    * Counts and flags are returned as doubles; null is SQL NULL.
    */
  def apply(v: Array[Double], has: Array[Boolean], lastTie: Int): Seq[java.lang.Double] = {
    val rows = v.length
    def at(r: Int): Boolean = r >= 0 && r < rows && has(r)
    def lagged(k: Int)(r: Int): Boolean = has(r) && at(r - k)
    val pair = lagged(1) _
    def triple(r: Int) = pair(r) && at(r - 2)

    // whole-series statistics, in series order
    var n = 0L
    var sum, sumAbs, sumSq, wN, wAvg, wM2 = 0.0
    var mn, mx, absMax = 0.0
    for (r <- 0 until rows if has(r)) {
      val x = v(r)
      val ax = math.abs(x)
      if (n == 0 || cmp(x, mn) < 0) mn = x
      if (n == 0 || cmp(x, mx) > 0) mx = x
      if (n == 0 || cmp(ax, absMax) > 0) absMax = ax
      n += 1
      sum += x
      sumAbs += ax
      sumSq += x * x
      val newN = wN + 1.0
      val delta = x - wAvg
      val deltaN = delta / newN
      wAvg += deltaN
      wM2 += delta * (delta - deltaN)
      wN = newN
    }
    def whenAny(x: => Double): Option[Double] = if (n > 0) Some(x) else None
    val nD = Some(n.toDouble)
    val mu = sum / n
    val varPop = whenAny(wM2 / wN)
    val sd = math.sqrt(wM2 / wN)
    val std = whenAny(sd)
    val sorted = v.indices.filter(has).map(v).toArray
    java.util.Arrays.sort(sorted)
    def percentile(p: Double): Option[Double] = whenAny {
      val pos = (n - 1) * p
      val (lower, higher) = (math.floor(pos).toLong, math.ceil(pos).toLong)
      val (lo, hi) = (sorted(lower.toInt), sorted(higher.toInt))
      if (higher == lower || hi == lo) lo else (higher - pos) * lo + (pos - lower) * hi
    }
    val median = percentile(0.5)

    // per-row terms over the defined rows
    def count(p: Int => Boolean): Long = (0 until rows).count(p).toLong
    def dsum(defined: Int => Boolean)(term: Int => Double): Option[Double] = {
      var (s, any) = (0.0, false)
      for (r <- 0 until rows if defined(r)) { s += term(r); any = true }
      if (any) Some(s) else None
    }
    def avg(defined: Int => Boolean)(term: Int => Double): Option[Double] =
      dsum(defined)(term).map(_ / count(defined))
    // ExactAgg.microAvg: terms quantized to integer microunits
    def microAvg(defined: Int => Boolean)(term: Int => Double): Option[Double] = {
      var (s, c) = (0L, 0L)
      for (r <- 0 until rows if defined(r)) { s += round(term(r) * 1e6, 0).toLong; c += 1 }
      if (c > 0) Some(microQuotient(s, c)) else None
    }
    // sum(term.cast(decimal(precision, scale)))
    def decSum(precision: Int, scale: Int)(defined: Int => Boolean)(term: Int => Double)
        : Option[BigDecimal] = {
      var s: BigDecimal = null
      for (r <- 0 until rows if defined(r); x = term(r) if !x.isNaN && !x.isInfinite) {
        val d = BigDecimal.valueOf(x).setScale(scale, RoundingMode.HALF_UP)
        if (d.precision <= precision) s = if (s == null) d else s.add(d)
      }
      Option(s)
    }
    def firstAt(x: Double): Option[Int] = (0 until rows).find(r => has(r) && cmp(v(r), x) == 0)
    def lastAt(x: Double): Option[Int] =
      (rows - 1 to 0 by -1).find(r => has(r) && cmp(v(r), x) == 0)
    def flag(b: Boolean): Double = if (b) 1.0 else 0.0

    val mean = microAvg(has)(v(_))
    def dev(r: Int) = v(r) - mu
    val c2 = avg(has)(r => dev(r) * dev(r))
    // autocorrelation at lags 1..4: Σ(v − μ)(v_{-k} − μ) / ((rows − k)·var_pop)
    val ac = (1 to 4).map(k =>
      dsum(lagged(k))(r => (v(r) - mu) * (v(r - k) - mu)) / varPop.map((rows - k) * _))
    // least squares of v over the row index, from exact decimal sums
    val (trendSlope, trendIntercept) = {
      val sy = decSum(18, 6)(has)(v(_)).map(_.doubleValue)
      val sxy = decSum(28, 6)(has)(r => r * v(r)).map(_.doubleValue)
      val sx = { val p = n * (n - 1); Some((p - pmod(p, 2)).toDouble / 2) }
      val sx2 = { val p = n * (n - 1) * (n * 2 - 1); Some((p - pmod(p, 6)).toDouble / 6) }
      val slope = (nD * sxy - sx * sy) / (nD * sx2 - sx * sx)
      (slope, (sy - slope * sx) / nD)
    }
    // run lengths above (side 1) or below (side -1) the mean; a null
    // value neither breaks nor ends a run
    def strike(side: Int): Double = {
      var (lastBreak, best) = (0, 0)
      for (r <- 0 until rows if has(r))
        if (cmp(v(r), mu) * side > 0) best = math.max(best, r + 1 - lastBreak)
        else lastBreak = r + 1
      best
    }
    // energy of the first tenth of the rows; the other rows add 0.0,
    // so the sum is 0.0, not null, when no head value is defined
    val energyHead = dsum(r => has(r) && cmp(r * 10.0, n.toDouble) < 0)(r => v(r) * v(r))
      .orElse(Some(0.0))
    // tsfresh binned_entropy(10): equal-width bins of [min, max]; a null
    // value lands in the last bin, and a constant series in bin 0
    val binned = {
      val bins = new Array[Long](10)
      val spread = n > 0 && cmp(mx, mn) > 0
      for (r <- 0 until rows) {
        val b = if (!spread) 0L
          else if (!has(r)) 9L
          else math.min(math.floor((v(r) - mn) / ((mx - mn) / 10)).toLong, 9L)
        if (b >= 0) bins(b.toInt) += 1
      }
      entropy(bins.toSeq, n)
    }
    // fixed-k DFT magnitudes |F_k| (k = 0 is |Σv|)
    val fft = (0 to 8).map { k =>
      if (k == 0) whenAny(math.abs(sum))
      else {
        val w = 2 * math.Pi * k
        val re = dsum(has)(r => v(r) * math.cos(w * r / n))
        val im = dsum(has)(r => v(r) * math.sin(w * r / n))
        for (a <- re; b <- im) yield math.sqrt(a * a + b * b)
      }
    }
    // tsfresh index_mass_quantile(q): relative index where the running
    // |v| mass first reaches q of the total
    def imq(q: Double): Option[Double] = {
      var (mass, seen, r) = (0.0, false, 0)
      var found: Option[Double] = None
      while (found.isEmpty && r < rows) {
        if (has(r)) { mass += math.abs(v(r)); seen = true }
        if (seen && cmp(mass, q * sumAbs) >= 0) found = Some((r + 1.0) / n)
        r += 1
      }
      found
    }
    // tsfresh permutation_entropy (dim 3): the ordering pattern of each
    // triple (v_{-2}, v_{-1}, v), a null comparison counting as false
    val permEntropy = {
      val patterns = new Array[Long](8)
      for (r <- 2 until rows if has(r - 2)) {
        val (p2, p1, x) = (v(r - 2), v(r - 1), v(r))
        patterns((if (has(r - 1) && cmp(p2, p1) <= 0) 4 else 0) +
          (if (has(r - 1) && has(r) && cmp(p1, x) <= 0) 2 else 0) +
          (if (has(r) && cmp(p2, x) <= 0) 1 else 0)) += 1
      }
      entropy(patterns.toSeq, count(r => at(r - 2)))
    }
    // tsfresh benford_correlation: Pearson r of the first-significant-digit
    // frequencies against Benford's law (9-point shortcut)
    val benford = {
      val digits = new Array[Long](10)
      var withDigit = 0L
      for (r <- 0 until rows if has(r) && cmp(math.abs(v(r)), 0.0) > 0) {
        val a = math.abs(v(r))
        val scale = StrictMath.pow(10.0, math.floor(StrictMath.log10(a)).toLong.toDouble)
        val d = math.floor(a / scale).toLong
        withDigit += 1
        if (d >= 1 && d <= 9) digits(d.toInt) += 1
      }
      val p = (1 to 9).map(d => Some(digits(d).toDouble) / Some(withDigit.toDouble))
      val spb = p.zip(TsFeatures.BenfordP).map { case (pd, b) => pd * Some(b) }.reduce(_ + _)
      val sp2 = p.map(pd => pd * pd).reduce(_ + _)
      (Some(9.0) * spb - Some(1.0)) /
        ((Some(9.0) * sp2 - Some(1.0)) * Some(TsFeatures.BenfordDenom)).map(math.sqrt)
    }
    // tsfresh mean_n_absolute_max (n = 3): the three largest |v| (ties
    // to the earlier row), summed in series order
    val mean3AbsMax = if (n < 3) None else {
      val top = Array.fill(3)(-1)
      def beats(r: Int, t: Int) = t < 0 || cmp(math.abs(v(r)), math.abs(v(t))) > 0
      for (r <- 0 until rows if has(r)) {
        val slot = top.indexWhere(beats(r, _))
        if (slot >= 0) { System.arraycopy(top, slot, top, slot + 1, 2 - slot); top(slot) = r }
      }
      Some(top.sorted.foldLeft(0.0)((s, r) => s + math.abs(v(r))) / 3)
    }
    // tsfresh change_quantiles(0.2, 0.8, abs, mean); no qualifying pair
    // gives 0. The corridor bounds are rounded to 6 dp: engines that
    // interpolate quantiles by another formula differ in the low bits
    // exactly when a value sits on the bound, where membership flips
    val changeQuantiles = {
      val (lo, hi) = (percentile(0.2).map(round(_, 6)), percentile(0.8).map(round(_, 6)))
      (for (l <- lo; h <- hi) yield {
        def inside(x: Double) = cmp(x, l) >= 0 && cmp(x, h) <= 0
        microAvg(r => pair(r) && inside(v(r)) && inside(v(r - 1)))(r => math.abs(v(r) - v(r - 1)))
      }).flatten.orElse(Some(0.0))
    }
    // AR(1): OLS of v on its lag, from exact decimal moment sums
    val (ar1Coeff, ar1Intercept) = {
      val prev = (r: Int) => at(r - 1)
      val m = Some(count(prev).toDouble)
      val sx = decSum(18, 6)(prev)(r => v(r - 1)).map(_.doubleValue)
      val sy = decSum(18, 6)(pair)(v(_)).map(_.doubleValue)
      val sxy = decSum(28, 6)(pair)(r => v(r - 1) * v(r)).map(_.doubleValue)
      val sx2 = decSum(28, 6)(prev)(r => v(r - 1) * v(r - 1)).map(_.doubleValue)
      val slope = (m * sxy - sx * sy) / (m * sx2 - sx * sx)
      (slope, (sy - slope * sx) / m)
    }
    val early = Seq(
      nD,
      mean,
      std,
      whenAny(mn),
      whenAny(mx),
      whenAny(sum),
      median,
      // exact decimal(28,8) sum of v², rounded once half-up at 6 dp
      decSum(28, 8)(has)(r => v(r) * v(r)).map(_.setScale(6, RoundingMode.HALF_UP).doubleValue),
      microAvg(pair)(r => math.abs(v(r) - v(r - 1))),
      microAvg(pair)(r => v(r) - v(r - 1)),
      ac(0),
      trendSlope,
      trendIntercept,
      avg(has)(r => dev(r) * dev(r) * dev(r)) / c2.map(StrictMath.pow(_, 1.5)),
      avg(has)(r => dev(r) * dev(r) * dev(r) * dev(r)) / (c2 * c2) - Some(3.0),
      Some(count(r => has(r) && cmp(v(r), mu) > 0).toDouble),
      Some(count(r => has(r) && cmp(v(r), mu) < 0).toDouble),
      if (has(0)) Some(v(0)) else None,
      if (has(lastTie)) Some(v(lastTie)) else None,
      whenAny(mx - mn),
      percentile(0.25),
      percentile(0.75),
      whenAny(absMax),
      dsum(pair)(r => (v(r) - v(r - 1)) * (v(r) - v(r - 1))).map(math.sqrt),
      Some(count(r => pair(r) && at(r + 1) && cmp(v(r), v(r - 1)) > 0 &&
        cmp(v(r), v(r + 1)) > 0).toDouble),
      Some(strike(1)),
      Some(strike(-1)),
      energyHead / whenAny(sumSq),
      firstAt(mx).map(_.doubleValue) / nD,
      lastAt(mn).map(_ + 1.0) / nD,
      Some(count(r => has(r) && cmp(math.abs(v(r) - mu), sd) > 0).toDouble) / nD,
      microAvg(triple)(r => (v(r) - 2.0 * v(r - 1) + v(r - 2)) / 2),
      microAvg(triple)(r => v(r) * v(r - 1) * v(r - 2)),
      microAvg(triple)(r => v(r) * v(r) * v(r - 1) - v(r - 1) * v(r - 2) * v(r - 2)),
      Some(count(r => pair(r) && (cmp(v(r), mu) > 0) != (cmp(v(r - 1), mu) > 0)).toDouble),
      ac(1),
      binned,
      (ac(1) - ac(0) * ac(0)) / (Some(1.0) - ac(0) * ac(0)),
      fft(1),
      fft(2),
      imq(0.25),
      imq(0.5),
      imq(0.75),
      permEntropy,
      whenAny(math.sqrt(sumSq / n)),
      microAvg(has)(r => dev(r) * dev(r)),
      Some(flag(count(r => has(r) && cmp(v(r), mx) == 0) > 1)),
      Some(flag(count(r => has(r) && cmp(v(r), mn) == 0) > 1)),
      std.map(s => flag(cmp(s, 0.25 * (mx - mn)) > 0)),
      median.map(m => flag(cmp(math.abs(sum / n - m), 0.05 * (mx - mn)) < 0)),
      benford,
      mean3AbsMax,
      changeQuantiles,
      fft(0),
      fft(3),
      fft(4),
      fft(5),
      fft(6),
      fft(7),
      fft(8),
      decSum(28, 6)(pair)(r => math.abs(v(r) - v(r - 1))).map(_.doubleValue),
      std / mean,
      percentile(0.1),
      percentile(0.9),
      firstAt(mn).map(_.doubleValue) / nD,
      lastAt(mx).map(_ + 1.0) / nD,
      Some(count(r => pair(r) && (cmp(v(r), 0.0) > 0) != (cmp(v(r - 1), 0.0) > 0)).toDouble),
      ar1Coeff,
      ar1Intercept,
      ac(2),
      ac(3))

    // the late features read the autocorrelations and |F_k| rounded to
    // 6 dp, so their closed forms start from the published values
    val Seq(r1, r2, r3, r4) = ac.map(_.map(round(_, 6)))
    val one = Some(1.0)
    // agg_autocorrelation mean/var, half-up at 6 dp in integer microunits
    val micro = Seq(r1, r2, r3, r4).map(_.map(r => round(r * 1e6, 0)))
    val sM = micro.reduce(_ + _)
    val acMean = sM.map { s =>
      (if (cmp(s, 0.0) >= 0) math.floor((s + 2) / 4).toLong
       else -math.floor((-s + 2) / 4).toLong) / 1e6
    }
    val qV = Some(4.0) * micro.map(m => m * m).reduce(_ + _) - sM * sM
    val acVar = qV.map(q => math.floor((q * 2 + 16000000.0) / 32000000.0).toLong / 1e6)
    // Yule-Walker AR(4) by the Durbin-Levinson recursion
    val a22 = (r2 - r1 * r1) / (one - r1 * r1)
    val a21 = r1 - a22 * r1
    val a33 = (r3 - (a21 * r2 + a22 * r1)) / (one - (a21 * r1 + a22 * r2))
    val a31 = a21 - a33 * a22
    val a32 = a22 - a33 * a21
    val a44 = (r4 - (a31 * r3 + a32 * r2 + a33 * r1)) / (one - (a31 * r1 + a32 * r2 + a33 * r3))
    // spectral shape over the rounded k = 0..8 magnitude spectrum
    val fk = fft.map(_.map(round(_, 6)))
    val mass = fk.reduce(_ + _)
    val centroid = (1 to 8).map(k => fk(k) * Some(k.toDouble)).reduce(_ + _) / mass
    val variance = (1 to 8).map(k => fk(k) * Some((k * k).toDouble)).reduce(_ + _) / mass -
      centroid * centroid
    val fourierEntropy = fk.map {
      case Some(f) if cmp(f, 0.0) > 0 => (Some(f) / mass).flatMap(p => ln(p).map(-p * _))
      case _                          => Some(0.0)
    }.reduce(_ + _)
    val late = Seq(acMean, acVar, a31 - a44 * a33, a32 - a44 * a32, a33 - a44 * a31, a44,
      fk(1) * fk(1) / nD, fk(2) * fk(2) / nD, centroid, variance, fourierEntropy)

    (early ++ late).map(_.map(Double.box).orNull)
  }
}
