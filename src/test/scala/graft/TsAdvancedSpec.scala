package graft

import org.apache.spark.sql.functions._
import graft.operators.TsFeatures

/** The four former tsfresh skips (pacf, cwt, matrix profile,
  * friedrich/langevin) — each pinned against closed forms or an
  * independently written naive replay.
  */
class TsAdvancedSpec extends SparkSpec {
  import spark.implicits._

  // deterministic pseudo-random series (no RNG — LCG by hand)
  private def lcgSeries(n: Int, seed: Long = 42L): Array[Double] = {
    var s = seed
    Array.fill(n) {
      s = (s * 6364136223846793005L + 1442695040888963407L)
      (s >>> 11).toDouble / (1L << 53).toDouble - 0.5
    }
  }

  private def toSeriesDF(xs: Array[Double], key: String = "u1") =
    xs.zipWithIndex.map { case (v, i) => (key, i.toLong, v) }
      .toSeq.toDF("user_id", "ts", "value")

  // ---------------------------------------------------------------- pacf

  /** Half a unit of the 6th decimal, where pacf and cwt publish, plus
    * double round-off.
    */
  private val published = 5e-7 + 1e-12

  /** xs snapped to the 1e-6 grid, so micro-quantization is exact. */
  private def micro(xs: Array[Double]): Array[Double] = xs.map(v => math.rint(v * 1e6) / 1e6)

  private def biasedAcf(xs: Array[Double], k: Int): Double = {
    val n = xs.length
    val mu = xs.sum / n
    val c0 = xs.map(x => (x - mu) * (x - mu)).sum / n
    (0 until n - k).map(t => (xs(t) - mu) * (xs(t + k) - mu)).sum / n / c0
  }

  /** A naive double Durbin-Levinson replay (textbook formulation, fresh
    * arrays per step): pacf at lags 1..nl.
    */
  private def naivePacf(xs: Array[Double], nl: Int): Array[Double] = {
    val r = (0 to nl).map(k => if (k == 0) 1.0 else biasedAcf(xs, k)).toArray
    var phiPrev = Array(0.0, r(1))
    val want = Array.fill(nl + 1)(0.0)
    want(1) = r(1)
    for (k <- 2 to nl) {
      val num = r(k) - (1 until k).map(j => phiPrev(j) * r(k - j)).sum
      val den = 1.0 - (1 until k).map(j => phiPrev(j) * r(j)).sum
      val pk = num / den
      val cur = Array.fill(k + 1)(0.0)
      for (j <- 1 until k) cur(j) = phiPrev(j) - pk * phiPrev(k - j)
      cur(k) = pk
      want(k) = pk
      phiPrev = cur
    }
    want
  }

  test("pacf lag-1 and lag-2 match the closed forms") {
    val xs = micro(lcgSeries(64))
    val out = TsFeatures.pacf(toSeriesDF(xs), "user_id", Seq("ts"), "value", nlags = 4)
      .orderBy("lag").collect()
    val r1 = biasedAcf(xs, 1)
    val r2 = biasedAcf(xs, 2)
    assert(math.abs(out(0).getDouble(2) - r1) < published)
    assert(math.abs(out(1).getDouble(2) - (r2 - r1 * r1) / (1 - r1 * r1)) < published)
  }

  test("pacf matches an independent Durbin-Levinson replay at lag 10") {
    val xs = micro(lcgSeries(120, seed = 7L))
    val nl = 10
    val want = naivePacf(xs, nl)
    val out = TsFeatures.pacf(toSeriesDF(xs), "user_id", Seq("ts"), "value", nlags = nl)
      .orderBy("lag").collect()
    for (k <- 1 to nl)
      assert(math.abs(out(k - 1).getDouble(2) - want(k)) < published, s"lag $k")
  }

  test("pacf yields null past the usable-lag bound and on constant series") {
    val short = toSeriesDF(lcgSeries(5))
    val out = TsFeatures.pacf(short, "user_id", Seq("ts"), "value", nlags = 8)
      .orderBy("lag").collect()
    assert(out.length == 8)
    assert(out.takeRight(4).forall(_.isNullAt(2))) // lags 5..8: n <= k+1
    val const = toSeriesDF(Array.fill(20)(3.0))
    val out2 = TsFeatures.pacf(const, "user_id", Seq("ts"), "value", nlags = 3)
      .collect()
    assert(out2.forall(_.isNullAt(2)))
  }

  // ----------------------------------------------------------------- cwt

  private def naiveCwt(xs: Array[Double], w: Int): Array[Double] = {
    val n = xs.length
    val m = math.min(10 * w, n)
    val amp = 2.0 / (math.sqrt(3.0 * w) * math.pow(math.Pi, 0.25))
    val kern = Array.tabulate(m) { i =>
      val x = i - (m - 1) / 2.0
      amp * (1.0 - (x / w) * (x / w)) * math.exp(-x * x / (2.0 * w * w))
    }.reverse
    // full convolution then same-mode center crop (scipy semantics)
    val full = Array.tabulate(n + m - 1) { t =>
      (math.max(0, t - m + 1) to math.min(n - 1, t))
        .map(k => xs(k) * kern(t - k)).sum
    }
    val off = (m - 1) / 2
    Array.tabulate(n)(t => full(t + off))
  }

  test("cwt matches a naive full-convolution + crop replay") {
    // on the micro grid only the pico-unit kernel quantization (≤ 40 ·
    // 0.5 · 5e-13) and the 6-dp publication separate the two
    val xs = micro(lcgSeries(40, seed = 3L))
    for (w <- Seq(2, 5)) {
      val want = naiveCwt(xs, w)
      val out = TsFeatures.cwt(toSeriesDF(xs), "user_id", Seq("ts"), "value",
        widths = Seq(w), nCoeffs = 15).orderBy("idx").collect()
      assert(out.length == 15)
      out.foreach { r =>
        assert(math.abs(r.getDouble(3) - want(r.getInt(2))) < published + 1e-10,
          s"w=$w idx=${r.getInt(2)}")
      }
    }
  }

  test("pacf tracks the naive double Durbin-Levinson replay within quantization tolerance") {
    // pacf works on micro-quantized values (exact integer ACF ratios);
    // the replay uses raw doubles — differences are O(1e-6) on r_k,
    // amplified mildly by the recursion
    val xs = lcgSeries(80, seed = 11L).map(v => v * 50.0 + 3.0)
    val got = TsFeatures.pacf(toSeriesDF(xs), "user_id", Seq("ts"), "value")
      .collect().map(r => (r.getInt(1), r.getDouble(2))).toMap
    val want = naivePacf(xs, 10)
    assert(got.keySet == (1 to 10).toSet)
    got.foreach { case (k, v) =>
      assert(math.abs(v - want(k)) < 1e-4, s"lag=$k got=$v want=${want(k)}")
    }
  }

  test("pacf: zero-variance series yields all-null pacf at every default lag") {
    val df = toSeriesDF(Array.fill(30)(7.5))
    val rows = TsFeatures.pacf(df, "user_id", Seq("ts"), "value").collect()
    assert(rows.length == 10 && rows.forall(_.isNullAt(2)))
  }

  test("cwt tracks the naive double replay within quantization tolerance") {
    // the pico-kernel/micro-value quantization (measured ≲ 1e-6 end to
    // end; outputs round at 6 dp). lcg values are in [-0.5, 0.5] so the
    // micro-quantization error dominates: allow 2e-6.
    val xs = lcgSeries(60, seed = 7L).map(v => v * 100.0)
    val got = TsFeatures.cwt(toSeriesDF(xs), "user_id", Seq("ts"), "value")
      .collect().map(r => ((r.getInt(1), r.getInt(2)), r.getDouble(3))).toMap
    val want = (for (w <- Seq(2, 5, 10, 20); row = naiveCwt(xs, w); t <- 0 until 15)
      yield (w, t) -> row(t)).toMap
    assert(got.keySet == want.keySet)
    got.foreach { case (k, v) =>
      assert(math.abs(v - want(k)) < 2e-6, s"(width,idx)=$k got=$v want=${want(k)}")
    }
  }

  test("cwt plan: one Exchange, no Window") {
    val df = toSeriesDF(lcgSeries(50, seed = 9L))
    val plan = TsFeatures.cwt(df, "user_id", Seq("ts"), "value")
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1, plan.take(2000))
    assert(!plan.contains("Window"), plan.take(2000))
  }

  test("cwt of a centered unit impulse replays the wavelet peak") {
    // impulse at the same-mode center offset: coeff(t) walks the kernel
    val n = 30
    val w = 2
    val m = math.min(10 * w, n) // 20, off = 9
    val xs = Array.tabulate(n)(i => if (i == 9) 1.0 else 0.0)
    val out = TsFeatures.cwt(toSeriesDF(xs), "user_id", Seq("ts"), "value",
      widths = Seq(w), nCoeffs = 10).orderBy("idx").collect()
    // at t = impulse position the reversed-kernel center = wavelet max
    val amp = 2.0 / (math.sqrt(3.0 * w) * math.pow(math.Pi, 0.25))
    val center = out.find(_.getInt(2) == 9).get.getDouble(3)
    assert(math.abs(center - amp * (1.0 - 0.25 / (w * w)) *
      math.exp(-0.25 / (2.0 * w * w))) < published)
  }

  test("adf, pacf and cwt are scale-invariant past the Long range of their sums") {
    // y on the micro grid up to 5e3 and 1e4·y up to 5e7: the micro
    // products of 1e4·y reach 2.5e27 (moments) and 5e25 (cwt terms),
    // far past Long, so only exact sums keep them in step
    val rnd = new scala.util.Random(5)
    val ys = Array.fill(80)(rnd.nextLong(10000000000L) - 5000000000L) // micro units
    val small = toSeriesDF(ys.map(_ / 1e6), "y")
    val large = toSeriesDF(ys.map(k => (k * 10000L) / 1e6), "big")
    // 1e9·y (values to 5e12) takes pacf's sums past 2^127 as well
    val huge = toSeriesDF(ys.map(k => (BigDecimal(k) * 1000L).toDouble), "huge")
    val frame = small.union(large)
    def byKey[T](df: org.apache.spark.sql.DataFrame)(value: org.apache.spark.sql.Row => T) =
      df.collect().groupBy(_.getString(0)).map { case (k, rs) => k -> rs.toSeq.map(value) }
    val tau = byKey(TsFeatures.adf(frame, "user_id", Seq("ts"), "value"))(
      _.getAs[Double]("adf_stat"))
    assert(math.abs(tau("y").head - tau("big").head) < 2e-6, tau)
    val pacf = byKey(TsFeatures.pacf(frame, "user_id", Seq("ts"), "value"))(
      r => (r.getInt(1), r.getDouble(2))).map { case (k, v) => k -> v.toMap }
    val hugePacf = TsFeatures.pacf(huge, "user_id", Seq("ts"), "value").collect()
      .map(r => r.getInt(1) -> r.getDouble(2)).toMap
    for (lag <- 1 to 10) {
      assert(math.abs(pacf("y")(lag) - pacf("big")(lag)) < 2e-6, s"lag $lag")
      assert(math.abs(pacf("y")(lag) - hugePacf(lag)) < 2e-6, s"lag $lag at 1e9·y")
    }
    val cwt = byKey(TsFeatures.cwt(frame, "user_id", Seq("ts"), "value"))(
      r => ((r.getInt(1), r.getInt(2)), r.getDouble(3))).map { case (k, v) => k -> v.toMap }
    assert(cwt("y").keySet == cwt("big").keySet && cwt("y").size == 60)
    for ((at, c) <- cwt("y"))
      assert(math.abs(cwt("big")(at) - 1e4 * c) <= 1e4 * 1e-6, s"$at: ${cwt("big")(at)} vs 1e4 * $c")
    // a value whose micro units pass the BIGINT range fails, naming it,
    // as the oracles' ANSI cast does, instead of wrapping
    val e = intercept[org.apache.spark.SparkException] {
      TsFeatures.pacf(toSeriesDF(Array(1.0, 2e13, 3.0)), "user_id", Seq("ts"), "value").collect()
    }
    assert(e.getMessage.contains("round(2.0E19) overflows BIGINT"), e.getMessage)
  }

  test("Ricker kq table equals the Spark expression text for every width and m in 1..200") {
    // the old scatter's column arithmetic, evaluated by Spark: the
    // fixed-op-order exp and the pico-unit rounding the ts_cwt oracle
    // replays
    val LN2 = 0.6931471805599453
    val qpi = math.sqrt(math.sqrt(3.141592653589793))
    val widths = Seq(2, 5, 10, 20)
    val grid = for (w <- widths; m <- 1 to 200; j <- 0 until m) yield (w.toLong, m.toLong, j.toLong)
    val wd = col("w").cast("double")
    def pw(k: Int) = Seq.fill(k)(col("r")).reduceLeft(_ * _)
    val evaluated = grid.toDF("w", "m", "j")
      .withColumn("x", col("j").cast("double") - (col("m") - 1L).cast("double") / lit(2.0))
      .withColumn("xa", col("x") / wd)
      .withColumn("y", -(col("x") * col("x")) / (lit(2.0) * wd * wd))
      .withColumn("kk", floor(col("y") / lit(LN2) + lit(0.5)))
      .withColumn("r", col("y") - col("kk") * lit(LN2))
      .withColumn("p",
        lit(1.0) + col("r") + pw(2) / lit(2.0) + pw(3) / lit(6.0) +
          pw(4) / lit(24.0) + pw(5) / lit(120.0) + pw(6) / lit(720.0) +
          pw(7) / lit(5040.0) + pw(8) / lit(40320.0) + pw(9) / lit(362880.0))
      .withColumn("dx", col("p") *
        (lit(1.0) /
          expr("cast(shiftleft(cast(1 as bigint), cast(-kk as int)) as double)")))
      .withColumn("kern",
        (lit(2.0) / (sqrt(lit(3.0) * wd) * lit(qpi))) *
          (lit(1.0) - col("xa") * col("xa")) * col("dx"))
      .select(col("w"), col("m"), col("j"), round(col("kern") * lit(1e12)).cast("long"))
      .collect().map(r => (r.getLong(0).toInt, r.getLong(1).toInt, r.getLong(2).toInt) -> r.getLong(3))
    assert(evaluated.length == grid.size)
    val wrong = evaluated.filter { case ((w, m, j), kq) => TsFeatures.Ricker.kq(w, m)(j) != kq }
    assert(wrong.isEmpty, s"${wrong.length} of ${evaluated.length} differ: ${wrong.take(5).toSeq}")
  }

  // ------------------------------------------------------ number_cwt_peaks

  test("numberCwtPeaks counts well-separated bumps") {
    def bump(c: Int, w: Double)(i: Int) =
      math.exp(-(i - c) * (i - c) / (2 * w * w))
    val one = Array.tabulate(100)(i => bump(50, 4.0)(i))
    val two = Array.tabulate(100)(i => bump(30, 4.0)(i) + bump(70, 4.0)(i))
    val o1 = TsFeatures.numberCwtPeaks(toSeriesDF(one), "user_id", Seq("ts"),
      "value", n = 5).collect()(0).getLong(1)
    val o2 = TsFeatures.numberCwtPeaks(toSeriesDF(two), "user_id", Seq("ts"),
      "value", n = 5).collect()(0).getLong(1)
    assert(o1 == 1L, s"single bump counted $o1")
    assert(o2 == 2L, s"double bump counted $o2")
  }

  test("numberCwtPeaks: zero on a zero series; flat/ramp artifacts edge-only") {
    val zero = TsFeatures.numberCwtPeaks(toSeriesDF(Array.fill(60)(0.0)),
      "user_id", Seq("ts"), "value").collect()(0).getLong(1)
    assert(zero == 0L)
    // flat-nonzero and ramp series have NO interior structure: the
    // Ricker CWT is constant (flat) or ~0 (ramp) away from the
    // boundary, so any reported "peak" is a boundary artifact where
    // the edge kernels see a step — faithful scipy find_peaks_cwt
    // behavior; the pin is that no INTERIOR peak is ever invented
    for (xs <- Seq(Array.fill(60)(1.0), Array.tabulate(60)(_.toDouble))) {
      val peaks = TsFeatures.findPeaksCwt(xs, 5)
      assert(peaks.forall(p => p < 15 || p >= 45),
        s"interior peak on a structure-free series: $peaks")
    }
  }

  test("numberCwtPeaks is deterministic across partitionings") {
    val xs = lcgSeries(200, seed = 11L)
    val df = toSeriesDF(xs)
    val a = TsFeatures.numberCwtPeaks(df.coalesce(1), "user_id", Seq("ts"),
      "value").collect()(0).getLong(1)
    val b = TsFeatures.numberCwtPeaks(df.repartition(8), "user_id", Seq("ts"),
      "value").collect()(0).getLong(1)
    assert(a == b)
  }

  // -------------------------------------------------------- matrix profile

  test("matrix profile finds the exact repeated motif (min = 0)") {
    // motif [1,5,2,8] planted twice, separated beyond the exclusion zone
    val xs = Array(1.0, 5.0, 2.0, 8.0, 0.3, 0.1, 0.4, 0.2, 1.0, 5.0, 2.0, 8.0,
      0.9, 0.7)
    val out = TsFeatures.matrixProfile(toSeriesDF(xs), "user_id", Seq("ts"),
      "value", window = 4).collect()(0)
    assert(out.getDouble(1) < 1e-9) // mp_min: exact z-normalized match
    assert(out.getDouble(2) > 0.0)  // mp_max: something doesn't match
    assert(out.getDouble(4) >= out.getDouble(5)) // median >= p25
    assert(out.getDouble(6) >= out.getDouble(4)) // p75 >= median
  }

  test("matrix profile on a constant series is all zeros (flat-window rule)") {
    val out = TsFeatures.matrixProfile(toSeriesDF(Array.fill(16)(2.5)),
      "user_id", Seq("ts"), "value", window = 4).collect()(0)
    for (i <- 1 to 6) assert(out.getDouble(i) == 0.0)
  }

  test("matrix profile yields nulls when too short for two windows") {
    val out = TsFeatures.matrixProfile(toSeriesDF(lcgSeries(6)),
      "user_id", Seq("ts"), "value", window = 4).collect()(0)
    for (i <- 1 to 6) assert(out.isNullAt(i))
  }

  // ------------------------------------------------- friedrich / langevin

  test("cubicMaxRealPart: real and complex root sets") {
    // (x-1)(x-2)(x+3) = x³ - 7x + 6 → max real root 2
    assert(math.abs(TsFeatures.cubicMaxRealPart(1, 0, -7, 6).get - 2.0) < 1e-12)
    // x³ - 1: roots 1, -1/2 ± i√3/2 → max real part 1
    assert(math.abs(TsFeatures.cubicMaxRealPart(1, 0, 0, -1).get - 1.0) < 1e-12)
    // x³ + x: roots 0, ±i → max real part 0
    assert(math.abs(TsFeatures.cubicMaxRealPart(1, 0, 1, 0).get - 0.0) < 1e-12)
    // degenerate quadratic: x² - 4 → 2
    assert(math.abs(TsFeatures.cubicMaxRealPart(0, 1, 0, -4).get - 2.0) < 1e-12)
    // degenerate linear: 2x + 6 → -3
    assert(math.abs(TsFeatures.cubicMaxRealPart(0, 0, 2, 6).get + 3.0) < 1e-12)
  }

  test("friedrich recovers the drift of a noisless cubic Langevin map") {
    // x_{t+1} = x_t + h(x_t), h(x) = 0.1·x·(1 − x²) — fixed points 0, ±1;
    // seed many short trajectories into one series is NOT the tsfresh
    // shape (one series), so drive one series through a sweep of starts
    // by resetting via large jumps; the binned means still see delta =
    // h(x) + reset noise only at 9 of 400 points.
    val starts = Seq(-1.8, -1.2, -0.6, -0.2, 0.3, 0.7, 1.1, 1.5, 1.9)
    val xs = scala.collection.mutable.ArrayBuffer.empty[Double]
    for (s0 <- starts) {
      var x = s0
      for (_ <- 0 until 40) {
        xs += x
        x = x + 0.1 * x * (1 - x * x)
      }
    }
    val out = TsFeatures.friedrich(toSeriesDF(xs.toArray), "user_id",
      Seq("ts"), "value", bins = 30).collect()(0)
    // h(x) = -0.1x³ + 0 x² + 0.1x + 0: binned fit recovers the shape
    assert(math.abs(out.getDouble(1) + 0.1) < 0.02, s"coeff_3 ${out.getDouble(1)}")
    assert(math.abs(out.getDouble(3) - 0.1) < 0.02, s"coeff_1 ${out.getDouble(3)}")
    // largest fixed point of the recovered cubic ≈ 1
    assert(math.abs(out.getDouble(5) - 1.0) < 0.1, s"fp ${out.getDouble(5)}")
  }

  // naive banded matrix-profile replay: same semantics as
  // matrixProfileBanded, written as the obvious per-series double loop
  private def naiveBandedMp(xs: Array[Double], m: Int, band: Int): Array[Double] = {
    val excl = (m + 1) / 2
    val q = xs.map(v => math.round(v * 1e6).toDouble / 1e6)
    val nw = q.length - m + 1
    val prof = Array.fill(nw)(Double.PositiveInfinity)
    def stats(i: Int) = {
      val w = q.slice(i, i + m)
      val mu = w.sum / m
      (mu, w.map(v => (v - mu) * (v - mu)).sum / m)
    }
    for (i <- 0 until nw; o <- excl to band if i + o < nw) {
      val j = i + o
      val (mi, vi) = stats(i); val (mj, vj) = stats(j)
      val d =
        if (vi == 0 && vj == 0) 0.0
        else if (vi == 0 || vj == 0) math.sqrt(2.0 * m)
        else {
          val qt = (0 until m).map(k => q(i + k) * q(j + k)).sum
          val corr = (qt - m * mi * mj) / (m * math.sqrt(vi) * math.sqrt(vj))
          math.sqrt(math.max(2.0 * m * (1.0 - math.min(corr, 1.0)), 0.0))
        }
      if (d < prof(i)) prof(i) = d
      if (d < prof(j)) prof(j) = d
    }
    prof.filter(java.lang.Double.isFinite)
  }

  test("matrixProfileBanded matches a naive banded replay (min/max/mean/percentiles)") {
    val xs = lcgSeries(70, seed = 31L).map(v => v * 200.0 + 300.0)
    val out = TsFeatures.matrixProfileBanded(toSeriesDF(xs), "user_id",
      Seq("ts"), "value").collect()(0)
    val prof = naiveBandedMp(xs, 4, 20).sorted
    def pct(p: Double): Double = {
      val h = (prof.length - 1) * p
      val lo = h.toInt; val hi = math.min(lo + 1, prof.length - 1)
      prof(lo) + (h - lo) * (prof(hi) - prof(lo))
    }
    // integer-exact moments vs naive double arithmetic: tiny drift only
    assert(math.abs(out.getDouble(1) - prof.head) < 1e-4, s"min ${out.getDouble(1)} vs ${prof.head}")
    assert(math.abs(out.getDouble(2) - prof.last) < 1e-4, s"max")
    assert(math.abs(out.getDouble(3) - prof.sum / prof.length) < 1e-4, s"mean")
    assert(math.abs(out.getDouble(4) - pct(0.5)) < 1e-4, s"median")
    assert(math.abs(out.getDouble(5) - pct(0.25)) < 1e-4, s"p25")
    assert(math.abs(out.getDouble(6) - pct(0.75)) < 1e-4, s"p75")
  }

  test("matrixProfileBanded: a planted in-band motif drives mp_min to zero") {
    // two identical 4-point subsequences 6 apart (inside the band,
    // outside the exclusion zone) -> z-normalized distance 0
    val base = lcgSeries(40, seed = 41L).map(v => v * 10.0)
    val motif = Array(1.0, 5.0, 2.0, 8.0)
    val xs = base.take(10) ++ motif ++ base.slice(10, 12) ++ motif ++ base.drop(12)
    val out = TsFeatures.matrixProfileBanded(toSeriesDF(xs), "user_id",
      Seq("ts"), "value").collect()(0)
    assert(out.getDouble(1) == 0.0, s"mp_min ${out.getDouble(1)}")
  }

  test("matrixProfileFluss locates a planted regime change") {
    // two regimes of different periodicity: 80 points of a period-4
    // pattern then 80 of a period-5 pattern. In-regime windows find
    // zero-distance partners inside the band, so arcs stay local to
    // their regime and the arc count collapses at the boundary; the
    // corrected curve's argmin lands within one band of it.
    val a = Array.tabulate(80)(i => Array(0.0, 5.0, 10.0, 5.0)(i % 4))
    val b = Array.tabulate(80)(i => Array(0.0, 1.0, 8.0, 2.0, 6.0)(i % 5))
    val out = TsFeatures.matrixProfileFluss(toSeriesDF(a ++ b), "user_id",
      Seq("ts"), "value").collect()(0)
    val regime = out.getAs[Long]("regime_idx")
    assert(regime >= 80 - 24 && regime <= 80 + 24, s"regime_idx $regime")
    assert(out.getAs[Double]("cac_min") <= 0.5,
      s"cac_min ${out.getAs[Double]("cac_min")}")
    assert(out.getAs[Long]("n_win") == 157L)
    // a single-regime series has no dip below the edge-pinned 1.0
    // anywhere near as deep (period-4 arcs keep every position covered)
    val uni = TsFeatures.matrixProfileFluss(toSeriesDF(a ++ a), "user_id",
      Seq("ts"), "value").collect()(0)
    assert(uni.getAs[Double]("cac_min") > 0.5,
      s"uniform cac_min ${uni.getAs[Double]("cac_min")}")
    // too-short series: everything sits in the edge zones -> cac 1,
    // regime argmin ties to the smallest interior index, no crash
    val short = TsFeatures.matrixProfileFluss(toSeriesDF(a.take(30)),
      "user_id", Seq("ts"), "value").collect()(0)
    assert(short.getAs[Double]("cac_min") == 1.0)
    assert(short.getAs[Long]("regime_idx") == 0L)
  }

  test("friedrichDistributed recovers the drift of a noiseless cubic Langevin map") {
    // same fixture as the fold test: h(x) = 0.1·x·(1 − x²); rank bins
    // (vs qcut interpolated edges) shift boundary values at most one
    // bin, so the recovered drift stays within the same tolerance
    val starts = Seq(-1.8, -1.2, -0.6, -0.2, 0.3, 0.7, 1.1, 1.5, 1.9)
    val xs = scala.collection.mutable.ArrayBuffer.empty[Double]
    for (s0 <- starts) {
      var x = s0
      for (_ <- 0 until 40) {
        xs += x
        x = x + 0.1 * x * (1 - x * x)
      }
    }
    val out = TsFeatures.friedrichDistributed(toSeriesDF(xs.toArray), "user_id",
      Seq("ts"), "value", bins = 30).collect()(0)
    assert(math.abs(out.getDouble(1) + 0.1) < 0.02, s"coeff_3 ${out.getDouble(1)}")
    assert(math.abs(out.getDouble(3) - 0.1) < 0.02, s"coeff_1 ${out.getDouble(3)}")
    assert(math.abs(out.getDouble(5) - 1.0) < 0.1, s"fp ${out.getDouble(5)}")
  }

  test("friedrichDistributed yields nulls when the bins collapse (constant series)") {
    val out = TsFeatures.friedrichDistributed(toSeriesDF(Array.fill(50)(1.0)),
      "user_id", Seq("ts"), "value").collect()(0)
    for (i <- 1 to 5) assert(out.isNullAt(i))
  }

  test("friedrichDistributed bisection agrees with the Cardano max-real-root") {
    // compare the query's fp against cubicMaxRealPart on the query's
    // own (6-dp-rounded) coefficients — use a fixture with O(0.1)
    // coefficients so the output rounding doesn't move the root (a
    // tiny-b3 fit would: 6-dp rounding on b3 ~ 1e-5 shifts it ~1e-2)
    val starts = Seq(-1.7, -1.1, -0.5, 0.2, 0.6, 1.2, 1.8)
    val xs = scala.collection.mutable.ArrayBuffer.empty[Double]
    for (s0 <- starts) {
      var x = s0
      for (_ <- 0 until 40) { xs += x; x = x + 0.1 * x * (1 - x * x) }
    }
    val out = TsFeatures.friedrichDistributed(toSeriesDF(xs.toArray), "user_id",
      Seq("ts"), "value").collect()(0)
    assert(!out.isNullAt(5))
    val fp = TsFeatures.cubicMaxRealPart(out.getDouble(1), out.getDouble(2),
      out.getDouble(3), out.getDouble(4))
    assert(fp.isDefined && math.abs(out.getDouble(5) - fp.get) < 1e-4,
      s"bisection ${out.getDouble(5)} vs cardano $fp")
  }

  test("friedrich yields nulls when the bins collapse (constant series)") {
    val out = TsFeatures.friedrich(toSeriesDF(Array.fill(50)(1.0)), "user_id",
      Seq("ts"), "value").collect()(0)
    for (i <- 1 to 5) assert(out.isNullAt(i))
  }

  // ---------------------------------------------------------- changepoint

  test("cusum changepoint lands exactly on a planted step") {
    // 30 points at 1.0 then 30 at 5.0: D_i = |S_i - (i/n)S_n| peaks at
    // the last pre-step index (i = 30), magnitude n*|1 - mean|*30/n
    val xs = Array.fill(30)(1.0) ++ Array.fill(30)(5.0)
    val out = graft.operators.Changepoint.cusum(
      toSeriesDF(xs), "user_id", "ts", "value").collect()(0)
    assert(out.getLong(1) == 60L)
    assert(out.getInt(2) == 30, s"cp_index ${out.getInt(2)}")
    // S_30 = 30, S_60 = 180 -> |S_30 - 30/60*180| = 60
    assert(math.abs(out.getDouble(3) - 60.0) < 1e-9)
  }

  test("cusum changepoint on a constant series reports zero magnitude") {
    val out = graft.operators.Changepoint.cusum(
      toSeriesDF(Array.fill(20)(2.5)), "user_id", "ts", "value").collect()(0)
    // every split ties at N_i = 0 -> smallest i wins
    assert(out.getInt(2) == 1)
    assert(out.getDouble(3) == 0.0)
  }

  test("cusum changepoint is invariant to input partitioning") {
    val xs = lcgSeries(101)
    val df1 = toSeriesDF(xs)
    val a = graft.operators.Changepoint.cusum(df1, "user_id", "ts", "value")
      .collect()(0)
    val b = graft.operators.Changepoint.cusum(df1.repartition(7), "user_id",
      "ts", "value").collect()(0)
    assert(a.toString == b.toString)
  }

  // ---------------------------------------------------------------- holt

  test("holt on a constant series: level = constant, trend = 0") {
    val out = TsFeatures.holt(toSeriesDF(Array.fill(30)(7.5)), "user_id",
      Seq("ts"), "value").orderBy("ts").collect()
    out.foreach { r =>
      assert(math.abs(r.getDouble(3) - 7.5) < 1e-9)
      assert(math.abs(r.getDouble(4)) < 1e-9)
    }
  }

  test("holt trend converges to the slope of a linear series") {
    val xs = (0 until 120).map(i => 2.0 + 0.5 * i).toArray
    val last = TsFeatures.holt(toSeriesDF(xs), "user_id", Seq("ts"), "value")
      .orderBy("ts").collect().last
    // α=0.3/β=0.1 on a pure line: level tracks the line, trend → slope
    assert(math.abs(last.getDouble(4) - 0.5) < 0.05)
    assert(math.abs(last.getDouble(3) - xs.last) < 2.0)
  }

  test("holt integer recursion stays within 2e-5 of the float recursion") {
    val xs = lcgSeries(200).map(v => v * 100)
    val out = TsFeatures.holt(toSeriesDF(xs), "user_id", Seq("ts"), "value")
      .orderBy("ts").collect()
    var l = xs(0); var b = 0.0
    for (t <- 1 until xs.length) {
      val lp = l
      l = 0.3 * xs(t) + 0.7 * (lp + b)
      b = 0.1 * (l - lp) + 0.9 * b
      assert(math.abs(out(t).getDouble(3) - l) < 2e-5)
      assert(math.abs(out(t).getDouble(4) - b) < 2e-5)
    }
  }

  test("holt is invariant to input partitioning") {
    val xs = lcgSeries(64)
    val df = toSeriesDF(xs)
    val a = TsFeatures.holt(df, "user_id", Seq("ts"), "value")
      .orderBy("ts").collect().toSeq
    val b = TsFeatures.holt(df.repartition(9), "user_id", Seq("ts"), "value")
      .orderBy("ts").collect().toSeq
    assert(a === b)
  }
}
