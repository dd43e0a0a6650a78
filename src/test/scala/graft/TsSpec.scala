package graft

import graft.operators.TsFeatures

class TsSpec extends SparkSpec {
  import spark.implicits._

  // series A: 1,2,4,8 ; series B: 5,5
  private def df = Seq(
    ("A", 1L, 1.0), ("A", 2L, 2.0), ("A", 3L, 4.0), ("A", 4L, 8.0),
    ("B", 1L, 5.0), ("B", 2L, 5.0),
  ).toDF("sk", "t", "v")

  test("basic features match hand-computed values") {
    val r = TsFeatures.basic(df, "sk", "v").orderBy("sk").collect()
    val a = r(0)
    assert(a.getLong(1) == 4)                       // n
    assert(a.getDouble(2) == 3.75)                  // mean
    assert(math.abs(a.getDouble(3) - math.sqrt((1 - 3.75) * (1 - 3.75) // std_pop
      + (2 - 3.75) * (2 - 3.75) + (4 - 3.75) * (4 - 3.75) + (8 - 3.75) * (8 - 3.75)) / 2) < 1e-9)
    assert(a.getDouble(4) == 1.0 && a.getDouble(5) == 8.0)
    assert(a.getDouble(6) == 15.0)                  // sum
    assert(a.getDouble(7) == 3.0)                   // median (2+4)/2
    assert(a.getDouble(8) == 1 + 4 + 16 + 64)       // abs_energy
  }

  test("change features: mean_abs_change, mean_change, autocorr") {
    val r = TsFeatures.change(df, "sk", Seq("t"), "v").orderBy("sk").collect()
    val a = r(0)
    // means run ExactAgg.microAvg (engine-portable 1e-6 quantization,
    // half-up) — tolerance is the documented 5e-7 bound
    assert(math.abs(a.getDouble(1) - (1 + 2 + 4) / 3.0) < 1e-6)   // mean_abs_change
    assert(math.abs(a.getDouble(2) - (8 - 1) / 3.0) < 1e-6)       // mean_change
    // autocorr_lag1 = sum((x_t-mu)(x_{t+1}-mu)) / ((n-1)*var_pop)
    val mu = 3.75
    val varp = ((1 - mu) * (1 - mu) + (2 - mu) * (2 - mu) + (4 - mu) * (4 - mu) + (8 - mu) * (8 - mu)) / 4
    val cov = (2 - mu) * (1 - mu) + (4 - mu) * (2 - mu) + (8 - mu) * (4 - mu)
    assert(math.abs(a.getDouble(3) - cov / (3 * varp)) < 1e-9)
  }

  test("trend: exact line recovers slope/intercept") {
    val lin = Seq(("A", 1L, 3.0), ("A", 2L, 5.0), ("A", 3L, 7.0)).toDF("sk", "t", "v")
    val r = TsFeatures.trend(lin, "sk", Seq("t"), "v").collect()(0)
    assert(math.abs(r.getDouble(1) - 2.0) < 1e-9)
    assert(math.abs(r.getDouble(2) - 3.0) < 1e-9)
  }

  test("resample buckets by width and aggregates") {
    val e = Seq(("A", 0L, 1.0), ("A", 5L, 3.0), ("A", 10L, 10.0)).toDF("sk", "ts", "v")
    val r = TsFeatures.resample(e, "sk", "ts", "v", 10L).orderBy("bucket").collect()
    assert(r.length == 2)
    assert(r(0).getLong(2) == 2 && r(0).getDouble(3) == 2.0)  // bucket 0: {1,3}
    assert(r(1).getLong(2) == 1 && r(1).getDouble(5) == 10.0) // bucket 1: {10}
  }
  test("sliding resample assigns every event to exactly width/slide windows") {
    import org.apache.spark.sql.functions._
    val e = Tables.events(spark, sf).select(col("user_id"), col("ts"), col("value"))
    val out = graft.operators.TsFeatures.resampleSliding(
      e, "user_id", "ts", "value", "2 hours", "1 hour")
    assert(out.agg(sum("n")).head().getLong(0) == 2 * e.count())
  }
  test("multi-column extraction prefixes per-column features and matches single runs") {
    import org.apache.spark.sql.functions._
    val e = Tables.events(spark, sf)
      .select(col("user_id"), col("ts"), col("value"),
        (col("value") * 2 + 1).as("v2"))
    val multi = graft.operators.TsFeatures.extractMulti(
      e, "user_id", Seq("ts"), Seq("value", "v2"))
    assert(multi.columns.count(_.startsWith("value_")) ==
      multi.columns.count(_.startsWith("v2_")))
    val single = graft.operators.TsFeatures.extract(e, "user_id", Seq("ts"), "value")
    val lhs = multi.select(col("user_id"), col("value_mean_v"), col("value_n"))
      .collect().map(_.toSeq).toSet
    val rhs = single.select(col("user_id"), col("mean_v"), col("n"))
      .collect().map(_.toSeq).toSet
    assert(lhs == rhs)
  }
  test("multi-column extraction plans ONE shuffle for any number of columns") {
    import org.apache.spark.sql.functions._
    val e = Tables.events(spark, sf)
      .select(col("user_id"), col("ts"), col("value"),
        (col("value") * 2 + 1).as("v2"), abs(col("value")).as("v3"))
    val multi = graft.operators.TsFeatures.extractMulti(
      e, "user_id", Seq("ts"), Seq("value", "v2", "v3"))
    val plan = multi.queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1,
      s"widened multi-column extraction must cost one shuffle, found $exchanges:\n$plan")
  }

  test("sample entropy matches an independent naive template-pair count") {
    def naive(xs: Array[Double]): Double = {
      val n = xs.length
      val mean = xs.sum / n
      val r = 0.2 * math.sqrt(xs.map(x => (x - mean) * (x - mean)).sum / n)
      def pairs(m: Int): Long = {
        val temps = (0 to n - m).map(i => xs.slice(i, i + m))
        temps.indices.map { i =>
          temps.indices.count(j => j != i &&
            temps(i).zip(temps(j)).map { case (p, q) => math.abs(p - q) }.max <= r).toLong
        }.sum
      }
      -math.log(pairs(3).toDouble / pairs(2))
    }
    // near-periodic series: both m=2 and m=3 template matches exist
    // (A=30, B=42), so the entropy is a finite -ln(A/B)
    val xs = Array(1.0, 2.0, 1.0, 2.0, 1.05, 2.05, 0.95, 1.95, 1.0, 2.1, 0.9, 2.0)
    val in = xs.zipWithIndex.map { case (v, i) => ("A", i.toLong, v) }.toSeq
      .toDF("sk", "t", "v")
    val got = TsFeatures.sampleEntropy(in, "sk", Seq("t"), "v").head()
    assert(got.getString(0) == "A")
    assert(math.abs(got.getDouble(1) - naive(xs)) < 1e-12)
    // approximate entropy vs its own naive formulation (self-inclusive
    // counts, per-template log mean)
    def naiveApEn(xs: Array[Double]): Double = {
      val n = xs.length
      val mean = xs.sum / n
      val r = 0.2 * math.sqrt(xs.map(x => (x - mean) * (x - mean)).sum / n)
      def phi(m: Int): Double = {
        val temps = (0 to n - m).map(i => xs.slice(i, i + m))
        val cs = temps.indices.map { i =>
          temps.indices.count(j =>
            temps(i).zip(temps(j)).map { case (p, q) => math.abs(p - q) }.max <= r)
        }
        cs.map(c => math.log(c.toDouble / temps.size)).sum / temps.size
      }
      math.abs(phi(2) - phi(3))
    }
    assert(math.abs(got.getDouble(2) - naiveApEn(xs)) < 1e-12)
  }

  test("lempel-ziv complexity matches hand-counted LZ76 phrases") {
    // constant series: symbols all 0 -> phrases {0, 00, 000...}? LZ76 on
    // 0,0,0,0: sub (0) new; (0) seen -> (0,0) new; (0) seen -> stops at
    // n: phrases {0, 00} -> 2/4 = 0.5 — verify against an independent
    // naive scan instead of hand-waving
    def naive(seq: Array[Int]): Double = {
      val phrases = scala.collection.mutable.ListBuffer.empty[List[Int]]
      var i = 0
      var l = 1
      while (i + l <= seq.length) {
        val cand = seq.slice(i, i + l).toList
        if (phrases.contains(cand)) l += 1
        else { phrases += cand; i += l; l = 1 }
      }
      phrases.size.toDouble / seq.length
    }
    import spark.implicits._
    // two-symbol alternation plus a tail — nontrivial phrase structure
    val xs = Array(0.0, 9.0, 0.0, 9.0, 9.0, 0.0, 0.0, 9.0, 0.0, 9.0)
    val in = xs.zipWithIndex.map { case (v, i) => ("A", i.toLong, v) }.toSeq
      .toDF("sk", "t", "v")
    val got = TsFeatures.lempelZiv(in, "sk", Seq("t"), "v", bins = 10).head()
    // symbols: 0.0 -> 0, 9.0 -> 10th edge... quantized identically for
    // min/max endpoints, so the SYMBOL sequence is the 0/9 pattern
    val edges = (1 to 10).map(j => 0.0 + (9.0 - 0.0) * j / 10)
    val seq = xs.map(x => math.max(edges.indexWhere(_ >= x), 0))
    assert(math.abs(got.getDouble(1) - naive(seq)) < 1e-12)
    // constant series quantizes to one symbol, complexity is defined
    val const = Seq(("B", 1L, 5.0), ("B", 2L, 5.0), ("B", 3L, 5.0), ("B", 4L, 5.0))
      .toDF("sk", "t", "v")
    val c = TsFeatures.lempelZiv(const, "sk", Seq("t"), "v").head()
    assert(c.getDouble(1) == 0.5) // phrases {0, 00} over n=4
  }

  test("ADF tau statistic matches an independent least-squares computation") {
    import spark.implicits._
    // expected values from an independent numpy lstsq implementation of
    // the same fixed-lag regression Δy_t = α + β·y_{t−1} + γ·Δy_{t−1}:
    // a trending sawtooth (unit-root-ish, β̂/se = 1.3484) and a
    // mean-reverting oscillation (strongly stationary, −3.876036)
    val trend = Array(1.0, 2.0, 1.5, 3.0, 2.5, 4.0, 3.5, 5.0, 4.5, 6.0)
    val stat = Array(0.5, -0.3, 0.8, -0.6, 0.2, 0.9, -0.7, 0.1, -0.2, 0.6, -0.4, 0.3)
    val in = (trend.zipWithIndex.map { case (v, i) => ("T", i.toLong, v) } ++
      stat.zipWithIndex.map { case (v, i) => ("S", i.toLong, v) }).toSeq
      .toDF("sk", "t", "v")
    val got = TsFeatures.adf(in, "sk", Seq("t"), "v", lag = 1)
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    assert(math.abs(got("T")._1 - 1.3484) < 1e-4)
    assert(got("T")._2 == 8L)
    assert(math.abs(got("S")._1 - -3.876036) < 1e-6)
    assert(got("S")._2 == 10L)
  }

  test("distributed ADF matches the GroupedApply fold on the pinned fixtures") {
    import spark.implicits._
    val trend = Array(1.0, 2.0, 1.5, 3.0, 2.5, 4.0, 3.5, 5.0, 4.5, 6.0)
    val stat = Array(0.5, -0.3, 0.8, -0.6, 0.2, 0.9, -0.7, 0.1, -0.2, 0.6, -0.4, 0.3)
    val in = (trend.zipWithIndex.map { case (v, i) => ("T", i.toLong, v) } ++
      stat.zipWithIndex.map { case (v, i) => ("S", i.toLong, v) }).toSeq
      .toDF("sk", "t", "v")
    val got = TsFeatures.adfDistributed(in, "sk", Seq("t"), "v")
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Double]("adf_stat"), r.getAs[Long]("adf_nobs")))).toMap
    // fixture values are exact micro multiples, so quantization is
    // exact and only the solve's op order differs from the fold
    assert(math.abs(got("T")._1 - 1.3484) < 1e-4)
    assert(got("T")._2 == 8L)
    assert(math.abs(got("S")._1 - -3.876036) < 1e-5)
    assert(got("S")._2 == 10L)
    // degenerate shapes: nobs < 4 and singular X'X stay null
    val deg = (Seq(("A", 1L, 1.0), ("A", 2L, 2.0), ("A", 3L, 3.0),
      ("A", 4L, 2.5), ("A", 5L, 3.5)) ++
      (1L to 7L).map(t => ("B", t, 5.0))).toDF("sk", "t", "v")
    val nulls = TsFeatures.adfDistributed(deg, "sk", Seq("t"), "v")
      .collect().map(r => r.getString(0) -> r.isNullAt(1)).toMap
    assert(nulls("A")) // 5 points -> nobs = 3 < 4 -> null
    assert(nulls("B")) // constant series: singular X'X
  }

  test("MacKinnon p-value surface matches the published critical values") {
    import spark.implicits._
    // non-circular anchors: MacKinnon's asymptotic critical values for
    // regression='c' (1%/5%/10% = -3.43/-2.86/-2.57) must map to p ≈
    // 0.01/0.05/0.10 under the response surface; plus clamp bounds and
    // small/large-polynomial branch continuity at tau_star = -1.61
    val A = TsFeatures.Adf
    val taus = Seq(-3.43, -2.86, -2.57, -18.84, 2.75, -1.6099, -1.6101)
    val got = taus.toDF("tau")
      .selectExpr("tau", s"${A.mackinnonPExpr("tau")} as p")
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    assert(math.abs(got(-3.43) - 0.01) < 1e-3, s"1% cv -> ${got(-3.43)}")
    assert(math.abs(got(-2.86) - 0.05) < 2e-3, s"5% cv -> ${got(-2.86)}")
    assert(math.abs(got(-2.57) - 0.10) < 3e-3, s"10% cv -> ${got(-2.57)}")
    assert(got(-18.84) == 0.0 && got(2.75) == 1.0)
    assert(math.abs(got(-1.6099) - got(-1.6101)) < 1e-3, "branch continuity")
    // wired through adfDistributed: the stationary fixture's tau
    // -3.876036 sits near the 1% tail, the trending one's p ~ 1
    val trend = Array(1.0, 2.0, 1.5, 3.0, 2.5, 4.0, 3.5, 5.0, 4.5, 6.0)
    val stat = Array(0.5, -0.3, 0.8, -0.6, 0.2, 0.9, -0.7, 0.1, -0.2, 0.6, -0.4, 0.3)
    val in = (trend.zipWithIndex.map { case (v, i) => ("T", i.toLong, v) } ++
      stat.zipWithIndex.map { case (v, i) => ("S", i.toLong, v) }).toSeq
      .toDF("sk", "t", "v")
    val p = TsFeatures.adfDistributed(in, "sk", Seq("t"), "v")
      .collect().map(r => r.getString(0) -> r.getAs[Double]("adf_p")).toMap
    assert(p("S") > 0.0 && p("S") < 0.01, s"stationary p ${p("S")}")
    assert(p("T") > 0.9, s"trending p ${p("T")}")
  }

  test("distributed ADF tracks the fold on seeded random series") {
    import spark.implicits._
    // values pre-snapped to the 1e-6 grid so micro-quantization is
    // exact and any residual difference is pure solve op-order
    val rnd = new scala.util.Random(7)
    val rows = for {
      s <- 0 until 6
      t <- 0 until 40
    } yield (s"s$s", t.toLong,
      math.floor((rnd.nextDouble() * 20 - 10) * 1e6) / 1e6 +
        (if (s % 2 == 0) t * 0.05 else 0.0))
    val in = rows.toDF("sk", "t", "v")
    val fold = TsFeatures.adf(in, "sk", Seq("t"), "v")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val dist = TsFeatures.adfDistributed(in, "sk", Seq("t"), "v")
      .collect().map(r => r.getString(0) -> r.getAs[Double]("adf_stat")).toMap
    assert(fold.keySet === dist.keySet)
    fold.foreach { case (k, v) =>
      assert(math.abs(dist(k) - v) < 1e-3, s"$k: fold $v vs dist ${dist(k)}")
    }
  }

  test("ADF autolag fold matches the independent numpy statsmodels replay") {
    import spark.implicits._
    // expected values from an independent numpy lstsq implementation
    // of statsmodels adfuller(autolag="AIC"): common-sample AIC
    // selection ((aic, lag) tuple-min), full-sample refit at the
    // chosen lag. W is a white-noise-ish draw that PICKS LAG 0 at
    // maxLag 1 (T and S both pick 1), so both selection branches run.
    val trend = Array(1.0, 2.0, 1.5, 3.0, 2.5, 4.0, 3.5, 5.0, 4.5, 6.0)
    val stat = Array(0.5, -0.3, 0.8, -0.6, 0.2, 0.9, -0.7, 0.1, -0.2, 0.6, -0.4, 0.3)
    val w = Array(1.788628, 0.43651, 0.096497, -1.863493, -0.277388, -0.354759,
      -0.082741, -0.627001, -0.043818, -0.477218, -1.313865, 0.884622)
    val in = (trend.zipWithIndex.map { case (v, i) => ("T", i.toLong, v) } ++
      stat.zipWithIndex.map { case (v, i) => ("S", i.toLong, v) } ++
      w.zipWithIndex.map { case (v, i) => ("W", i.toLong, v) }).toSeq
      .toDF("sk", "t", "v")
    val got = TsFeatures.adfAutolag(in, "sk", Seq("t"), "v", maxLag = 1)
      .collect().map(r => r.getString(0) ->
        ((r.getDouble(1), r.getInt(2), r.getLong(3)))).toMap
    assert(got("T")._2 == 1 && math.abs(got("T")._1 - 1.3484) < 1e-4 &&
      got("T")._3 == 8L)
    assert(got("S")._2 == 1 && math.abs(got("S")._1 - -3.876036) < 1e-5 &&
      got("S")._3 == 10L)
    assert(got("W")._2 == 0 && math.abs(got("W")._1 - -3.697984) < 1e-5 &&
      got("W")._3 == 11L)
    // arbitrary maxLag: T at maxLag 3 selects lag 2 (the sawtooth is
    // EXACTLY Δy_t = 1 − Δy_{t−1}, so the lag-2 fit is perfect —
    // ssr ≈ 1e-29 float noise — and its tau is solver-noise-dependent:
    // only the AIC pick is assertable); S's tau stays solid
    val got3 = TsFeatures.adfAutolag(in, "sk", Seq("t"), "v", maxLag = 3)
      .collect().map(r => r.getString(0) ->
        ((r.getDouble(1), r.getInt(2), r.getLong(3)))).toMap
    assert(got3("T")._2 == 2 && got3("T")._3 == 7L)
    assert(got3("S")._2 == 1 && math.abs(got3("S")._1 - -3.876036) < 1e-5)
  }

  test("distributed ADF autolag matches the fold at maxLag 1") {
    import spark.implicits._
    val trend = Array(1.0, 2.0, 1.5, 3.0, 2.5, 4.0, 3.5, 5.0, 4.5, 6.0)
    val w = Array(1.788628, 0.43651, 0.096497, -1.863493, -0.277388, -0.354759,
      -0.082741, -0.627001, -0.043818, -0.477218, -1.313865, 0.884622)
    val rnd = new scala.util.Random(11)
    val rows = (trend.zipWithIndex.map { case (v, i) => ("T", i.toLong, v) } ++
      w.zipWithIndex.map { case (v, i) => ("W", i.toLong, v) }) ++
      (for (s <- 0 until 4; t <- 0 until 30) yield
        (s"r$s", t.toLong, math.floor((rnd.nextDouble() * 20 - 10) * 1e6) / 1e6 +
          (if (s % 2 == 0) t * 0.1 else 0.0)))
    val in = rows.toSeq.toDF("sk", "t", "v")
    val fold = TsFeatures.adfAutolag(in, "sk", Seq("t"), "v", maxLag = 1)
      .collect().map(r => r.getString(0) ->
        ((r.getDouble(1), r.getInt(2), r.getLong(3)))).toMap
    val dist = TsFeatures.adfAutolagDistributed(in, "sk", Seq("t"), "v")
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Double]("adf_stat"), r.getAs[Int]("adf_lag"),
          r.getAs[Long]("adf_nobs")))).toMap
    assert(fold.keySet === dist.keySet)
    fold.foreach { case (k, (tau, lag, nobs)) =>
      assert(dist(k)._2 == lag, s"$k lag: fold $lag vs dist ${dist(k)._2}")
      assert(dist(k)._3 == nobs, s"$k nobs")
      assert(math.abs(dist(k)._1 - tau) < 1e-3, s"$k tau: $tau vs ${dist(k)._1}")
    }
    // degenerate shapes stay null, not a crash
    val deg = (Seq(("A", 1L, 1.0), ("A", 2L, 2.0), ("A", 3L, 3.0)) ++
      (1L to 7L).map(t => ("B", t, 5.0))).toDF("sk", "t", "v")
    val nulls = TsFeatures.adfAutolagDistributed(deg, "sk", Seq("t"), "v")
      .collect().map(r => r.getString(0) -> r.isNullAt(1)).toMap
    assert(nulls("A") && nulls("B"))
  }

  test("ADF of a too-short or constant series is null, not a crash") {
    import spark.implicits._
    val in = Seq(("A", 1L, 1.0), ("A", 2L, 2.0), ("A", 3L, 3.0),
      ("B", 1L, 5.0), ("B", 2L, 5.0), ("B", 3L, 5.0), ("B", 4L, 5.0),
      ("B", 5L, 5.0), ("B", 6L, 5.0), ("B", 7L, 5.0)).toDF("sk", "t", "v")
    val got = TsFeatures.adf(in, "sk", Seq("t"), "v")
      .collect().map(r => r.getString(0) -> r.isNullAt(1)).toMap
    assert(got("A")) // nobs < k+1
    assert(got("B")) // singular X'X (zero-variance regressors)
  }

  test("sample entropy of a too-short series is null, not a crash") {
    val in = Seq(("A", 1L, 1.0), ("A", 2L, 2.0)).toDF("sk", "t", "v")
    val got = TsFeatures.sampleEntropy(in, "sk", Seq("t"), "v").head()
    assert(got.isNullAt(1))
    assert(got.isNullAt(2))
  }

  test("tier-9 spectral and AR(4) calculators are internally consistent") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // a 24-point series with real autocorrelation structure
    val xs = (0 until 24).map(i =>
      math.sin(i * 0.7) * 3 + (i % 5) * 0.63 - 1.1)
    val in = xs.zipWithIndex.map { case (v, i) => ("A", i.toLong, v) }
      .toDF("sk", "t", "v")
    val f = TsFeatures.extract(in, "sk", Seq("t"), "v").head()
    def d(n: String) = f.getAs[Double](n)
    def r6(n: String) = BigDecimal(d(n)).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    // welch_psd_ck = (rounded fft_abs_ck)² / n by construction
    assert(math.abs(d("welch_psd_c1") - r6("fft_abs_c1") * r6("fft_abs_c1") / 24) < 1e-9)
    assert(math.abs(d("welch_psd_c2") - r6("fft_abs_c2") * r6("fft_abs_c2") / 24) < 1e-9)
    // normalized-spectrum entropy lies in (0, ln 9]
    assert(d("fourier_entropy") > 0 && d("fourier_entropy") <= math.log(9.0) + 1e-12)
    // ar4 coefficients solve the Yule-Walker system R·phi = r built
    // from the same ROUNDED lag autocorrelations — verified with an
    // independent Gaussian elimination, not the Durbin recursion
    val r = Array(1.0, r6("autocorr_lag1"), r6("autocorr_lag2"),
      r6("autocorr_lag3"), r6("autocorr_lag4"))
    val a = Array.tabulate(4, 5) { (i, j) =>
      if (j < 4) r(math.abs(i - j)) else r(i + 1)
    }
    for (p <- 0 until 4; i <- p + 1 until 4) {
      val fct = a(i)(p) / a(p)(p)
      for (j <- p until 5) a(i)(j) -= fct * a(p)(j)
    }
    val phi = new Array[Double](4)
    for (i <- 3 to 0 by -1) {
      var s = a(i)(4)
      for (j <- i + 1 until 4) s -= a(i)(j) * phi(j)
      phi(i) = s / a(i)(i)
    }
    for (k <- 1 to 4)
      assert(math.abs(d(s"ar4_phi$k") - phi(k - 1)) < 1e-9,
        s"phi$k: got ${d(s"ar4_phi$k")}, want ${phi(k - 1)}")
    // agg_autocorr_mean is the exact half-up 6-dp mean of the rounded r's
    val meanRef = BigDecimal((r(1) + r(2) + r(3) + r(4)) / 4).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(d("agg_autocorr_mean") - meanRef) < 1e-9)
  }

  test("resample buckets pre-epoch timestamps by floor division, like the oracle") {
    import spark.implicits._
    val w = 3600L * 1000 * 1000 * 1000
    // -1 ns and exactly -w both floor to bucket -1 (truncating `div`
    // would put -1 ns in bucket 0, one off from DuckDB's `//`)
    val in = Seq((1L, -1L, 1.0), (1L, -w, 2.0), (1L, 1L, 3.0))
      .toDF("user_id", "ts", "value")
    val got = TsFeatures.resample(in, "user_id", "ts", "value", w)
      .select($"bucket", $"n").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(-1L -> 2L, 0L -> 1L))
  }

  test("Mann-Whitney U p matches the asymptotic reference (ties + continuity)") {
    // x1=[1,2.5,3,7,9] vs x0=[0.5,2,2.5,4]: R1=29.5 (tie at 2.5 takes the
    // 4.5 average rank), U1=14.5, one tie group -> T=6; reference p from
    // erf-based Phi = 0.325163 (A&S approx is good to ~7.5e-8)
    val p = TsFeatures.mannWhitneyP(29.5, 5, 4, 6)
    assert(math.abs(p - 0.32516268) < 1e-5, s"p=$p")
    // degenerate: one group empty or all values tied -> p = 1
    assert(TsFeatures.mannWhitneyP(0.0, 0, 9, 0) == 1.0)
    assert(TsFeatures.mannWhitneyP(15.0, 5, 0, 0) == 1.0)
    val n = 6L
    assert(TsFeatures.mannWhitneyP(3.5 * 3, 3, 3, n * n * n - n) == 1.0)
  }

  test("Fisher's exact two-sided p matches the hypergeometric reference") {
    // exact-combinatorics references: [[7,2],[3,8]] -> 0.0697785,
    // [[12,5],[4,9]] -> 0.0633584 (scipy fisher_exact agrees)
    assert(math.abs(TsFeatures.fisherExactP(7, 2, 3, 8) - 0.06977852) < 1e-7)
    assert(math.abs(TsFeatures.fisherExactP(12, 5, 4, 9) - 0.06335838) < 1e-7)
    // degenerate margins -> p = 1
    assert(TsFeatures.fisherExactP(0, 0, 3, 8) == 1.0)
    assert(TsFeatures.fisherExactP(5, 0, 7, 0) == 1.0)
    // symmetry: transposing the table preserves p
    val a = TsFeatures.fisherExactP(7, 2, 3, 8)
    val t = TsFeatures.fisherExactP(7, 3, 2, 8)
    assert(math.abs(a - t) < 1e-12)
  }

  test("Kendall tau-b matches an independent brute-force pair count, incl. ties") {
    // fixture with ties on both margins
    val xs = Array(1.0, 2.0, 2.0, 3.0, 4.0, 4.0, 5.0, 6.0)
    val ys = Array(2.0, 1.0, 3.0, 3.0, 5.0, 4.0, 4.0, 7.0)
    val pairs = xs.zip(ys).sortBy(identity)
    val (tauOpt, p) = TsFeatures.kendallTauP(pairs)
    // brute-force P-Q and tau-b
    val n = xs.length
    var cc = 0L; var dd = 0L
    for (i <- 0 until n; j <- i + 1 until n) {
      val prod = (xs(i) - xs(j)) * (ys(i) - ys(j))
      if (prod > 0) cc += 1 else if (prod < 0) dd += 1
    }
    val n0 = n.toLong * (n - 1) / 2
    val n1 = xs.groupBy(identity).values.map(g => g.length.toLong * (g.length - 1) / 2).sum
    val n2 = ys.groupBy(identity).values.map(g => g.length.toLong * (g.length - 1) / 2).sum
    val tauRef = (cc - dd).toDouble / math.sqrt((n0 - n1).toDouble * (n0 - n2))
    assert(tauOpt.isDefined)
    assert(math.abs(tauOpt.get - tauRef) < 1e-12, s"tau=${tauOpt.get} ref=$tauRef")
    assert(p > 0 && p < 1)
    // monotone data -> tau = 1, tiny p; anti-monotone -> tau = -1
    val mono = Array.tabulate(20)(i => (i.toDouble, i * 2.0 + 1))
    assert(TsFeatures.kendallTauP(mono)._1.contains(1.0))
    assert(TsFeatures.kendallTauP(mono)._2 < 1e-9)
    val anti = Array.tabulate(20)(i => (i.toDouble, -i * 2.0 + 1))
    assert(TsFeatures.kendallTauP(anti)._1.contains(-1.0))
    // fully tied margin -> tau undefined, p = 1
    val flat = Array.tabulate(10)(i => (5.0, i.toDouble))
    assert(TsFeatures.kendallTauP(flat.sortBy(identity))._1.isEmpty)
    assert(TsFeatures.kendallTauP(flat.sortBy(identity))._2 == 1.0)
  }

  test("Kruskal-Wallis H p matches the chi-square reference (incl. ties, df=1)") {
    // a=[1,3,5,7], b=[2,4,6], c=[8,9,10]: rank sums 16/12/27, H=5.7273,
    // df=2 -> p = exp(-H/2) = 0.0570609
    val p3 = TsFeatures.kruskalWallisP(Seq((16.0, 4L), (12.0, 3L), (27.0, 3L)), 0L)
    assert(math.abs(p3 - 0.05706089) < 1e-7, s"p3=$p3")
    // tied two-group case: a=[1,2,2], b=[2,3,4] -> avg-rank sums 7/14,
    // T=24, H/C = 2.634409, df=1 -> erf reference p = 0.104571
    val p2 = TsFeatures.kruskalWallisP(Seq((7.0, 3L), (14.0, 3L)), 24L)
    assert(math.abs(p2 - 0.1045710) < 1e-5, s"p2=$p2")
    // degenerate: one class only, or all values tied -> 1.0
    assert(TsFeatures.kruskalWallisP(Seq((21.0, 6L), (0.0, 0L)), 0L) == 1.0)
    val n = 6L
    assert(TsFeatures.kruskalWallisP(
      Seq((3.5 * 3, 3L), (3.5 * 3, 3L)), n * n * n - n) == 1.0)
  }

  test("binary relevance battery routes features to the right test and BH-filters") {
    import spark.implicits._
    // y correlates with x_real strongly and x_bin perfectly; x_noise is noise
    val rows = (0 until 40).map { i =>
      val y = i % 2
      (i.toLong, y.toLong, y * 10.0 + (i % 5) * 0.1, y.toDouble,
        (i % 3).toDouble % 2)
    }
    val df = rows.toDF("id", "y", "x_real", "x_bin", "x_noise")
    val rel = TsFeatures.featureRelevanceBinary(df, Seq("x_real"),
      Seq("x_bin", "x_noise"), "y")
      .collect().map(r => r.getString(0) ->
        (r.getString(1), r.getDouble(2), r.getBoolean(3))).toMap
    assert(rel("x_real")._1 == "mann_whitney_u")
    assert(rel("x_bin")._1 == "fisher_exact")
    assert(rel("x_real")._2 < 1e-6)        // perfectly separated groups
    assert(rel("x_bin")._2 < 1e-6)         // perfectly associated table
    assert(rel("x_real")._3 && rel("x_bin")._3)
    assert(rel("x_noise")._2 > 0.5)        // no association
    assert(!rel("x_noise")._3)             // BH rejects the noise feature
  }

  test("Pearson relevance keeps a feature without a p-value only in the keep-all fallback") {
    import spark.implicits._
    // 12 series, y = s: `sig` tracks y, `noise` does not (r ≈ 0.02) and
    // `flat` is constant, so its correlation and p-value are undefined
    val feats = (1 to 12).map(s => (s.toLong, s + (s % 3) * 0.1, ((s * 7) % 5).toDouble, 1.0))
      .toDF("uid", "sig", "noise", "flat")
    val labels = (1 to 12).map(s => (s.toLong, s.toDouble)).toDF("uid", "y")
    def kept(f: org.apache.spark.sql.DataFrame) =
      TsFeatures.featureRelevance(f, labels, "uid", "y")
        .collect().map(r => r.getString(0) -> r.getBoolean(3)).toMap
    assert(kept(feats) === Map("sig" -> true, "noise" -> false, "flat" -> false))
    // without `sig` nothing survives BH: every feature is kept, the
    // untestable one too
    assert(kept(feats.drop("sig")) === Map("noise" -> true, "flat" -> true))
  }

  test("ewma micro fold tracks the float EWMA and pandas init semantics") {
    import spark.implicits._
    val df = Seq((1L, 1L, 10.0), (1L, 2L, 20.0), (1L, 3L, 15.0), (2L, 1L, 5.5))
      .toDF("k", "t", "v")
    val got = TsFeatures.ewma(df, "k", Seq("t"), "v", alphaNum = 3, den = 10)
      .orderBy("k", "t").collect()
    // float reference: y1 = x1 (adjust=False init), y = 0.3x + 0.7y;
    // the micro fold's quantization error contracts by 0.7 per step so
    // it stays within ~1.7e-6 of the float recursion
    val y2 = 0.3 * 20 + 0.7 * 10.0
    val exp = Seq(10.0, y2, 0.3 * 15 + 0.7 * y2)
    got.take(3).map(_.getDouble(3)).zip(exp).foreach { case (g, e) =>
      assert(math.abs(g - e) <= 2e-6, s"ewma $g vs float $e")
    }
    // keys fold independently; a singleton series is its own value
    assert(got(3).getDouble(3) == 5.5)
    // negative values take the half-up-away-from-zero branch
    val neg = TsFeatures.ewma(Seq((1L, 1L, -10.0), (1L, 2L, -20.0))
      .toDF("k", "t", "v"), "k", Seq("t"), "v", 3, 10)
      .orderBy("t").collect().map(_.getDouble(3))
    assert(math.abs(neg(1) - (0.3 * -20 + 0.7 * -10.0)) <= 2e-6)
  }

  // the extract family's internal columns live under the reserved `__`
  // prefix, so input columns named like common internals must just work
  private def namesFixture = {
    import spark.implicits._
    Seq(("A", 1L, 1.0), ("A", 2L, 2.0), ("A", 3L, 4.0), ("A", 4L, 8.0), ("A", 5L, 3.0),
      ("B", 1L, 5.0), ("B", 2L, 5.0), ("B", 3L, -1.5)).toDF("sk", "t", "v")
  }

  test("extract accepts series keys and order columns named idx, rn or ord") {
    def cells(f: org.apache.spark.sql.DataFrame) =
      f.orderBy(f.columns.head).collect().toSeq.map(_.toSeq.tail)
    val base = cells(TsFeatures.extract(namesFixture, "sk", Seq("t"), "v"))
    // every name once as the series key and once as the order column
    for ((key, order) <- Seq("rn" -> "idx", "ord" -> "rn", "idx" -> "ord")) {
      val in = namesFixture.withColumnRenamed("sk", key).withColumnRenamed("t", order)
      assert(cells(TsFeatures.extract(in, key, Seq(order), "v")) == base,
        s"series key $key / order column $order changed the features")
    }
  }

  test("extractMulti refuses a repeated value column, naming it") {
    val e = intercept[IllegalArgumentException] {
      TsFeatures.extractMulti(namesFixture, "sk", Seq("t"), Seq("v", "v"))
    }
    assert(e.getMessage.contains("value column `v` is listed more than once"))
  }

  test("extractWindowed refuses a series key or order column named bucket") {
    import org.apache.spark.sql.functions.col
    val df = namesFixture.withColumn("ts", col("t") * 1000L)
    val asKey = intercept[IllegalArgumentException] {
      TsFeatures.extractWindowed(df.withColumnRenamed("sk", "bucket"), "bucket", "ts",
        Seq("t"), "v", 2000L)
    }
    assert(asKey.getMessage.contains("series key `bucket`"))
    val asOrder = intercept[IllegalArgumentException] {
      TsFeatures.extractWindowed(df.withColumnRenamed("t", "bucket"), "sk", "ts",
        Seq("bucket"), "v", 2000L)
    }
    assert(asOrder.getMessage.contains("order column `bucket`"))
  }

  test("the extract family refuses input columns under the reserved __ prefix") {
    val e = intercept[IllegalArgumentException] {
      TsFeatures.extract(namesFixture.withColumnRenamed("t", "__t"), "sk", Seq("__t"), "v")
    }
    assert(e.getMessage.contains("column `__t`"))
  }

  test("extract refuses a series key that shares a feature's output name") {
    val e = intercept[IllegalArgumentException] {
      TsFeatures.extract(namesFixture.withColumnRenamed("sk", "n"), "n", Seq("t"), "v")
    }
    assert(e.getMessage.contains("output column `n` would appear twice"))
  }
  test("an all-zero and an all-null series get null features instead of failing the extract") {
    import spark.implicits._
    // Benford's digit frequencies divide by the count of non-zero values
    // and binned entropy by the count of non-null ones: both are 0 here
    val in = Seq(("zeros", 1L, Some(0.0)), ("zeros", 2L, Some(0.0)), ("zeros", 3L, Some(0.0)),
      ("nulls", 1L, None), ("nulls", 2L, None),
      ("ok", 1L, Some(1.0)), ("ok", 2L, Some(4.0)), ("ok", 3L, Some(2.0)))
      .toDF("sk", "t", "v").withColumn("w", org.apache.spark.sql.functions.col("v") * 2)
    def bySeries(f: org.apache.spark.sql.DataFrame) = f.collect().map(r => r.getString(0) -> r).toMap
    val single = bySeries(TsFeatures.extract(in, "sk", Seq("t"), "v"))
    val multi = bySeries(TsFeatures.extractMulti(in, "sk", Seq("t"), Seq("v", "w")))
    for ((rows, prefix) <- Seq(single -> "", multi -> "v_", multi -> "w_")) {
      def f(series: String, name: String): Any = rows(series).getAs[Any](prefix + name)
      assert(rows.keySet == Set("zeros", "nulls", "ok"))
      assert(f("zeros", "n") == 3L && f("zeros", "mean_v") == 0.0 && f("zeros", "binned_entropy") == 0.0)
      assert(f("zeros", "benford_corr") == null)
      assert(f("nulls", "n") == 0L && f("nulls", "count_above_mean") == 0L)
      for (name <- Seq("mean_v", "binned_entropy", "benford_corr", "welch_psd_c1", "fft_abs_c1"))
        assert(f("nulls", name) == null, s"$prefix$name of the all-null series")
      assert(f("ok", "benford_corr") != null && f("ok", "binned_entropy") != null)
    }
  }
}
