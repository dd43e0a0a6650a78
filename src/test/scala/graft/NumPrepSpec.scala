package graft

import org.apache.spark.sql.functions._
import graft.operators.SeriesWindow
import graft.prep._

class NumPrepSpec extends SparkSpec {
  import spark.implicits._

  test("replaceInf nulls out inf/nan, keeps finite") {
    val df = Seq(1.0, Double.PositiveInfinity, Double.NaN, -2.5, Double.NegativeInfinity)
      .toDF("x")
    val got = df.select(NumericalTransformer.replaceInf($"x").as("x")).collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(got.toSeq == Seq(Some(1.0), None, None, Some(-2.5), None))
  }

  test("fit computes min/max/mean/std and quantiles in one pass") {
    val df = (1 to 100).map(_.toDouble).toDF("x")
    val st = NumericalTransformer.fit(df, Seq("x"), quantileProbs = Seq(0.5))("x")
    assert(st.min == 1.0 && st.max == 100.0)
    assert(math.abs(st.mean - 50.5) < 1e-9)
    assert(st.quantiles.head == 50.5)
  }

  test("fill strategies") {
    val df = Seq(Some(2.0), None, Some(4.0)).toDF("x")
    val st = NumericalTransformer.fit(df, Seq("x"))("x")
    val got = df.select(
      NumericalTransformer.fill($"x", FillStrategy.Mean, st).as("m"),
      NumericalTransformer.fill($"x", FillStrategy.Zero, st).as("z"),
      NumericalTransformer.fill($"x", FillStrategy.Value(9.0), st).as("v"),
    ).collect()
    assert(got(1).getDouble(0) == 3.0 && got(1).getDouble(1) == 0.0 && got(1).getDouble(2) == 9.0)
  }

  test("interpolate fills between knowns, leaves leading/trailing nulls") {
    val df = Seq((1, None: Option[Double]), (2, Some(10.0)), (3, None), (4, None),
      (5, Some(40.0)), (6, None)).toDF("i", "x")
    val w = SeriesWindow(Seq(lit(1)), Seq($"i"))
    val got = df.select($"i", NumericalTransformer.interpolate($"x", w).as("x"))
      .orderBy($"i").collect()
      .map(r => if (r.isNullAt(1)) None else Some(r.getDouble(1)))
    assert(got.toSeq == Seq(None, Some(10.0), Some(20.0), Some(30.0), Some(40.0), None))
  }

  test("scalers round-trip") {
    val mm = MinMaxScaler(10, 110)
    val zs = StandardScaler(5, 2)
    val df = Seq(10.0, 35.0, 110.0).toDF("x")
    val got = df.select(
      mm.inverse(mm.transform($"x")).as("a"),
      zs.inverse(zs.transform($"x")).as("b")).collect()
    got.foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-9)
    }
    val sc = df.select(mm.transform($"x")).as[Double].collect()
    assert(sc.toSeq == Seq(0.0, 0.25, 1.0))
  }

  test("kbins assigns equal-frequency bins") {
    val df = (1 to 100).map(_.toDouble).toDF("x")
    val st = NumericalTransformer.fit(df, Seq("x"), quantileProbs = Seq(0.25, 0.5, 0.75))("x")
    val sc = KBinsScaler(st.quantiles)
    val counts = df.select(sc.transform($"x").as("b")).groupBy("b").count()
      .orderBy("b").as[(Int, Long)].collect()
    assert(counts.map(_._1).toSeq == Seq(0, 1, 2, 3))
    counts.foreach { case (_, n) => assert(n >= 24 && n <= 26) }
  }

  test("quantile grid scaler maps fit data ~uniform and round-trips") {
    val data = (1 to 200).map(i => math.pow(i.toDouble, 2))
    val df = data.toDF("x")
    val probs = (0 to 32).map(_ / 32.0)
    val st = NumericalTransformer.fit(df, Seq("x"), quantileProbs = probs)("x")
    val sc = QuantileGridScaler(st.quantiles.toIndexedSeq)
    val u = df.select(sc.transform($"x").as("u")).as[Double].collect()
    assert(u.forall(v => v >= 0 && v <= 1))
    assert(math.abs(u.sum / u.length - 0.5) < 0.02)
    val rt = df.select(sc.inverse(sc.transform($"x")).as("r")).as[Double].collect()
    data.zip(rt).foreach { case (orig, r) => assert(math.abs(orig - r) < 1e-6 * orig.max(1.0)) }
  }

  test("probit ∘ cdf ≈ identity") {
    val df = Seq(-3.0, -1.0, 0.0, 0.5, 2.5).toDF("x")
    val got = df.select(Probit(Probit.cdf($"x")).as("y")).as[Double].collect()
    Seq(-3.0, -1.0, 0.0, 0.5, 2.5).zip(got).foreach { case (x, y) =>
      assert(math.abs(x - y) < 1e-4, s"$x -> $y")
    }
  }

  test("approx-quantile kbins agrees with exact bins on ~all rows (the 100 TB fit default)") {
    import org.apache.spark.sql.functions._
    // at 100 TB the exact sort-based percentile is not an option — the
    // t-digest path (bounded, mergeable sketch) is the default; this
    // pins how much bin assignment can drift vs the exact fit
    val approx = graft.queries.NumPrepQueries.kbinsApprox(spark, sf)
    val exact = SparkEntry.queries("scale_kbins")(spark, sf)
      .withColumnRenamed("bin", "bin_e")
    val j = approx.join(exact, "c_custkey")
    val total = j.count()
    val agree = j.where(col("bin") === col("bin_e")).count()
    assert(total > 0 && agree >= (total * 0.99).toLong,
      s"approx kbins agreement $agree/$total below 99%")
  }

  test("approx quantile boundaries track exact ones at moderate n") {
    val df = Tables.customer(spark, sf).select(org.apache.spark.sql.functions.col("c_acctbal").as("v"))
    val probs = (1 until 10).map(_ / 10.0)
    val exact = NumericalTransformer.fit(df, Seq("v"), probs)("v").quantiles
    val approx = NumericalTransformer.fit(df, Seq("v"), probs,
      quantileFit = QuantileFitMode.TDigest)("v").quantiles
    val range = exact.last - exact.head
    exact.zip(approx).foreach { case (e, a) =>
      assert(math.abs(e - a) <= 0.05 * range, s"approx $a too far from exact $e")
    }
  }

  test("sketch quantile fit agrees with the exact fit across scalers") {
    import org.apache.spark.sql.functions.col
    val df = Tables.customer(spark, sf).select(col("c_custkey"), col("c_acctbal").as("v"))
    // robust probs (0.25/0.5/0.75) + the kbins decile grid in one fit
    val probs = Seq(0.25, 0.5, 0.75) ++ (1 until 10).map(_ / 10.0)
    val exact = NumericalTransformer.fit(df, Seq("v"), probs)("v").quantiles
    val sketch = NumericalTransformer.fit(df, Seq("v"), probs,
      quantileFit = QuantileFitMode.Sketch)("v").quantiles
    // the sketch boundary is a mid-bucket representative on the γ=1.1
    // geometric grid: within half a bucket (≈5%) of the value range of
    // the exact boundary, and NEVER rank-shifted by more than a bucket
    val range = exact.max - exact.min
    exact.zip(sketch).foreach { case (e, a) =>
      assert(math.abs(e - a) <= 0.06 * range + 0.06 * math.abs(e),
        s"sketch boundary $a too far from exact $e")
    }
    // end-to-end bin agreement on the kbins path (like the t-digest row)
    val deciles = (1 until 10).map(_ / 10.0)
    val stE = NumericalTransformer.fit(df, Seq("v"), deciles)("v")
    val stS = NumericalTransformer.fit(df, Seq("v"), deciles,
      quantileFit = QuantileFitMode.Sketch)("v")
    val j = df.select(col("c_custkey"),
        KBinsScaler(stS.quantiles).transform(col("v")).as("bin"))
      .join(df.select(col("c_custkey"),
        KBinsScaler(stE.quantiles).transform(col("v")).as("bin_e")), "c_custkey")
    val total = j.count()
    val agree = j.where(col("bin") === col("bin_e")).count()
    val offByMore = j.where(org.apache.spark.sql.functions.abs(
      col("bin") - col("bin_e")) > 1).count()
    // a ±half-γ-bucket boundary error can shift a row past at most ONE
    // decile boundary; rows far from boundaries are unaffected (the
    // exact-agreement share grows with n as boundary mass thins)
    assert(total > 0 && offByMore == 0,
      s"sketch kbins shifted $offByMore/$total rows by more than one bin")
    assert(agree >= (total * 0.8).toLong,
      s"sketch kbins agreement $agree/$total below 80%")
  }

  test("yeo-johnson transform matches the closed form and round-trips") {
    val xs = Seq(-987.65, -1.0, -0.5, 0.0, 0.5, 3.0, 9999.99)
    val df = xs.toDF("x")
    for (l <- Seq(-2.0, -0.5, 0.0, 1.0, 2.0)) {
      val sc = YeoJohnsonScaler(l)
      val got = df.select(sc.transform($"x").as("y"),
        sc.inverse(sc.transform($"x")).as("rt")).collect()
      xs.zip(got).foreach { case (x, r) =>
        val expect =
          if (x >= 0)
            if (l == 0.0) math.log1p(x) else (math.pow(x + 1, l) - 1) / l
          else if (l == 2.0) -math.log1p(-x)
          else -(math.pow(1 - x, 2 - l) - 1) / (2 - l)
        assert(math.abs(r.getDouble(0) - expect) <= 1e-9 * (1 + math.abs(expect)),
          s"transform($x, l=$l): ${r.getDouble(0)} != $expect")
        assert(math.abs(r.getDouble(1) - x) <= 1e-6 * (1 + math.abs(x)),
          s"roundtrip($x, l=$l) = ${r.getDouble(1)}")
      }
    }
    // λ=1 is a pure shift: identity transform shape
    assert(df.select(YeoJohnsonScaler(1.0).transform($"x")).collect()
      .map(_.getDouble(0)).toSeq == xs)
  }

  test("yeo-johnson grid MLE picks the variance-stabilizing lambda") {
    // heavily right-skewed positive data: exp(z) for z ~ grid — the
    // MLE should land near the log transform (λ ≈ 0), never λ ≥ 1
    val skewed = (1 to 400).map(i => math.exp(i / 100.0)).toDF("v")
    val lHat = PowerTransform.fitYeoJohnson(skewed, "v")
    assert(lHat <= 0.25, s"skewed fit gave λ=$lHat, expected ≈ 0")
    // symmetric data is already gaussian-ish: λ should stay near 1
    val sym = (-200 to 200).map(i => 10.0 + i / 50.0).toDF("v")
    val lSym = PowerTransform.fitYeoJohnson(sym, "v")
    assert(math.abs(lSym - 1.0) <= 0.5, s"symmetric fit gave λ=$lSym")
  }
}
