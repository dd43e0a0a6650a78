package graft

import org.apache.spark.sql.functions._
import graft.prep._

class CatPrepSpec extends SparkSpec {
  import spark.implicits._

  test("feature types from schema") {
    val schema = Tables.customer(spark, sf).schema
    val m = FeatureTypes.infer(schema).toMap
    assert(m("c_custkey") == FeatureTypes.Numerical)
    assert(m("c_mktsegment") == FeatureTypes.Categorical)
    val om = FeatureTypes.infer(Tables.orders(spark, sf).schema).toMap
    assert(om("o_orderdate") == FeatureTypes.Datetime)
  }

  test("cleanNulls maps null/empty/space to None") {
    val df = Seq(Some("a"), None, Some(""), Some(" ")).toDF("x")
    val got = df.select(CategoricalTransformer.cleanNulls($"x")).as[String].collect()
    assert(got.toSeq == Seq("a", "None", "None", "None"))
  }

  test("fit keeps frequent labels only and flags rare/none") {
    val vals = Seq.fill(50)("big") ++ Seq.fill(40)("mid") ++ Seq("tiny1", "tiny2") ++ Seq(null)
    val df = vals.toDF("x")
    val m = CategoricalTransformer.fit(df, Seq("x"), threshold = 0.05)("x")
    assert(m.keep == Seq("big", "mid"))
    assert(m.hasRare && m.hasNone)
    assert(m.categories == Seq("None", "big", "mid", "other"))
    val shrunk = df.select(CategoricalTransformer.shrink($"x", m)).as[String].collect()
    assert(shrunk.count(_ == "other") == 2)
    assert(shrunk.count(_ == "None") == 1)
  }

  test("no shrink when <= 2 distinct labels") {
    val df = (Seq.fill(99)("a") ++ Seq("b")).toDF("x")
    val m = CategoricalTransformer.fit(df, Seq("x"), threshold = 0.05)("x")
    assert(!m.hasRare)
    val got = df.select(CategoricalTransformer.shrink($"x", m)).as[String].collect()
    assert(got.count(_ == "b") == 1)
  }

  test("one-hot emits fit-registry columns; unseen label -> all zeros") {
    val fitDf = Seq("a", "a", "b").toDF("x")
    val m = CategoricalTransformer.fit(fitDf, Seq("x"), threshold = 0.0)
    val newDf = Seq("a", "z").toDF("x")
    val enc = newDf.select(col("x") +: CategoricalTransformer.oneHot("x", m("x")): _*)
    assert(enc.columns.toSeq == Seq("x", "x_a", "x_b"))
    val rows = enc.orderBy("x").collect()
    assert(rows(0).getInt(1) == 1 && rows(0).getInt(2) == 0)  // a
    assert(rows(1).getInt(1) == 0 && rows(1).getInt(2) == 0)  // z unseen
  }

  test("oneHotStrict raises on unseen labels, passes on known ones") {
    val fitDf = Seq("a", "a", "b").toDF("x")
    val m = CategoricalTransformer.fit(fitDf, Seq("x"), threshold = 0.0, buildBloom = true)
    val ok = fitDf.select(CategoricalTransformer.oneHotStrict("x", m("x")): _*).collect()
    assert(ok.length == 3)
    val bad = Seq("a", "z").toDF("x")
    val e = intercept[Exception] {
      bad.select(CategoricalTransformer.oneHotStrict("x", m("x")): _*).collect()
    }
    assert(e.getMessage.contains("unseen label") ||
      Option(e.getCause).exists(_.getMessage.contains("unseen label")))
  }

  test("bloom: only real labels are inserted; a column without one has no bloom") {
    val df = Seq(("a", ""), (null, " "), ("b", null)).toDF("x", "blank")
    val m = CategoricalTransformer.fit(df, Seq("x", "blank"), threshold = 0.0, buildBloom = true)
    assert(m("blank").bloom.isEmpty)
    val probe = Seq("a", "b", "zz").toDF("v").select(org.apache.spark.sql.graft.ColumnBridge
      .bloomMightContain(m("x").bloom.get, col("v"))).as[Boolean].collect()
    assert(probe.toSeq == Seq(true, true, false))
  }

  test("oneHotStrict: brand-new label raises even when rare labels shrink to other") {
    // 50a/49b/1c at 2%: c is rare -> hasRare, categories [a,b,other]
    val vals = Seq.fill(50)("a") ++ Seq.fill(49)("b") ++ Seq("c")
    val m = CategoricalTransformer.fit(vals.toDF("x"), Seq("x"),
      threshold = 0.02, buildBloom = true)("x")
    assert(m.hasRare && m.categories == Seq("a", "b", "other"))
    // fit-time rare label c: encodes as other, must NOT raise
    val okRows = Seq("a", "c").toDF("x")
      .select(CategoricalTransformer.oneHotStrict("x", m): _*).orderBy(col("x_a").desc)
      .collect()
    assert(okRows(1).getInt(2) == 1) // c -> x_other
    // a label never seen at fit MUST raise despite the other-bucket
    val e = intercept[Exception] {
      Seq("zzz").toDF("x").select(CategoricalTransformer.oneHotStrict("x", m): _*).collect()
    }
    assert(e.getMessage.contains("unseen label") ||
      Option(e.getCause).exists(_.getMessage.contains("unseen label")))
  }

  test("oneHotStrict: fit-time rare label with 2 distinct values does not raise") {
    // 99a/1b at 2%: hasRare=false (<=2 distinct), categories ["a"] only
    val vals = Seq.fill(99)("a") ++ Seq("b")
    val m = CategoricalTransformer.fit(vals.toDF("x"), Seq("x"),
      threshold = 0.02, buildBloom = true)("x")
    assert(!m.hasRare && m.categories == Seq("a"))
    // re-transforming the training data must not raise; b -> all zeros
    val rows = vals.toDF("x")
      .select(col("x") +: CategoricalTransformer.oneHotStrict("x", m): _*)
      .where(col("x") === "b").collect()
    assert(rows.length == 1 && rows(0).getInt(1) == 0)
  }

  test("label encoder is sorted-distinct and round-trips") {
    val df = Seq("pear", "apple", "pear", "fig").toDF("x")
    val classes = CategoricalTransformer.fitLabelEncoder(df, "x")
    assert(classes == Seq("apple", "fig", "pear"))
    val rt = df.select(CategoricalTransformer.labelDecode(
      CategoricalTransformer.labelEncode($"x", classes), classes)).as[String].collect()
    assert(rt.toSeq == Seq("pear", "apple", "pear", "fig"))
  }

  test("target-mean encoding: smoothed means, unseen -> global mean") {
    val df = Seq(("a", 10.0), ("a", 20.0), ("b", 100.0)).toDF("c", "y")
    val m = CategoricalTransformer.fitTargetMeanEncoder(df, "c", "y", smoothing = 1.0)
    val g = (10.0 + 20.0 + 100.0) / 3
    assert(math.abs(m.means("a") - (2 * 15.0 + g) / 3) < 1e-9)
    assert(math.abs(m.means("b") - (1 * 100.0 + g) / 2) < 1e-9)
    val enc = Seq("a", "zz").toDF("c")
      .select(m.encode(col("c"))).as[Double].collect()
    assert(math.abs(enc(0) - m.means("a")) < 1e-9)
    assert(math.abs(enc(1) - g) < 1e-9) // unseen -> global mean
  }

  test("feature selector drops single-value and dominant columns") {
    val df = (1 to 200).map(i =>
      (i, 1.0, if (i <= 199) "dom" else "rare", if (i % 2 == 0) "x" else "y"))
      .toDF("id", "const_n", "dom_c", "ok_c")
    val m = FeatureSelector.fit(df, Seq("const_n"), Seq("dom_c", "ok_c"), 0.02)
    assert(m.dropped("const_n") == "single value")
    assert(m.dropped("dom_c") == "dominant label >= 98%")
    assert(!m.dropped.contains("ok_c"))
  }

  test("datetime format detection and parse round-trip") {
    val df = Seq("2021-03-04", "1999-12-31").toDF("s")
    val fmt = DatetimeTransformer.detectFormat(df, "s")
    assert(fmt.contains("yyyy-MM-dd"))
    val parsed = df.select(DatetimeTransformer.parse($"s", fmt.get).cast("string"))
      .as[String].collect()
    assert(parsed.toSeq == Seq("2021-03-04 00:00:00", "1999-12-31 00:00:00"))
  }

  test("epoch seconds round-trip") {
    val df = Seq(java.sql.Timestamp.valueOf("2020-06-01 12:34:56")).toDF("t")
    val rt = df.select(DatetimeTransformer.fromEpochSeconds(
      DatetimeTransformer.toEpochSeconds($"t")).as("t2")).collect()(0).getTimestamp(0)
    assert(rt == java.sql.Timestamp.valueOf("2020-06-01 12:34:56"))
  }
}
