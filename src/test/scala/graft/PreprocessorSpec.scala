package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.graft.JobCounter
import graft.prep._

class PreprocessorSpec extends SparkSpec {

  test("profiler counts nulls/distincts per column; approx path tracks exact") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = Seq((1L, Some("a")), (2L, None), (3L, Some("b")), (4L, Some("a")))
      .toDF("id", "s")
    val p = Profiler.profile(df, Seq("id", "s"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(p("id").getLong(1) == 4 && p("id").getLong(2) == 0 &&
      p("id").getLong(3) == 4 && p("id").getDouble(4) == 1.0)
    assert(p("s").getLong(2) == 1 && p("s").getLong(3) == 2 &&
      p("s").getString(7) == "b")
    // the 100 TB sketch path stays within HLL++ tolerance of exact
    val big = Tables.customer(spark, sf)
    val exact = Profiler.profile(big, Seq("c_custkey")).head().getLong(3)
    val approx = Profiler.profile(big, Seq("c_custkey"), approxDistinct = true)
      .head().getLong(3)
    assert(math.abs(approx - exact).toDouble / exact < 0.1, s"$approx vs $exact")
  }
  import spark.implicits._

  private def fixture = Seq(
    (1L, 10.0, "a", true, "2021-01-01"),
    (2L, 20.0, "a", false, "2021-01-02"),
    (3L, Double.PositiveInfinity, "b", true, "2021-01-03"),
    (4L, 40.0, "b", false, "2021-01-04"),
    (5L, 50.0, "a", true, "2021-01-05"),
  ).toDF("id", "v", "c", "b", "d")

  test("fit infers types, detects string datetime, keeps features") {
    val m = Preprocessor.fit(fixture, PrepConfig(excludedCols = Seq("id")))
    assert(m.numericalFeatures == Seq("v"))
    assert(m.categoricalFeatures == Seq("c"))
    assert(m.datetimeFeatures == Seq("d"))
    assert(m.booleanFeatures == Seq("b"))
    assert(m.datetimeFormats("d") == "yyyy-MM-dd")
  }

  test("transform scales, one-hots, casts bool; inf -> null -> fill") {
    val m = Preprocessor.fit(fixture, PrepConfig(
      excludedCols = Seq("id"),
      scaling = Scaling.Normalize,
      numFillNull = FillStrategy.Mean))
    val out = m.transform(fixture)
    assert(out.columns.toSeq == Seq("id", "v", "b", "d", "c_a", "c_b"))
    val rows = out.orderBy("id").collect()
    // v: inf -> null -> mean(10,20,40,50)=30 -> (30-10)/40 = 0.5
    assert(math.abs(rows(2).getDouble(1) - 0.5) < 1e-9)
    assert(rows(0).getDouble(1) == 0.0 && rows(4).getDouble(1) == 1.0)
    assert(rows(0).getInt(2) == 1 && rows(1).getInt(2) == 0)
    // d: epoch min-max scaled to [0,1]
    assert(rows(0).getDouble(3) == 0.0 && rows(4).getDouble(3) == 1.0)
    assert(rows(0).getInt(4) == 1 && rows(2).getInt(5) == 1)
  }

  test("round trip restores values, categories, bools and datetime strings") {
    val m = Preprocessor.fit(fixture, PrepConfig(
      excludedCols = Seq("id"),
      scaling = Scaling.Standardize,
      numFillNull = FillStrategy.None_))
    val rt = m.inverseTransform(m.transform(fixture)).orderBy("id").collect()
    assert(rt.map(_.getString(2)).toSeq == Seq("a", "a", "b", "b", "a"))
    assert(rt.map(_.getBoolean(3)).toSeq == Seq(true, false, true, false, true))
    assert(rt.map(_.getString(4)).toSeq ==
      Seq("2021-01-01", "2021-01-02", "2021-01-03", "2021-01-04", "2021-01-05"))
    assert(math.abs(rt(0).getDouble(1) - 10.0) < 1e-6)
    assert(rt(2).isNullAt(1)) // inf -> null -> sentinel -> null
  }

  test("classification target is label-encoded and inverts") {
    val df = fixture.withColumn("y", concat(lit("cls"), ($"id" % 2).cast("string")))
    val m = Preprocessor.fit(df, PrepConfig(
      excludedCols = Seq("id"),
      mlTask = Some(MlTask.Classification),
      targetColumn = Some("y")))
    val enc = m.transform(df).select("y").as[Int].collect().toSeq
    assert(enc == Seq(1, 0, 1, 0, 1))
    val dec = m.inverseTransform(m.transform(df)).select("y").as[String].collect().toSeq
    assert(dec == Seq("cls1", "cls0", "cls1", "cls0", "cls1"))
  }

  test("regression target normalizes to [0,1] and inverts") {
    val df = fixture.withColumn("y", $"id".cast("double") * 10)
    val m = Preprocessor.fit(df, PrepConfig(
      excludedCols = Seq("id"),
      mlTask = Some(MlTask.Regression),
      targetColumn = Some("y")))
    val enc = m.transform(df).select("y").as[Double].collect().toSeq
    assert(enc == Seq(0.0, 0.25, 0.5, 0.75, 1.0))
    val dec = m.inverseTransform(m.transform(df)).select("y").as[Double].collect().toSeq
    assert(dec == Seq(10.0, 20.0, 30.0, 40.0, 50.0))
  }

  test("columns beyond the missing-values threshold are dropped") {
    val df = Seq(
      (1L, Some(1.0), Option.empty[String]), (2L, Some(2.0), None),
      (3L, None, None), (4L, None, None), (5L, None, None),
    ).toDF("id", "mostly_null", "all_null")
    val m = Preprocessor.fit(df, PrepConfig(
      excludedCols = Seq("id"), missingValuesThreshold = 0.9))
    assert(m.dropped.keySet == Set("all_null"))   // 100% > 90%; 60% kept
    val strict = Preprocessor.fit(df, PrepConfig(
      excludedCols = Seq("id"), missingValuesThreshold = 0.5))
    assert(strict.dropped.contains("mostly_null") && strict.dropped.contains("all_null"))
  }

  test("single-value and dominant columns are dropped end to end") {
    val df = (1 to 200).map(i =>
      (i.toLong, i.toDouble, 7.0, if (i <= 199) "dom" else "rare", if (i % 2 == 0) "x" else "y"))
      .toDF("id", "v", "konst", "dom", "ok")
    val m = Preprocessor.fit(df, PrepConfig(excludedCols = Seq("id")))
    assert(m.dropped.keySet == Set("konst", "dom"))
    val out = m.transform(df)
    assert(!out.columns.contains("konst") && !out.columns.exists(_.startsWith("dom")))
    assert(out.columns.toSeq == Seq("id", "v", "ok_x", "ok_y"))
  }

  test("get_features_sizes reports numerical count and dummy widths") {
    val m = Preprocessor.fit(fixture, PrepConfig(excludedCols = Seq("id")))
    val (numSizes, catSizes) = m.getFeaturesSizes
    assert(numSizes == Seq(1))
    assert(catSizes == Seq(2)) // c -> {a, b}
    assert(m.getNumericalFeatures == Seq("v"))
    assert(m.getCategoricalFeatures == Seq("c"))
  }

  test("all-null column is dropped by the missing threshold, pipeline still runs") {
    val df = Seq(
      (1L, Some(1.0), "a"), (2L, None, "b"), (3L, Some(3.0), "a"),
    ).toDF("id", "v", "c")
      .withColumn("dead", lit(null).cast("double"))
    val m = Preprocessor.fit(df, PrepConfig(
      excludedCols = Seq("id"), scaling = Scaling.Normalize))
    assert(m.dropped.contains("dead"))
    val out = m.transform(df)
    assert(!out.columns.contains("dead"))
    assert(out.count() == 3)
  }

  test("extractTsFeatures keeps y-associated features, falls back to all") {
    // 12 series whose level tracks y perfectly; BH must keep the level
    // features (mean/sum/min/...) and the matrix stays per-series
    val rows = for { s <- 1 to 12; i <- 0 to 9 } yield (s.toLong, i.toLong, s * 1.0 + i % 3)
    val df = rows.toDF("uid", "t", "v")
    val labels = (1 to 12).map(s => (s.toLong, s.toDouble)).toDF("uid", "y")
    val out = Preprocessor.extractTsFeatures(df, labels, "uid", "t", "v")
    assert(out.columns.head == "uid")
    assert(out.columns.contains("mean_v"))
    assert(!out.columns.contains("n")) // constant per series -> never kept
    assert(out.count() == 12)
    // constant labels: no feature is testable -> reference fallback
    // returns ALL features (preprocessor.py:634-638)
    val const = (1 to 12).map(s => (s.toLong, 1.0)).toDF("uid", "y")
    val all = Preprocessor.extractTsFeatures(df, const, "uid", "t", "v")
    // uid + every calculator (don't pin the count — the matrix grows)
    val full = graft.operators.TsFeatures.extract(df, "uid", Seq("t"), "v")
    assert(all.columns.length == full.columns.length)
    assert(all.columns.length > 30)
  }

  test("datetime nulls interpolate in transform, ordered by the first datetime column") {
    // reference: datetime_transformer.py:99-101 — sort by
    // datetime_features[0], epoch-convert, interpolate, scale
    val df = Seq(
      ("s1", "2021-01-01 00:00:00", Some("2021-01-01 06:00:00")),
      ("s1", "2021-01-02 00:00:00", None),
      ("s1", "2021-01-03 00:00:00", Some("2021-01-03 06:00:00")),
      ("s1", "2021-01-04 00:00:00", None), // trailing null stays null
    ).toDF("sk", "d1", "d2")
      .select(col("sk"), to_timestamp(col("d1")).as("d1"), to_timestamp(col("d2")).as("d2"))
    val m = Preprocessor.fit(df, PrepConfig(
      excludedCols = Seq("sk"), seriesKey = Some("sk")))
    val out = m.transform(df).orderBy("d1").collect()
    val expectedMid = // midpoint of the 01-01T06 and 01-03T06 epochs
      (out(0).getDouble(2) + out(2).getDouble(2)) / 2
    assert(math.abs(out(1).getDouble(2) - expectedMid) < 1e-6)
    assert(out(3).isNullAt(2))
  }

  test("ordered fill strategies flow through the pipeline per series") {
    val df = Seq(
      ("s1", 1L, Some(1.0)), ("s1", 2L, None), ("s1", 3L, Some(3.0)),
      ("s2", 1L, None), ("s2", 2L, Some(5.0)),
    ).toDF("sk", "t", "v")
    val m = Preprocessor.fit(df, PrepConfig(
      excludedCols = Seq("sk", "t"),
      seriesKey = Some("sk"), timeId = Some("t"),
      orderedFill = Some("interpolate")))
    val out = m.transform(df).orderBy("sk", "t").collect()
    assert(out(1).getDouble(2) == 2.0)  // interpolated
    assert(out(3).isNullAt(2))          // leading null stays null
  }

  private def orderedFillFixture = Seq(
    ("s1", 3L, Some(3.0)), ("s1", 1L, None), ("s1", 2L, Some(2.0)), ("s2", 1L, None),
  ).toDF("sk", "t", "v")

  private def rejected(config: PrepConfig): String =
    intercept[IllegalArgumentException](Preprocessor.fit(orderedFillFixture, config)).getMessage

  test("fit rejects an unknown ordered fill") {
    val msg = rejected(PrepConfig(excludedCols = Seq("sk", "t"), seriesKey = Some("sk"),
      timeId = Some("t"), orderedFill = Some("bogus")))
    assert(msg.contains("orderedFill") && msg.contains("bogus"), msg)
  }

  test("fit rejects interpolation without a timeId") {
    val msg = rejected(PrepConfig(excludedCols = Seq("sk", "t"), seriesKey = Some("sk"),
      orderedFill = Some("interpolate")))
    assert(msg.contains("timeId"), msg)
  }

  test("fit rejects forward and backward fills without a timeId column") {
    for (kind <- Seq("forward", "backward"); timeId <- Seq(None, Some("missing"))) {
      val msg = rejected(PrepConfig(excludedCols = Seq("sk", "t"), seriesKey = Some("sk"),
        timeId = timeId, orderedFill = Some(kind)))
      assert(msg.contains("timeId"), s"$kind, timeId $timeId: $msg")
    }
  }

  /** Two partitions of 200 rows: the first holds >= 100 non-null values
    * of every string column, so each probe takes one job.
    */
  private def budgetFixture(extraNum: Int, extraCat: Int): DataFrame = {
    val id = col("id")
    val extras =
      (1 to extraNum).map(i => (id * (i + 1) % 17).cast("double").as(s"n$i")) ++
        (1 to extraCat).map(i => concat(lit(s"k$i-"), (id % (i + 2)).cast("string")).as(s"k$i"))
    spark.range(0, 400, 1, 2).select(Seq(
      id,
      when(id % 9 === 0, lit(null)).otherwise(id * 0.5).as("v"),
      when(id % 11 === 0, lit(null)).otherwise(concat(lit("c"), (id % 5).cast("string"))).as("c"),
      date_format(date_add(lit("2021-01-01").cast("date"), id.cast("int")), "yyyy-MM-dd").as("d"),
      timestamp_seconds(lit(1600000000L) + id * 60).as("t"),
      (id % 2 === 0).as("b"),
    ) ++ extras: _*)
  }

  private def fitJobs(df: DataFrame): Int =
    JobCounter(spark.sparkContext)(Preprocessor.fit(df, PrepConfig(excludedCols = Seq("id"))))._2

  test("fit job budget: one probe per string column, one stats and one value-count aggregate") {
    // 2 probes (c, d) + 2 for the global aggregate + 3 for the value counts
    val base = fitJobs(budgetFixture(0, 0))
    assert(base == 7)
    // more numerical columns ride in the same global aggregate
    assert(fitJobs(budgetFixture(3, 0)) == base)
    // each extra string column adds its probe job only
    assert(fitJobs(budgetFixture(3, 3)) == base + 3)
  }

  test("datetime probe: first sampleRows values decide, one job, all-null is None") {
    // one partition: 100 parseable values, then unparseable ones
    val id = col("id")
    val df = spark.range(0, 160, 1, 1).select(
      when(id < 100, date_format(date_add(lit("2020-02-01").cast("date"), id.cast("int")),
        "yyyy-MM-dd")).otherwise(lit("not a date")).as("s"))
    val (fmt, jobs) = JobCounter(spark.sparkContext)(DatetimeTransformer.detectFormat(df, "s"))
    assert(fmt.contains("yyyy-MM-dd"))
    assert(jobs == 1)
    // a sample that reaches the unparseable tail is not a datetime column
    assert(DatetimeTransformer.detectFormat(df, "s", sampleRows = 101).isEmpty)
    val allNull = spark.range(0, 50, 1, 2).select(lit(null).cast("string").as("s"))
    assert(DatetimeTransformer.detectFormat(allNull, "s").isEmpty)
  }
}
