package graft

import graft.operators.TsFeatures
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** The input contract every per-series calculator shares with
  * `extract`: a value column of any numeric type is read as a double, a
  * null value is not a point of the series, a null series key is a
  * series of its own, the value column may also be the order column,
  * and a series key named like an output field is refused by name.
  */
class TsContractSpec extends SparkSpec {
  import spark.implicits._

  /** (name, run(frame, series key, order column, value column)) */
  private val calculators: Seq[(String, (DataFrame, String, String, String) => DataFrame)] = Seq(
    "sampleEntropy" -> ((df, k, o, v) => TsFeatures.sampleEntropy(df, k, Seq(o), v)),
    "lempelZiv" -> ((df, k, o, v) => TsFeatures.lempelZiv(df, k, Seq(o), v)),
    "ewma" -> ((df, k, o, v) => TsFeatures.ewma(df, k, Seq(o), v)),
    "holt" -> ((df, k, o, v) => TsFeatures.holt(df, k, Seq(o), v)),
    "adf" -> ((df, k, o, v) => TsFeatures.adf(df, k, Seq(o), v)),
    "adfAutolag" -> ((df, k, o, v) => TsFeatures.adfAutolag(df, k, Seq(o), v)),
    "pacf" -> ((df, k, o, v) => TsFeatures.pacf(df, k, Seq(o), v)),
    "cwt" -> ((df, k, o, v) => TsFeatures.cwt(df, k, Seq(o), v)),
    "numberCwtPeaks" -> ((df, k, o, v) => TsFeatures.numberCwtPeaks(df, k, Seq(o), v)),
    "matrixProfile" -> ((df, k, o, v) => TsFeatures.matrixProfile(df, k, Seq(o), v)),
    "matrixProfileIndices" -> ((df, k, o, v) => TsFeatures.matrixProfileIndices(df, k, Seq(o), v)),
    "matrixProfileFluss" -> ((df, k, o, v) => TsFeatures.matrixProfileFluss(df, k, Seq(o), v)),
    "friedrich" -> ((df, k, o, v) => TsFeatures.friedrich(df, k, Seq(o), v)),
    "extract" -> ((df, k, o, v) => TsFeatures.extract(df, k, Seq(o), v)))

  /** What each calculator gives a series with no points, past its key:
    * the output of a zero-length series.
    */
  private val zeroLength: Map[String, Seq[Seq[Any]]] = Map(
    "sampleEntropy" -> Seq(Seq(null, null)),
    "lempelZiv" -> Seq(Seq(null)),
    "ewma" -> Seq(),
    "holt" -> Seq(),
    "adf" -> Seq(Seq(null, null, 0L)),
    "adfAutolag" -> Seq(Seq(null, null, null, null)),
    "pacf" -> (1 to 10).map(lag => Seq(lag, null)),
    "cwt" -> Seq(),
    "numberCwtPeaks" -> Seq(Seq(0L)),
    "matrixProfile" -> Seq(Seq.fill(6)(null)),
    "matrixProfileIndices" -> Seq(Seq.fill(4)(null)),
    "matrixProfileFluss" -> Seq(Seq(null, null, 0L)),
    "friedrich" -> Seq(Seq.fill(5)(null)))

  // 12 integer values, far from constant, so every calculator has a
  // non-null result to compare
  private val xs = Seq(3, 7, 1, 9, 4, 8, 2, 6, 5, 10, 0, 11)

  private def series(key: String, values: Seq[Option[Int]]) =
    values.zipWithIndex.map { case (x, t) => (key, t.toLong, x) }

  private def frame(rows: Seq[(String, Long, Option[Int])]): DataFrame =
    rows.toDF("k", "t", "v").withColumn("v", col("v").cast("double"))

  private def show(rows: Seq[Row]): Seq[String] = rows.map(_.toSeq.mkString("|")).sorted
  private def rows(df: DataFrame): Seq[String] = show(df.collect().toSeq)

  /** The output rows of one series, without the key. */
  private def ofSeries(df: DataFrame, key: Option[String]): Seq[String] = {
    val k = df.columns.head
    show(df.where(key.fold(col(k).isNull)(col(k) === _)).collect().toSeq
      .map(r => Row.fromSeq(r.toSeq.drop(1))))
  }

  private val full = series("a", xs.map(Some(_)))

  for ((name, run) <- calculators) {
    test(s"$name reads an integer value column as its double cast") {
      val ints = full.map { case (k, t, x) => (k, t, x.get) }.toDF("k", "t", "v")
      assert(ints.schema("v").dataType == org.apache.spark.sql.types.IntegerType)
      assert(rows(run(ints, "k", "t", "v")) == rows(run(frame(full), "k", "t", "v")))
    }

    test(s"$name skips a null value as if its row were removed") {
      val holed = full.updated(5, full(5).copy(_3 = None))
      val got = run(frame(holed), "k", "t", "v")
      if (name == "extract") {
        // extract's lag-based features see the null as a gap (TsGoldenSpec
        // pins them); the point count is what it shares with the others
        assert(got.collect().map(_.getAs[Long]("n")).toSeq == Seq(11L))
      } else
        assert(rows(got) == rows(run(frame(full.patch(5, Nil, 1)), "k", "t", "v")))
    }

    test(s"$name gives an all-null series the zero-length output") {
      val in = frame(full ++ series("z", Seq.fill(12)(None)))
      val got = run(in, "k", "t", "v")
      if (name == "extract")
        assert(got.where(col("k") === "z").collect().map(_.getAs[Long]("n")).toSeq == Seq(0L))
      else
        assert(ofSeries(got, Some("z")) == show(zeroLength(name).map(Row.fromSeq)))
      // the all-null series changes nothing for its neighbour
      assert(ofSeries(got, Some("a")) == ofSeries(run(frame(full), "k", "t", "v"), Some("a")))
    }

    test(s"$name keeps a null series key as a series of its own") {
      val other = series("b", xs.reverse.map(Some(_)))
      val named = frame(full ++ other)
      val nulled = named.withColumn("k", when(col("k") =!= "b", col("k")))
      val got = run(nulled, "k", "t", "v")
      assert(got.schema("k").nullable)
      val want = run(named, "k", "t", "v")
      assert(ofSeries(got, None) == ofSeries(want, Some("b")))
      assert(ofSeries(got, Some("a")) == ofSeries(want, Some("a")))
    }

    test(s"$name takes the order column as its value column") {
      val in = frame(full).withColumn("tv", col("t"))
      assert(rows(run(in, "k", "t", "t")) == rows(run(in, "k", "t", "tv")))
    }

    test(s"$name refuses a series key named like its output, naming the column") {
      val clash = run(frame(full), "k", "t", "v").columns.last
      val e = intercept[IllegalArgumentException] {
        run(frame(full).withColumnRenamed("k", clash), clash, "t", "v")
      }
      assert(e.getMessage.contains(s"output column `$clash` would appear twice"))
    }
  }
}
