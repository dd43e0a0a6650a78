package graft

import scala.util.Random

import graft.operators.{AsofJoin, SeriesWindow}
import graft.prep.NumericalTransformer

/** The ordered fills and as-of matches against driver-side brute force,
  * bit for bit, on random inputs: many series in shuffled row order,
  * unique order keys per series, leading, trailing and interior null
  * runs, all-null series; for as-of, rows tied on (key, ts) on both
  * sides.
  */
class OrderedFillSpec extends SparkSpec {
  import spark.implicits._
  import OrderedFillSpec._

  private def bits(v: Option[Double]): Option[Long] = v.map(java.lang.Double.doubleToRawLongBits)

  for (seed <- 1 to 4)
    test(s"forward, backward and interpolate equal the polars reference (seed $seed)") {
      val rng = new Random(seed)
      // per series: its ascending order keys and the values in that order
      val series = (0 until 12).map { s =>
        val xs = randomSeries(rng)
        (s"s$s", rng.shuffle((0L until 1000L).toVector).take(xs.size).sorted, xs)
      }
      val rows = rng.shuffle(series.flatMap { case (s, ts, xs) => ts.zip(xs).map { case (t, x) => (s, t, x) } })
      val df = spark.sparkContext.parallelize(rows, 4).toDF("s", "t", "x")
      val w = SeriesWindow(Seq($"s"), Seq($"t"))
      val got = df.select($"s", $"t",
        NumericalTransformer.forwardFill($"x", w), NumericalTransformer.backwardFill($"x", w),
        NumericalTransformer.interpolate($"x", w)).collect()
        .map(r => (r.getString(0), r.getLong(1)) -> (1 to 3).map(i =>
          if (r.isNullAt(i + 1)) None else Some(r.getDouble(i + 1))))
        .toMap
      assert(got.size == rows.size)
      for ((s, ts, xs) <- series; (t, i) <- ts.zipWithIndex) {
        val want = Seq(forward(xs)(i), backward(xs)(i), interpolate(xs)(i))
        assert(got((s, t)).map(bits) == want.map(bits),
          s"$s t=$t: got ${got((s, t))}, want $want (series $xs)")
      }
    }

  test("interpolation over tied order keys, next to a backward fill, stays between its known points") {
    // the ties make the two ascending sorts Spark could plan disagree;
    // every term of one interpolation must come from the same sort
    val rng = new Random(9)
    val rows = for (s <- 0 until 4; t <- 0 until 60) yield
      (s"s$s", t.toLong, rng.nextInt(6).toLong,
        if (rng.nextInt(3) == 0) None else Some(rng.nextGaussian()),
        if (rng.nextInt(3) == 0) None else Some(rng.nextGaussian()))
    val df = spark.sparkContext.parallelize(rows, 3).toDF("s", "t", "d", "x", "y")
    val byT = SeriesWindow(Seq($"s"), Seq($"t"))
    val byD = SeriesWindow(Seq($"s"), Seq($"d"))
    val out = df.select($"s", $"x", NumericalTransformer.backwardFill($"y", byT),
      NumericalTransformer.interpolate($"x", byD)).collect()
    val known = rows.groupBy(_._1).map { case (s, rs) => s -> rs.flatMap(_._4) }
    for (r <- out if r.isNullAt(1) && !r.isNullAt(3)) {
      val v = r.getDouble(3)
      assert(v >= known(r.getString(0)).min && v <= known(r.getString(0)).max, r)
    }
  }

  test("a window ordered by the filled column leaves forward fill and interpolation as the column") {
    val w = SeriesWindow(Seq($"s"), Seq($"x"))
    assert(NumericalTransformer.forwardFill($"x", w) == $"x")
    assert(NumericalTransformer.interpolate($"x", w) == $"x")
    assert(NumericalTransformer.interpolate($"x", SeriesWindow(Nil, Seq($"x".asc))) == $"x")
    // backward fill does fill the leading nulls; descending order is not the rule's
    assert(NumericalTransformer.backwardFill($"x", w) != $"x")
    assert(NumericalTransformer.forwardFill($"x", SeriesWindow(Nil, Seq($"x".desc))) != $"x")
  }

  for (seed <- 1 to 3)
    test(s"asofForward and asofNearest equal a brute-force match with ties on both sides (seed $seed)") {
      val rng = new Random(100 + seed)
      val left = (0 until 120).map(i => (s"k${rng.nextInt(4)}", rng.nextInt(40).toLong, s"l$i"))
      val right = (0 until 90).map(_ => (s"k${rng.nextInt(5)}", rng.nextInt(40).toLong,
        0.5 + rng.nextInt(6)))
      val l = spark.sparkContext.parallelize(left, 3).toDF("k", "ts", "tag")
      val r = spark.sparkContext.parallelize(right, 3).toDF("k", "ts", "v")
      def matches(df: org.apache.spark.sql.DataFrame): Map[String, Option[Double]] =
        df.collect().map(row => row.getString(2) -> (if (row.isNullAt(3)) None else Some(row.getDouble(3)))).toMap
      val fwd = matches(AsofJoin.asofForward(l, r, "k", "ts", Seq("tag"), Seq("v")))
      val near = matches(AsofJoin.asofNearest(l, r, "k", "ts", Seq("tag"), Seq("v")))
      // at the nearest matching ts, the greatest payload wins
      def pick(cands: Seq[(String, Long, Double)], ts: Seq[(String, Long, Double)] => Long) =
        if (cands.isEmpty) None else { val t = ts(cands); Some(t -> cands.filter(_._2 == t).map(_._3).max(Ordering.Double.TotalOrdering)) }
      for ((k, ts, tag) <- left) {
        val same = right.filter(_._1 == k)
        val after = pick(same.filter(_._2 >= ts), _.map(_._2).min)
        assert(fwd(tag) == after.map(_._2), s"forward $tag ($k, $ts)")
        val b = pick(same.filter(_._2 <= ts), _.map(_._2).max)
        val f = pick(same.filter(_._2 > ts), _.map(_._2).min)
        val nearest = (b, f) match {
          case (_, None)                            => b
          case (None, _)                            => f
          case (Some((bt, _)), Some((ft, _))) if ft - ts < ts - bt => f
          case _                                    => b
        }
        assert(near(tag) == nearest.map(_._2), s"nearest $tag ($k, $ts)")
      }
    }
}

object OrderedFillSpec {

  /** 0 to 30 values in null and non-null runs of 1 to 4; one series in
    * eight is all null.
    */
  def randomSeries(rng: Random): Vector[Option[Double]] = {
    val n = rng.nextInt(31)
    if (rng.nextInt(8) == 0) Vector.fill(n)(None)
    else Iterator.continually {
      val run = 1 + rng.nextInt(4)
      if (rng.nextBoolean()) Vector.fill(run)(None) else Vector.fill(run)(Some(rng.nextGaussian() * 100))
    }.flatten.take(n).toVector
  }

  /** polars `fill_null(strategy="forward")`. */
  def forward(xs: Vector[Option[Double]]): Vector[Option[Double]] =
    xs.scanLeft(None: Option[Double])((prev, x) => x.orElse(prev)).tail

  /** polars `fill_null(strategy="backward")`. */
  def backward(xs: Vector[Option[Double]]): Vector[Option[Double]] = forward(xs.reverse).reverse

  /** polars `.interpolate()`: linear in row position between the nearest
    * known points, leading and trailing nulls kept (the engine's
    * operation order).
    */
  def interpolate(xs: Vector[Option[Double]]): Vector[Option[Double]] =
    xs.indices.map { i =>
      xs(i).orElse(for {
        p <- (i to 0 by -1).find(xs(_).isDefined)
        q <- (i until xs.size).find(xs(_).isDefined)
      } yield xs(p).get + (xs(q).get - xs(p).get) * (i - p) / (q - p))
    }.toVector
}
