package graft

import graft.prep._

/** `inverseTransform(transform(df))` for every fill strategy under every
  * scaling: null exactly on the rows the fill leaves null, and every
  * other row the filled value (within 1e-6), or under KBins the
  * midpoint of the filled value's bin. Two series with leading, middle
  * and trailing nulls and one +inf, which `transform` cleans to a null.
  * The values span 1,600 units, so a round trip that loses 1e-9 of the
  * range shows: the quantile-normal inverse must undo the probit to
  * about 1e-14 near the grid's ends, not to the 1.5e-7 of an erf
  * approximation.
  */
class FillRoundTripSpec extends SparkSpec {
  import spark.implicits._
  import FillStrategy._

  /** Per series, the values in `t` order (t = 1, 2, …); None is null. */
  private val series: Seq[(String, Seq[Option[Double]])] = Seq(
    "s1" -> Seq(None, Some(-600.0), Some(200.0), None, None, Some(800.0),
      Some(Double.PositiveInfinity), None),
    "s2" -> Seq(None, Some(500.0), Some(-200.0), None, Some(1000.0), Some(100.0), None))

  private val fills: Seq[FillStrategy] =
    Seq(None_, Mean, Min, Max, Zero, One, Value(0.75), Forward, Backward, Interpolate)

  private val scalings: Seq[(String, Scaling)] = Seq(
    "no scaling" -> Scaling.None_,
    "normalize" -> Scaling.Normalize,
    "standardize" -> Scaling.Standardize,
    "quantile normal" -> Scaling.Quantile(5),
    "quantile uniform" -> Scaling.Quantile(5, normal = false),
    "kbins" -> Scaling.KBins(4))

  private def config(fill: FillStrategy, scaling: Scaling): PrepConfig =
    PrepConfig(excludedCols = Seq("sk", "t"), seriesKey = Some("sk"), timeId = Some("t"),
      scaling = scaling, numFillNull = fill)

  /** The series after `fill`, on the driver: the reference the spec holds
    * the engine to.
    */
  private def filled(fill: FillStrategy, xs: Seq[Option[Double]]): Seq[Option[Double]] = {
    val known = series.flatMap(_._2).flatten.filterNot(_.isInfinite)
    def prev(i: Int) = (i to 0 by -1).find(xs(_).isDefined)
    def next(i: Int) = (i until xs.size).find(xs(_).isDefined)
    xs.indices.map { i =>
      xs(i).orElse(fill match {
        case None_       => None
        case Mean        => Some(known.sum / known.size)
        case Min         => Some(known.min)
        case Max         => Some(known.max)
        case Zero        => Some(0.0)
        case One         => Some(1.0)
        case Value(v)    => Some(v)
        case Forward     => prev(i).flatMap(xs)
        case Backward    => next(i).flatMap(xs)
        case Interpolate => for (a <- prev(i); b <- next(i); va <- xs(a); vb <- xs(b))
          yield va + (vb - va) * (i - a) / (b - a)
      })
    }
  }

  /** KBinsScaler's bin midpoints for `boundaries`, and x's bin. */
  private def midpointOf(boundaries: Seq[Double], x: Double): Double = {
    val span = (boundaries.last - boundaries.head).max(1.0)
    val edges = (boundaries.head - span) +: boundaries :+ (boundaries.last + span)
    val bin = boundaries.count(_ < x)
    (edges(bin) + edges(bin + 1)) / 2
  }

  private def frame = series.flatMap { case (s, xs) =>
    xs.zipWithIndex.map { case (x, i) => (s, i + 1L, x) }
  }.toDF("sk", "t", "v")

  for (fill <- fills; (label, scaling) <- scalings)
    test(s"fill $fill under $label: null where the fill leaves one, else the filled value") {
      val df = frame
      val m = Preprocessor.fit(df, config(fill, scaling))
      val got = m.inverseTransform(m.transform(df)).collect()
        .map(r => (r.getString(0), r.getLong(1)) -> Option(r.get(2)).map(_.asInstanceOf[Double]))
        .toMap
      val clean = series.map { case (s, xs) => s -> xs.map(_.filterNot(_.isInfinite)) }
      for ((s, xs) <- clean; (want, i) <- filled(fill, xs).zipWithIndex) {
        val key = (s, i + 1L)
        val expected = scaling match {
          case Scaling.KBins(_) => want.map(midpointOf(m.numStats("v").quantiles, _))
          case _                => want
        }
        (got(key), expected) match {
          case (None, None)       =>
          case (Some(g), Some(e)) => assert(math.abs(g - e) <= 1e-6, s"$key: got $g, want $e")
          case (g, e)             => fail(s"$key: got $g, want $e")
        }
      }
      assert(got.size == clean.map(_._2.size).sum)
    }
}
