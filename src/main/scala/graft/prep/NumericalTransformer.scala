package graft.prep

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.operators.SeriesWindow

/** Per-column statistics fitted in one pass. `quantiles(k)` holds the
  * exact k/(n+1)-quantile boundaries when kbins/quantile-grid scaling
  * was requested.
  */
final case class NumColStats(
    min: Double,
    max: Double,
    mean: Double,
    std: Double,
    quantiles: Seq[Double] = Nil,
)

/** Null-fill strategies for numerical columns
  * (reference: utils/numerical_transformer.py:67-103 NUM_FILL_NULL_STRATEGIES).
  * Order-dependent strategies (Forward/Backward/Interpolate) additionally
  * need a per-series window — see [[NumericalTransformer.forwardFill]] etc.
  */
sealed trait FillStrategy
object FillStrategy {
  case object None_       extends FillStrategy
  case object Mean        extends FillStrategy
  case object Min         extends FillStrategy
  case object Max         extends FillStrategy
  case object Zero        extends FillStrategy
  case object One         extends FillStrategy
  final case class Value(v: Double) extends FillStrategy
}

/** How quantile boundaries are fitted (kbins / quantile-grid / robust
  * scaling). The 100 TB DEFAULT IS `Sketch`: the exact sort-based
  * percentile is the right tool only below the scale where a per-column
  * sort hurts, and `TDigest`'s merge-order-dependent centroids can
  * never be replayed by an external engine — the deterministic
  * log-histogram sketch is mergeable, bounded-state, AND
  * oracle-replayable, so the correctness protocol survives the switch
  * to the approximate path. `Exact` stays the test-SF default so the
  * fitted boundaries keep matching DuckDB's `quantile_cont` bit-for-bit.
  */
sealed trait QuantileFitMode
object QuantileFitMode {
  /** Sort-based exact percentile (interpolating) — small/medium SF. */
  case object Exact extends QuantileFitMode
  /** `percentile_approx` (t-digest): bounded memory, but merge-order
    * dependent — no external engine can replay it; kept as the
    * comparison point the bench row measures.
    */
  case object TDigest extends QuantileFitMode
  /** Deterministic log-histogram sketch
    * ([[graft.operators.QuantileSketch]]) — the documented 100 TB
    * default: mergeable by count addition, state bounded by the value
    * range, and every step a pure elementary function, so an SQL
    * oracle replays the approximate boundaries EXACTLY.
    */
  case object Sketch extends QuantileFitMode
}

/** Numerical feature handling (reference: utils/numerical_transformer.py).
  *
  * Scale design: `fit` runs ONE aggregation ([[scan]]) covering every
  * column's min/max/mean/std (+ exact percentile boundaries when
  * needed); the fitted model is a handful of doubles on the driver;
  * every transform and inverse is a pure column expression — narrow,
  * whole-stage codegen, zero shuffle regardless of data size. The `Sketch`
  * quantile mode adds one more (narrow, map-side-combined) aggregation
  * over (column, geometric bucket) pairs.
  */
object NumericalTransformer {

  /** Anything bigger is suspicious (numerical_transformer.py:50). */
  val InfThreshold = 1e308

  /** ±inf / NaN / |x| > 1e308 → null (numerical_transformer.py:49-65). */
  def replaceInf(c: Column): Column =
    when(isnan(c) || c > InfThreshold || c < -InfThreshold, lit(null)).otherwise(c)

  /** One-pass stats for all `cols`; `quantileProbs` adds percentile
    * boundaries (used by kbins / quantile-grid / robust scaling),
    * fitted per [[QuantileFitMode]] — `Exact` below scale,
    * [[QuantileFitMode.Sketch]] as the documented 100 TB default.
    * A thin caller of [[scan]] (+ [[sketched]]), the builders
    * `Preprocessor.fit` shares.
    */
  def fit(
      df: DataFrame,
      cols: Seq[String],
      quantileProbs: Seq[Double] = Nil,
      quantileFit: QuantileFitMode = QuantileFitMode.Exact,
  ): Map[String, NumColStats] = {
    require(cols.nonEmpty, "no numerical columns to fit")
    val inputs = cols.map(c => c -> col(c))
    sketched(df, scan(df, Nil, inputs, quantileProbs, quantileFit).stats, inputs,
      quantileProbs, quantileFit)
  }

  /** Result of [[scan]]: the row count, the non-null count per counted
    * column, the stats per stats column (no Sketch boundaries yet) and
    * the values of the extra aggregates.
    */
  private[prep] final case class Scan(total: Long, nonNull: Map[String, Long],
                                      stats: Map[String, NumColStats], extra: Row)

  /** ONE global aggregate (two jobs under AQE): the row count, the non-null
    * count of every `counted` column, then min/max/mean/std of every
    * `stats` input after [[replaceInf]] (+ the Exact or TDigest
    * boundaries), then `extra`. Every aggregate reads one column only,
    * so a column's stats do not depend on which columns share the pass.
    */
  private[prep] def scan(
      df: DataFrame,
      counted: Seq[String],
      stats: Seq[(String, Column)],
      quantileProbs: Seq[Double] = Nil,
      quantileFit: QuantileFitMode = QuantileFitMode.Exact,
      extra: Seq[Column] = Nil,
  ): Scan = {
    val withQ = quantileProbs.nonEmpty && quantileFit != QuantileFitMode.Sketch
    val statAggs = stats.flatMap { case (_, v) =>
      val c = replaceInf(v)
      val qAgg = quantileFit match {
        case _ if !withQ             => Nil
        case QuantileFitMode.TDigest =>
          Seq(percentile_approx(c, lit(quantileProbs.toArray), lit(10000)))
        case _                       => Seq(percentile(c, lit(quantileProbs.toArray))) // Exact
      }
      Seq(min(c), max(c), avg(c), stddev_samp(c)) ++ qAgg
    }
    val aggs = (count(lit(1)) +: counted.map(c => count(col(c)))) ++ statAggs ++ extra
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    def d(i: Int): Double = row.get(i) match {
      case null                => Double.NaN
      case x: java.lang.Number => x.doubleValue()
    }
    val base = 1 + counted.size
    val width = if (withQ) 5 else 4
    val parsed = stats.zipWithIndex.map { case ((c, _), k) =>
      val i = base + k * width
      val qs = if (!withQ || row.isNullAt(i + 4)) Nil
        else row.getAs[scala.collection.Seq[Double]](i + 4).toSeq
      c -> NumColStats(d(i), d(i + 1), d(i + 2), d(i + 3), qs)
    }.toMap
    Scan(row.getLong(0), counted.zipWithIndex.map { case (c, i) => c -> row.getLong(1 + i) }.toMap,
      parsed, Row.fromSeq(row.toSeq.drop(base + stats.size * width)))
  }

  /** Sketch boundaries: unpivot the `inputs` to (column, value) and run
    * ONE (column, geometric-bucket) count aggregation — map-side
    * combined, so the shuffle carries #cols × #occupied-buckets rows,
    * not data. The boundary for prob p is the first bucket
    * representative whose cumulative count reaches p·n (identical rule
    * to the per-key sketch profile, replayable in SQL). Other modes
    * return `stats` unchanged, with no job.
    */
  private[prep] def sketched(
      df: DataFrame,
      stats: Map[String, NumColStats],
      inputs: Seq[(String, Column)],
      quantileProbs: Seq[Double],
      quantileFit: QuantileFitMode,
  ): Map[String, NumColStats] =
    if (quantileProbs.isEmpty || quantileFit != QuantileFitMode.Sketch || inputs.isEmpty) stats
    else {
      val long = df.select(explode(array(inputs.map { case (c, v) =>
        struct(lit(c).as("f"), replaceInf(v).cast("double").as("v")) }: _*)).as("e"))
        .select(col("e.f").as("f"), col("e.v").as("v"))
        .where(col("v").isNotNull)
      val named = quantileProbs.zipWithIndex.map { case (p, i) => s"__q$i" -> p }
      val qs = graft.operators.QuantileSketch.profile(long, "f", "v", named)
        .collect().map(r => r.getAs[String]("f") ->
          named.map { case (nm, _) => r.getAs[Double](nm) }).toMap
      stats.map { case (c, s) => c -> s.copy(quantiles = qs.getOrElse(c, Nil)) }
    }

  /** Stateless fill using fit-time stats (mean/min/max) or constants. */
  def fill(c: Column, strategy: FillStrategy, stats: => NumColStats): Column =
    strategy match {
      case FillStrategy.None_    => c
      case FillStrategy.Mean     => coalesce(c, lit(stats.mean))
      case FillStrategy.Min      => coalesce(c, lit(stats.min))
      case FillStrategy.Max      => coalesce(c, lit(stats.max))
      case FillStrategy.Zero     => coalesce(c, lit(0.0))
      case FillStrategy.One      => coalesce(c, lit(1.0))
      case FillStrategy.Value(v) => coalesce(c, lit(v))
    }

  /** Series window: ALWAYS partitioned by a series key — a per-series
    * sort after one hash shuffle; never a global single-partition sort.
    */
  def seriesWindow(partition: Seq[Column], order: Seq[Column]): SeriesWindow =
    SeriesWindow(partition, order)

  /** The order-dependent fills by their configuration name. */
  val OrderedFills: Map[String, (Column, SeriesWindow) => Column] = Map(
    "forward" -> forwardFill, "backward" -> backwardFill, "interpolate" -> interpolate)

  /** Last non-null value at or before the current row (polars
    * fill_null(strategy="forward")): one O(n) preceding frame. `c`
    * itself when `w` sorts by `c` ascending (identity rule,
    * [[SeriesWindow.ascendingBy]]): no window at all.
    */
  def forwardFill(c: Column, w: SeriesWindow): Column =
    if (w.ascendingBy(c)) c else w.lastAtOrBefore(c)

  /** First non-null value at or after the current row
    * (strategy="backward"): the O(n) mirrored frame of
    * [[SeriesWindow.firstAtOrAfter]].
    */
  def backwardFill(c: Column, w: SeriesWindow): Column = w.firstAtOrAfter(c)

  /** Linear interpolation by row position within the series (polars
    * `.interpolate()`): nulls between two known points are filled
    * linearly; leading/trailing nulls stay null. The previous known
    * point comes from the ascending window, the next one from its
    * mirror, and both meet in the mirrored pass
    * ([[SeriesWindow.inMirroredPass]]): one shuffle, two sorts per
    * series partition, O(n). `c` itself when `w` sorts by `c`
    * ascending (identity rule, [[SeriesWindow.ascendingBy]]): no window
    * at all.
    */
  def interpolate(c: Column, w: SeriesWindow): Column =
    if (w.ascendingBy(c)) c
    else {
      val pos   = row_number().over(w.spec)
      val rnOf  = when(c.isNotNull, pos)
      val asc   = w.inMirroredPass(struct(pos.as("rn"),
        w.lastAtOrBefore(c).as("prevV"), w.lastAtOrBefore(rnOf).as("prevI")))
      val (rn, prevV, prevI) = (asc("rn"), asc("prevV"), asc("prevI"))
      val nextV = w.firstAtOrAfter(c)
      val nextI = w.firstAtOrAfter(rnOf)
      val interp = prevV + (nextV - prevV) * (rn - prevI) / (nextI - prevI)
      coalesce(c, interp)
    }
}
