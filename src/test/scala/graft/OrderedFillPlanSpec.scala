package graft

import java.sql.Timestamp

import scala.util.Random

import graft.operators.AsofJoin
import graft.prep.{FillStrategy, PrepConfig, PrepModel, Preprocessor}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{SpecifiedWindowFrame, UnboundedFollowing}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.window.WindowExec

/** Plan shapes of the ordered fills, as executed: no window frame runs
  * to the partition end (Spark re-aggregates such a frame for every
  * row), no plan shuffles more than one Exchange, and a transform with a
  * single datetime feature and no ordered fill (interpolated in its own
  * order, which changes no value) plans no window and no shuffle at all.
  */
class OrderedFillPlanSpec extends SparkSpec {
  import OrderedFillPlanSpec._

  private def executed(df: DataFrame): SparkPlan = {
    df.collect()
    df.queryExecution.executedPlan
  }

  private def assertLinear(label: String, df: DataFrame, maxExchanges: Int): Unit = {
    val plan = executed(df)
    assert(followingFrames(plan).isEmpty, s"$label runs a frame to the partition end:\n$plan")
    assert(exchanges(plan) <= maxExchanges,
      s"$label plans ${exchanges(plan)} Exchanges, budget $maxExchanges:\n$plan")
  }

  for (kind <- Seq("forward", "backward", "interpolate"))
    test(s"ordered fill $kind: transform and inverse scan in O(n) over one Exchange") {
      val df = frame(spark).drop("d2")
      val m = fit(df, Some(kind))
      assertLinear(s"$kind transform", m.transform(df), 1)
      assertLinear(s"$kind inverse", m.inverseTransform(m.transform(df)), 1)
    }

  test("two datetime features: transform and inverse scan in O(n) over one Exchange") {
    val df = frame(spark)
    for (fill <- Seq(None, Some("backward"))) {
      val m = fit(df, fill)
      assertLinear(s"two datetimes, fill $fill, transform", m.transform(df), 1)
      assertLinear(s"two datetimes, fill $fill, inverse", m.inverseTransform(m.transform(df)), 1)
    }
  }

  test("one datetime feature and no ordered fill: no Window and no Exchange") {
    val df = frame(spark).drop("d2")
    val m = fit(df, None)
    for ((label, out) <- Seq("transform" -> m.transform(df),
                             "inverse" -> m.inverseTransform(m.transform(df)))) {
      val plan = executed(out)
      assert(windows(plan) == 0 && exchanges(plan) == 0, s"$label:\n$plan")
    }
  }

  test("asofForward and asofNearest scan in O(n) over one Exchange") {
    import spark.implicits._
    val left = Seq(("u1", 10L, "a"), ("u1", 20L, "b"), ("u2", 9L, "c")).toDF("k", "ts", "tag")
    val right = Seq(("u1", 10L, 1.0), ("u1", 15L, 2.0), ("u2", 1L, 9.0)).toDF("k", "ts", "v")
    assertLinear("asofForward",
      AsofJoin.asofForward(left, right, "k", "ts", Seq("tag"), Seq("v")), 1)
    assertLinear("asofNearest",
      AsofJoin.asofNearest(left, right, "k", "ts", Seq("tag"), Seq("v")), 1)
  }
}

object OrderedFillPlanSpec extends AdaptiveSparkPlanHelper {

  /** Three series of 40 rows keyed by `sk`, a unique `t` per series,
    * doubles `v` and `w` with null runs (about 30% null), timestamps
    * `d1` and `d2` in random order with about 10% nulls.
    */
  def frame(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val rng = new Random(11)
    def maybe[A](p: Double)(a: => A): Option[A] = if (rng.nextDouble() < p) None else Some(a)
    def ts: Timestamp = new Timestamp(1600000000000L + rng.nextInt(1000000) * 1000L)
    val rows = for (s <- 0 until 3; t <- 0 until 40) yield
      (s"s$s", t.toLong, maybe(0.3)(rng.nextGaussian() * 10), maybe(0.3)(rng.nextDouble()),
        maybe(0.1)(ts), maybe(0.1)(ts))
    spark.sparkContext.parallelize(rows, 3).toDF("sk", "t", "v", "w", "d1", "d2")
  }

  def fit(df: DataFrame, fill: Option[String]): PrepModel =
    Preprocessor.fit(df, PrepConfig(excludedCols = Seq("sk", "t"),
      seriesKey = Some("sk"), timeId = Some("t"),
      numFillNull = fill.fold[FillStrategy](FillStrategy.Mean)(Map(
        "forward" -> FillStrategy.Forward, "backward" -> FillStrategy.Backward,
        "interpolate" -> FillStrategy.Interpolate))))

  def exchanges(plan: SparkPlan): Int = collect(plan) { case e: ShuffleExchangeLike => e }.size

  def windows(plan: SparkPlan): Int = collect(plan) { case w: WindowExec => w }.size

  def followingFrames(plan: SparkPlan): Seq[SpecifiedWindowFrame] =
    collect(plan) { case w: WindowExec => w.windowExpression }.flatten.flatMap(_.collect {
      case f: SpecifiedWindowFrame if f.upper == UnboundedFollowing => f
    })
}
