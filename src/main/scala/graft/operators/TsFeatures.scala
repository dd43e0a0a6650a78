package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** tsfresh-style per-series time-series features
  * (reference: preprocessor.py:558-638 `extract_ts_features`, which
  * delegates to tsfresh `extract_features`; definitions follow
  * tsfresh's feature_calculators).
  *
  * Scale design: every feature set is ONE `groupBy(seriesKey)` — hash
  * shuffle on the series key with map-side partial aggregation. The
  * order-dependent features (changes, autocorrelation, trend) first
  * apply a window partitioned BY THE SAME KEY, so the subsequent
  * groupBy reuses the exchange — one shuffle total, never a global
  * sort. The full feature matrix ([[extract]] and its multi-column and
  * windowed forms) is one sorted per-series pass after that single
  * shuffle instead. Std/var are population (ddof=0) to match
  * tsfresh/numpy.
  */
object TsFeatures {

  /** count/mean/std/min/max/sum/median/abs_energy
    * (tsfresh: length, mean, standard_deviation, minimum, maximum,
    * sum_values, median, abs_energy).
    */
  def basic(df: DataFrame, seriesKey: String, valueCol: String): DataFrame = {
    val v = col(valueCol)
    // mean/sum/abs_energy ride ExactAgg (integer-microunit mean, exact
    // decimal sums): a plain double avg/sum is order-dependent AND can
    // land exactly on a 5e-7 rounding midpoint where Spark and a
    // sequential engine resolve the tie differently (SURVEY §10)
    df.groupBy(col(seriesKey)).agg(
      count(v).as("n"),
      ExactAgg.microAvg(v).as("mean_v"),
      stddev_pop(v).as("std_v"),
      min(v).as("min_v"),
      max(v).as("max_v"),
      ExactAgg.decSum(v).as("sum_v"),
      percentile(v, lit(0.5)).as("median_v"),
      ExactAgg.decSum(v * v).as("abs_energy"),
    )
  }

  /** mean_abs_change, mean_change, lag-1 autocorrelation (tsfresh
    * definitions: mean(|x_{i+1}-x_i|), (x_n-x_1)/(n-1), and
    * sum((x_t-mu)(x_{t+1}-mu)) / ((n-1) * var_pop)).
    */
  def change(df: DataFrame, seriesKey: String, orderCols: Seq[String], valueCol: String): DataFrame = {
    val w = Window.partitionBy(col(seriesKey)).orderBy(orderCols.map(col): _*)
    val wAll = Window.partitionBy(col(seriesKey))
    val v = col(valueCol)
    val withLag = df.select(
      col(seriesKey), v.as("v"),
      lag(v, 1).over(w).as("prev"),
      avg(v).over(wAll).as("mu"),
    )
    // micro means (ExactAgg): engine-portable at every SF; single-point
    // series (no prev terms) and constant series (var_pop = 0) yield
    // null, matching tsfresh's NaN
    withLag.groupBy(col(seriesKey)).agg(
      ExactAgg.microAvg(abs(col("v") - col("prev"))).as("mean_abs_change"),
      ExactAgg.microAvg(col("v") - col("prev")).as("mean_change"),
      try_divide(sum((col("v") - col("mu")) * (col("prev") - col("mu"))),
        (count(lit(1)) - 1) * var_pop(col("v"))).as("autocorr_lag1"),
    )
  }

  /** Linear-trend slope/intercept of value over the 0-based row index
    * within the series (tsfresh linear_trend over range(len)).
    */
  def trend(df: DataFrame, seriesKey: String, orderCols: Seq[String], valueCol: String): DataFrame = {
    val w = Window.partitionBy(col(seriesKey)).orderBy(orderCols.map(col): _*)
    val indexed = df.select(
      col(seriesKey), col(valueCol).as("v"),
      (row_number().over(w) - 1).cast("double").as("idx"),
    )
    // closed-form fit from exact components (ExactAgg.trendFit) — not
    // regr_slope/regr_intercept, whose moment accumulation differs
    // between engines in the low bits
    val (slope, intercept) = ExactAgg.trendFit(col("v"), col("idx"))
    indexed.groupBy(col(seriesKey)).agg(
      slope.as("trend_slope"),
      intercept.as("trend_intercept"),
    )
  }

  /** Distribution-shape features (tsfresh: population skewness/kurtosis
    * via central moments around the per-series mean,
    * count_above_mean / count_below_mean, first/last by time, range).
    * Window for the per-series mean + one groupBy on the same key —
    * the exchange is reused, one shuffle total.
    */
  def dist(df: DataFrame, seriesKey: String, orderCols: Seq[String], valueCol: String): DataFrame = {
    val wAll = Window.partitionBy(col(seriesKey))
    val v = col(valueCol)
    // the per-series mean is the INTEGER-MICROUNIT mean (ExactAgg):
    // every deviation d = v - mu is then bit-identical on any engine
    // replaying the same quantization, so the moment sums — and the
    // v > mu / v < mu comparisons — can't flip on a low-bit mu
    // difference (quantization error ≤ 5e-7, below the 6-dp output)
    val withMu = df.select(
      col(seriesKey), v.as("v"),
      struct(orderCols.map(col): _*).as("ord"),
      ExactAgg.microAvgWindow(v, wAll).as("mu"),
    )
    // Central moments around the windowed-in per-series mean: raw power
    // sums avg(v^4) - 4*avg(v)*avg(v^3) + ... cancel catastrophically when
    // |mean| >> std, and distributed partial-agg order then diverges from a
    // sequential engine at 6 dp. avg((v-mu)^k) keeps magnitudes small and
    // the result order-stable.
    val d = col("v") - col("mu")
    val c2 = avg(d * d)
    val c3 = avg(d * d * d)
    val c4 = avg(d * d * d * d)
    withMu.groupBy(col(seriesKey)).agg(
      try_divide(c3, pow(c2, 1.5)).as("skewness"),
      (try_divide(c4, c2 * c2) - lit(3)).as("kurtosis"),
      sum(when(col("v") > col("mu"), 1L).otherwise(0L)).as("count_above_mean"),
      sum(when(col("v") < col("mu"), 1L).otherwise(0L)).as("count_below_mean"),
      min_by(col("v"), col("ord")).as("first_v"),
      max_by(col("v"), col("ord")).as("last_v"),
      (max(col("v")) - min(col("v"))).as("range_v"),
    )
  }

  /** The full tsfresh feature matrix, one row per series (reference:
    * preprocessor.py:558-638 `extract_ts_features` / tsfresh
    * `extract_features`): 82 features of the value column, by
    * tsfresh's feature_calculators definitions — the distribution and
    * change statistics, quantiles, autocorrelations to lag 4, trend and
    * AR fits, run lengths, peaks, crossings, entropies, Benford, the
    * k = 0..8 magnitude spectrum and the spectral and Yule-Walker
    * features derived from it (the full list is `ExtractKernel.Features`).
    *
    * Plan: ONE hash shuffle on the series key; each series' rows arrive
    * sorted by `orderCols` and one sorted per-series pass
    * ([[GroupedApply]] running `ExtractKernel`) computes every feature
    * over primitive arrays. The value column is read as a double.
    *
    * Memory: one series' values live in one task — the same per-group
    * footprint as the per-series value map Spark's `percentile` keeps —
    * so series length, not table size, bounds it.
    */
  def extract(df: DataFrame, seriesKey: String, orderCols: Seq[String],
              valueCol: String): DataFrame =
    extractFrame(df, Seq(seriesKey), orderCols, Seq(valueCol), _ => identity)

  /** WINDOWED extraction: the full calculator matrix per (series,
    * tumbling time bucket) — "features over trailing windows", the
    * rolling-feature shape an online-ML pipeline materializes. The
    * bucket is integer nanosecond division (never a double divide on
    * 2^60-scale nanos); the composite (series, bucket) key rides the
    * same one-shuffle sorted per-series pass as [[extract]], with the
    * same per-(series, bucket) memory contract. The output's `bucket`
    * column is computed here, so no input column passed in may be named
    * `bucket`.
    */
  def extractWindowed(df: DataFrame, seriesKey: String, tsNanosCol: String,
                      orderCols: Seq[String], valueCol: String,
                      widthNanos: Long): DataFrame = {
    for ((role, c) <- ("series key" -> seriesKey) +: ("value column" -> valueCol) +:
           orderCols.map("order column" -> _))
      require(c != "bucket", s"$role `bucket` collides with the output `bucket` column")
    val used = (Seq(seriesKey) ++ orderCols :+ valueCol).distinct.map(col)
    val bucketed = df.select(used :+ floorDivBucket(tsNanosCol, widthNanos).as("bucket"): _*)
    extractFrame(bucketed, Seq(seriesKey, "bucket"), orderCols, Seq(valueCol), _ => identity)
  }

  /** Multi-column extraction (the reference/tsfresh shape: features
    * for EVERY value column of the frame, reference
    * preprocessor.py:558-638 extracts over the whole frame), each
    * `<col>_`-prefixed. The value columns ride the same one-shuffle
    * sorted per-series pass as [[extract]] — an N-sensor frame costs
    * the single shuffle of one sensor, not N shuffles + a join chain —
    * and each series holds all N columns' values in its task.
    */
  def extractMulti(df: DataFrame, seriesKey: String, orderCols: Seq[String],
                   valueCols: Seq[String]): DataFrame =
    extractFrame(df, Seq(seriesKey), orderCols, valueCols, i => n => s"${valueCols(i)}_$n")

  /** The plan shared by the whole extract family: the used columns under
    * reserved names, one [[GroupedApply]] that emits the series keys plus
    * ONE array of every value column's features (counts and flags as
    * doubles, so the output encoder stays narrow), and one select that
    * names and types each feature. Output order: the keys, every value
    * column's first features, then every value column's
    * `ExtractKernel.Late` last ones. `out(i)` maps a feature name to value
    * column i's output name.
    */
  private def extractFrame(df: DataFrame, seriesKeys: Seq[String], orderCols: Seq[String],
                           valueCols: Seq[String], out: Int => String => String): DataFrame = {
    import org.apache.spark.sql.types._
    require(valueCols.nonEmpty, "no value columns to extract")
    for (c <- seriesKeys ++ orderCols ++ valueCols)
      require(!c.startsWith("__"), s"column `$c`: the `__` prefix is reserved for internal columns")
    val repeated = valueCols.diff(valueCols.distinct)
    require(repeated.isEmpty, s"value column `${repeated.head}` is listed more than once")
    val features = ExtractKernel.Features
    val width = features.size
    val early = width - ExtractKernel.Late
    val slots = Seq(0 until early, early until width).flatMap(js =>
      valueCols.indices.flatMap(i => js.map(j => (i, j))))
    val names = seriesKeys ++ slots.map { case (i, j) => out(i)(features(j)._1) }
    val clashes = names.diff(names.distinct)
    require(clashes.isEmpty,
      s"output column `${clashes.head}` would appear twice: " +
        "a series key collides with a feature name")
    val ordered = orderCols.indices.map(j => s"__o$j")
    val in = df.select(seriesKeys.map(col) ++
      orderCols.zip(ordered).map { case (c, o) => col(c).as(o) } ++
      valueCols.zipWithIndex.map { case (c, i) => col(c).cast("double").as(s"__v$i") }: _*)
    val nKeys = seriesKeys.size
    val outSchema = StructType(in.schema.fields.take(nKeys) :+
      StructField("__f", ArrayType(DoubleType)))
    val series = GroupedApply(in, seriesKeys, ordered, outSchema) { (key, it) =>
      val rows = it.toArray
      val last = rows.length - 1
      def order(r: Int) = ordered.indices.map(j => rows(r).get(nKeys + j))
      var lastTie = last
      while (lastTie > 0 && order(lastTie - 1) == order(last)) lastTie -= 1
      val feats = valueCols.indices.flatMap { i =>
        val c = nKeys + ordered.size + i
        ExtractKernel(rows.map(r => if (r.isNullAt(c)) 0.0 else r.getDouble(c)),
          rows.map(!_.isNullAt(c)), lastTie)
      }
      Iterator.single(Row.fromSeq(key.toSeq :+ feats))
    }
    series.select(seriesKeys.map(col) ++ slots.zip(names.drop(nKeys)).map { case ((i, j), name) =>
      val f = col("__f")(i * width + j)
      (if (features(j)._2 == DoubleType) f else f.cast(features(j)._2)).as(name)
    }: _*)
  }

  /** Benford first-digit probabilities log10(1 + 1/d), d = 1..9, and
    * the constant (9·Σb² − 1) of the 9-point Pearson shortcut — shared
    * with the SQL oracle as decimal literals (Double.toString
    * round-trips to the identical double on both engines).
    */
  private[graft] val BenfordP: Seq[Double] =
    (1 to 9).map(d => math.log10(1.0 + 1.0 / d))
  private[graft] val BenfordDenom: Double =
    9.0 * BenfordP.map(b => b * b).sum - 1.0

  /** Two-sided p-value for the Pearson-correlation significance test,
    * via the normal approximation of the t statistic
    * t = r*sqrt((n-2)/(1-r²)): p = 2·(1-Φ(|t|)) with Φ from the
    * Abramowitz & Stegun 26.2.17 rational approximation. Pure
    * elementary arithmetic so an external SQL oracle can replay the
    * identical formula (same Horner order).
    */
  def corrPValue(r: Double, n: Long): Double = {
    val t = r * math.sqrt((n - 2).toDouble / math.max(1.0 - r * r, 1e-300))
    normTwoSidedP(math.abs(t))
  }

  /** Two-sided normal tail 2·(1−Φ(|z|)) via the same A&S 26.2.17
    * rational approximation (same Horner order) the SQL oracles replay.
    */
  def normTwoSidedP(at: Double): Double = {
    val k = 1.0 / (1.0 + 0.2316419 * at)
    val poly = k * (0.319381530 + k * (-0.356563782 + k * (1.781477937 +
      k * (-1.821255978 + k * 1.330274429))))
    val pdf = math.exp(-at * at / 2) / math.sqrt(2 * math.Pi)
    2.0 * pdf * poly
  }

  /** Two-sided Mann-Whitney U p-value — the asymptotic normal branch
    * with tie correction and 0.5 continuity correction (the test
    * tsfresh's `target_binary_feature_real_test` applies to a real
    * feature vs a binary classification target; the small-n exact
    * branch is deliberately out of scope — documented in SURVEY §3).
    * Inputs are exact (`r1` is a sum of multiples of 0.5, `ties` an
    * integer), so the statistic is order-free and engine-portable.
    *
    * @param r1   rank sum of the y=1 group (average ranks for ties)
    * @param n1   size of the y=1 group
    * @param n2   size of the y=0 group
    * @param ties Σ(t³−t) over tie groups
    */
  def mannWhitneyP(r1: Double, n1: Long, n2: Long, ties: Long): Double = {
    val n = n1 + n2
    if (n1 == 0 || n2 == 0) return 1.0
    val u1 = r1 - n1.toDouble * (n1 + 1) / 2.0
    val mu = n1.toDouble * n2 / 2.0
    val tieAdj = (n + 1).toDouble - ties.toDouble / (n.toDouble * (n - 1))
    val s2 = n1.toDouble * n2 / 12.0 * tieAdj
    if (s2 <= 0) 1.0
    else {
      val z = math.max(math.abs(u1 - mu) - 0.5, 0.0) / math.sqrt(s2)
      math.min(1.0, normTwoSidedP(z))
    }
  }

  /** Two-sided Fisher's exact p for a 2×2 table (the test tsfresh's
    * `target_binary_feature_binary_test` applies to binary × binary) —
    * sum of hypergeometric probabilities ≤ (1+1e-7)·P(observed).
    * The pmf weights come from the integer-ratio recurrence
    * w(k+1) = w(k)·(r1−k)(c1−k) / ((k+1)(n−r1−c1+k+1)) folded in
    * ascending k, and both the total and the ≤-threshold mass are
    * ascending-k left folds — the SQL oracle replays the identical
    * double sequence (recursive CTE + ordered running sum), so the
    * result is bit-portable. Cost is O(min margin) driver arithmetic
    * per binary feature; the table itself comes from one distributed
    * groupBy.
    */
  /** Support-size cap for [[fisherExactP]]'s exact branch: beyond this
    * the exact fold is O(range) driver time and memory for a p-value
    * the normal approximation already gives to far more digits than
    * matter — and the Double ratio products (each factor ≤ n) leave
    * the 2^53 exact-integer range, so "exact" would be nominal anyway.
    */
  val FisherExactMaxRange: Long = 1L << 22

  def fisherExactP(n11: Long, n10: Long, n01: Long, n00: Long): Double = {
    val r1 = n11 + n10
    val c1 = n11 + n01
    val n = n11 + n10 + n01 + n00
    val kmin = math.max(0L, r1 + c1 - n)
    val kmax = math.min(r1, c1)
    if (kmax <= kmin) return 1.0
    if (kmax - kmin > FisherExactMaxRange) {
      // Margin cap (enforced, not just documented): continuity-corrected
      // normal approximation to the hypergeometric. At supports past 4M
      // the exact two-sided mass and the normal tail agree to well past
      // 6 dp; the oracle never exercises this branch at test SFs.
      val mu = r1.toDouble * c1 / n
      val v = mu * (n - r1).toDouble / n * (n - c1).toDouble / (n - 1)
      if (v <= 0) return 1.0
      val z = math.max(math.abs(n11 - mu) - 0.5, 0.0) / math.sqrt(v)
      return math.min(1.0, normTwoSidedP(z))
    }
    // anchor the weight recurrence at the distribution's MODE with
    // w=1 and recurse outward: weights only DECREASE away from the
    // mode, so nothing overflows (unnormalized weights anchored at a
    // tail overflow double range for margins in the hundreds — seen
    // at sf0.1); far tails underflow to exact 0, contributing nothing
    // on either engine. The SQL oracle replays the same up/down
    // recurrences and ascending-k folds.
    val kmode = math.min(kmax, math.max((r1 + 1) * (c1 + 1) / (n + 2), kmin))
    val ws = new Array[Double]((kmax - kmin + 1).toInt)
    ws((kmode - kmin).toInt) = 1.0
    var k = kmode
    while (k < kmax) {
      val i = (k - kmin).toInt
      // each factor converts to Double BEFORE multiplying: the Long
      // product (r1-k)(c1-k) silently overflows for margins ≥ ~3e9,
      // while Double factors stay exact through 2^53 (far beyond the
      // capped range) and merely lose ulps, never sign, beyond it
      ws(i + 1) = ws(i) * ((r1 - k).toDouble * (c1 - k).toDouble) /
        ((k + 1).toDouble * (n - r1 - c1 + k + 1).toDouble)
      k += 1
    }
    k = kmode
    while (k > kmin) {
      val i = (k - kmin).toInt
      ws(i - 1) = ws(i) * (k.toDouble * (n - r1 - c1 + k).toDouble) /
        ((r1 - k + 1).toDouble * (c1 - k + 1).toDouble)
      k -= 1
    }
    val wObs = ws((n11 - kmin).toInt)
    val thresh = wObs * (1.0 + 1e-7)
    var total = 0.0
    var mass = 0.0
    var i = 0
    while (i < ws.length) {
      total += ws(i)
      if (ws(i) <= thresh) mass += ws(i)
      i += 1
    }
    math.min(1.0, mass / total)
  }

  /** Chi-square survival P(X² ≥ h) for df ∈ {1, 2} via closed forms an
    * external SQL engine replays exactly: df=1 → 2·(1−Φ(√h)) (the A&S
    * tail), df=2 → exp(−h/2). df=0 (single class) → 1.
    */
  def chi2TailP(h: Double, df: Long): Double =
    if (df <= 0 || h <= 0) 1.0
    else if (df == 1) math.min(1.0, normTwoSidedP(math.sqrt(h)))
    else math.min(1.0, math.exp(-h / 2))

  /** Kruskal-Wallis H p-value (tie-corrected) — the k>2 generalization
    * of Mann-Whitney behind tsfresh's relevance battery for
    * MULTI-CLASS targets. `rgs` = (rank sum, group size) per class in
    * a FIXED fold order (the SQL oracle folds the same class order);
    * each rank sum is an exact multiple of 0.5, so H is
    * engine-deterministic. p via [[chi2TailP]] with df = #non-empty
    * classes − 1 (the fixture bounds classes at 3, so df ≤ 2 and the
    * closed-form tails apply).
    */
  def kruskalWallisP(rgs: Seq[(Double, Long)], ties: Long): Double = {
    val present = rgs.filter(_._2 > 0)
    val n = present.map(_._2).sum
    val df = present.size - 1L
    if (df <= 0 || n < 2) return 1.0
    val sumTerm = present.map { case (r, ng) => r * r / ng }
      .foldLeft(0.0)(_ + _)
    val h = 12.0 / (n.toDouble * (n + 1)) * sumTerm - 3.0 * (n + 1)
    val c = 1.0 - ties.toDouble / (n.toDouble * n * n - n)
    if (c <= 0) 1.0 else chi2TailP(h / c, df)
  }

  /** Relevance filter for a BINARY classification target — the
    * per-type test battery behind tsfresh's `calculate_relevance_table`
    * (reference: preprocessor.py:630 `extract_relevant_features` with
    * a classification ml_task): Mann-Whitney U for real features,
    * Fisher's exact for binary features, then one Benjamini–Hochberg
    * pass over the combined p-values (keep-all fallback as in
    * [[featureRelevance]]).
    *
    * Scale shape: the U statistic needs rank sums, but never a global
    * rank — real features unpivot to (feature, x, y) rows, one groupBy
    * collapses them to DISTINCT (feature, value) groups, and the
    * cumulative count window runs per-feature over those groups (value
    * cardinality, not series count). Each rank-sum term m·(C+(t+1)/2)
    * is an exact multiple of 0.5, so the distributed double sum is
    * order-free. Binary features reduce to 2×2 tables via the same
    * unpivoted groupBy. Driver arithmetic is O(#features + min-margin).
    */
  def featureRelevanceBinary(features: DataFrame, realCols: Seq[String],
                             binaryCols: Seq[String], labelCol: String,
                             alpha: Double = 0.05): DataFrame = {
    val y = col(labelCol).cast("long")
    val long = features.select(y.as("__y"),
      explode(array((realCols ++ binaryCols).map(c =>
        struct(lit(c).as("f"), col(c).cast("double").as("x"))): _*)).as("__e"))
      .select(col("__y"), col("__e.f").as("__f"), col("__e.x").as("__x"))
      // null feature values / labels drop the row (same filter in the
      // oracle): Spark ranks NULL first, SQL last — unfiltered nulls
      // would shift every cumulative rank
      .where(col("__x").isNotNull && col("__y").isNotNull)
    // materialized once: both the Mann-Whitney and the Fisher jobs
    // read this frame, and it is tiny (distinct values) next to the
    // unpivot+aggregation that produces it
    val grouped = long.groupBy(col("__f"), col("__x"))
      .agg(count(lit(1)).as("nx"), sum(col("__y")).as("mx"))
      .localCheckpoint(eager = false) // the first collect materializes
    val isReal = realCols.toSet
    // real features: per-feature cumulative counts over distinct values
    val w = Window.partitionBy(col("__f")).orderBy(col("__x"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val mwRows = grouped.where(col("__f").isin(realCols: _*))
      .withColumn("cx", coalesce(sum(col("nx")).over(w), lit(0L)))
      .groupBy(col("__f")).agg(
        sum(col("mx") * (col("cx") + (col("nx") + 1) / lit(2.0))).as("r1"),
        sum(col("mx")).as("n1"),
        sum(col("nx")).as("n"),
        sum(col("nx") * col("nx") * col("nx") - col("nx")).as("ties"))
      .collect()
    val mwP = mwRows.map { r =>
      val n1 = r.getAs[Long]("n1")
      val n = r.getAs[Long]("n")
      r.getAs[String]("__f") ->
        mannWhitneyP(r.getAs[Double]("r1"), n1, n - n1, r.getAs[Long]("ties"))
    }.toMap
    // binary features: 2×2 tables from the same grouped frame
    val cells = grouped.where(col("__f").isin(binaryCols: _*)).collect()
      .groupBy(_.getAs[String]("__f"))
    val fisherP = cells.map { case (f, rows) =>
      def cell(x: Double)(pick: Row => Long): Long =
        rows.filter(_.getAs[Double]("__x") == x).map(pick).sum
      val n11 = cell(1.0)(_.getAs[Long]("mx"))
      val n10 = cell(1.0)(r => r.getAs[Long]("nx") - r.getAs[Long]("mx"))
      val n01 = cell(0.0)(_.getAs[Long]("mx"))
      val n00 = cell(0.0)(r => r.getAs[Long]("nx") - r.getAs[Long]("mx"))
      f -> fisherExactP(n11, n10, n01, n00)
    }
    val allP: Seq[(String, Double)] =
      (realCols.map(c => c -> mwP.getOrElse(c, 1.0)) ++
        binaryCols.map(c => c -> fisherP.getOrElse(c, 1.0)))
    val keptNames = bhKeep(allP, alpha)
    val spark = features.sparkSession
    import spark.implicits._
    allP.map { case (c, p) =>
      (c, if (isReal(c)) "mann_whitney_u" else "fisher_exact", p, keptNames(c))
    }.toDF("feature", "test", "p_value", "kept")
  }

  /** Benjamini–Hochberg: keep the k* smallest p-values where
    * k* = max{i : p_(i) ≤ i·alpha/m} (ties ranked by (p, name)), with
    * the reference's keep-all fallback when nothing survives.
    */
  private def bhKeep(ps: Seq[(String, Double)], alpha: Double): Set[String] = {
    val sorted = ps.sortBy { case (c, p) => (p, c) }
    val m = sorted.size
    val kStar = sorted.zipWithIndex
      .collect { case ((_, p), i) if p <= (i + 1) * alpha / m => i + 1 }
      .lastOption.getOrElse(0)
    if (kStar == 0) ps.map(_._1).toSet else sorted.take(kStar).map(_._1).toSet
  }

  /** Strict inversions of `a` (pairs i<j with a(i) > a(j)) by
    * mergesort — O(n log n), mutates `a` to sorted order.
    */
  private def inversions(a: Array[Double]): Long = {
    val buf = new Array[Double](a.length)
    def go(lo: Int, hi: Int): Long =
      if (hi - lo <= 1) 0L
      else {
        val mid = (lo + hi) / 2
        var inv = go(lo, mid) + go(mid, hi)
        var i = lo; var j = mid; var k = lo
        while (i < mid && j < hi) {
          if (a(j) < a(i)) { inv += (mid - i); buf(k) = a(j); j += 1 }
          else { buf(k) = a(i); i += 1 }
          k += 1
        }
        while (i < mid) { buf(k) = a(i); i += 1; k += 1 }
        while (j < hi) { buf(k) = a(j); j += 1; k += 1 }
        System.arraycopy(buf, lo, a, lo, hi - lo)
        inv
      }
    go(0, a.length)
  }

  /** Kendall τ-b + tie-corrected asymptotic two-sided p over pairs
    * PRE-SORTED by (x, y) — Knight's O(n log n) algorithm: with the
    * rows in (x, y) order, the strict inversions of the y sequence are
    * exactly the discordant pairs (x-tied runs are y-ascending and
    * contribute none), so P−Q = n0 − n1 − n2 + n3 − 2D from integer
    * tie-group sums. The variance is scipy.kendalltau's tie-adjusted
    * formula; every input to the closed forms is an exact integer, so
    * the statistic is engine-portable (an O(n²) SQL pair count hits
    * the identical integers). Returns (τ-b or None when a margin is
    * fully tied, p).
    */
  def kendallTauP(sorted: Array[(Double, Double)]): (Option[Double], Double) = {
    val n = sorted.length.toLong
    if (n < 2) return (None, 1.0)
    val n0 = n * (n - 1) / 2
    var st = 0L; var stt = 0L; var vt = 0L
    var n3 = 0L
    var i = 0
    while (i < sorted.length) {
      var j = i
      while (j < sorted.length && sorted(j)._1 == sorted(i)._1) j += 1
      val t = (j - i).toLong
      st += t * (t - 1); stt += t * (t - 1) * (t - 2)
      vt += t * (t - 1) * (2 * t + 5)
      var k = i
      while (k < j) {
        var l = k
        while (l < j && sorted(l)._2 == sorted(k)._2) l += 1
        val tj = (l - k).toLong
        n3 += tj * (tj - 1) / 2
        k = l
      }
      i = j
    }
    val ys = sorted.map(_._2).sorted
    var su = 0L; var suu = 0L; var vu = 0L
    i = 0
    while (i < ys.length) {
      var j = i
      while (j < ys.length && ys(j) == ys(i)) j += 1
      val u = (j - i).toLong
      su += u * (u - 1); suu += u * (u - 1) * (u - 2)
      vu += u * (u - 1) * (2 * u + 5)
      i = j
    }
    val d = inversions(sorted.map(_._2))
    val n1 = st / 2
    val n2 = su / 2
    val s = n0 - n1 - n2 + n3 - 2 * d
    val denom = (n0 - n1).toDouble * (n0 - n2)
    val tau = if (denom <= 0) None else Some(s.toDouble / math.sqrt(denom))
    val p =
      if (n < 3) 1.0
      else {
        val varS = (n.toDouble * (n - 1) * (2 * n + 5) - vt - vu) / 18 +
          st.toDouble * su / (2.0 * n * (n - 1)) +
          stt.toDouble * suu / (9.0 * n * (n - 1) * (n - 2))
        if (varS <= 0) 1.0
        else math.min(1.0, normTwoSidedP(math.abs(s / math.sqrt(varS))))
      }
    (tau, p)
  }

  /** Relevance filter for a REAL (regression) target via Kendall τ-b —
    * the nonparametric test tsfresh's `target_real_feature_real_test`
    * applies (the Pearson battery in [[featureRelevance]] stays as the
    * parametric variant). One unpivot shuffle, then each feature's
    * (x, y) pairs stream SORTED through a GroupedApply running
    * Knight's O(n log n) τ — per-feature sequential work over series
    * count, the same documented escape-hatch class as sample_entropy
    * (exact to n ≈ 1.3e8 where n(n−1)/2 leaves the 2^53 domain).
    */
  def featureRelevanceTau(features: DataFrame, realCols: Seq[String],
                          labelCol: String, alpha: Double = 0.05): DataFrame = {
    import org.apache.spark.sql.types._
    val y = col(labelCol).cast("double")
    val long = features.select(y.as("__y"),
      explode(array(realCols.map(c =>
        struct(lit(c).as("f"), col(c).cast("double").as("x"))): _*)).as("__e"))
      .select(col("__e.f").as("__f"), col("__e.x").as("__x"), col("__y"))
      // defined null semantics (the oracle filters identically): a
      // null feature value or label drops the PAIR source row — the
      // alternative (NPE in getDouble) killed the job on any
      // try_divide-derived feature
      .where(col("__x").isNotNull && col("__y").isNotNull)
    val outSchema = StructType(Seq(
      StructField("feature", StringType, nullable = false),
      StructField("tau", DoubleType),
      StructField("p", DoubleType, nullable = false)))
    val stats = GroupedApply(long, Seq("__f"), Seq("__x", "__y"), outSchema) {
      (key, it) =>
        val pairs = it.map(r => (r.getDouble(1), r.getDouble(2))).toArray
        val (tau, p) = kendallTauP(pairs)
        Iterator.single(Row(key.getString(0), tau.map(Double.box).orNull, p))
    }.collect()
    val byF = stats.map(r =>
      r.getString(0) -> (Option(r.get(1)).map(_.asInstanceOf[Double]),
        r.getDouble(2))).toMap
    val allP = realCols.map(c => c -> byF.get(c).map(_._2).getOrElse(1.0))
    val keptNames = bhKeep(allP, alpha)
    val spark = features.sparkSession
    import spark.implicits._
    realCols.map { c =>
      val (tau, p) = byF.getOrElse(c, (None, 1.0))
      (c, tau, p, keptNames(c))
    }.toDF("feature", "tau", "p_value", "kept")
  }

  /** Relevance filter for a MULTI-CLASS target: per-feature
    * Kruskal-Wallis H across the label groups (the k>2 generalization
    * of Mann-Whitney, tsfresh's battery for k-ary classification
    * targets) + one BH pass. Same scalable rank-sum shape as the
    * binary battery — distinct (feature, value) groups carry total and
    * PER-CLASS counts, one per-feature cumulative window over those
    * groups yields average ranks, and each class's rank sum is an
    * exact multiple of 0.5 (order-free distributed sum). `classes`
    * fixes the class list and the fold order the SQL oracle replays;
    * with ≤3 classes df ≤ 2, so [[chi2TailP]]'s closed forms apply.
    */
  def featureRelevanceMulti(features: DataFrame, realCols: Seq[String],
                            labelCol: String, classes: Seq[String],
                            alpha: Double = 0.05): DataFrame = {
    require(classes.size <= 3, "chi2TailP closed forms cover df <= 2")
    val long = features.select(col(labelCol).cast("string").as("__c"),
      explode(array(realCols.map(c =>
        struct(lit(c).as("f"), col(c).cast("double").as("x"))): _*)).as("__e"))
      .select(col("__c"), col("__e.f").as("__f"), col("__e.x").as("__x"))
      // rows outside the class list (incl. null labels) and null
      // feature values are excluded BEFORE ranking — otherwise they
      // shift every cumulative rank while being invisible to the
      // H statistic, and Spark ranks NULL x first where SQL ranks it
      // last (the oracle filters identically)
      .where(col("__x").isNotNull && col("__c").isin(classes: _*))
    val aggs = count(lit(1)).as("nx") +: classes.map(c =>
      sum(when(col("__c") === c, 1L).otherwise(0L)).as(s"m_$c"))
    val byVal = long.groupBy(col("__f"), col("__x")).agg(aggs.head, aggs.tail: _*)
    val w = Window.partitionBy(col("__f")).orderBy(col("__x"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = byVal.withColumn("avgrank",
      coalesce(sum(col("nx")).over(w), lit(0L)) + (col("nx") + 1) / lit(2.0))
    val stAggs = classes.flatMap(c => Seq(
      sum(col(s"m_$c") * col("avgrank")).as(s"r_$c"),
      sum(col(s"m_$c")).as(s"n_$c"))) :+
      sum(col("nx") * col("nx") * col("nx") - col("nx")).as("ties")
    val stats = ranked.groupBy(col("__f")).agg(stAggs.head, stAggs.tail: _*)
      .collect()
    val pByF = stats.map { row =>
      val rgs = classes.map(c =>
        (row.getAs[Double](s"r_$c"), row.getAs[Long](s"n_$c")))
      row.getAs[String]("__f") -> kruskalWallisP(rgs, row.getAs[Long]("ties"))
    }.toMap
    val allP = realCols.map(c => c -> pByF.getOrElse(c, 1.0))
    val keptNames = bhKeep(allP, alpha)
    val spark = features.sparkSession
    import spark.implicits._
    allP.map { case (c, p) => (c, p, keptNames(c)) }
      .toDF("feature", "p_value", "kept")
  }

  /** Relevance filter (reference: `extract_relevant_features` — tsfresh
    * runs a per-feature hypothesis test and controls the false
    * discovery rate with Benjamini–Hochberg). Per feature: Pearson
    * corr vs the target and its significance p-value ([[corrPValue]]);
    * BH keeps the `k*` smallest p-values where k* = max{i : p_(i) <=
    * i·alpha/m} (ties ranked by (p, feature) for determinism). When NO
    * feature survives, falls back to keeping everything — mirroring the
    * reference's extract_features fallback (preprocessor.py:634-638).
    *
    * ONE aggregation over the joined frame computes every correlation +
    * the row count; the test itself is O(features) driver-side
    * arithmetic. Returns (feature, corr, p_value, kept).
    */
  def featureRelevance(features: DataFrame, labels: DataFrame, seriesKey: String,
                       labelCol: String, alpha: Double = 0.05): DataFrame = {
    // the feature matrix is one row per SERIES (tiny next to the input)
    // but expensive to produce (window + agg over every event) —
    // materialize it once instead of recomputing per downstream action
    // (lazy: the correlation collect below is the materializing job)
    val feats = features.localCheckpoint(eager = false)
    val featCols = feats.columns.filterNot(_ == seriesKey).toSeq
    val joined = feats.join(labels, seriesKey)
    // Pearson r as try_divide(covar_samp, sx*sy) rather than corr():
    // under ANSI, corr() THROWS on a zero-variance side (constant
    // feature or constant target) where this yields null — and the
    // oracle mirrors the identical formula.
    //
    // The matrix is UNPIVOTED first: per-feature correlations then
    // cost ONE 3-aggregate groupBy over (feature, x, y) rows instead
    // of 3·|features| wide aggregate expressions — at 64 features the
    // wide form's whole-stage-codegen COMPILE dominated the query
    // (~2 s on a 150-row frame); the long form compiles once and its
    // cost tracks rows, not feature count.
    val y = col(labelCol).cast("double")
    val long = joined.select(y.as("__y"),
      explode(array(featCols.map(c =>
        struct(lit(c).as("f"), col(c).cast("double").as("x"))): _*)).as("__e"))
      .select(col("__y"), col("__e.f").as("__f"), col("__e.x").as("__x"))
    val rRows = long.groupBy(col("__f")).agg(
      try_divide(covar_samp(col("__x"), col("__y")),
        stddev_samp(col("__x")) * stddev_samp(col("__y")))
        .as("__r"),
      count(lit(1)).as("__n")).collect()
    val n = rRows.headOption.map(_.getAs[Long]("__n")).getOrElse(0L)
    val rMap: Map[String, Option[Double]] = rRows.map { r =>
      r.getString(0) -> (r.getAs[Any]("__r") match {
        case null                           => None
        case d: java.lang.Double if d.isNaN => None
        case d: java.lang.Double            => Some(d.toDouble)
      })
    }.toMap
    val rs: Seq[(String, Option[Double])] =
      featCols.map(c => c -> rMap.getOrElse(c, None))
    val withP = rs.map { case (c, r) => (c, r, r.map(corrPValue(_, n))) }
    val defined = withP.collect { case (c, _, Some(p)) => (c, p) }
      .sortBy { case (c, p) => (p, c) }
    val m = defined.size
    val kStar = defined.zipWithIndex
      .collect { case ((_, p), i) if p <= (i + 1) * alpha / m => i + 1 }
      .lastOption.getOrElse(0)
    val keptNames: Set[String] =
      if (kStar == 0) withP.map(_._1).toSet // fallback: keep ALL features
      else defined.take(kStar).map(_._1).toSet
    val spark = features.sparkSession
    import spark.implicits._
    withP.map { case (c, r, p) => (c, r, p, keptNames.contains(c)) }
      .toDF("feature", "corr", "p_value", "kept")
  }

  /** Tumbling-window resample: bucket by `widthNanos` over a
    * nanosecond-epoch timestamp column, aggregate per (series, bucket).
    * One shuffle on the composite key.
    */
  /** Sliding-window resample via Spark's native `window()` (width /
    * slide): one shuffle on (series, window); each event lands in
    * width/slide windows. Same exact-decimal sum/mean stabilization as
    * [[resample]]. Emits the window start as epoch seconds.
    */
  def resampleSliding(df: DataFrame, seriesKey: String, tsNanosCol: String,
                      valueCol: String, width: String, slide: String): DataFrame = {
    val tse = timestamp_micros(expr(s"cast($tsNanosCol as long) div 1000"))
    val dec = sum(col(valueCol).cast("decimal(18,6)"))
    df.groupBy(col(seriesKey), window(tse, width, slide).as("w"))
      .agg(count(lit(1)).as("n"), dec.as("sum_dec"),
        min(col(valueCol)).as("min_v"), max(col(valueCol)).as("max_v"))
      .select(col(seriesKey),
        unix_timestamp(col("w.start")).as("w_start"),
        col("n"),
        (col("sum_dec").cast("double") / col("n")).as("mean_v"),
        col("sum_dec").cast("double").as("sum_v"),
        col("min_v"), col("max_v"))
  }

  /** tsfresh sample_entropy (m=2, r=0.2·σ_pop): −ln(A/B) where B
    * counts ordered template pairs i≠j whose m-length windows sit
    * within Chebyshev distance r, and A the same for m+1. The pair
    * count is inherently O(n²) PER SERIES (tsfresh pays the same), so
    * it runs as a [[GroupedApply]]: one hash shuffle on the series
    * key, per-group sorted iterator, per-group O(n²) double loop —
    * never a cross-series product. At 100 TB the cost is bounded by
    * the LONGEST series, not the table; series beyond ~10⁵ points
    * should be windowed upstream (resample) first, which is how
    * sample entropy is used in practice.
    *
    * B = 0 or A = 0 yields null (tsfresh nan/inf), mirrored by the
    * oracle's CASE guard.
    *
    * The same pair loop also yields tsfresh approximate_entropy
    * (ApEn, m=2, r=0.2·σ): per-template match counts INCLUDING self
    * (+1 on the j≠i counts), Φ(m) = mean ln(C_i/(N−m+1)),
    * ApEn = |Φ(2) − Φ(3)| — one extra column for free.
    */
  def sampleEntropy(df: DataFrame, seriesKey: String, orderCols: Seq[String],
                    valueCol: String, rFactor: Double = 0.2): DataFrame = {
    import org.apache.spark.sql.types._
    val in = df.select((col(seriesKey) +: orderCols.map(col)) :+ col(valueCol): _*)
    val vIdx = in.schema.fieldIndex(valueCol)
    val keyField = in.schema(in.schema.fieldIndex(seriesKey))
    val outSchema = StructType(Seq(keyField.copy(nullable = false),
      StructField("sample_entropy", DoubleType),
      StructField("approx_entropy", DoubleType)))
    GroupedApply(in, Seq(seriesKey), orderCols, outSchema) { (key, it) =>
      val xs = it.map(_.getDouble(vIdx)).toArray
      val n = xs.length
      val mean = xs.sum / n
      val r = rFactor * math.sqrt(xs.map(x => (x - mean) * (x - mean)).sum / n)
      var a = 0L
      var b = 0L
      // per-template j≠i match counts for ApEn (self added as +1 below)
      val c2 = new Array[Long](math.max(n - 1, 0))
      val c3 = new Array[Long](math.max(n - 2, 0))
      var i = 0
      while (i < n - 1) {
        var j = 0
        while (j < n - 1) {
          if (j != i &&
            math.abs(xs(i) - xs(j)) <= r && math.abs(xs(i + 1) - xs(j + 1)) <= r) {
            b += 1
            c2(i) += 1
            if (i < n - 2 && j < n - 2 && math.abs(xs(i + 2) - xs(j + 2)) <= r) {
              a += 1
              c3(i) += 1
            }
          }
          j += 1
        }
        i += 1
      }
      val sampEn: Any =
        if (a > 0 && b > 0) -math.log(a.toDouble / b) else null
      val apEn: Any = if (n < 3) null else {
        val n2 = n - 1 // m=2 template count
        val n3 = n - 2 // m=3 template count
        val phi2 = c2.map(c => math.log((c + 1).toDouble / n2)).sum / n2
        val phi3 = c3.map(c => math.log((c + 1).toDouble / n3)).sum / n3
        math.abs(phi2 - phi3)
      }
      Iterator.single(org.apache.spark.sql.Row(key.get(0), sampEn, apEn))
    }
  }

  /** tsfresh lempel_ziv_complexity (bins=10): quantize the series to
    * `bins` equal-width symbols (searchsorted-left against the bin
    * upper edges, matching tsfresh), count LZ76 phrases over the
    * symbol sequence, divide by length. The phrase scan is inherently
    * SEQUENTIAL per series, so it runs as a [[GroupedApply]] (one
    * shuffle on the key, per-group sorted iterator) and — unlike the
    * other calculators — has no SQL-window oracle: coverage is
    * bench + spec (hand-checked phrases + a naive reimplementation).
    */
  def lempelZiv(df: DataFrame, seriesKey: String, orderCols: Seq[String],
                valueCol: String, bins: Int = 10): DataFrame = {
    import org.apache.spark.sql.types._
    val in = df.select((col(seriesKey) +: orderCols.map(col)) :+ col(valueCol): _*)
    val vIdx = in.schema.fieldIndex(valueCol)
    val keyField = in.schema(in.schema.fieldIndex(seriesKey))
    val outSchema = StructType(Seq(keyField.copy(nullable = false),
      StructField("lz_complexity", DoubleType)))
    GroupedApply(in, Seq(seriesKey), orderCols, outSchema) { (key, it) =>
      val xs = it.map(_.getDouble(vIdx)).toArray
      val n = xs.length
      val mn = xs.min
      val mx = xs.max
      // tsfresh: bins upper edges linspace(min,max,bins+1)[1:];
      // symbol = searchsorted(edges, x, side="left")
      val edges = (1 to bins).map(j => mn + (mx - mn) * j / bins)
      val seq = xs.map { x =>
        val i = edges.indexWhere(_ >= x)
        if (i < 0) bins - 1 else i
      }
      val seen = scala.collection.mutable.HashSet.empty[Seq[Int]]
      var ind = 0
      var inc = 1
      while (ind + inc <= n) {
        val sub = seq.slice(ind, ind + inc).toSeq
        if (seen.contains(sub)) inc += 1
        else { seen += sub; ind += inc; inc = 1 }
      }
      Iterator.single(org.apache.spark.sql.Row(
        key.get(0), seen.size.toDouble / n))
    }
  }

  /** Solve the k×k linear system a·x = b by partial-pivot Gaussian
    * elimination (inputs untouched; NaN vector on a singular pivot).
    * k = lag+2 ≤ a handful — driver-free, per-series executor work.
    */
  private def solveLinear(a0: Array[Array[Double]], b0: Array[Double]): Array[Double] = {
    val k = b0.length
    val a = a0.map(_.clone())
    val b = b0.clone()
    var c = 0
    while (c < k) {
      var p = c
      var r = c + 1
      while (r < k) { if (math.abs(a(r)(c)) > math.abs(a(p)(c))) p = r; r += 1 }
      val tA = a(p); a(p) = a(c); a(c) = tA
      val tB = b(p); b(p) = b(c); b(c) = tB
      val piv = a(c)(c)
      if (piv == 0.0) return Array.fill(k)(Double.NaN)
      r = c + 1
      while (r < k) {
        val f = a(r)(c) / piv
        if (f != 0.0) {
          var c2 = c
          while (c2 < k) { a(r)(c2) -= f * a(c)(c2); c2 += 1 }
          b(r) -= f * b(c)
        }
        r += 1
      }
      c += 1
    }
    val x = new Array[Double](k)
    var r = k - 1
    while (r >= 0) {
      var s = b(r)
      var c2 = r + 1
      while (c2 < k) { s -= a(r)(c2) * x(c2); c2 += 1 }
      x(r) = s / a(r)(r)
      r -= 1
    }
    x
  }

  /** Augmented Dickey–Fuller tau statistic with a FIXED lag — the
    * regression tsfresh's `augmented_dickey_fuller` attribute
    * "teststat" delegates to (statsmodels `adfuller(x, maxlag=lag,
    * autolag=None, regression='c')`), minus the AIC lag search: the
    * per-series iterative refit the search needs has no one-pass
    * shape, and the MacKinnon p-value surface is a numeric lookup
    * table — both documented out of scope in SURVEY §3.
    *
    * Model: Δy_t = α + β·y_{t−1} + Σ_{i=1..lag} γ_i·Δy_{t−i} + ε,
    * stat = β̂/se(β̂). One [[GroupedApply]] pass (single hash shuffle,
    * per-series sorted fold — deterministic given the series), normal
    * equations solved in-executor; per-series state is the values
    * array, like every GroupedApply calculator. Like `ts_lempel_ziv`
    * this ships bench+spec: a 3-regressor OLS oracle in SQL would ride
    * order-dependent distributed double sums, exactly the class the
    * repo's oracle protocol excludes.
    */
  /** Exponentially weighted moving average per series (pandas
    * `ewm(alpha, adjust=False).mean()` analog): y_1 = x_1,
    * y_t = α·x_t + (1−α)·y_{t−1} — an inherently SEQUENTIAL per-series
    * recursion, so it rides GroupedApply's one-shuffle sorted-group
    * contract. Unlike the OLS/entropy folds, the recursion is a
    * deterministic chain, and both engines must land on the IDENTICAL
    * 6-dp output. A float fold cannot deliver that: with 6-dp inputs
    * the SECOND step y₂ = α·x₂ + (1−α)·x₁ is mathematically an exact
    * 7-decimal-digit number — ON the 6-dp rounding midpoint grid where
    * the engines' round() tie rules differ (§12 class; both a dyadic
    * 0.25 and a decimal 0.3 α failed the sf0.1 sweep exactly there,
    * six midpoint rows out of 10⁵). So the fold runs in EXACT integer
    * micro-units with α = alphaNum/den: y′ = halfUp((alphaNum·x_µ +
    * (den−alphaNum)·y_µ) / den) — pure int64, replayed bit-exactly by
    * a recursive CTE with `(s + den/2) // den` arithmetic. The
    * micro-quantization error is ≤ 5e-7 per step and contracts by
    * (1−α) each step, so it never accumulates past ~1.7e-6 of the
    * float EWMA (spec-pinned) — invisible at the 6-dp output, and the
    * deterministic-replay guarantee is what a 100 TB validation
    * pipeline actually needs.
    */
  def ewma(df: DataFrame, seriesKey: String, orderCols: Seq[String],
           valueCol: String, alphaNum: Long = 3, den: Long = 10): DataFrame = {
    require(den > 0 && alphaNum > 0 && alphaNum <= den,
      s"ewma needs 0 < alphaNum <= den, got $alphaNum/$den")
    import org.apache.spark.sql.types._
    val in = df.select((col(seriesKey) +: orderCols.map(col)) :+ col(valueCol): _*)
    val vIdx = in.schema.fieldIndex(valueCol)
    val oIdx = in.schema.fieldIndex(orderCols.head)
    val keyField = in.schema(in.schema.fieldIndex(seriesKey))
    val outSchema = StructType(Seq(keyField.copy(nullable = false),
      in.schema(oIdx), StructField("value", DoubleType),
      StructField("ewma", DoubleType)))
    val betaNum = den - alphaNum
    // the StreamOps/ExactAgg micro mirror: BigDecimal HALF_UP == SQL
    // round(v*1e6)::BIGINT on the same double
    def micro(v: Double): Long =
      BigDecimal(v * 1e6).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    def halfUpDiv(s: Long, d: Long): Long =
      if (s >= 0) (s + d / 2) / d else -((-s + d / 2) / d)
    GroupedApply(in, Seq(seriesKey), orderCols, outSchema) { (key, it) =>
      var ym = 0L
      var first = true
      it.map { r =>
        val x = r.getDouble(vIdx)
        ym = if (first) { first = false; micro(x) }
          else halfUpDiv(alphaNum * micro(x) + betaNum * ym, den)
        org.apache.spark.sql.Row(key.get(0), r.get(oIdx), x, ym / 1e6)
      }
    }
  }

  /** Holt's linear-trend exponential smoothing per series
    * (statsmodels `Holt(...).fit(smoothing_level=α,
    * smoothing_trend=β)` analog with the zero-initial-trend
    * convention l₁ = x₁, b₁ = 0):
    *   l_t = α·x_t + (1−α)·(l_{t−1} + b_{t−1})
    *   b_t = β·(l_t − l_{t−1}) + (1−β)·b_{t−1}
    * Like [[ewma]], the recursion is sequential per series AND must
    * land on identical 6-dp output in both engines, so the fold runs
    * in exact integer micro-units with rational α = alphaNum/den,
    * β = betaNum/den and half-up division at each step — replayed
    * bit-exactly by a two-accumulator recursive CTE. Same
    * one-shuffle GroupedApply contract; per-step quantization error
    * ≤ 5e-7 and contracting, as in the ewma analysis.
    */
  def holt(df: DataFrame, seriesKey: String, orderCols: Seq[String],
           valueCol: String, alphaNum: Long = 3, betaNum: Long = 1,
           den: Long = 10): DataFrame = {
    require(den > 0 && alphaNum > 0 && alphaNum <= den && betaNum > 0 && betaNum <= den,
      s"holt needs 0 < alphaNum,betaNum <= den, got $alphaNum,$betaNum/$den")
    import org.apache.spark.sql.types._
    val in = df.select((col(seriesKey) +: orderCols.map(col)) :+ col(valueCol): _*)
    val vIdx = in.schema.fieldIndex(valueCol)
    val oIdx = in.schema.fieldIndex(orderCols.head)
    val keyField = in.schema(in.schema.fieldIndex(seriesKey))
    val outSchema = StructType(Seq(keyField.copy(nullable = false),
      in.schema(oIdx), StructField("value", DoubleType),
      StructField("level", DoubleType), StructField("trend", DoubleType)))
    def micro(v: Double): Long =
      BigDecimal(v * 1e6).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    def halfUpDiv(s: Long, d: Long): Long =
      if (s >= 0) (s + d / 2) / d else -((-s + d / 2) / d)
    GroupedApply(in, Seq(seriesKey), orderCols, outSchema) { (key, it) =>
      var lm = 0L
      var bm = 0L
      var first = true
      it.map { r =>
        val x = r.getDouble(vIdx)
        if (first) { first = false; lm = micro(x); bm = 0L }
        else {
          val lPrev = lm
          lm = halfUpDiv(alphaNum * micro(x) + (den - alphaNum) * (lPrev + bm), den)
          bm = halfUpDiv(betaNum * (lm - lPrev) + (den - betaNum) * bm, den)
        }
        org.apache.spark.sql.Row(key.get(0), r.get(oIdx), x, lm / 1e6, bm / 1e6)
      }
    }
  }

  def adf(df: DataFrame, seriesKey: String, orderCols: Seq[String],
          valueCol: String, lag: Int = 1): DataFrame = {
    require(lag >= 0, s"adf lag must be >= 0, got $lag")
    import org.apache.spark.sql.types._
    val in = df.select((col(seriesKey) +: orderCols.map(col)) :+ col(valueCol): _*)
    val vIdx = in.schema.fieldIndex(valueCol)
    val keyField = in.schema(in.schema.fieldIndex(seriesKey))
    val outSchema = StructType(Seq(keyField.copy(nullable = false),
      StructField("adf_stat", DoubleType),
      StructField("adf_nobs", LongType)))
    val k = lag + 2
    GroupedApply(in, Seq(seriesKey), orderCols, outSchema) { (key, it) =>
      val y = it.map(_.getDouble(vIdx)).toArray
      val n = y.length
      val nobs = n - 1 - lag
      def dy(t: Int): Double = y(t) - y(t - 1)
      if (nobs < k + 1) {
        Iterator.single(org.apache.spark.sql.Row(
          key.get(0), null, math.max(nobs, 0).toLong))
      } else {
        // regressor row for sample i (t = lag+1+i):
        // [y_{t−1}, Δy_{t−1}, …, Δy_{t−lag}, 1]; target Δy_t
        val xtx = Array.ofDim[Double](k, k)
        val xty = new Array[Double](k)
        val row = new Array[Double](k)
        var i = 0
        while (i < nobs) {
          val t = lag + 1 + i
          row(0) = y(t - 1)
          var j = 1
          while (j <= lag) { row(j) = dy(t - j); j += 1 }
          row(k - 1) = 1.0
          val tgt = dy(t)
          var a = 0
          while (a < k) {
            var b = 0
            while (b < k) { xtx(a)(b) += row(a) * row(b); b += 1 }
            xty(a) += row(a) * tgt
            a += 1
          }
          i += 1
        }
        val beta = solveLinear(xtx, xty)
        val e0 = new Array[Double](k); e0(0) = 1.0
        val inv0 = solveLinear(xtx, e0) // (X'X)^{-1} column 0
        var rss = 0.0
        i = 0
        while (i < nobs) {
          val t = lag + 1 + i
          var pred = beta(k - 1) + beta(0) * y(t - 1)
          var j = 1
          while (j <= lag) { pred += beta(j) * dy(t - j); j += 1 }
          val e = dy(t) - pred
          rss += e * e
          i += 1
        }
        val se = math.sqrt(rss / (nobs - k) * inv0(0))
        val stat = beta(0) / se
        Iterator.single(org.apache.spark.sql.Row(
          key.get(0),
          if (java.lang.Double.isFinite(stat)) stat else null,
          nobs.toLong))
      }
    }
  }

  /** ADF with statsmodels `autolag="AIC"` for ARBITRARY maxLag — the
    * per-series GroupedApply generalization of
    * [[adfAutolagDistributed]]'s shared-text maxLag-1 path (VERDICT
    * r14 #8): every candidate lag 0..maxLag fits on the COMMON sample
    * t ≥ maxLag+1 (statsmodels' equal-nobs comparison), AIC =
    * nn·ln(ssr/nn) + 2k picks the lag by (aic, lag) tuple-min (tie →
    * smaller lag; a zero-SSR perfect fit wins outright), and the
    * winner refits over its own full t ≥ lag+1 sample. Returns
    * (key, adf_stat, adf_lag, adf_nobs); series too short for the
    * largest candidate, or with every candidate singular, yield nulls.
    */
  def adfAutolag(df: DataFrame, seriesKey: String, orderCols: Seq[String],
                 valueCol: String, maxLag: Int = 4): DataFrame = {
    require(maxLag >= 0, s"adfAutolag maxLag must be >= 0, got $maxLag")
    import org.apache.spark.sql.types._
    val in = df.select((col(seriesKey) +: orderCols.map(col)) :+ col(valueCol): _*)
    val vIdx = in.schema.fieldIndex(valueCol)
    val keyField = in.schema(in.schema.fieldIndex(seriesKey))
    val outSchema = StructType(Seq(keyField.copy(nullable = false),
      StructField("adf_stat", DoubleType),
      StructField("adf_lag", IntegerType),
      StructField("adf_nobs", LongType)))
    GroupedApply(in, Seq(seriesKey), orderCols, outSchema) { (key, it) =>
      val y = it.map(_.getDouble(vIdx)).toArray
      val n = y.length
      def dy(t: Int): Double = y(t) - y(t - 1)
      // one OLS of Δy_t on [y_{t−1}, Δy_{t−1..t−lag}, 1] over samples
      // t = start..n−1; returns (ssr, tau, nobs) or null on a
      // singular/underdetermined fit
      def fit(lag: Int, start: Int): Option[(Double, Double, Int)] = {
        val k = lag + 2
        val nobs = n - start
        if (nobs < k + 1) return None
        val xtx = Array.ofDim[Double](k, k)
        val xty = new Array[Double](k)
        val row = new Array[Double](k)
        var t = start
        while (t < n) {
          row(0) = y(t - 1)
          var j = 1
          while (j <= lag) { row(j) = dy(t - j); j += 1 }
          row(k - 1) = 1.0
          val tgt = dy(t)
          var a = 0
          while (a < k) {
            var b = 0
            while (b < k) { xtx(a)(b) += row(a) * row(b); b += 1 }
            xty(a) += row(a) * tgt
            a += 1
          }
          t += 1
        }
        val beta = solveLinear(xtx, xty)
        val e0 = new Array[Double](k); e0(0) = 1.0
        val inv0 = solveLinear(xtx, e0)
        var rss = 0.0
        t = start
        while (t < n) {
          var pred = beta(k - 1) + beta(0) * y(t - 1)
          var j = 1
          while (j <= lag) { pred += beta(j) * dy(t - j); j += 1 }
          val e = dy(t) - pred
          rss += e * e
          t += 1
        }
        val se = math.sqrt(rss / (nobs - k) * inv0(0))
        val tau = beta(0) / se
        if (java.lang.Double.isFinite(rss) && java.lang.Double.isFinite(beta(0)))
          Some((rss, tau, nobs))
        else None
      }
      val commonStart = maxLag + 1
      val nn = n - commonStart
      val candidates = (0 to maxLag).flatMap { lag =>
        fit(lag, commonStart).map { case (ssr, _, _) =>
          val aic =
            if (ssr <= 0.0) Double.NegativeInfinity
            else nn * math.log(ssr / nn) + 2.0 * (lag + 2)
          (aic, lag)
        }
      }
      if (candidates.isEmpty)
        Iterator.single(org.apache.spark.sql.Row(key.get(0), null, null, null))
      else {
        val lag = candidates.min._2
        fit(lag, lag + 1) match {
          case Some((_, tau, nobs)) if java.lang.Double.isFinite(tau) =>
            Iterator.single(org.apache.spark.sql.Row(
              key.get(0), tau, lag, nobs.toLong))
          case _ =>
            Iterator.single(org.apache.spark.sql.Row(
              key.get(0), null, lag, null))
        }
      }
    }
  }

  /** Shared expression text for [[adfDistributed]] — the lag-1 ADF
    * normal equations (3 regressors: y_{t−1}, Δy_{t−1}, constant)
    * solved by Cramer's rule on moment doubles cast from exact
    * integer sums; same engine-symmetry device as [[Friedrich]]: both
    * engines evaluate these strings verbatim, so every IEEE double —
    * and therefore the 6-dp tau — matches bit-for-bit.
    */
  private[graft] object Adf {
    /** X'X with regressor order [y_{t−1}, Δy_{t−1}, 1]. */
    val aMat: Seq[Seq[String]] = Seq(
      Seq("m11", "m12", "m1"),
      Seq("m12", "m22", "m2"),
      Seq("m1", "m2", "nn"))
    private val bVec = Seq("t1", "t2", "t0")

    /** A with column i replaced by X'y (Cramer numerator). */
    def aWith(i: Int): Seq[Seq[String]] =
      aMat.indices.map(r => aMat(r).zipWithIndex.map {
        case (_, c) if c == i => bVec(r)
        case (v, _) => v
      })

    /** (moment, exact-sum source, micro-scale power): moment =
      * sum/1e6^power — one double division of an exact integer, so
      * the double is bit-identical on both engines.
      */
    val moments: Seq[(String, String, Int)] = Seq(
      ("m11", "s11", 2), ("m12", "s12", 2), ("m22", "s22", 2),
      ("m1", "s1", 1), ("m2", "s2", 1),
      ("t1", "u1", 2), ("t2", "u2", 2), ("t0", "u0", 1), ("zz", "zq", 2))
    def scaleDiv(power: Int): String =
      if (power == 1) "1000000.0" else "1000000000000.0"

    /** β_i by Cramer; < k+1 usable samples or a singular X'X → null
      * (the [[adf]] fold's convention).
      */
    def beta(i: Int): String =
      s"CASE WHEN nobs < 4 OR det_a = 0.0 THEN NULL " +
        s"ELSE (${Friedrich.det3(aWith(i))} / det_a) END"

    /** RSS via y'y − β'X'y — exact when β solves the normal equations;
      * with float β both engines replay the identical op sequence.
      */
    val rssExpr = "(zz - (b0*t1 + b1*t2 + b2*t0))"

    /** (X'X)⁻¹[0][0] as cofactor(0,0)/det — the β₀ variance scale;
      * guarded like [[beta]] (ANSI division would throw on det 0).
      */
    val inv00Expr = "CASE WHEN nobs < 4 OR det_a = 0.0 THEN NULL " +
      "ELSE ((m22*nn - m2*m2) / det_a) END"

    /** tau = β₀/se(β₀); a non-positive variance estimate (constant
      * series round-off) yields null like the fold's finite-guard.
      */
    val statExpr: String = """CASE
      WHEN b0 IS NULL THEN NULL
      WHEN (rss / (nn - 3.0)) * inv00 <= 0.0 THEN NULL
      ELSE b0 / sqrt((rss / (nn - 3.0)) * inv00) END"""

    // ---- MacKinnon regression-surface p-value (VERDICT r15 #4) ----
    // statsmodels `mackinnonp(tau, regression='c', N=1)` — the number
    // users actually threshold on. Constants are MacKinnon's published
    // response-surface fits (J.G. MacKinnon, "Approximate asymptotic
    // distribution functions for unit-root and cointegration tests",
    // JBES 1994; as shipped in statsmodels.tsa.adfvalues): clamp bounds
    // tau_max_c=2.74 / tau_min_c=-18.83, crossover tau_star_c=-1.61,
    // small-tau fit p = Φ(2.1659 + 1.4412·τ + 0.038269·τ²), large-tau
    // fit p = Φ(1.7339 + 0.93202·τ − 0.12745·τ² − 0.010368·τ³).
    // Φ rides the SAME A&S 26.2.17 rational tail the repo's relevance
    // tests share (normTwoSidedP / OracleExact.phiTailSql — |err| <
    // 7.5e-8, invisible at 6 dp) as ONE expression text evaluated
    // verbatim by both engines, so every IEEE double matches
    // bit-for-bit. The input is the 6-dp ROUNDED tau (the published
    // stat), keeping p a pure function of published columns; the
    // τ-quantization moves p by < 1e-5 — parity with statsmodels'
    // unrounded-τ p is spec-pinned at that tolerance.
    /** 2·(1−Φ(a)) for a ≥ 0 — A&S 26.2.17, identical Horner order to
      * [[TsFeatures.normTwoSidedP]].
      */
    def phiTail(a: String): String =
      s"2.0 * (exp(-($a) * ($a) / 2) / sqrt(2 * pi())) * " +
        s"((1.0 / (1.0 + 0.2316419 * ($a))) * (0.319381530 + " +
        s"(1.0 / (1.0 + 0.2316419 * ($a))) * (-0.356563782 + " +
        s"(1.0 / (1.0 + 0.2316419 * ($a))) * (1.781477937 + " +
        s"(1.0 / (1.0 + 0.2316419 * ($a))) * (-1.821255978 + " +
        s"(1.0 / (1.0 + 0.2316419 * ($a))) * 1.330274429)))))"
    /** Φ(z) for any sign via the tail (Φ(z) = 1 − tail(z)/2, z ≥ 0). */
    def phi(z: String): String =
      s"(CASE WHEN ($z) >= 0.0 THEN 1.0 - ${phiTail(z)} / 2.0 " +
        s"ELSE ${phiTail(s"-($z)")} / 2.0 END)"
    /** MacKinnon p from a tau expression — null-passing, clamped. */
    def mackinnonPExpr(tau: String): String = {
      val zSmall = s"(2.1659 + ($tau) * (1.4412 + ($tau) * 0.038269))"
      val zLarge = s"(1.7339 + ($tau) * (0.93202 + ($tau) * " +
        s"(-0.12745 + ($tau) * (-0.010368))))"
      s"""CASE
        WHEN ($tau) IS NULL THEN NULL
        WHEN ($tau) >= 2.74 THEN 1.0
        WHEN ($tau) <= -18.83 THEN 0.0
        WHEN ($tau) <= -1.61 THEN ${phi(zSmall)}
        ELSE ${phi(zLarge)} END"""
    }

    // ---- autolag (maxLag = 1) shared text — VERDICT r14 #8 ----
    // The statsmodels autolag="AIC" protocol at maxLag 1: both
    // candidate fits run on the COMMON sample t >= 2 (which for
    // maxLag 1 is exactly the lag-1 sample set, so the existing 3x3
    // fit above is simultaneously the lag-1 selection fit AND its
    // full-sample refit); the lag-0 candidate is a 2x2 on (y_{t-1}, 1)
    // over the same rows, and the lag-0 FULL refit re-solves over the
    // one-larger t >= 1 sample (f/g moment names). AIC compares as
    // nn·ln(rss/nn) + 2k — the constant n(1+ln 2π) terms cancel at
    // equal nn; a zero-RSS perfect fit takes the -1e308 sentinel (both
    // engines, no ln(0) asymmetry), tie -> the SMALLER lag, exactly
    // statsmodels' (aic, lag) tuple-min.
    val det0cExpr = "(m11*nn - m1*m1)"
    val b0cExpr =
      "CASE WHEN nobs < 3 OR det0c = 0.0 THEN NULL ELSE ((t1*nn - m1*t0) / det0c) END"
    val b2cExpr =
      "CASE WHEN nobs < 3 OR det0c = 0.0 THEN NULL ELSE ((m11*t0 - m1*t1) / det0c) END"
    val rss0cExpr = "(zz - (b0c*t1 + b2c*t0))"
    val aic0Expr = "CASE WHEN b0c IS NULL THEN NULL " +
      "WHEN rss0c <= 0.0 THEN -1e308 ELSE (nn * ln(rss0c / nn) + 4.0) END"
    val aic1Expr = "CASE WHEN b0 IS NULL THEN NULL " +
      "WHEN rss <= 0.0 THEN -1e308 ELSE (nn * ln(rss / nn) + 6.0) END"
    val lagSelExpr = "CASE WHEN aic0 IS NULL OR aic1 IS NULL THEN NULL " +
      "WHEN aic0 <= aic1 THEN 0 ELSE 1 END"
    val det0fExpr = "(f11*fnn - f1*f1)"
    val b0fExpr =
      "CASE WHEN fnn < 3 OR det0f = 0.0 THEN NULL ELSE ((g1*fnn - f1*g0) / det0f) END"
    val b2fExpr =
      "CASE WHEN fnn < 3 OR det0f = 0.0 THEN NULL ELSE ((f11*g0 - f1*g1) / det0f) END"
    val rss0fExpr = "(gq - (b0f*g1 + b2f*g0))"
    val inv00fExpr =
      "CASE WHEN fnn < 3 OR det0f = 0.0 THEN NULL ELSE (fnn / det0f) END"
    val stat0Expr = """CASE
      WHEN b0f IS NULL THEN NULL
      WHEN (rss0f / (fnn - 2.0)) * inv00f <= 0.0 THEN NULL
      ELSE b0f / sqrt((rss0f / (fnn - 2.0)) * inv00f) END"""
    val statSelExpr =
      "CASE WHEN lag IS NULL THEN NULL WHEN lag = 0 THEN stat0 ELSE stat1 END"
    /** extra lag-0 moment names: (moment, exact-sum source, scale power). */
    val momentsF: Seq[(String, String, Int)] = Seq(
      ("f11", "p11", 2), ("f1", "p1", 1),
      ("g1", "q1", 2), ("g0", "q0", 1), ("gq", "qq", 2))
  }

  /** DISTRIBUTED fixed-lag ADF tau (lag = 1) — the same statistic as
    * [[adf]] (statsmodels `adfuller(x, maxlag=1, autolag=None,
    * regression='c')` teststat) without the per-series fold, and
    * oracle-replayable — the [[friedrichDistributed]] recipe applied
    * to the ADF normal equations:
    *
    *  - Per-sample regressors from micro-quantized values via two
    *    `lead()` columns over one partitioned sort: x1 = y_{t−1},
    *    x2 = Δy_{t−1}, target z = Δy_t — all exact int64.
    *  - The ten (co)moment sums accumulate as exact decimal(38,0)
    *    (order-free), then each moment is ONE double division by the
    *    micro scale — bit-identical across engines.
    *  - Cramer's-rule 3×3 solve, RSS via y'y − β'X'y, and tau from
    *    SHARED expression text ([[Adf]]), so both engines run the
    *    identical IEEE op sequence.
    *
    * Series shorter than lag+2 points produce no samples (no output
    * row); nobs < 4 or a singular X'X yields a null stat, like the
    * fold. One window sort + one map-side-combined groupBy — no
    * per-series collect, so the shape survives 100 TB.
    */
  def adfDistributed(df: DataFrame, seriesKey: String,
                     orderCols: Seq[String], valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val A = Adf
    val wOrd = Window.partitionBy(col(seriesKey)).orderBy(orderCols.map(col): _*)
    val dec = "decimal(38,0)"
    val sm = df
      .withColumn("xq", round(col(valueCol) * lit(1e6)).cast("long"))
      .withColumn("l1", lead(col("xq"), 1).over(wOrd))
      .withColumn("l2", lead(col("xq"), 2).over(wOrd))
      .where(col("l2").isNotNull)
      .select(col(seriesKey),
        col("l1").as("x1"),
        (col("l1") - col("xq")).as("x2"),
        (col("l2") - col("l1")).as("z"))
    def prod(a: String, b: String) = expr(s"cast($a as $dec) * cast($b as $dec)")
    val mo = sm.groupBy(col(seriesKey)).agg(
      count(lit(1)).as("nobs"),
      sum(prod("x1", "x1")).as("s11"), sum(prod("x1", "x2")).as("s12"),
      sum(prod("x2", "x2")).as("s22"),
      sum(col("x1").cast(dec)).as("s1"), sum(col("x2").cast(dec)).as("s2"),
      sum(prod("x1", "z")).as("u1"), sum(prod("x2", "z")).as("u2"),
      sum(col("z").cast(dec)).as("u0"), sum(prod("z", "z")).as("zq"))
    val mo2 = mo.selectExpr(Seq(seriesKey, "nobs") ++
      A.moments.map { case (m, s, p) =>
        s"cast($s as double) / ${A.scaleDiv(p)} as $m" } :+
      "cast(nobs as double) as nn": _*)
    mo2
      .withColumn("det_a", expr(Friedrich.det3(A.aMat)))
      .withColumn("b0", expr(A.beta(0)))
      .withColumn("b1", expr(A.beta(1)))
      .withColumn("b2", expr(A.beta(2)))
      .withColumn("rss", expr(A.rssExpr))
      .withColumn("inv00", expr(A.inv00Expr))
      .withColumn("stat6", round(expr(A.statExpr), 6) + lit(0.0))
      .select(col(seriesKey),
        col("stat6").as("adf_stat"),
        (round(expr(A.mackinnonPExpr("stat6")), 6) + lit(0.0)).as("adf_p"),
        col("nobs").as("adf_nobs"))
  }

  /** DISTRIBUTED ADF with statsmodels `autolag="AIC"` at maxLag 1
    * (VERDICT r14 #8 — the default statsmodels path a user reaches
    * for, where [[adfDistributed]] is the fixed-lag
    * `autolag=None` variant): per series, BOTH candidate fits (lag 0
    * and lag 1) run on the common t ≥ 2 sample — which at maxLag 1 is
    * exactly the lag-1 sample set, so the existing 3×3 Cramer text is
    * simultaneously the lag-1 selection fit AND its full refit — AIC
    * picks the lag ((aic, lag) tuple-min: tie → smaller), and the
    * lag-0 winner re-solves its 2×2 over the one-larger t ≥ 1 sample.
    * All moments ride exact decimal sums off ONE window pass and ONE
    * groupBy (conditional sums split the two sample sets); every
    * double and the ln-based AIC compare are SHARED expression text
    * ([[Adf]]), so the selection cannot drift between engines.
    * Output (key, adf_stat, adf_lag, adf_nobs); degenerate series
    * (either candidate unfittable) yield null stat/lag/nobs.
    */
  def adfAutolagDistributed(df: DataFrame, seriesKey: String,
                            orderCols: Seq[String], valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val A = Adf
    val wOrd = Window.partitionBy(col(seriesKey)).orderBy(orderCols.map(col): _*)
    val dec = "decimal(38,0)"
    val sm = df
      .withColumn("xq", round(col(valueCol) * lit(1e6)).cast("long"))
      .withColumn("l1", lead(col("xq"), 1).over(wOrd))
      .withColumn("l2", lead(col("xq"), 2).over(wOrd))
      .where(col("l1").isNotNull)
      .select(col(seriesKey),
        // lag-0 FULL sample (every t >= 1): x0 = y_{t-1}, z0 = Δy_t
        col("xq").as("x0"),
        (col("l1") - col("xq")).as("z0"),
        // common sample (t >= 2) columns, null on the last pre-row so
        // the conditional sums skip it
        when(col("l2").isNotNull, col("l1")).as("x1"),
        when(col("l2").isNotNull, col("l1") - col("xq")).as("x2"),
        when(col("l2").isNotNull, col("l2") - col("l1")).as("z"))
    def prod(a: String, b: String) = expr(s"cast($a as $dec) * cast($b as $dec)")
    val mo = sm.groupBy(col(seriesKey)).agg(
      count(col("x1")).as("nobs"), count(lit(1)).as("fcount"),
      sum(prod("x1", "x1")).as("s11"), sum(prod("x1", "x2")).as("s12"),
      sum(prod("x2", "x2")).as("s22"),
      sum(col("x1").cast(dec)).as("s1"), sum(col("x2").cast(dec)).as("s2"),
      sum(prod("x1", "z")).as("u1"), sum(prod("x2", "z")).as("u2"),
      sum(col("z").cast(dec)).as("u0"), sum(prod("z", "z")).as("zq"),
      sum(prod("x0", "x0")).as("p11"), sum(col("x0").cast(dec)).as("p1"),
      sum(prod("x0", "z0")).as("q1"), sum(col("z0").cast(dec)).as("q0"),
      sum(prod("z0", "z0")).as("qq"))
    val mo2 = mo.selectExpr(Seq(seriesKey, "nobs", "fcount") ++
      (A.moments ++ A.momentsF).map { case (m, s, p) =>
        s"cast($s as double) / ${A.scaleDiv(p)} as $m" } ++
      Seq("cast(nobs as double) as nn", "cast(fcount as double) as fnn"): _*)
    mo2
      .withColumn("det_a", expr(Friedrich.det3(A.aMat)))
      .withColumn("b0", expr(A.beta(0)))
      .withColumn("b1", expr(A.beta(1)))
      .withColumn("b2", expr(A.beta(2)))
      .withColumn("rss", expr(A.rssExpr))
      .withColumn("inv00", expr(A.inv00Expr))
      .withColumn("stat1", expr(A.statExpr))
      .withColumn("det0c", expr(A.det0cExpr))
      .withColumn("b0c", expr(A.b0cExpr))
      .withColumn("b2c", expr(A.b2cExpr))
      .withColumn("rss0c", expr(A.rss0cExpr))
      .withColumn("aic0", expr(A.aic0Expr))
      .withColumn("aic1", expr(A.aic1Expr))
      .withColumn("lag", expr(A.lagSelExpr))
      .withColumn("det0f", expr(A.det0fExpr))
      .withColumn("b0f", expr(A.b0fExpr))
      .withColumn("b2f", expr(A.b2fExpr))
      .withColumn("rss0f", expr(A.rss0fExpr))
      .withColumn("inv00f", expr(A.inv00fExpr))
      .withColumn("stat0", expr(A.stat0Expr))
      .withColumn("stat6", round(expr(A.statSelExpr), 6) + lit(0.0))
      .select(col(seriesKey),
        col("stat6").as("adf_stat"),
        (round(expr(A.mackinnonPExpr("stat6")), 6) + lit(0.0)).as("adf_p"),
        col("lag").cast("int").as("adf_lag"),
        expr("CASE WHEN lag IS NULL THEN NULL " +
          "WHEN lag = 0 THEN fcount ELSE nobs END").as("adf_nobs"))
  }

  /** tsfresh `partial_autocorrelation` at ANY lag — closes the
    * documented "beyond lag 4" skip. statsmodels `pacf(x, method="ld",
    * nlags)`: biased sample autocorrelations r_k feed the
    * Durbin–Levinson recursion; pacf(k) = φ_{kk}. The acf pass and the
    * O(nlags²) recursion are sequential per series → [[GroupedApply]]
    * (one hash shuffle, sorted groups). Lags with fewer than 2 usable
    * points (n ≤ lag + 1) or a zero-variance series yield null, like
    * tsfresh's NaN. Bench + spec (ADF precedent: an SQL oracle would
    * ride order-dependent distributed double sums); the spec pins
    * lag-1/lag-2 closed forms and an AR(1) recovery.
    */
  def pacf(df: DataFrame, seriesKey: String, orderCols: Seq[String],
           valueCol: String, nlags: Int = 10): DataFrame = {
    require(nlags >= 1, s"pacf needs nlags >= 1, got $nlags")
    import org.apache.spark.sql.types._
    val in = df.select((col(seriesKey) +: orderCols.map(col)) :+ col(valueCol): _*)
    val vIdx = in.schema.fieldIndex(valueCol)
    val keyField = in.schema(in.schema.fieldIndex(seriesKey))
    val outSchema = StructType(Seq(keyField.copy(nullable = false),
      StructField("lag", IntegerType, nullable = false),
      StructField("pacf", DoubleType)))
    GroupedApply(in, Seq(seriesKey), orderCols, outSchema) { (key, it) =>
      val xs = it.map(_.getDouble(vIdx)).toArray
      val n = xs.length
      val mean = xs.sum / n
      val c0 = xs.map(x => (x - mean) * (x - mean)).sum / n
      val kMax = math.min(nlags, math.max(n - 1, 0))
      val r = new Array[Double](kMax + 1)
      r(0) = 1.0
      var k = 1
      while (k <= kMax && c0 > 0) {
        var s = 0.0
        var t = 0
        while (t < n - k) { s += (xs(t) - mean) * (xs(t + k) - mean); t += 1 }
        r(k) = s / n / c0
        k += 1
      }
      val phiPrev = new Array[Double](kMax + 1)
      val phiCur = new Array[Double](kMax + 1)
      val out = Array.newBuilder[org.apache.spark.sql.Row]
      k = 1
      while (k <= nlags) {
        val v: Any =
          if (c0 <= 0 || k > kMax || n <= k + 1) null
          else if (k == 1) { phiPrev(1) = r(1); r(1) }
          else {
            var num = r(k)
            var den = 1.0
            var j = 1
            while (j < k) {
              num -= phiPrev(j) * r(k - j)
              den -= phiPrev(j) * r(j)
              j += 1
            }
            val pk = if (den == 0.0) Double.NaN else num / den
            j = 1
            while (j < k) {
              phiCur(j) = phiPrev(j) - pk * phiPrev(k - j)
              j += 1
            }
            phiCur(k) = pk
            System.arraycopy(phiCur, 1, phiPrev, 1, k)
            if (java.lang.Double.isFinite(pk)) pk else null
          }
        out += org.apache.spark.sql.Row(key.get(0), k, v)
        k += 1
      }
      out.result().iterator
    }
  }

  /** tsfresh `cwt_coefficients` (a.k.a. the Ricker/"Mexican hat"
    * continuous wavelet transform): for each width w the series is
    * convolved (same-mode) with the REVERSED Ricker wavelet of
    * min(10·w, n) points — scipy `signal.cwt(x, ricker, widths)`
    * semantics — and the first `nCoeffs` coefficients are emitted per
    * (width, index). The convolution is sequential per series →
    * [[GroupedApply]]. Bench + spec (naive-reimplementation pin +
    * an impulse-response identity: cwt of a unit impulse replays the
    * wavelet itself).
    */
  def cwt(df: DataFrame, seriesKey: String, orderCols: Seq[String],
          valueCol: String, widths: Seq[Int] = Seq(2, 5, 10, 20),
          nCoeffs: Int = 15): DataFrame = {
    require(widths.nonEmpty && widths.forall(_ > 0), "cwt widths must be positive")
    import org.apache.spark.sql.types._
    val in = df.select((col(seriesKey) +: orderCols.map(col)) :+ col(valueCol): _*)
    val vIdx = in.schema.fieldIndex(valueCol)
    val keyField = in.schema(in.schema.fieldIndex(seriesKey))
    val outSchema = StructType(Seq(keyField.copy(nullable = false),
      StructField("width", IntegerType, nullable = false),
      StructField("idx", IntegerType, nullable = false),
      StructField("coeff", DoubleType)))
    GroupedApply(in, Seq(seriesKey), orderCols, outSchema) { (key, it) =>
      val xs = it.map(_.getDouble(vIdx)).toArray
      val n = xs.length
      widths.iterator.flatMap { w =>
        val row = cwtRow(xs, w)
        (0 until math.min(nCoeffs, n)).iterator.map { t =>
          org.apache.spark.sql.Row(key.get(0), w, t, row(t))
        }
      }
    }
  }

  /** Shared expression-text builders for the BANDED matrix profile
    * (SURVEY §15 #4) — same engine-symmetry device as [[Friedrich]]:
    * the per-pair z-normalized distance and the percentile tail are
    * built once as SQL text and evaluated by both engines, so every
    * IEEE double matches bit-for-bit. All pair statistics come from
    * ONE window pass of `band + window − 1` leads in exact int64:
    * QT(i, i+o) = xq·l_o + Σ_{k<m} l_k·l_{o+k},
    * Sx_j = Σ_k l_{o+k}, m²·var = m·S2 − Sx² — no second pass, no
    * per-series fold. Envelope: m²·xq² must fit int64 (|x| ≤ ~7.6e8
    * micro-units at m=4, i.e. values to ~760 — the events domain;
    * larger values re-scale the quantization).
    */
  private[graft] object MatrixProfileShared {
    def sx(m: Int): String = (Seq("xq") ++ (1 until m).map(k => s"l$k")).mkString(" + ")
    def s2(m: Int): String =
      (Seq("xq*xq") ++ (1 until m).map(k => s"l$k*l$k")).mkString(" + ")
    def qt(o: Int, m: Int): String =
      (Seq(s"xq*l$o") ++ (1 until m).map(k => s"l$k*l${o + k}")).mkString(" + ")
    def sxj(o: Int, m: Int): String = (0 until m).map(k => s"l${o + k}").mkString(" + ")
    def s2j(o: Int, m: Int): String =
      (0 until m).map(k => s"l${o + k}*l${o + k}").mkString(" + ")

    /** d(i, i+o) DOUBLE tail from integer-moment references — the
      * text BOTH engines share verbatim (the moments themselves are
      * exact int64, so each engine may assemble them in any order):
      * null when the partner window runs off the series (nullRef);
      * degenerate (zero-variance) windows use the fold's convention
      * (both flat → 0, one flat → √(2m)); else the dot-product
      * identity d = √(2m·(1 − corr)) with corr a double division of
      * exact int64 terms. `castD` wraps engine cast syntax.
      */
    def dCase(nullRef: String, viRef: String, vjRef: String,
              numRef: String, m: Int, castD: String => String): String = {
      val twoM = s"${2.0 * m}"
      val corr = s"${castD(numRef)} / sqrt(${castD(viRef)} * ${castD(vjRef)})"
      s"CASE WHEN $nullRef IS NULL THEN NULL " +
        s"WHEN $viRef = 0 AND $vjRef = 0 THEN 0.0 " +
        s"WHEN $viRef = 0 OR $vjRef = 0 THEN sqrt($twoM) " +
        s"ELSE sqrt(greatest($twoM * (1.0 - least($corr, 1.0)), 0.0)) END"
    }

    /** The fully-inlined d(i, i+o) the DuckDB oracle replays (partner
      * moments re-expanded from the raw leads). Spark assembles the
      * same exact integers as lead() of the own-window moment COLUMNS
      * instead ([[graft.operators.TsFeatures.matrixProfileBanded]]) —
      * same values, and the double tail is [[dCase]] in both engines.
      */
    def dStr(o: Int, m: Int, castD: String => String): String = {
      val vj = s"($m*(${s2j(o, m)}) - (${sxj(o, m)})*(${sxj(o, m)}))"
      val num = s"($m*(${qt(o, m)}) - sx*(${sxj(o, m)}))"
      dCase(s"l${o + m - 1}", "vi", vj, num, m, castD)
    }

    /** numpy-default linear-interpolated percentile from the exact
      * order statistics vlo/vhi at ranks ⌊h⌋/min(⌊h⌋+1, n−1),
      * h = (n−1)·p — the rank picks ride the §14 value-grain rollup.
      */
    def pctStr(p: String, vlo: String, vhi: String): String =
      s"$vlo + ((n - 1) * $p - floor((n - 1) * $p)) * ($vhi - $vlo)"

    /** rank-pick: the unique rollup row whose [bef, bef+c) covers r. */
    def pickStr(r: String): String =
      s"max(CASE WHEN bef <= $r AND $r < bef + c THEN pv END)"

    /** Corrected arc count CAC(t) = min(AC(t) / IAC_band, 1) with CAC
      * pinned to 1 inside the `edgeExcl`-wide edge zones (stumpy's
      * FLUSS edge convention, excl_factor·m). The normalizer differs
      * from stumpy's global parabola BY DESIGN: this profile is
      * BANDED (nearest neighbors within `band` offsets), so under the
      * no-structure null each window's arc has a uniform offset in
      * [excl, band] and the expected number of arcs spanning an
      * interior position is E[offset] = (excl + band)/2 — a CONSTANT,
      * not t·(nW−t)-shaped. `ideal` is that constant, embedded as one
      * literal in the shared text so the doubles (and the argmin
      * pick) stay bit-identical across engines. AC/idx/nW are exact
      * integers; `castD` wraps engine cast syntax.
      */
    def cacStr(ac: String, idx: String, nw: String, edgeExcl: Int,
               ideal: Double, castD: String => String): String =
      s"CASE WHEN $idx < $edgeExcl OR $idx + $edgeExcl >= $nw THEN 1.0 " +
        s"ELSE least(${castD(ac)} / $ideal, 1.0) END"
  }

  /** BANDED z-normalized matrix profile (SURVEY §15 #4) — the same
    * distance/summary semantics as [[matrixProfile]] restricted to a
    * bounded offset band excl ≤ j − i ≤ band (the documented §3
    * tie-break: the nearest non-trivial neighbor is searched within
    * `band` steps, not the whole series — the bound that survives
    * 100 TB, where O(n²) per series does not). Fully relational:
    * one partitioned window pass (band+m−1 leads), per-pair distances
    * as shared-text arithmetic over exact int64 window moments, a
    * stack-scatter of each distance to both endpoints, min-combine
    * per window index, and the §14 exact-rank percentile tail
    * (numpy-style linear interpolation; the mean micro-quantizes so
    * the sum is order-free).
    */
  /** The banded profile itself — (seriesKey, idx, pv): each window
    * index's distance to its nearest non-trivial neighbor within the
    * band. Shared trunk of [[matrixProfileBanded]] (summary stats) and
    * [[matrixProfileIndices]] (motif/discord argmin — VERDICT r14 #7).
    */
  private[graft] def matrixProfileProf(df: DataFrame, seriesKey: String,
                                       orderCols: Seq[String], valueCol: String,
                                       window: Int = 4, band: Int = 20,
                                       withNN: Boolean = false): DataFrame = {
    val m = window
    val excl = (m + 1) / 2
    require(m >= 2 && band >= excl, s"window=$m band=$band invalid")
    import org.apache.spark.sql.expressions.Window
    val MP = MatrixProfileShared
    val castD = (s: String) => s"cast($s as double)"
    val wOrd = Window.partitionBy(col(seriesKey)).orderBy(orderCols.map(col): _*)
    // pin the window stage's parallelism with an explicit keyed
    // repartition (same hashpartitioning(seriesKey) exchange the
    // window would insert, with numPartitions fixed so AQE's
    // BYTE-based coalescing cannot serialize it): the banded distance
    // pass is the compute-dense stage of this operator — §12m measured
    // it coalesced to single-digit tasks at sf0.1 (~20 MB of shuffle
    // carrying ~n·band distance evaluations), wasting 30 of 32 cores.
    // Partition count follows spark.sql.shuffle.partitions (the
    // scale-adaptive knob), never a local constant; results are
    // unchanged (per-series windows + order-free min rollup).
    val nShuffle = df.sparkSession.conf.get("spark.sql.shuffle.partitions",
      df.sparkSession.sparkContext.defaultParallelism.toString).toInt
    var w1 = df
      .repartition(nShuffle, col(seriesKey))
      .withColumn("xq", round(col(valueCol) * lit(1e6)).cast("long"))
      .withColumn("i0", row_number().over(wOrd).cast("long") - 1L)
    for (k <- 1 to band + m - 1)
      w1 = w1.withColumn(s"l$k", lead(col("xq"), k).over(wOrd))
    var w2 = w1
      .withColumn("sx", expr(MP.sx(m)))
      .withColumn("vi", expr(s"$m*(${MP.s2(m)}) - (${MP.sx(m)})*(${MP.sx(m)})"))
    // the partner window's moments are lead() of the own-window moment
    // COLUMNS (a second pass over the SAME window spec — no new sort or
    // shuffle), not a per-offset re-expansion of the raw leads: the r12
    // restructure that shrank each distance to a small dCase over exact
    // int columns (the per-offset inline s2j/sxj strings tripled in the
    // CASE text and blew up the generated code). Values are identical —
    // integer moments are exact — and the double tail is the SAME
    // dCase text the oracle's dStr inlines.
    for (o <- excl to band)
      w2 = w2
        .withColumn(s"sxj$o", lead(col("sx"), o).over(wOrd))
        .withColumn(s"vj$o", lead(col("vi"), o).over(wOrd))
    for (o <- excl to band)
      w2 = w2
        .withColumn(s"num$o", expr(s"$m*(${MP.qt(o, m)}) - sx*sxj$o"))
        .withColumn(s"d$o",
          expr(MP.dCase(s"vj$o", "vi", s"vj$o", s"num$o", m, castD)))
    // scatter each distance to both endpoints through ONE array
    // explode (a Generate over a 2·(band−excl+1)-struct array built
    // once per row — each dCase evaluates once, unlike a stack whose
    // per-projection inlining re-expands them), then min-combine per
    // window index; the groupBy's map-side partial min compacts the
    // scatter to one row per (series, idx) before its single Exchange.
    // (A lag()-based per-row min-combine with no amplification was
    // A/B'd too — all formulations land inside the row's session-noise
    // band, see SURVEY §12g; this one keeps single evaluation and the
    // one-Exchange plan.)
    val arr = array((excl to band).flatMap(o => Seq(
      struct(col("i0").as("idx"), col(s"d$o").as("d"), (col("i0") + o).as("nn")),
      struct((col("i0") + o).as("idx"), col(s"d$o").as("d"), col("i0").as("nn")))): _*)
    val pairs = w2
      .select(col(seriesKey), explode(arr).as("p"))
      .select(col(seriesKey), col("p.idx").as("idx"), col("p.d").as("d"),
        col("p.nn").as("nn"))
      .where(col("d").isNotNull)
    if (withNN)
      // nearest-neighbor INDEX rides the same rollup: the (d, nn)
      // struct-min is deterministic (partners are distinct per idx, so
      // ties on d break to the SMALLEST partner) and DuckDB replays it
      // as min(struct_pack(d, nn)).nn — identical lexicographic order
      pairs.groupBy(col(seriesKey), col("idx"))
        .agg(min(col("d")).as("pv"),
          min(struct(col("d"), col("nn"))).getField("nn").as("nn"))
    else
      pairs.groupBy(col(seriesKey), col("idx"))
        .agg(min(col("d")).as("pv"))
  }

  def matrixProfileBanded(df: DataFrame, seriesKey: String,
                          orderCols: Seq[String], valueCol: String,
                          window: Int = 4, band: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val MP = MatrixProfileShared
    val castD = (s: String) => s"cast($s as double)"
    val prof = matrixProfileProf(df, seriesKey, orderCols, valueCol, window, band)
    val wAll = Window.partitionBy(col(seriesKey))
    val wCum = Window.partitionBy(col(seriesKey)).orderBy(col("pv"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val vg = prof.groupBy(col(seriesKey), col("pv"))
      .agg(count(lit(1)).as("c"))
      .withColumn("cnt", sum(col("c")).over(wAll))
      .withColumn("bef", coalesce(sum(col("c")).over(wCum), lit(0L)))
    val picks = Seq("0.25" -> "25", "0.5" -> "50", "0.75" -> "75").flatMap {
      case (p, tag) => Seq(
        expr(MP.pickStr(s"cast(floor((cnt - 1) * $p) as bigint)")).as(s"v${tag}lo"),
        expr(MP.pickStr(s"least(cast(floor((cnt - 1) * $p) as bigint) + 1, cnt - 1)"))
          .as(s"v${tag}hi"))
    }
    val agg = vg.groupBy(col(seriesKey)).agg(
      min(col("pv")).as("mn"),
      (Seq(max(col("pv")).as("mx"),
        sum(expr("c * cast(round(pv * 1000000.0) as bigint)")).as("ssum"),
        max(col("cnt")).as("n")) ++ picks): _*)
    agg.select(col(seriesKey),
      round(col("mn"), 6).as("mp_min"), round(col("mx"), 6).as("mp_max"),
      round(expr(s"${castD("ssum")} / (${castD("n")} * 1000000.0)"), 6).as("mp_mean"),
      round(expr(MP.pctStr("0.5", "v50lo", "v50hi")), 6).as("mp_median"),
      round(expr(MP.pctStr("0.25", "v25lo", "v25hi")), 6).as("mp_p25"),
      round(expr(MP.pctStr("0.75", "v75lo", "v75hi")), 6).as("mp_p75"))
  }

  /** Motif/discord LOCATIONS over the banded profile (VERDICT r14 #7 —
    * the tsfresh-user ask the summary stats left out): per series, the
    * window index whose nearest-neighbor distance is smallest (motif —
    * it has a close repeat) and largest (discord — the anomaly), with
    * the distances. Argmin/argmax by (pv, idx): the distance doubles
    * are the same shared-text arithmetic both engines replay
    * bit-identically, and the idx tie-break (SMALLEST index on equal
    * distance, both ends) makes the pick deterministic even on flat
    * series where many windows tie at 0. Same single-Exchange profile
    * trunk; the argmax rides the same rollup as the argmin.
    */
  def matrixProfileIndices(df: DataFrame, seriesKey: String,
                           orderCols: Seq[String], valueCol: String,
                           window: Int = 4, band: Int = 20): DataFrame = {
    val prof = matrixProfileProf(df, seriesKey, orderCols, valueCol, window, band)
    prof.groupBy(col(seriesKey)).agg(
      min_by(col("idx"), struct(col("pv"), col("idx"))).as("motif_idx"),
      min(col("pv")).as("md"),
      max_by(col("idx"), struct(col("pv"), (lit(-1L) * col("idx")).as("ni")))
        .as("discord_idx"),
      max(col("pv")).as("dd"))
      .select(col(seriesKey), col("motif_idx"),
        round(col("md"), 6).as("motif_dist"), col("discord_idx"),
        round(col("dd"), 6).as("discord_dist"))
  }

  /** FLUSS regime segmentation over the banded profile (VERDICT r15
    * #5 — the matrix-profile class beyond summary + motif/discord):
    * semantic segmentation via the corrected arc curve (Gharghabi et
    * al., "Matrix Profile VIII: Domain Agnostic Online Semantic
    * Segmentation", ICDM 2017; stumpy `fluss`). Each window's
    * nearest-neighbor arc (i ↔ nn(i), from the SAME banded trunk that
    * feeds motif/discord — nn is the (d, partner)-lexicographic
    * argmin, deterministic under ties) contributes +1 at its left end
    * and −1 at its right end; the running sum over window indices is
    * the arc count AC(t) — arcs SPANNING t — which dips where few
    * subsequences pair across a boundary. CAC normalizes by the
    * BANDED idealized arc count (E[offset] = (excl+band)/2, constant —
    * see [[MatrixProfileShared.cacStr]] for why the global parabola
    * does not apply to a banded profile) and pins the edge zones to 1
    * (shared text); the regime location is the
    * (cac, idx) struct-min — smallest index on ties, replayed by
    * DuckDB's identical struct ordering. All bounded rollups over the
    * trunk: the arc scatter is 2 rows per window, the cumsum one
    * partitioned sort — nothing super-linear at any series length.
    * Output (key, regime_idx, cac_min, n_win).
    */
  def matrixProfileFluss(df: DataFrame, seriesKey: String,
                         orderCols: Seq[String], valueCol: String,
                         window: Int = 4, band: Int = 20,
                         exclFactor: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val MP = MatrixProfileShared
    val castD = (s: String) => s"cast($s as double)"
    val excl = exclFactor * window
    val nnp = matrixProfileProf(df, seriesKey, orderCols, valueCol,
      window, band, withNN = true)
    val deltas = nnp
      .select(col(seriesKey),
        least(col("idx"), col("nn")).as("lo"),
        greatest(col("idx"), col("nn")).as("hi"))
      .select(col(seriesKey), explode(array(
        struct(col("lo").as("pos"), lit(1L).as("mk")),
        struct(col("hi").as("pos"), lit(-1L).as("mk")))).as("e"))
      .groupBy(col(seriesKey), col("e.pos").as("pos"))
      .agg(sum(col("e.mk")).as("mk"))
    // arc endpoints are window indices, so a left join onto the trunk's
    // (key, idx) frame covers every position; cumsum = AC(t)
    val wCum = Window.partitionBy(col(seriesKey)).orderBy(col("idx"))
    val wAll = Window.partitionBy(col(seriesKey))
    val ac = nnp.select(col(seriesKey), col("idx")).alias("f")
      .join(deltas.alias("dl"),
        col(s"f.$seriesKey") === col(s"dl.$seriesKey") &&
          col("f.idx") === col("dl.pos"), "left")
      .select(col(s"f.$seriesKey").as(seriesKey), col("f.idx").as("idx"),
        coalesce(col("dl.mk"), lit(0L)).as("mk"))
      .withColumn("ac", sum(col("mk")).over(wCum))
      .withColumn("nw", count(lit(1)).over(wAll))
      .withColumn("cac", expr(MP.cacStr("ac", "idx", "nw", excl,
        ((window + 1) / 2 + band) / 2.0, castD)))
    ac.groupBy(col(seriesKey)).agg(
      min(struct(col("cac"), col("idx"))).getField("idx").as("regime_idx"),
      round(min(col("cac")), 6).as("cac_min"),
      max(col("nw")).as("n_win"))
  }

  /** Shared expression-text builders for the DISTRIBUTED
    * `friedrich_coefficients` (SURVEY §15 #3): every scalar step from
    * the per-bin means onward is built ONCE as SQL text and evaluated
    * by BOTH engines (Spark via `expr`, DuckDB via the generated
    * oracle), so the op order — and therefore every IEEE double — is
    * identical by construction. Only three things differ per engine
    * and are wrapped at the call sites: the exact-integer term cast
    * (decimal(38,0) vs HUGEINT), int→double casts, and the bisection
    * fold construct (`aggregate` vs `list_reduce`).
    */
  private[graft] object Friedrich {
    /** 3×3 determinant, cofactor expansion along the first row. */
    def det3(m: Seq[Seq[String]]): String =
      s"(${m(0)(0)}*(${m(1)(1)}*${m(2)(2)} - ${m(1)(2)}*${m(2)(1)}) - " +
        s"${m(0)(1)}*(${m(1)(0)}*${m(2)(2)} - ${m(1)(2)}*${m(2)(0)}) + " +
        s"${m(0)(2)}*(${m(1)(0)}*${m(2)(1)} - ${m(1)(1)}*${m(2)(0)}))"

    /** 4×4 determinant, cofactor expansion along the first row. */
    def det4(m: Seq[Seq[String]]): String = {
      def minor(c: Int) =
        (1 to 3).map(r => (0 to 3).filterNot(_ == c).map(cc => m(r)(cc)))
      s"(${m(0)(0)}*${det3(minor(0))} - ${m(0)(1)}*${det3(minor(1))} + " +
        s"${m(0)(2)}*${det3(minor(2))} - ${m(0)(3)}*${det3(minor(3))})"
    }

    /** Normal-equations matrix of the cubic fit: A[a][b] = P_{a+b}. */
    val aMat: Seq[Seq[String]] =
      (0 to 3).map(r => (0 to 3).map(c => s"p${r + c}"))

    /** A with column i replaced by the R vector (Cramer numerator). */
    def aWith(i: Int): Seq[Seq[String]] =
      aMat.indices.map(r => aMat(r).zipWithIndex.map {
        case (_, c) if c == i => s"r$r"
        case (v, _) => v
      })

    /** Moment term mx^a·(md) as left-assoc multiplication text — IEEE
      * exact-rounded, so the per-bin term doubles are bit-identical in
      * both engines; the engines make the per-series SUM identical by
      * folding the ≤`bins` terms IN BIN ORDER (Spark: aggregate() over
      * the sorted collect_list; DuckDB: sum(term ORDER BY bin), a
      * plain sequential fold — probed). Quantizing the terms to int
      * was the r14 design, and it BROKE at sf1: ip6 reaches 1e19,
      * where Spark's double→decimal cast goes through the SHORTEST
      * STRING while DuckDB's ::HUGEINT keeps the exact binary integer
      * — two different integers from the same double (r15 find).
      * a = 0 without md is the constant 1.
      */
    def termInner(a: Int, withMd: Boolean, mx: String = "mx",
                  md: String = "md"): String = {
      val pows = Seq.fill(a)(mx) ++ (if (withMd) Seq(md) else Nil)
      if (pows.isEmpty) "1.0" else pows.mkString("*")
    }

    // depressed cubic t³ + pp·t + qq, x = t + sh; disc > 0 → one real
    // root; disc ≤ 0 → three, largest ≥ the rightmost critical point
    val pExpr = "(3.0*b3*b1 - b2*b2) / (3.0*b3*b3)"
    val qExpr = "(2.0*b2*b2*b2 - 9.0*b3*b2*b1 + 27.0*b3*b3*b0) / (27.0*b3*b3*b3)"
    val shExpr = "-b2 / (3.0*b3)"
    val ddExpr = "qq*qq/4.0 + pp*pp*pp/27.0"
    // Cauchy bound: every root of t³+pt+q lies in [-t0, t0]
    val t0Expr = "1.0 + greatest(abs(pp), abs(qq))"
    // bisection lower bracket: disc>0 → -t0 (single sign change);
    // disc≤0 → the rightmost critical point sqrt(-p/3) (p ≤ 0 is
    // implied by disc ≤ 0), where f ≤ 0 and only the largest root is
    // to the right — bisection then converges to THE LARGEST root
    val blExpr = "CASE WHEN dd > 0.0 THEN -t0 ELSE sqrt(-pp/3.0) END"
    /** Bisection step predicate/midpoint (engine fold wraps these),
      * parameterized by the engine's accumulator names — Spark's HOF
      * uses `acc.lo`/`acc.hi`, the DuckDB oracle's recursive CTE uses
      * plain columns (DuckDB 1.0's `list_reduce` lambda captures are
      * BROKEN under multithreading — values scramble across vector
      * chunks — so the oracle must not use it). 200 fixed iterations:
      * the interval collapses to one double and the iteration becomes
      * a fixpoint, so early exit is unnecessary and both engines run
      * the identical op sequence.
      */
    def midStr(lo: String, hi: String): String = s"(($lo + $hi) / 2.0)"
    def fMidPos(lo: String, hi: String, p: String = "pp", q: String = "qq"): String = {
      val m = midStr(lo, hi)
      s"($m*$m*$m + $p*$m + $q) > 0.0"
    }
    /** max over real parts of the cubic's roots (numpy
      * max(real(roots)) semantics), degrading to quadratic/linear.
      */
    val fpExpr: String = """CASE
      WHEN b3 IS NULL THEN NULL
      WHEN b3 <> 0.0 THEN
        CASE WHEN dd > 0.0 THEN greatest(tn + sh, -tn/2.0 + sh)
             ELSE tn + sh END
      WHEN b2 <> 0.0 THEN
        CASE WHEN b1*b1 - 4.0*b2*b0 >= 0.0
             THEN greatest((-b1 + sqrt(b1*b1 - 4.0*b2*b0))/(2.0*b2),
                           (-b1 - sqrt(b1*b1 - 4.0*b2*b0))/(2.0*b2))
             ELSE -b1/(2.0*b2) END
      WHEN b1 <> 0.0 THEN -b0/b1
      ELSE NULL END"""
  }

  /** DISTRIBUTED `friedrich_coefficients` / `max_langevin_fixed_point`
    * (SURVEY §15 #3) — the same estimator family as [[friedrich]]
    * with the per-series sequential fold replaced by relational
    * stages, and oracle-replayable:
    *
    *  - 30 equal-frequency bins by EXACT RANK over the per-series
    *    value grain (bin = (last_rank−1)·30 div len): equal values
    *    share a bin like pandas qcut; the qcut linear-interpolated
    *    edges are replaced by rank cuts — the documented §3 tie-break
    *    (boundary values can shift one bin vs pandas).
    *  - Per-bin mean (x, Δx) pairs from exact micro-integer sums; the
    *    seven x-moments and four xy-moments quantize each bin term to
    *    micro-units and sum exactly (order-free), then every later
    *    step — Cramer's-rule 4×4 solve, depressed-cubic reduction,
    *    200-step bisection for the largest real root, the
    *    quadratic/linear degradations — is built from SHARED
    *    expression text ([[Friedrich]]), so both engines run
    *    bit-identical IEEE arithmetic (no acos/cbrt libm calls — the
    *    Cardano trig branch is replaced by deterministic bisection
    *    from the Cauchy bound / rightmost critical point).
    *
    * Nulls: < 4 distinct bin means or a singular normal matrix, like
    * the fold's. One value-grain rollup + one bin rollup + one
    * series-grain aggregate — no per-series collect.
    */
  def friedrichDistributed(df: DataFrame, seriesKey: String,
                           orderCols: Seq[String], valueCol: String,
                           bins: Int = 30): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val F = Friedrich
    val wOrd = Window.partitionBy(col(seriesKey)).orderBy(orderCols.map(col): _*)
    val wAll = Window.partitionBy(col(seriesKey))
    val wCum = Window.partitionBy(col(seriesKey)).orderBy(col("xq"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val sig = df
      .withColumn("xq", round(col(valueCol) * lit(1e6)).cast("long"))
      .withColumn("dq", lead(col("xq"), 1).over(wOrd) - col("xq"))
      .where(col("dq").isNotNull)
    val vg = sig.groupBy(col(seriesKey), col("xq"))
      .agg(count(lit(1)).as("c"), sum(col("dq")).as("sd"))
      .withColumn("len", sum(col("c")).over(wAll))
      .withColumn("bef", coalesce(sum(col("c")).over(wCum), lit(0L)))
      .withColumn("bin", expr(s"((bef + c - 1) * $bins) DIV len"))
    val bn = vg.groupBy(col(seriesKey), col("bin"))
      .agg(sum(expr("xq * c")).as("sx"), sum(col("sd")).as("sdd"),
        sum(col("c")).as("cb"))
    val pts = bn.selectExpr(seriesKey, "bin",
      "cast(sx as double) / (cast(cb as double) * 1000000.0) as mx",
      "cast(sdd as double) / (cast(cb as double) * 1000000.0) as md")
    // per-series moments as ORDERED left folds over the ≤bins bin
    // means: the per-bin term doubles are engine-identical (exact-
    // rounded products of identical mx/md), and folding IN BIN ORDER
    // makes the sum's op sequence identical to the oracle's
    // sum(term ORDER BY bin) — see [[Friedrich.termInner]] for why the
    // r14 int quantization could not survive sf1 magnitudes.
    def fold(a: Int, withMd: Boolean) = expr(
      s"aggregate(pts, cast(0.0 as double), (acc, q) -> " +
        s"acc + (${F.termInner(a, withMd, mx = "q.mx", md = "q.md")}))")
    val mo = pts.groupBy(col(seriesKey))
      .agg(countDistinct(col("mx")).as("ndist"),
        sort_array(collect_list(struct(col("bin"), col("mx"), col("md"))))
          .as("pts"))
    val mo2 = mo.select(Seq(col(seriesKey), col("ndist")) ++
      (0 to 6).map(a => fold(a, withMd = false).as(s"p$a")) ++
      (0 to 3).map(a => fold(a, withMd = true).as(s"r$a")): _*)
    var cur = mo2.withColumn("det_a", expr(F.det4(F.aMat)))
    for (i <- 3 to 0 by -1)
      cur = cur.withColumn(s"b$i", expr(
        s"CASE WHEN ndist < 4 OR det_a = 0.0 THEN NULL " +
          s"ELSE (${F.det4(F.aWith(i))} / det_a) END"))
    cur = cur
      .withColumn("pp", expr(F.pExpr))
      .withColumn("qq", expr(F.qExpr))
      .withColumn("sh", expr(F.shExpr))
      .withColumn("dd", expr(F.ddExpr))
      .withColumn("t0", expr(F.t0Expr))
      .withColumn("bl", expr(F.blExpr))
      .withColumn("tn", expr(
        s"aggregate(sequence(1, 200), named_struct('lo', bl, 'hi', t0), " +
          s"(acc, i) -> CASE WHEN ${F.fMidPos("acc.lo", "acc.hi")} " +
          s"THEN named_struct('lo', acc.lo, 'hi', ${F.midStr("acc.lo", "acc.hi")}) " +
          s"ELSE named_struct('lo', ${F.midStr("acc.lo", "acc.hi")}, 'hi', acc.hi) END)")
        .getField("hi"))
    // `+ 0.0` normalizes IEEE-754 signed zero (-0.0 → +0.0) so the
    // hash boundary is representation-stable across engines: float ==
    // treats the zeros as equal but a byte hash does not.
    cur.select(col(seriesKey),
      (round(col("b3"), 6) + lit(0.0)).as("coeff_3"),
      (round(col("b2"), 6) + lit(0.0)).as("coeff_2"),
      (round(col("b1"), 6) + lit(0.0)).as("coeff_1"),
      (round(col("b0"), 6) + lit(0.0)).as("coeff_0"),
      (round(expr(F.fpExpr), 6) + lit(0.0)).as("max_fixed_point"))
  }

  /** DISTRIBUTED `partial_autocorrelation` (SURVEY §15 #2) — the same
    * statsmodels `pacf(x, method="ld")` semantics as [[pacf]] without
    * the sequential per-series fold, and oracle-replayable:
    *
    *  - Biased ACF as an EXACT integer ratio: with micro-quantized
    *    values xq and d_t = n·xq_t − Σxq (exact int64), the biased
    *    autocovariance ratio r_k = Σd_t·d_{t+k} / Σd_t² — the n and μ
    *    divisions cancel — so r_k is one double division of two exact
    *    decimal(38,0) sums, BIT-IDENTICAL on both engines. The lag
    *    products ride `lead()` over one partitioned sort (the
    *    lag-join machinery), then a single map-side-combined groupBy.
    *  - Durbin–Levinson UNROLLED as fixed-op-order column arithmetic
    *    (lags 2..nlags, each step publishing its φ row as columns):
    *    only + − × ÷ on bit-identical doubles, so every engine
    *    replays every φ and every pacf bit-for-bit — no quantization
    *    of intermediates needed (the logreg-step recipe, simplified).
    *
    * Nulls follow tsfresh: zero-variance series (Σd² = 0) and lags
    * with n ≤ lag+1 yield null; a zero Durbin denominator nulls that
    * lag and propagates (the fold's NaN convention). Envelope: |d| ≤
    * n·|x|·1e6, Σd·d ≤ n·d² must fit decimal(38,0) — holds to ~1e6-pt
    * series of 1e6-magnitude values, then re-scale the quantization.
    */
  def pacfDurbin(df: DataFrame, seriesKey: String, orderCols: Seq[String],
                 valueCol: String, nlags: Int = 10): DataFrame = {
    require(nlags >= 2, s"pacfDurbin needs nlags >= 2, got $nlags")
    import org.apache.spark.sql.expressions.Window
    val wOrd = Window.partitionBy(col(seriesKey)).orderBy(orderCols.map(col): _*)
    val wAll = Window.partitionBy(col(seriesKey))
    val dec = "decimal(38,0)"
    // pin the window stage's parallelism (the matrixProfileProf
    // discipline, §12m): the per-row work here — nlags lead() columns
    // plus nlags+1 decimal(38,0) product sums — is the compute-dense
    // stage of this operator, and AQE's byte-based coalescing of the
    // tiny window exchange serialized it onto single-digit tasks at
    // sf0.1 (Profile r17: 7 tasks total, 2.3 s). Same
    // hashpartitioning(seriesKey) exchange the window inserts, with
    // numPartitions pinned to the scale-adaptive knob; results
    // unchanged (per-series windows + per-series aggregate).
    val nShuffle = df.sparkSession.conf.get("spark.sql.shuffle.partitions",
      df.sparkSession.sparkContext.defaultParallelism.toString).toInt
    val base = df
      .repartition(nShuffle, col(seriesKey))
      .withColumn("xq", round(col(valueCol) * lit(1e6)).cast("long"))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("s", sum(col("xq")).over(wAll))
      .withColumn("d", col("n") * col("xq") - col("s"))
    val withLeads = base.select(
      (col(seriesKey) +: col("n") +: col("d") +:
        (1 to nlags).map(k => lead(col("d"), k).over(wOrd).as(s"d$k"))): _*)
    val sums =
      sum(col("d").cast(dec) * col("d").cast(dec)).as("b0") +:
        (1 to nlags).map(k =>
          sum(col("d").cast(dec) * col(s"d$k").cast(dec)).as(s"b$k"))
    val acfB = withLeads.groupBy(col(seriesKey), col("n"))
      .agg(sums.head, sums.tail: _*)
    val acf = acfB.select(
      (col(seriesKey) +: col("n") +: col("b0") +:
        (1 to nlags).map(k => when(col("b0") === 0, lit(null))
          .otherwise(col(s"b$k").cast("double") / col("b0").cast("double"))
          .as(s"r$k"))): _*)
    // Durbin–Levinson, unrolled: f{k}_{j} = φ after step k. The oracle
    // SQL (TsQueries.pacfOracleSql) is GENERATED from the same loops —
    // keep the op order here and there in lockstep.
    var cur = acf.withColumn("f1_1", col("r1"))
    for (k <- 2 to nlags) {
      val num = (1 until k).foldLeft(col(s"r$k"))((acc, j) =>
        acc - col(s"f${k - 1}_$j") * col(s"r${k - j}"))
      val den = (1 until k).foldLeft(lit(1.0))((acc, j) =>
        acc - col(s"f${k - 1}_$j") * col(s"r$j"))
      cur = cur.withColumn(s"k$k",
        when(den === 0.0, lit(null)).otherwise(num / den))
      for (j <- 1 until k)
        cur = cur.withColumn(s"f${k}_$j",
          col(s"f${k - 1}_$j") - col(s"k$k") * col(s"f${k - 1}_${k - j}"))
      cur = cur.withColumn(s"f${k}_$k", col(s"k$k"))
    }
    val lagCols = (1 to nlags).map { k =>
      val v = if (k == 1) col("r1") else col(s"k$k")
      when(col("b0") === 0 || col("n") <= k + 1, lit(null))
        .otherwise(round(v, 6)).as(s"p$k")
    }
    val stacked = cur.select((col(seriesKey) +: lagCols): _*)
    stacked.select(col(seriesKey),
      expr("stack(" + nlags + ", " +
        (1 to nlags).map(k => s"cast($k as bigint), p$k").mkString(", ") +
        ") as (lag, pacf)"))
  }

  /** SCATTER-SHAPED `cwt_coefficients` (SURVEY §15 #1) — the same
    * semantics as [[cwt]] (scipy `signal.cwt(x, ricker, widths)`,
    * first `nCoeffs` coefficients per width) re-expressed as one
    * map-side-combinable shuffle instead of a sequential per-series
    * fold: each input row scatters into its ≤ nCoeffs live target
    * indices per width (t ∈ [i−off, i−off+m−1] ∩ [0, nCoeffs)), the
    * kernel value is computed INLINE as pure column arithmetic, and
    * the coefficient is an exact decimal sum both engines replay.
    *
    * Cross-engine determinism: the only transcendental in the Ricker
    * kernel is exp, whose libm differs between JVM and DuckDB — so
    * the kernel uses a FIXED-OP-ORDER exp: k = ⌊y/ln2 + ½⌋,
    * r = y − k·ln2, degree-9 Taylor in explicit left-associated
    * order, ×2^k via 1/(1<<−k) (exact). Every remaining op (+ − × ÷
    * sqrt) is IEEE-correctly-rounded, so the kernel doubles are
    * BIT-IDENTICAL on both engines; π^¼ is sqrt(sqrt(π)) for the same
    * reason. Kernel quantizes to pico-units (×1e12), values to
    * micro-units (×1e6); terms are exact int products summed in
    * decimal(38,0) (≤1e23 ≪ 1e38), so the sum is order-free. Total
    * quantization error ≲ 1e-6 on the 6-dp-rounded output (measured
    * 5e-7 max vs the exact double convolution at sf0.001).
    *
    * Scale shape: one hash Exchange on the series key for the
    * (i, n) windows, then a narrow ≤(4·nCoeffs)-fold explode and one
    * partial-aggregated shuffle on (series, width, idx) — no
    * per-series collect, no sequential fold; reference
    * preprocessor.py:558-638 → tsfresh cwt_coefficients delegation.
    */
  def cwtScatter(df: DataFrame, seriesKey: String, orderCols: Seq[String],
                 valueCol: String, nCoeffs: Int = 15): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val LN2 = 0.6931471805599453
    val qpi = math.sqrt(math.sqrt(3.141592653589793)) // pi^(1/4), 2 exact sqrts
    val wOrd = Window.partitionBy(col(seriesKey)).orderBy(orderCols.map(col): _*)
    val wAll = Window.partitionBy(col(seriesKey))
    val base = df
      .withColumn("xq", round(col(valueCol) * lit(1e6)).cast("long"))
      .withColumn("i0", row_number().over(wOrd).cast("long") - 1L)
      .withColumn("n", count(lit(1)).over(wAll))
      .select(col(seriesKey), col("i0"), col("xq"), col("n"))
    val wd = col("w").cast("double")
    def pw(k: Int): Column = Seq.fill(k)(col("r")).reduceLeft(_ * _)
    base
      .withColumn("w", explode(array(Seq(2L, 5L, 10L, 20L).map(lit): _*)))
      .withColumn("m", least(col("w") * 10L, col("n")))
      .withColumn("off", expr("(m - 1) DIV 2"))
      .withColumn("t_lo", greatest(lit(0L), col("i0") - col("off")))
      .withColumn("t_hi", least(least(lit(nCoeffs.toLong), col("n")) - 1L,
        col("i0") - col("off") + col("m") - 1L))
      .where(col("t_hi") >= col("t_lo"))
      .withColumn("t", explode(sequence(col("t_lo"), col("t_hi"))))
      .withColumn("j", col("m") - 1L - (col("t") + col("off") - col("i0")))
      .withColumn("x",
        col("j").cast("double") - (col("m") - 1L).cast("double") / lit(2.0))
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
      .withColumn("kq", round(col("kern") * lit(1e12)).cast("long"))
      .groupBy(col(seriesKey), col("w"), col("t"))
      .agg(sum(col("xq").cast("decimal(38,0)") * col("kq").cast("decimal(38,0)"))
        .as("s"))
      .select(col(seriesKey), col("w").as("width"), col("t").as("idx"),
        round(col("s").cast("double") / lit(1e18), 6).as("coeff"))
  }

  /** One same-mode Ricker CWT row: convolve(x, ricker(min(10w, n),
    * w)[::-1], mode='same') — scipy `signal.cwt` row semantics.
    */
  private def cwtRow(xs: Array[Double], w: Int): Array[Double] = {
    val n = xs.length
    val m = math.min(10 * w, n)
    val kern = rickerWavelet(m, w)
    val off = (m - 1) / 2
    Array.tabulate(n) { t =>
      var s = 0.0
      var k = math.max(0, t + off - m + 1)
      val kEnd = math.min(n - 1, t + off)
      while (k <= kEnd) {
        // reversed kernel index for full-conv position t+off
        s += xs(k) * kern(m - 1 - (t + off - k))
        k += 1
      }
      s
    }
  }

  /** tsfresh `number_cwt_peaks(x, n)` = `len(scipy.signal.
    * find_peaks_cwt(x, widths=1..n, wavelet=ricker))`: CWT matrix over
    * widths 1..n, ridge lines identified down the width axis (connect
    * each row's strict relative maxima to the nearest line's last
    * column within width/4, gap tolerance ⌈widths[0]⌉ = 1 rows), then
    * filtered on length ≥ ⌈n/4⌉ and SNR ≥ 1 (|cwt at the line's
    * smallest-width point| over the 10th percentile of the width-1
    * row in a ⌈L/20⌉ window) — the scipy `_identify_ridge_lines` /
    * `_filter_ridge_lines` pipeline replayed step for step.
    * Sequential per series → [[GroupedApply]]; bench + spec
    * (bump-counting semantics + determinism; the underlying CWT rows
    * are already pinned against a naive convolution replay).
    */
  def numberCwtPeaks(df: DataFrame, seriesKey: String, orderCols: Seq[String],
                     valueCol: String, n: Int = 5): DataFrame = {
    require(n >= 1, s"numberCwtPeaks needs n >= 1, got $n")
    import org.apache.spark.sql.types._
    val in = df.select((col(seriesKey) +: orderCols.map(col)) :+ col(valueCol): _*)
    val vIdx = in.schema.fieldIndex(valueCol)
    val keyField = in.schema(in.schema.fieldIndex(seriesKey))
    val outSchema = StructType(Seq(keyField.copy(nullable = false),
      StructField("n_peaks", LongType, nullable = false)))
    GroupedApply(in, Seq(seriesKey), orderCols, outSchema) { (key, it) =>
      val xs = it.map(_.getDouble(vIdx)).toArray
      Iterator.single(org.apache.spark.sql.Row(
        key.get(0), findPeaksCwt(xs, n).length.toLong))
    }
  }

  /** scipy `find_peaks_cwt` peak positions (sorted, like scipy's
    * max_locs) with widths 1..nWidths and the defaults tsfresh passes:
    * max_distances = widths/4, gap_thresh = ⌈widths[0]⌉, min_length =
    * ⌈rows/4⌉, min_snr = 1, noise_perc = 10. Boundary artifacts on
    * monotone trends (CWT of a linear segment is ~0 in the interior but
    * not at the edges, where the noise percentile is also ~0 → infinite
    * SNR) are FAITHFUL to scipy — the spec pins them to the edges.
    */
  private[graft] def findPeaksCwt(xs: Array[Double], nWidths: Int): Seq[Int] = {
    val len = xs.length
    if (len == 0) return Seq.empty
    val widths = (1 to nWidths).toArray
    val mat = widths.map(w => cwtRow(xs, w))
    // strict relative maxima per row, order=1, clip boundary mode
    // (a boundary point compares against itself → never a maximum)
    val relmax = mat.map { row =>
      Array.tabulate(len) { i =>
        row(i) > row(math.max(i - 1, 0)) && row(i) > row(math.min(i + 1, len - 1))
      }
    }
    val hasRel = relmax.indices.filter(r => relmax(r).contains(true))
    if (hasRel.isEmpty) return Seq.empty
    val gapThresh = widths(0) // ceil of the smallest width
    final class Line {
      val rows = scala.collection.mutable.ArrayBuffer.empty[Int]
      val cols = scala.collection.mutable.ArrayBuffer.empty[Int]
      var gap = 0
    }
    def newLine(r: Int, c: Int): Line = {
      val l = new Line; l.rows += r; l.cols += c; l
    }
    val startRow = hasRel.last
    val active = scala.collection.mutable.ArrayBuffer.empty[Line]
    val done = scala.collection.mutable.ArrayBuffer.empty[Line]
    for (c <- 0 until len if relmax(startRow)(c)) active += newLine(startRow, c)
    var row = startRow - 1
    while (row >= 0) {
      active.foreach(_.gap += 1)
      // snapshot of last columns BEFORE any attachment this row (scipy
      // computes prev_ridge_cols once; same-row appends don't retarget)
      val snapshot = active.map(l => l.cols.last).toArray
      val snapLines = active.toArray
      for (c <- 0 until len if relmax(row)(c)) {
        var attached: Line = null
        if (snapshot.nonEmpty) {
          var best = 0
          var bd = math.abs(c - snapshot(0))
          var i = 1
          while (i < snapshot.length) {
            val d = math.abs(c - snapshot(i))
            if (d < bd) { bd = d; best = i }
            i += 1
          }
          if (bd <= widths(row) / 4.0) attached = snapLines(best)
        }
        if (attached != null) {
          attached.rows += row; attached.cols += c; attached.gap = 0
        } else active += newLine(row, c)
      }
      var i = active.length - 1
      while (i >= 0) {
        if (active(i).gap > gapThresh) { done += active(i); active.remove(i) }
        i -= 1
      }
      row -= 1
    }
    val lines = done ++ active
    // SNR filter inputs: 10th percentile of the width-1 row, windowed
    val row0 = mat(0)
    val windowSize = math.ceil(len / 20.0).toInt
    val hf = windowSize / 2
    val odd = windowSize % 2
    def pct10(a: Array[Double]): Double = {
      val s = a.sorted
      val h = (s.length - 1) * 0.10
      val lo = h.toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (h - lo) * (s(hi) - s(lo))
    }
    val noises = Array.tabulate(len) { i =>
      pct10(row0.slice(math.max(i - hf, 0), math.min(i + hf + odd, len)))
    }
    val minLength = math.ceil(nWidths / 4.0)
    lines.iterator.flatMap { l =>
      // sort points by row ascending (scipy out_lines order)
      val order = l.rows.indices.sortBy(l.rows(_))
      val r0 = l.rows(order.head)
      val c0 = l.cols(order.head)
      val snr = math.abs(mat(r0)(c0) / noises(c0))
      if (l.rows.length >= minLength && !(snr < 1.0)) Some(c0) else None
    }.toSeq.sorted
  }

  /** scipy `signal.ricker(points, a)`: A·(1 − (x/a)²)·e^(−x²/2a²),
    * A = 2/(√(3a)·π^¼), x centered on (points−1)/2.
    */
  private def rickerWavelet(points: Int, a: Int): Array[Double] = {
    val amp = 2.0 / (math.sqrt(3.0 * a) * math.pow(math.Pi, 0.25))
    Array.tabulate(points) { i =>
      val x = i - (points - 1) / 2.0
      val xa = x / a
      amp * (1.0 - xa * xa) * math.exp(-x * x / (2.0 * a * a))
    }
  }

  /** Matrix profile summary (the tsfresh `matrix_profile` feature
    * family): z-normalized Euclidean distance from each length-m
    * subsequence to its nearest non-trivial neighbor (exclusion zone
    * ⌈m/2⌉, the SCAMP/STUMPY convention), summarized per series as
    * min/max/mean/median/p25/p75. O(n²·m) per series — the same
    * inherent cost tsfresh pays via the matrixprofile lib — so it
    * rides [[GroupedApply]]: cost bounded by the longest series, never
    * cross-series. Series too short for two non-overlapping windows
    * (n < m + ⌈m/2⌉ + 1) or zero-variance windows yield nulls.
    * Bench + spec (brute-force pin on hand-checked fixtures).
    */
  def matrixProfile(df: DataFrame, seriesKey: String, orderCols: Seq[String],
                    valueCol: String, window: Int = 4): DataFrame = {
    require(window >= 2, s"matrixProfile window must be >= 2, got $window")
    import org.apache.spark.sql.types._
    val in = df.select((col(seriesKey) +: orderCols.map(col)) :+ col(valueCol): _*)
    val vIdx = in.schema.fieldIndex(valueCol)
    val keyField = in.schema(in.schema.fieldIndex(seriesKey))
    val outSchema = StructType(Seq(keyField.copy(nullable = false),
      StructField("mp_min", DoubleType), StructField("mp_max", DoubleType),
      StructField("mp_mean", DoubleType), StructField("mp_median", DoubleType),
      StructField("mp_p25", DoubleType), StructField("mp_p75", DoubleType)))
    val excl = (window + 1) / 2
    GroupedApply(in, Seq(seriesKey), orderCols, outSchema) { (key, it) =>
      val xs = it.map(_.getDouble(vIdx)).toArray
      val n = xs.length
      val nw = n - window + 1
      if (nw < excl + 2) {
        Iterator.single(org.apache.spark.sql.Row(
          key.get(0), null, null, null, null, null, null))
      } else {
        // per-window mean/std for z-normalization
        val mu = new Array[Double](nw)
        val sd = new Array[Double](nw)
        var i = 0
        while (i < nw) {
          var s = 0.0
          var s2 = 0.0
          var k = 0
          while (k < window) { val v = xs(i + k); s += v; s2 += v * v; k += 1 }
          mu(i) = s / window
          val varr = s2 / window - mu(i) * mu(i)
          sd(i) = if (varr > 0) math.sqrt(varr) else 0.0
          i += 1
        }
        val prof = new Array[Double](nw)
        java.util.Arrays.fill(prof, Double.PositiveInfinity)
        i = 0
        while (i < nw) {
          var j = i + excl
          while (j < nw) {
            // z-normalized distance via the dot product identity:
            // d² = 2m(1 − (qt − m·μᵢμⱼ)/(m·σᵢσⱼ))
            val d =
              if (sd(i) == 0.0 || sd(j) == 0.0) {
                // degenerate window: fall back to both-flat = 0, else max
                if (sd(i) == 0.0 && sd(j) == 0.0) 0.0
                else math.sqrt(2.0 * window)
              } else {
                var qt = 0.0
                var k = 0
                while (k < window) { qt += xs(i + k) * xs(j + k); k += 1 }
                val corr = (qt - window * mu(i) * mu(j)) / (window * sd(i) * sd(j))
                math.sqrt(math.max(2.0 * window * (1.0 - math.min(corr, 1.0)), 0.0))
              }
            if (d < prof(i)) prof(i) = d
            if (d < prof(j)) prof(j) = d
            j += 1
          }
          i += 1
        }
        val finite = prof.filter(java.lang.Double.isFinite)
        if (finite.isEmpty) {
          Iterator.single(org.apache.spark.sql.Row(
            key.get(0), null, null, null, null, null, null))
        } else {
          val sorted = finite.sorted
          // linear-interpolated percentile (numpy default)
          def pct(p: Double): Double = {
            val h = (sorted.length - 1) * p
            val lo = h.toInt
            val hi = math.min(lo + 1, sorted.length - 1)
            sorted(lo) + (h - lo) * (sorted(hi) - sorted(lo))
          }
          Iterator.single(org.apache.spark.sql.Row(key.get(0),
            sorted.head, sorted.last, finite.sum / finite.length,
            pct(0.5), pct(0.25), pct(0.75)))
        }
      }
    }
  }

  /** tsfresh `friedrich_coefficients` (order 3, r = 30 quantile bins)
    * and `max_langevin_fixed_point`: bin x_t into r equal-frequency
    * bins (pandas qcut semantics: linear-interpolated quantile edges,
    * (lo, hi] intervals), per-bin means of x and Δx, weighted-free
    * cubic `polyfit` over the bin means (normal equations, partial
    * pivot), coefficients emitted HIGHEST DEGREE FIRST (np.polyfit
    * order); the fixed point is max(Re(roots(h))) over all cubic
    * roots (numpy `roots` semantics via Cardano). Series with fewer
    * than order+1 distinct usable bins yield nulls, like tsfresh's
    * NaN on the qcut/fit failure path. Bench + spec (naive pin +
    * synthetic Langevin recovery).
    */
  def friedrich(df: DataFrame, seriesKey: String, orderCols: Seq[String],
                valueCol: String, bins: Int = 30): DataFrame = {
    require(bins >= 4, s"friedrich needs >= 4 bins, got $bins")
    import org.apache.spark.sql.types._
    val in = df.select((col(seriesKey) +: orderCols.map(col)) :+ col(valueCol): _*)
    val vIdx = in.schema.fieldIndex(valueCol)
    val keyField = in.schema(in.schema.fieldIndex(seriesKey))
    val outSchema = StructType(Seq(keyField.copy(nullable = false),
      StructField("coeff_3", DoubleType), StructField("coeff_2", DoubleType),
      StructField("coeff_1", DoubleType), StructField("coeff_0", DoubleType),
      StructField("max_fixed_point", DoubleType)))
    GroupedApply(in, Seq(seriesKey), orderCols, outSchema) { (key, it) =>
      val xs = it.map(_.getDouble(vIdx)).toArray
      val n = xs.length
      if (n < 2) {
        Iterator.single(org.apache.spark.sql.Row(
          key.get(0), null, null, null, null, null))
      } else {
        val sig = xs.dropRight(1)
        val delta = Array.tabulate(n - 1)(t => xs(t + 1) - xs(t))
        // pandas-default (linear) quantile edges over sig
        val sorted = sig.sorted
        def quant(p: Double): Double = {
          val h = (sorted.length - 1) * p
          val lo = h.toInt
          val hi = math.min(lo + 1, sorted.length - 1)
          sorted(lo) + (h - lo) * (sorted(hi) - sorted(lo))
        }
        val edges = Array.tabulate(bins + 1)(j => quant(j.toDouble / bins))
        // qcut: (edge(b-1), edge(b)] — leftmost bin closed on the left
        def binOf(x: Double): Int = {
          var b = 1
          while (b < bins && x > edges(b)) b += 1
          b - 1
        }
        val sumX = new Array[Double](bins)
        val sumD = new Array[Double](bins)
        val cnt = new Array[Long](bins)
        var t = 0
        while (t < n - 1) {
          val b = binOf(sig(t))
          sumX(b) += sig(t); sumD(b) += delta(t); cnt(b) += 1
          t += 1
        }
        val pts = (0 until bins).filter(cnt(_) > 0)
          .map(b => (sumX(b) / cnt(b), sumD(b) / cnt(b)))
        val distinctX = pts.map(_._1).distinct.size
        if (distinctX < 4) {
          Iterator.single(org.apache.spark.sql.Row(
            key.get(0), null, null, null, null, null))
        } else {
          // cubic polyfit via 4x4 normal equations (basis 1, x, x², x³)
          val xtx = Array.ofDim[Double](4, 4)
          val xty = new Array[Double](4)
          pts.foreach { case (x, y) =>
            val row = Array(1.0, x, x * x, x * x * x)
            var a = 0
            while (a < 4) {
              var b = 0
              while (b < 4) { xtx(a)(b) += row(a) * row(b); b += 1 }
              xty(a) += row(a) * y
              a += 1
            }
          }
          val beta = solveLinear(xtx, xty) // ascending degree
          if (beta.exists(v => !java.lang.Double.isFinite(v))) {
            Iterator.single(org.apache.spark.sql.Row(
              key.get(0), null, null, null, null, null))
          } else {
            val maxFp = cubicMaxRealPart(beta(3), beta(2), beta(1), beta(0))
            Iterator.single(org.apache.spark.sql.Row(key.get(0),
              beta(3), beta(2), beta(1), beta(0),
              if (maxFp.isDefined && java.lang.Double.isFinite(maxFp.get))
                maxFp.get else null))
          }
        }
      }
    }
  }

  /** max over the real parts of the roots of ax³+bx²+cx+d (numpy
    * `max(real(roots(p)))` semantics — complex roots contribute their
    * real part). Degrades to the quadratic/linear root set when the
    * leading coefficients vanish; None when no root exists.
    */
  private[graft] def cubicMaxRealPart(a: Double, b: Double, c: Double,
                                      d: Double): Option[Double] = {
    val eps = 0.0
    if (a != eps) {
      // depressed cubic t³ + pt + q, x = t − b/3a
      val p = (3 * a * c - b * b) / (3 * a * a)
      val q = (2 * b * b * b - 9 * a * b * c + 27 * a * a * d) / (27 * a * a * a)
      val shift = -b / (3 * a)
      val disc = q * q / 4 + p * p * p / 27
      if (disc > 0) {
        // one real root, two complex conjugates with real part −t₁/2
        val sq = math.sqrt(disc)
        val u = math.cbrt(-q / 2 + sq)
        val v = math.cbrt(-q / 2 - sq)
        val t1 = u + v
        Some(math.max(t1 + shift, -t1 / 2 + shift))
      } else {
        // three real roots (trigonometric form)
        val r = math.sqrt(-p * p * p / 27)
        val phi = math.acos(math.max(-1.0, math.min(1.0,
          -q / (2 * math.max(r, Double.MinPositiveValue)))))
        val m2 = 2 * math.cbrt(r)
        Some((0 until 3).map(k =>
          m2 * math.cos((phi + 2 * math.Pi * k) / 3) + shift).max)
      }
    } else if (b != eps) {
      val disc = c * c - 4 * b * d
      if (disc >= 0) {
        val sq = math.sqrt(disc)
        Some(math.max((-c + sq) / (2 * b), (-c - sq) / (2 * b)))
      } else Some(-c / (2 * b)) // complex pair's real part
    } else if (c != eps) {
      Some(-d / c)
    } else None
  }

  /** FLOOR integer division of nanosecond timestamps into buckets.
    * Exact integer arithmetic (a double divide on 2^60-scale nanos
    * carries ~128ns representation error and can bucket a timestamp
    * just below a boundary differently than an exact-integer engine) —
    * and FLOOR, not truncation: Spark's `div` truncates toward zero,
    * so a pre-epoch (negative) timestamp would bucket one off from the
    * DuckDB oracle's `//` floor division.
    */
  private def floorDivBucket(tsNanosCol: String, widthNanos: Long): Column =
    expr(s"(cast($tsNanosCol as long) div $widthNanos) + " +
      s"(case when cast($tsNanosCol as long) % $widthNanos < 0 then -1 else 0 end)")

  def resample(df: DataFrame, seriesKey: String, tsNanosCol: String,
               valueCol: String, widthNanos: Long): DataFrame = {
    val bucket = floorDivBucket(tsNanosCol, widthNanos).as("bucket")
    // sum/mean ride an exact decimal(18,6) sum: double summation is
    // order-dependent, and distributed partial aggregation can flip the
    // 6-dp-rounded result vs a sequential engine on rounding-boundary
    // buckets. The decimal sum is exact → order-independent; mean is the
    // exact sum divided by n in double (identical inputs on both sides).
    val dec = sum(col(valueCol).cast("decimal(18,6)"))
    df.groupBy(col(seriesKey), bucket).agg(
      count(lit(1)).as("n"),
      dec.as("sum_dec"),
      min(col(valueCol)).as("min_v"),
      max(col(valueCol)).as("max_v"),
    ).select(
      col(seriesKey), col("bucket"), col("n"),
      (col("sum_dec").cast("double") / col("n")).as("mean_v"),
      col("sum_dec").cast("double").as("sum_v"),
      col("min_v"), col("max_v"),
    )
  }
}
