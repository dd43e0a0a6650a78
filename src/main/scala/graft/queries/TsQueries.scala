package graft.queries

import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.operators.TsFeatures

/** Time-series feature extraction coverage (SURVEY §2.2 rows 25-28)
  * over events(user_id, ts, value). events.ts is Long nanoseconds in
  * Spark (TESTDATA nanos flag) and TIMESTAMP in DuckDB — oracles use
  * epoch_ns for parity.
  */
object TsQueries {

  // exact closed-form trend components (mirror ExactAgg.trendFit) —
  // defined FIRST: referenced by query vals below (object init order)
  private val trendSxSql = "((count(v) * (count(v) - 1)) // 2)::DOUBLE"
  private val trendSx2Sql =
    "((count(v) * (count(v) - 1) * (count(v) * 2 - 1)) // 6)::DOUBLE"
  private val trendSySql = "sum(v::DECIMAL(18,6))::DOUBLE"
  private val trendSxySql = "sum((idx * v)::DECIMAL(28,6))::DOUBLE"

  private def microAvgSql(e: String): String = OracleExact.microAvgSql(e)

  // ---------------------------------------------------------------- §2.2/25
  val tsBasic: Q = Q(
    "ts_features_basic",
    (s, dir) => {
      val e = Tables.events(s, dir).select(col("user_id"), col("value"))
      val f = TsFeatures.basic(e, "user_id", "value")
      f.select(col("user_id"), col("n"),
        round(col("mean_v"), 6).as("mean_v"),
        round(col("std_v"), 6).as("std_v"),
        round(col("min_v"), 6).as("min_v"),
        round(col("max_v"), 6).as("max_v"),
        round(col("sum_v"), 6).as("sum_v"),
        round(col("median_v"), 6).as("median_v"),
        round(col("abs_energy"), 6).as("abs_energy"))
    },
    Some(s"""
      SELECT user_id, count(value) AS n,
             round(${microAvgSql("value")}, 6) AS mean_v,
             round(stddev_pop(value), 6) AS std_v,
             round(min(value), 6) AS min_v,
             round(max(value), 6) AS max_v,
             round(${OracleExact.decSumSql("value")}, 6) AS sum_v,
             round(median(value), 6) AS median_v,
             round(${OracleExact.decSumSql("value * value")}, 6) AS abs_energy
      FROM events GROUP BY user_id
    """),
  )

  // ---------------------------------------------------------------- §2.2/26
  val tsChange: Q = Q(
    "ts_features_change",
    (s, dir) => {
      val e = Tables.events(s, dir).select(
        col("user_id"), col("ts"), col("event_id"), col("value"))
      val f = TsFeatures.change(e, "user_id", Seq("ts", "event_id"), "value")
      f.select(col("user_id"),
        round(col("mean_abs_change"), 6).as("mean_abs_change"),
        round(col("mean_change"), 6).as("mean_change"),
        round(col("autocorr_lag1"), 6).as("autocorr_lag1"))
    },
    Some(s"""
      WITH lagged AS (
        SELECT user_id, value AS v,
               lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev,
               avg(value) OVER (PARTITION BY user_id) AS mu
        FROM events)
      SELECT user_id,
             round(${microAvgSql("abs(v - prev)")}, 6) AS mean_abs_change,
             round(${microAvgSql("v - prev")}, 6) AS mean_change,
             round(sum((v - mu) * (prev - mu)) / ((count(*) - 1) * var_pop(v)), 6)
               AS autocorr_lag1
      FROM lagged GROUP BY user_id
    """),
  )

  // ---------------------------------------------------------------- §2.2/27
  val tsTrend: Q = Q(
    "ts_features_trend",
    (s, dir) => {
      val e = Tables.events(s, dir).select(
        col("user_id"), col("ts"), col("event_id"), col("value"))
      val f = TsFeatures.trend(e, "user_id", Seq("ts", "event_id"), "value")
      f.select(col("user_id"),
        round(col("trend_slope"), 6).as("trend_slope"),
        round(col("trend_intercept"), 6).as("trend_intercept"))
    },
    Some(s"""
      WITH indexed AS (
        SELECT user_id, value AS v,
               (row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1)::DOUBLE
                 AS idx
        FROM events)
      SELECT user_id,
             round((count(v) * $trendSxySql - $trendSxSql * $trendSySql) /
                   (count(v) * $trendSx2Sql - $trendSxSql * $trendSxSql), 6)
               AS trend_slope,
             round(($trendSySql - ((count(v) * $trendSxySql - $trendSxSql * $trendSySql) /
                   (count(v) * $trendSx2Sql - $trendSxSql * $trendSxSql)) * $trendSxSql) /
                   count(v), 6) AS trend_intercept
      FROM indexed GROUP BY user_id
    """),
  )

  // --------------------------------------------------------------- §2.2/27b
  val tsDist: Q = Q(
    "ts_features_dist",
    (s, dir) => {
      val e = Tables.events(s, dir).select(
        col("user_id"), col("ts"), col("event_id"), col("value"))
      val f = TsFeatures.dist(e, "user_id", Seq("ts"), "value")
      f.select(col("user_id"),
        round(col("skewness"), 6).as("skewness"),
        round(col("kurtosis"), 6).as("kurtosis"),
        col("count_above_mean"), col("count_below_mean"),
        round(col("first_v"), 6).as("first_v"),
        round(col("last_v"), 6).as("last_v"),
        round(col("range_v"), 6).as("range_v"))
    },
    Some(s"""
      WITH mu AS (SELECT user_id, ${microAvgSql("value")} AS mu
                  FROM events GROUP BY user_id),
      dd AS (
        SELECT e.user_id, e.ts, e.value AS v, mu.mu AS mu, e.value - mu.mu AS d
        FROM events e JOIN mu ON e.user_id = mu.user_id),
      c AS (
        SELECT user_id,
               avg(d*d) AS c2, avg(d*d*d) AS c3, avg(d*d*d*d) AS c4,
               sum(CASE WHEN v > mu THEN 1 ELSE 0 END)::BIGINT AS count_above_mean,
               sum(CASE WHEN v < mu THEN 1 ELSE 0 END)::BIGINT AS count_below_mean,
               arg_min(v, ts) AS first_v,
               arg_max(v, ts) AS last_v,
               max(v) - min(v) AS range_v
        FROM dd GROUP BY user_id)
      SELECT user_id,
             round(c3 / pow(c2, 1.5), 6) AS skewness,
             round(c4 / (c2 * c2) - 3, 6) AS kurtosis,
             count_above_mean, count_below_mean,
             round(first_v, 6) AS first_v,
             round(last_v, 6) AS last_v,
             round(range_v, 6) AS range_v
      FROM c
    """),
  )

  // --------------------------------------------------------------- §2.2/27c
  /** (feature name, SQL aggregate over the window-enriched CTE) —
    * mirrors TsFeatures.extract exactly; `n`/counts stay unrounded.
    */
  private val ac1Sql = "sum((v - mu) * (prev - mu)) / ((count(*) - 1) * var_pop(v))"
  private val ac2Sql = "sum((v - mu) * (prev2 - mu)) / ((count(*) - 2) * var_pop(v))"
  private val ac3Sql = "sum((v - mu) * (prev3 - mu)) / ((count(*) - 3) * var_pop(v))"
  private val ac4Sql = "sum((v - mu) * (prev4 - mu)) / ((count(*) - 4) * var_pop(v))"
  private def fftAbsRawSql(k: Int): String = {
    val re = s"sum(v * cos(2 * pi() * $k * idx / cnt))"
    val im = s"sum(v * sin(2 * pi() * $k * idx / cnt))"
    s"sqrt(($re) * ($re) + ($im) * ($im))"
  }
  private def fftAbsSql(k: Int): String = s"round(${fftAbsRawSql(k)}, 6)"
  // AR(1) OLS moments (mirror TsFeatures.ar1Fit)
  private val ar1SxSql = "sum(prev::DECIMAL(18,6))::DOUBLE"
  private val ar1SySql =
    "sum((CASE WHEN prev IS NOT NULL THEN v END)::DECIMAL(18,6))::DOUBLE"
  private val ar1SlopeSql =
    "(count(prev)::DOUBLE * sum((prev * v)::DECIMAL(28,6))::DOUBLE" +
      s" - $ar1SxSql * $ar1SySql) / " +
      "(count(prev)::DOUBLE * sum((prev * prev)::DECIMAL(28,6))::DOUBLE" +
      s" - $ar1SxSql * $ar1SxSql)"
  private def imqSql(q: Double): String =
    s"round(min(CASE WHEN cabs >= $q * sabs THEN (idx + 1) / cnt END), 6)"

  /** Pearson r vs Benford's law over the 9 first-digit frequencies —
    * identical shortcut arithmetic and literal constants to the Spark
    * aggregation (TsFeatures.BenfordP / BenfordDenom).
    */
  private val benfordSql: String = {
    val cs = (1 to 9).map(d => s"sum(CASE WHEN bd = $d THEN 1 ELSE 0 END)")
    val p = cs.map(c => s"($c::DOUBLE / count(bd))")
    val spb = p.zip(graft.operators.TsFeatures.BenfordP)
      .map { case (pc, b) => s"($pc * $b)" }.mkString(" + ")
    val sp2 = p.map(pc => s"($pc * $pc)").mkString(" + ")
    s"round((9.0 * ($spb) - 1) / sqrt((9.0 * ($sp2) - 1) * " +
      s"${graft.operators.TsFeatures.BenfordDenom}), 6)"
  }

  /** ordering-pattern id of the (prev2, prev, v) triple — the same
    * three <= comparisons the Spark expression folds into bits.
    */
  private val pidSql =
    "(CASE WHEN prev2 IS NOT NULL THEN " +
      "(CASE WHEN prev2 <= prev THEN 4 ELSE 0 END) + " +
      "(CASE WHEN prev <= v THEN 2 ELSE 0 END) + " +
      "(CASE WHEN prev2 <= v THEN 1 ELSE 0 END) END)"

  /** -Σ p·ln(p) over the 8 pattern ids, identical left-associated term
    * sum to the Spark aggregation (impossible ids count 0).
    */
  private val permEntropySql: String = (0 to 7).map { k =>
    val c = s"sum(CASE WHEN $pidSql = $k THEN 1 ELSE 0 END)"
    s"(CASE WHEN $c > 0 THEN (-($c::DOUBLE / count(prev2))) * ln($c::DOUBLE / count(prev2)) ELSE 0.0 END)"
  }.mkString(" + ")

  private val featSql: Seq[(String, String)] = Seq(
    "n" -> "count(v)",
    "mean_v" -> s"round(${microAvgSql("v")}, 6)",
    "std_v" -> "round(stddev_pop(v), 6)",
    "min_v" -> "round(min(v), 6)",
    "max_v" -> "round(max(v), 6)",
    "sum_v" -> "round(sum(v), 6)",
    "median_v" -> "round(median(v), 6)",
    "abs_energy" -> "round(sum((v*v)::DECIMAL(28,8)), 6)::DOUBLE",
    "mean_abs_change" -> s"round(${microAvgSql("abs(v - prev)")}, 6)",
    "mean_change" -> s"round(${microAvgSql("v - prev")}, 6)",
    "autocorr_lag1" -> s"round($ac1Sql, 6)",
    // closed-form trend over the integer index (see TsFeatures): exact
    // Σx/Σx² from n, decimal Σy/Σxy — engine-identical doubles, unlike
    // regr_* whose moment accumulation differs in the low bits
    "trend_slope" ->
      (s"round((count(v) * $trendSxySql - $trendSxSql * $trendSySql) / " +
        s"(count(v) * $trendSx2Sql - $trendSxSql * $trendSxSql), 6)"),
    "trend_intercept" ->
      (s"round(($trendSySql - ((count(v) * $trendSxySql - $trendSxSql * $trendSySql) / " +
        s"(count(v) * $trendSx2Sql - $trendSxSql * $trendSxSql)) * $trendSxSql) / " +
        "count(v), 6)"),
    // central moments around the window-enriched mu (order-stable at 6 dp;
    // mirrors TsFeatures.extract's avg((v-mu)^k))
    "skewness" -> ("round(avg((v-mu)*(v-mu)*(v-mu)) / " +
      "pow(avg((v-mu)*(v-mu)), 1.5), 6)"),
    "kurtosis" -> ("round(avg((v-mu)*(v-mu)*(v-mu)*(v-mu)) / " +
      "(avg((v-mu)*(v-mu)) * avg((v-mu)*(v-mu))) - 3, 6)"),
    "count_above_mean" -> "sum(CASE WHEN v > mu THEN 1 ELSE 0 END)::BIGINT",
    "count_below_mean" -> "sum(CASE WHEN v < mu THEN 1 ELSE 0 END)::BIGINT",
    "first_v" -> "round(arg_min(v, ts), 6)",
    "last_v" -> "round(arg_max(v, ts), 6)",
    "range_v" -> "round(max(v) - min(v), 6)",
    // round-2 tier (tsfresh feature_calculators)
    "q25" -> "round(quantile_cont(v, 0.25), 6)",
    "q75" -> "round(quantile_cont(v, 0.75), 6)",
    "abs_max" -> "round(max(abs(v)), 6)",
    "cid_ce" -> "round(sqrt(sum((v - prev) * (v - prev))), 6)",
    "n_peaks" -> "sum(CASE WHEN v > prev AND v > nxt THEN 1 ELSE 0 END)::BIGINT",
    "strike_above" -> "coalesce(max(CASE WHEN v > mu THEN alen END), 0)",
    "strike_below" -> "coalesce(max(CASE WHEN v < mu THEN blen END), 0)",
    "energy_ratio_c0" ->
      "round(sum(CASE WHEN idx * 10 < cnt THEN v * v ELSE 0 END) / sum(v * v), 6)",
    "first_loc_max" -> "round(min(CASE WHEN v = mx THEN idx END) / count(v), 6)",
    "last_loc_min" -> "round((max(CASE WHEN v = mn THEN idx END) + 1) / count(v), 6)",
    "ratio_beyond_1sigma" ->
      "round(sum(CASE WHEN abs(v - mu) > sd THEN 1 ELSE 0 END)::DOUBLE / count(v), 6)",
    "mean_2nd_derivative" -> s"round(${microAvgSql("(v - 2 * prev + prev2) / 2")}, 6)",
    // tier 3
    "c3" -> s"round(${microAvgSql("v * prev * prev2")}, 6)",
    "time_reversal_asym" ->
      s"round(${microAvgSql("v * v * prev - prev * prev2 * prev2")}, 6)",
    "n_crossings_mean" -> "sum(CASE WHEN (v > mu) != (prev > mu) THEN 1 ELSE 0 END)::BIGINT",
    "autocorr_lag2" -> s"round($ac2Sql, 6)",
    "binned_entropy" -> s"round(${binnedEntropySql(10)}, 6)",
    // tier 4 (tsfresh partial_autocorrelation / fft_coefficient abs /
    // index_mass_quantile) — Durbin-Levinson over the lag-1/2
    // autocorrelations, fixed-k Goertzel terms, running-|v|-mass index
    "pacf_2" ->
      s"round((($ac2Sql) - ($ac1Sql) * ($ac1Sql)) / (1 - ($ac1Sql) * ($ac1Sql)), 6)",
    "fft_abs_c1" -> fftAbsSql(1),
    "fft_abs_c2" -> fftAbsSql(2),
    "imq_25" -> imqSql(0.25),
    "imq_50" -> imqSql(0.5),
    "imq_75" -> imqSql(0.75),
    // tier 5 (tsfresh permutation_entropy d=3 / root_mean_square /
    // variance / has_duplicate_max|min / large_standard_deviation
    // r=0.25 / symmetry_looking r=0.05)
    "perm_entropy_3" -> s"round($permEntropySql, 6)",
    "rms_v" -> "round(sqrt(avg(v*v)), 6)",
    "variance_v" -> s"round(${microAvgSql("(v - mu) * (v - mu)")}, 6)",
    "has_dup_max" -> "(sum(CASE WHEN v = mx THEN 1 ELSE 0 END) > 1)::INT",
    "has_dup_min" -> "(sum(CASE WHEN v = mn THEN 1 ELSE 0 END) > 1)::INT",
    "large_std" -> "(stddev_pop(v) > 0.25 * (max(v) - min(v)))::INT",
    "symmetry_look" ->
      "(abs(avg(v) - quantile_cont(v, 0.5)) < 0.05 * (max(v) - min(v)))::INT",
    "benford_corr" -> benfordSql,
    "mean_3_abs_max" -> ("round(CASE WHEN count(v) >= 3 THEN " +
      "sum(CASE WHEN arn <= 3 THEN abs(v) ELSE 0.0 END) / 3 END, 6)"),
    // tier 6: change_quantiles(0.2, 0.8, isabs, mean) over the
    // window-enriched corridor bounds; fft_aggregated centroid/variance
    // over the truncated k=0..8 spectrum
    "change_q_20_80" -> s"round(coalesce(${microAvgSql(
      "CASE WHEN prev IS NOT NULL AND v >= cql AND v <= cqh " +
        "AND prev >= cql AND prev <= cqh THEN abs(v - prev) END")}, 0.0), 6)",
    // the truncated k=0..8 spectrum as features; the aggregated
    // moments/entropy are DERIVED from these rounded aliases
    "fft_abs_c0" -> "round(abs(sum(v)), 6)",
    "fft_abs_c3" -> fftAbsSql(3),
    "fft_abs_c4" -> fftAbsSql(4),
    "fft_abs_c5" -> fftAbsSql(5),
    "fft_abs_c6" -> fftAbsSql(6),
    "fft_abs_c7" -> fftAbsSql(7),
    "fft_abs_c8" -> fftAbsSql(8),
    // tier 7
    "abs_sum_changes" -> s"round(${OracleExact.decSumSql("abs(v - prev)")}, 6)",
    "variation_coeff" -> s"round(stddev_pop(v) / ${microAvgSql("v")}, 6)",
    "q10" -> "round(quantile_cont(v, 0.1), 6)",
    "q90" -> "round(quantile_cont(v, 0.9), 6)",
    "first_loc_min" -> "round(min(CASE WHEN v = mn THEN idx END) / count(v), 6)",
    "last_loc_max" -> "round((max(CASE WHEN v = mx THEN idx END) + 1) / count(v), 6)",
    "n_crossings_0" -> "sum(CASE WHEN (v > 0) != (prev > 0) THEN 1 ELSE 0 END)::BIGINT",
    // tier 8: AR(1) OLS from exact-decimal moment sums
    "ar1_coeff" -> s"round($ar1SlopeSql, 6)",
    "ar1_intercept" ->
      s"round(($ar1SySql - ($ar1SlopeSql) * $ar1SxSql) / count(prev)::DOUBLE, 6)",
    // tier 9: the lag-3/4 autocorrelation ladder + spectral densities
    // over the same Goertzel grid (spkt_welch_density single-segment
    // boxcar case; fourier_entropy over the normalized k=0..8 spectrum)
    "autocorr_lag3" -> s"round($ac3Sql, 6)",
    "autocorr_lag4" -> s"round($ac4Sql, 6)",
  )

  /** Post-aggregation derived calculators over the ROUNDED lag-1..4
    * autocorrelation aliases (`prefix` = the per-sensor alias prefix):
    * agg_autocorrelation mean/var and the Durbin-Levinson AR(4)
    * coefficients — the identical closed forms the extract kernel
    * (`ExtractKernel`) evaluates, so both engines start from the same
    * 6-dp-rounded r values and run the same double arithmetic.
    */
  private def derivedSql(prefix: String): Seq[(String, String)] = {
    def r(k: Int) = s"${prefix}autocorr_lag$k"
    val a11 = r(1)
    val a22 = s"((${r(2)} - $a11 * ${r(1)}) / (1.0 - $a11 * ${r(1)}))"
    val a21 = s"($a11 - $a22 * $a11)"
    val a33 = s"((${r(3)} - ($a21 * ${r(2)} + $a22 * ${r(1)})) / " +
      s"(1.0 - ($a21 * ${r(1)} + $a22 * ${r(2)})))"
    val a31 = s"($a21 - $a33 * $a22)"
    val a32 = s"($a22 - $a33 * $a21)"
    val a44 = s"((${r(4)} - ($a31 * ${r(3)} + $a32 * ${r(2)} + $a33 * ${r(1)})) / " +
      s"(1.0 - ($a31 * ${r(1)} + $a32 * ${r(2)} + $a33 * ${r(3)})))"
    val a41 = s"($a31 - $a44 * $a33)"
    val a42 = s"($a32 - $a44 * $a32)"
    val a43 = s"($a33 - $a44 * $a31)"
    // exact integer-micro mean/var (see ExtractKernel: the
    // 2.5e-7-grid mean sits exactly on 6-dp rounding midpoints)
    def m(k: Int) = s"round(${r(k)} * 1e6)"
    val sM = s"(${m(1)} + ${m(2)} + ${m(3)} + ${m(4)})"
    val acMean = s"((CASE WHEN $sM >= 0 THEN floor(($sM + 2) / 4) " +
      s"ELSE -floor((-$sM + 2) / 4) END) / 1e6)"
    // qV >= 0 always (4·Σm² >= (Σm)² over 4 terms) — single half-up form
    val qV = s"(4 * (${m(1)} * ${m(1)} + ${m(2)} * ${m(2)} + " +
      s"${m(3)} * ${m(3)} + ${m(4)} * ${m(4)}) - $sM * $sM)"
    val acVar = s"(floor(($qV * 2 + 16000000.0) / 32000000.0) / 1e6)"
    // spectral family over the rounded k=0..8 |F_k| aliases — the
    // identical left-associated chains ExtractKernel evaluates
    def fa(k: Int) = s"${prefix}fft_abs_c$k"
    val fftMass = (0 to 8).map(fa).mkString(" + ")
    val fftM1 = (1 to 8).map(k => s"${fa(k)} * ${k.toDouble}").mkString(" + ")
    val fftM2 = (1 to 8).map(k => s"${fa(k)} * ${(k * k).toDouble}").mkString(" + ")
    val fftCentroid = s"(($fftM1) / ($fftMass))"
    val fftEntropy = (0 to 8).map { k =>
      s"(CASE WHEN ${fa(k)} > 0 THEN (-(${fa(k)} / ($fftMass))) * " +
        s"ln(${fa(k)} / ($fftMass)) ELSE 0.0 END)"
    }.mkString(" + ")
    Seq(
      "agg_autocorr_mean" -> s"round($acMean, 6)",
      "agg_autocorr_var" -> s"round($acVar, 6)",
      "ar4_phi1" -> s"round($a41, 6)",
      "ar4_phi2" -> s"round($a42, 6)",
      "ar4_phi3" -> s"round($a43, 6)",
      "ar4_phi4" -> s"round($a44, 6)",
      // spkt_welch_density |F_k|²/n from the ROUNDED |F_k| alias —
      // both engines square the identical 6-dp double (the raw form
      // amplifies order-dependent trig-sum low bits past 6 dp)
      "welch_psd_c1" ->
        s"round(${prefix}fft_abs_c1 * ${prefix}fft_abs_c1 / ${prefix}n, 6)",
      "welch_psd_c2" ->
        s"round(${prefix}fft_abs_c2 * ${prefix}fft_abs_c2 / ${prefix}n, 6)",
      "fft_agg_centroid" -> s"round($fftCentroid, 6)",
      "fft_agg_variance" ->
        s"round(($fftM2) / ($fftMass) - $fftCentroid * $fftCentroid, 6)",
      "fourier_entropy" -> s"round($fftEntropy, 6)",
    )
  }

  private val derivedNames: Seq[String] = derivedSql("").map(_._1)
  /** every feature column the extract emits: base aggregates + derived */
  private val allFeatNames: Seq[String] = featSql.map(_._1) ++ derivedNames

  /** Oracle-side feature emission with the SAME signed-zero
    * normalization the Spark selects apply (+ 0.0 on double features):
    * float == treats -0.0 and 0.0 as equal but the hash does not, and
    * sf1's 3-point windows produce exact -0.0 autocorrelations (r15).
    * `base` is the unprefixed feature name for the int lookup.
    */
  private def emitF(outName: String, sql: String, base: String = ""): String = {
    val key = if (base.nonEmpty) base else outName
    if (intFeats(key)) s"$sql AS $outName" else s"($sql) + 0.0 AS $outName"
  }

  /** -Σ p·ln(p) over a 10-bin equal-width histogram, written as the
    * IDENTICAL left-associated term sum the Spark aggregation uses.
    */
  private def binnedEntropySql(bins: Int): String = {
    val bin = s"(CASE WHEN mx > mn THEN least(floor((v - mn) / ((mx - mn) / $bins)), ${bins - 1}) ELSE 0 END)"
    (0 until bins).map { b =>
      val c = s"sum(CASE WHEN $bin = $b THEN 1 ELSE 0 END)"
      s"(CASE WHEN $c > 0 THEN (-($c::DOUBLE / count(v))) * ln($c::DOUBLE / count(v)) ELSE 0.0 END)"
    }.mkString(" + ")
  }

  /** integral feature columns that skip the 6-dp rounding */
  private val intFeats =
    Set("n", "count_above_mean", "count_below_mean", "n_peaks",
      "strike_above", "strike_below", "n_crossings_mean", "n_crossings_0",
      "has_dup_max", "has_dup_min", "large_std", "symmetry_look")

  /** The window-enrichment CTE chain, parameterized by the SOURCE
    * relation and the partition key list so the windowed variant
    * (partition by user_id, bucket) reuses it verbatim.
    */
  private def enrichedCteFor(src: String, pk: String) = s"""
      WITH e0 AS (
        SELECT $pk, ts, value AS v,
               lag(value) OVER w AS prev,
               lag(value, 2) OVER w AS prev2,
               lag(value, 3) OVER w AS prev3,
               lag(value, 4) OVER w AS prev4,
               lead(value) OVER w AS nxt,
               avg(value) OVER pa AS mu,
               stddev_pop(value) OVER pa AS sd,
               max(value) OVER pa AS mx,
               min(value) OVER pa AS mn,
               count(value) OVER pa AS cnt,
               sum(abs(value)) OVER pa AS sabs,
               round(quantile_cont(value, 0.2) OVER pa, 6) AS cql,
               round(quantile_cont(value, 0.8) OVER pa, 6) AS cqh,
               row_number() OVER w AS rn,
               (row_number() OVER w - 1)::DOUBLE AS idx,
               CASE WHEN abs(value) > 0 THEN
                 floor(abs(value) / pow(10.0, floor(log10(abs(value))))) END AS bd,
               row_number() OVER wa AS arn
        FROM $src
        WINDOW w AS (PARTITION BY $pk ORDER BY ts),
               wa AS (PARTITION BY $pk ORDER BY abs(value) DESC, ts),
               pa AS (PARTITION BY $pk)),
      e AS (
        SELECT e0.*,
               rn - coalesce(last_value(CASE WHEN NOT (v > mu) THEN rn END IGNORE NULLS)
                 OVER wb, 0) AS alen,
               rn - coalesce(last_value(CASE WHEN NOT (v < mu) THEN rn END IGNORE NULLS)
                 OVER wb, 0) AS blen,
               sum(abs(v)) OVER wb AS cabs
        FROM e0
        WINDOW wb AS (PARTITION BY $pk ORDER BY ts
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))"""

  private val enrichedCte = enrichedCteFor("events", "user_id")

  private def roundedExtract(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val e = Tables.events(s, dir).select(col("user_id"), col("ts"), col("value"))
    val f = TsFeatures.extract(e, "user_id", Seq("ts"), "value")
    // + 0.0 normalizes IEEE signed zero: at sf1 a 3-point window's
    // autocorrelation can be an exact -0.0 on one engine and +0.0 on
    // the other — float == calls them equal, the hash does not (r15)
    f.select(col("user_id") +: allFeatNames.map { name =>
      if (intFeats(name)) col(name)
      else (round(col(name), 6) + lit(0.0)).as(name)
    }: _*)
  }

  /** The full tsfresh-style feature matrix in one shuffle. */
  val tsExtract: Q = Q(
    "ts_features_extract",
    (s, dir) => roundedExtract(s, dir),
    Some(s"""
      $enrichedCte,
      f0 AS (
        SELECT user_id,
               ${featSql.map { case (n, sql) => emitF(n, sql) }.mkString(",\n               ")}
        FROM e GROUP BY user_id)
      SELECT f0.*,
             ${derivedSql("").map { case (n, sql) => emitF(n, sql) }.mkString(",\n             ")}
      FROM f0
    """),
  )

  /** WINDOWED extraction: the full calculator matrix per (user,
    * 7-day tumbling bucket) — rolling features for online-ML
    * materialization. Same one-Exchange plan as ts_features_extract,
    * on the composite (user_id, bucket) key; the bucket is integer
    * nanosecond division on both engines.
    */
  val tsWindowed: Q = Q(
    "ts_features_windowed",
    (s, dir) => {
      val e = Tables.events(s, dir).select(col("user_id"), col("ts"), col("value"))
      val f = TsFeatures.extractWindowed(e, "user_id", "ts", Seq("ts"), "value",
        widthNanos = 604800000000000L)
      // min-support filter (n >= 3): a 2-point window puts |v - mu|
      // EXACTLY on the 1-sigma boundary, where the strict comparison
      // resolves by engine-specific low bits — and 1-2 point windows
      // are degenerate features anyway
      f.where(col("n") >= 3)
        .select(col("user_id") +: col("bucket") +: allFeatNames.map { name =>
          if (intFeats(name)) col(name)
          else (round(col(name), 6) + lit(0.0)).as(name)
        }: _*)
    },
    Some(s"""
      ${enrichedCteFor(
        "(SELECT user_id, epoch_ns(ts) // 604800000000000 AS bucket, ts, value FROM events)",
        "user_id, bucket")},
      f0 AS (
        SELECT user_id, bucket,
               ${featSql.map { case (n, sql) => emitF(n, sql) }.mkString(",\n               ")}
        FROM e GROUP BY user_id, bucket
        HAVING count(v) >= 3)
      SELECT f0.*,
             ${derivedSql("").map { case (n, sql) => emitF(n, sql) }.mkString(",\n             ")}
      FROM f0
    """),
  )

  // --------------------------------------------------------------- §2.2/27d
  /** Three sensor columns derived from events.value with EXACT IEEE
    * arithmetic only (*, +, abs are correctly rounded everywhere, so
    * both engines hold bit-identical doubles). events is the fixture
    * because (user_id, ts) is unique — lineitem's l_linenumber has
    * duplicate values per order in the synthetic data, and tie order
    * under lag()/row_number() is engine-arbitrary.
    */
  private val multiVals = Seq("va", "vb", "vc")

  /** One per-value-column copy of the window-enrichment CTE chain, with
    * the CANONICAL intermediate names (v/prev/mu/...) so the shared
    * `featSql` calculators apply verbatim.
    */
  private def multiSensorCte(vc: String): String = s"""
      e0_$vc AS (
        SELECT user_id AS k, ts, $vc AS v,
               lag($vc) OVER w AS prev,
               lag($vc, 2) OVER w AS prev2,
               lag($vc, 3) OVER w AS prev3,
               lag($vc, 4) OVER w AS prev4,
               lead($vc) OVER w AS nxt,
               avg($vc) OVER pa AS mu,
               stddev_pop($vc) OVER pa AS sd,
               max($vc) OVER pa AS mx,
               min($vc) OVER pa AS mn,
               count($vc) OVER pa AS cnt,
               sum(abs($vc)) OVER pa AS sabs,
               round(quantile_cont($vc, 0.2) OVER pa, 6) AS cql,
               round(quantile_cont($vc, 0.8) OVER pa, 6) AS cqh,
               row_number() OVER w AS rn,
               (row_number() OVER w - 1)::DOUBLE AS idx,
               CASE WHEN abs($vc) > 0 THEN
                 floor(abs($vc) / pow(10.0, floor(log10(abs($vc))))) END AS bd,
               row_number() OVER wa AS arn
        FROM src
        WINDOW w AS (PARTITION BY user_id ORDER BY ts),
               wa AS (PARTITION BY user_id ORDER BY abs($vc) DESC, ts),
               pa AS (PARTITION BY user_id)),
      e_$vc AS (
        SELECT e0_$vc.*,
               rn - coalesce(last_value(CASE WHEN NOT (v > mu) THEN rn END IGNORE NULLS)
                 OVER wb, 0) AS alen,
               rn - coalesce(last_value(CASE WHEN NOT (v < mu) THEN rn END IGNORE NULLS)
                 OVER wb, 0) AS blen,
               sum(abs(v)) OVER wb AS cabs
        FROM e0_$vc
        WINDOW wb AS (PARTITION BY k ORDER BY ts
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      f0_$vc AS (
        SELECT k,
               ${featSql.map { case (n, sql) => emitF(s"${vc}_$n", sql, n) }
                 .mkString(",\n               ")}
        FROM e_$vc GROUP BY k),
      f_$vc AS (
        SELECT f0_$vc.*,
               ${derivedSql(s"${vc}_").map { case (n, sql) => emitF(s"${vc}_$n", sql, n) }
                 .mkString(",\n               ")}
        FROM f0_$vc)"""

  /** Multi-sensor extraction (reference preprocessor.py:558-638
    * extracts over the WHOLE frame): the full 82-feature matrix for
    * every value column in the one sorted per-series pass — same
    * single shuffle as one sensor. The oracle replays one enrichment CTE per
    * column (DuckDB has no such fusion) and joins the per-column
    * matrices; degenerate series divide 0/0 → NULL on both engines
    * (Spark try_divide; DuckDB division by zero is NULL).
    */
  val tsMulti: Q = Q(
    "ts_features_multi",
    (s, dir) => {
      val e = Tables.events(s, dir).select(col("user_id"), col("ts"),
        col("value").as("va"),
        (col("value") * lit(0.5) + lit(3.25)).as("vb"),
        abs(col("value")).as("vc"))
      val f = TsFeatures.extractMulti(e, "user_id", Seq("ts"), multiVals)
      f.select(col("user_id") +: multiVals.flatMap(vc => allFeatNames.map { name =>
        val c = s"${vc}_$name"
        if (intFeats(name)) col(c)
        else (round(col(c), 6) + lit(0.0)).as(c)
      }): _*)
    },
    Some(s"""
      WITH src AS (
        SELECT user_id, ts, value AS va,
               value * 0.5::DOUBLE + 3.25::DOUBLE AS vb,
               abs(value) AS vc
        FROM events),
      ${multiVals.map(multiSensorCte).mkString(",\n")}
      SELECT k AS user_id,
             ${multiVals.flatMap(vc => allFeatNames.map(n => s"${vc}_$n"))
               .mkString(",\n             ")}
      FROM f_va
      JOIN f_vb USING (k)
      JOIN f_vc USING (k)
    """),
  )

  /** Relevance filtering vs a per-series target (error-event count):
    * per-feature Pearson significance test + Benjamini–Hochberg FDR at
    * alpha=0.05, with the reference's keep-everything fallback when no
    * feature survives (preprocessor.py:629-638). The oracle replays the
    * identical normal-approximation p-value arithmetic and BH cutoff.
    */
  val tsRelevant: Q = Q(
    "ts_features_relevant",
    (s, dir) => {
      val labels = Tables.events(s, dir).groupBy(col("user_id"))
        .agg(sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("y"))
      // relevance battery stays on the BASE aggregate features — the
      // derived post-agg calculators (agg_autocorr/ar4) are arithmetic
      // combinations of autocorr_lag1..4 and would only add collinear
      // rows to the correlation matrix
      val baseFeats = roundedExtract(s, dir)
        .select(col("user_id") +: featSql.map { case (n, _) => col(n) }: _*)
      val rel = TsFeatures.featureRelevance(
        baseFeats, labels, "user_id", "y", alpha = 0.05)
      rel.select(col("feature"), round(col("corr"), 6).as("corr"),
        round(col("p_value"), 6).as("p_value"), col("kept"))
    },
    Some {
      val corrRows = featSql.map { case (n, _) =>
        s"""SELECT '$n' AS feature,
            covar_samp($n, y) / nullif(stddev_samp($n) * stddev_samp(y), 0) AS r
            FROM fy"""
      }.mkString("\n      UNION ALL\n      ")
      s"""
      $enrichedCte,
      f AS (
        SELECT user_id,
               ${featSql.map { case (n, sql) => s"$sql AS $n" }.mkString(",\n               ")}
        FROM e GROUP BY user_id),
      lab AS (
        SELECT user_id, sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS y
        FROM events GROUP BY user_id),
      fy AS MATERIALIZED (
        SELECT f.*, lab.y FROM f JOIN lab ON f.user_id = lab.user_id),
      nn AS (SELECT count(*) AS n FROM fy),
      c AS MATERIALIZED ($corrRows),
      pv0 AS (
        SELECT feature, r,
               abs(r * sqrt((nn.n - 2) / greatest(1.0 - r * r, 1e-300))) AS at
        FROM c, nn WHERE r IS NOT NULL AND NOT isnan(r)),
      pv1 AS (SELECT feature, r, at, 1.0 / (1.0 + 0.2316419 * at) AS k FROM pv0),
      pv AS (
        SELECT feature, r,
               2.0 * (exp(-at * at / 2) / sqrt(2 * pi())) *
               (k * (0.319381530 + k * (-0.356563782 + k * (1.781477937 +
                 k * (-1.821255978 + k * 1.330274429))))) AS p
        FROM pv1),
      ranked AS (
        SELECT feature, p, row_number() OVER (ORDER BY p, feature) AS rk FROM pv),
      mm AS (SELECT count(*) AS m FROM pv),
      ks AS (
        SELECT coalesce(max(CASE WHEN p <= rk * 0.05 / mm.m THEN rk END), 0) AS k
        FROM ranked, mm)
      SELECT c.feature,
             round(c.r, 6) AS corr,
             round(ranked.p, 6) AS p_value,
             CASE WHEN (SELECT k FROM ks) = 0 THEN true
                  ELSE coalesce(ranked.rk <= (SELECT k FROM ks), false) END AS kept
      FROM c LEFT JOIN ranked ON c.feature = ranked.feature
      """
    },
  )

  /** Relevance filtering for a CLASSIFICATION target — tsfresh's
    * per-type battery (`calculate_relevance_table` behind
    * preprocessor.py:630): Mann-Whitney U for real features, Fisher's
    * exact for binary features, one BH pass over the combined
    * p-values. Target: user has an above-average error count. Every
    * feature rides exact arithmetic (decimal sums / integer counts) so
    * value ties and rank order agree bit-for-bit across engines; the
    * oracle replays the grouped rank sums, the A&S normal tail, the
    * hypergeometric weight recurrence (recursive CTE + ordered running
    * sums = the driver's ascending-k folds), and the BH cutoff.
    */
  val tsRelevantCls: Q = Q(
    "ts_features_relevant_cls",
    (s, dir) => {
      val e = Tables.events(s, dir)
      val dec = sum(col("value").cast("decimal(18,6)")).cast("double")
      val perUser = e.groupBy(col("user_id")).agg(
        count(lit(1)).as("cnt"),
        dec.as("sum_v"),
        max(col("value")).as("max_v"),
        (dec / count(lit(1))).as("mean_v"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("err"),
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("clicks"),
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("views"))
      val tot = perUser.agg(sum(col("err")).as("se"), count(lit(1)).as("c")).head()
      val th = tot.getAs[Long]("se").toDouble / tot.getAs[Long]("c")
      val f = perUser.select(col("user_id"),
        col("cnt").cast("double").as("cnt"),
        col("sum_v"), col("max_v"), col("mean_v"),
        (col("clicks") > col("views")).cast("int").cast("double").as("click_gt_view"),
        (col("cnt") % 2).cast("double").as("odd_events"),
        (col("err") > lit(th)).cast("long").as("y"))
      TsFeatures.featureRelevanceBinary(f,
        Seq("cnt", "sum_v", "max_v", "mean_v"),
        Seq("click_gt_view", "odd_events"), "y", alpha = 0.05)
        .select(col("feature"), col("test"),
          round(col("p_value"), 6).as("p_value"), col("kept"))
    },
    Some(s"""
      WITH RECURSIVE pu AS (
        SELECT user_id, count(*) AS cnt,
               sum(value::DECIMAL(18,6))::DOUBLE AS sum_v,
               max(value) AS max_v,
               sum(value::DECIMAL(18,6))::DOUBLE / count(*) AS mean_v,
               sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS err,
               sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS clicks,
               sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS views
        FROM events GROUP BY user_id),
      th AS (SELECT sum(err)::DOUBLE / count(*) AS th FROM pu),
      f AS (
        SELECT user_id, cnt::DOUBLE AS cnt, sum_v, max_v, mean_v,
               (clicks > views)::INT::DOUBLE AS click_gt_view,
               (cnt % 2)::DOUBLE AS odd_events,
               (err > th.th)::INT AS y
        FROM pu, th),
      long0 AS (
        SELECT 'cnt' AS f, cnt AS x, y FROM f
        UNION ALL SELECT 'sum_v', sum_v, y FROM f
        UNION ALL SELECT 'max_v', max_v, y FROM f
        UNION ALL SELECT 'mean_v', mean_v, y FROM f),
      long AS (SELECT * FROM long0 WHERE x IS NOT NULL AND y IS NOT NULL),
      g AS (SELECT f, x, count(*) AS nx, sum(y) AS mx FROM long GROUP BY f, x),
      cum AS (
        SELECT f, nx, mx,
               coalesce(sum(nx) OVER (PARTITION BY f ORDER BY x
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cx
        FROM g),
      mw0 AS (
        SELECT f, sum(mx * (cx + (nx + 1)::DOUBLE / 2)) AS r1,
               sum(mx) AS n1, sum(nx) AS n,
               sum(nx * nx * nx - nx) AS ties
        FROM cum GROUP BY f),
      mw1 AS (
        SELECT f, n1, n,
               r1 - n1::DOUBLE * (n1 + 1) / 2.0 AS u1,
               n1::DOUBLE * (n - n1) / 2.0 AS mu,
               n1::DOUBLE * (n - n1) / 12.0 *
                 ((n + 1)::DOUBLE - ties::DOUBLE / (n::DOUBLE * (n - 1))) AS s2
        FROM mw0),
      mw2 AS (
        SELECT f, n1, n, s2,
               greatest(abs(u1 - mu) - 0.5, 0) / sqrt(s2) AS z
        FROM mw1 WHERE s2 > 0 AND n1 > 0 AND n1 < n),
      mw3 AS (SELECT f, z, 1.0 / (1.0 + 0.2316419 * z) AS k FROM mw2),
      mwp0 AS (
        SELECT f,
               2.0 * (exp(-z * z / 2) / sqrt(2 * pi())) *
               (k * (0.319381530 + k * (-0.356563782 + k * (1.781477937 +
                 k * (-1.821255978 + k * 1.330274429))))) AS p
        FROM mw3),
      mwp AS (
        SELECT m.f, coalesce(least(1.0::DOUBLE, p.p), 1.0::DOUBLE) AS p
        FROM mw0 m LEFT JOIN mwp0 p ON m.f = p.f),
      bl0 AS (
        SELECT 'click_gt_view' AS f, click_gt_view AS x, y FROM f
        UNION ALL SELECT 'odd_events', odd_events, y FROM f),
      bl AS (SELECT * FROM bl0 WHERE x IS NOT NULL AND y IS NOT NULL),
      bg AS (SELECT f, x, count(*) AS nx, sum(y) AS mx FROM bl GROUP BY f, x),
      bm AS (
        SELECT f,
               sum(CASE WHEN x = 1 THEN mx ELSE 0 END)::BIGINT AS n11,
               sum(CASE WHEN x = 1 THEN nx - mx ELSE 0 END)::BIGINT AS n10,
               sum(CASE WHEN x = 0 THEN mx ELSE 0 END)::BIGINT AS n01,
               sum(CASE WHEN x = 0 THEN nx - mx ELSE 0 END)::BIGINT AS n00
        FROM bg GROUP BY f),
      bm2 AS (
        SELECT f, n11, n11 + n10 AS r1, n11 + n01 AS c1,
               n11 + n10 + n01 + n00 AS n,
               greatest(0, (n11 + n10) + (n11 + n01)
                 - (n11 + n10 + n01 + n00)) AS kmin,
               least(n11 + n10, n11 + n01) AS kmax
        FROM bm),
      bm3 AS (
        SELECT *, least(kmax, greatest(((r1 + 1) * (c1 + 1)) // (n + 2), kmin))
          AS kmode
        FROM bm2),
      -- hypergeometric weight chain, BATCHED 64 steps per recursive
      -- iteration (r16): the one-step-per-iteration recursion paid
      -- ~30 ms of recursive-CTE overhead per k and took 198 s for a
      -- ~6800-wide margin at sf1. Each anchor row advances 64 ks with
      -- one list_reduce whose fold replays the driver loop's EXACT
      -- multiply-then-divide order (acc*num/den per step, factors
      -- converted to double first), and the per-k expansion re-folds
      -- the same prefix chain from the batch anchor — every weight is
      -- the bit-identical double of the one-step recursion (probed).
      wup AS (
        SELECT f, kmode AS k, 1.0::DOUBLE AS w FROM bm3
        UNION ALL
        SELECT wup.f, wup.k + 64,
               list_reduce(
                 list_prepend(wup.w, list_transform(
                   generate_series(wup.k + 1, wup.k + 64), x -> x::DOUBLE)),
                 (acc, x) -> (acc * ((b.r1 - (x - 1)) * (b.c1 - (x - 1))))
                   / (x * (b.n - b.r1 - b.c1 + x)))
        FROM wup JOIN bm3 b ON wup.f = b.f WHERE wup.k + 64 <= b.kmax),
      wupx AS (
        SELECT u.f, t.j AS k,
               CASE WHEN t.j = u.k THEN u.w
                    ELSE list_reduce(
                      list_prepend(u.w, list_transform(
                        generate_series(u.k + 1, t.j), x -> x::DOUBLE)),
                      (acc, x) -> (acc * ((b.r1 - (x - 1)) * (b.c1 - (x - 1))))
                        / (x * (b.n - b.r1 - b.c1 + x))) END AS w
        FROM wup u JOIN bm3 b ON u.f = b.f,
             unnest(generate_series(u.k, least(u.k + 63, b.kmax))) AS t(j)),
      wdn AS (
        SELECT f, kmode AS k, 1.0::DOUBLE AS w FROM bm3
        UNION ALL
        SELECT wdn.f, wdn.k - 64,
               list_reduce(
                 list_prepend(wdn.w, list_transform(
                   generate_series(wdn.k - 1, wdn.k - 64, -1), x -> x::DOUBLE)),
                 (acc, x) -> (acc * ((x + 1) * (b.n - b.r1 - b.c1 + x + 1)))
                   / ((b.r1 - x) * (b.c1 - x)))
        FROM wdn JOIN bm3 b ON wdn.f = b.f WHERE wdn.k - 64 >= b.kmin),
      wdnx AS (
        SELECT d.f, t.j AS k,
               list_reduce(
                 list_prepend(d.w, list_transform(
                   generate_series(d.k - 1, t.j, -1), x -> x::DOUBLE)),
                 (acc, x) -> (acc * ((x + 1) * (b.n - b.r1 - b.c1 + x + 1)))
                   / ((b.r1 - x) * (b.c1 - x))) AS w
        FROM wdn d JOIN bm3 b ON d.f = b.f,
             unnest(generate_series(greatest(d.k - 64, b.kmin), d.k - 1)) AS t(j)
        WHERE d.k > b.kmin),
      wr AS (
        SELECT * FROM wupx
        UNION ALL
        SELECT * FROM wdnx),
      wobs AS (
        SELECT wr.f, wr.w AS wobs
        FROM wr JOIN bm2 b ON wr.f = b.f AND wr.k = b.n11),
      wcum AS (
        SELECT wr.f, wr.k, wr.w,
               sum(wr.w) OVER (PARTITION BY wr.f ORDER BY wr.k
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tot,
               sum(CASE WHEN wr.w <= wobs.wobs * (1 + 1e-7)
                        THEN wr.w ELSE 0.0::DOUBLE END)
                 OVER (PARTITION BY wr.f ORDER BY wr.k
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mass
        FROM wr JOIN wobs ON wr.f = wobs.f),
      fp AS (
        SELECT f, least(1.0::DOUBLE, max_by(mass, k) / max_by(tot, k)) AS p
        FROM wcum GROUP BY f),
      allp AS (
        SELECT f AS feature, 'mann_whitney_u' AS test, p FROM mwp
        UNION ALL SELECT f, 'fisher_exact', p FROM fp),
      ${OracleExact.bhCtesSql("allp", "feature")}
      SELECT a.feature, a.test, round(a.p, 6) AS p_value,
             CASE WHEN (SELECT k FROM ks) = 0 THEN true
                  ELSE coalesce(r.rk <= (SELECT k FROM ks), false) END AS kept
      FROM allp a JOIN ranked r ON a.feature = r.feature
    """),
  )

  /** Relevance filtering for a MULTI-CLASS target — per-feature
    * Kruskal-Wallis H (tie-corrected) across the user's dominant event
    * type among {click, error, view} (ties break alphabetically), p
    * via the df≤2 closed-form chi-square tails, one BH pass. The
    * oracle replays the grouped average ranks, the fixed
    * click→error→view fold, the H/tie-correction arithmetic, and both
    * tail closed forms.
    */
  val tsRelevantMulti: Q = Q(
    "ts_features_relevant_multi",
    (s, dir) => {
      val e = Tables.events(s, dir)
      val dec = sum(col("value").cast("decimal(18,6)")).cast("double")
      val perUser = e.groupBy(col("user_id")).agg(
        count(lit(1)).as("cnt"),
        dec.as("sum_v"),
        max(col("value")).as("max_v"),
        (dec / count(lit(1))).as("mean_v"),
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("c_click"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("c_error"),
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("c_view"))
      val f = perUser.select(col("user_id"),
        col("cnt").cast("double").as("cnt"),
        col("sum_v"), col("max_v"), col("mean_v"),
        when(col("c_click") >= col("c_error") && col("c_click") >= col("c_view"),
          "click")
          .when(col("c_error") >= col("c_view"), "error")
          .otherwise("view").as("y"))
      TsFeatures.featureRelevanceMulti(f,
        Seq("cnt", "sum_v", "max_v", "mean_v"), "y",
        Seq("click", "error", "view"), alpha = 0.05)
        .select(col("feature"), round(col("p_value"), 6).as("p_value"), col("kept"))
    },
    Some {
      val phiTail = OracleExact.phiTailSql("sqrt(h)")
      s"""
      WITH pu AS (
        SELECT user_id, count(*) AS cnt,
               sum(value::DECIMAL(18,6))::DOUBLE AS sum_v,
               max(value) AS max_v,
               sum(value::DECIMAL(18,6))::DOUBLE / count(*) AS mean_v,
               sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c_click,
               sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS c_error,
               sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS c_view
        FROM events GROUP BY user_id),
      f AS (
        SELECT user_id, cnt::DOUBLE AS cnt, sum_v, max_v, mean_v,
               CASE WHEN c_click >= c_error AND c_click >= c_view THEN 'click'
                    WHEN c_error >= c_view THEN 'error'
                    ELSE 'view' END AS y
        FROM pu),
      long0 AS (
        SELECT 'cnt' AS f, cnt AS x, y FROM f
        UNION ALL SELECT 'sum_v', sum_v, y FROM f
        UNION ALL SELECT 'max_v', max_v, y FROM f
        UNION ALL SELECT 'mean_v', mean_v, y FROM f),
      long AS (SELECT * FROM long0
               WHERE x IS NOT NULL AND y IN ('click', 'error', 'view')),
      g AS (
        SELECT f, x, count(*) AS nx,
               sum(CASE WHEN y = 'click' THEN 1 ELSE 0 END) AS m_click,
               sum(CASE WHEN y = 'error' THEN 1 ELSE 0 END) AS m_error,
               sum(CASE WHEN y = 'view' THEN 1 ELSE 0 END) AS m_view
        FROM long GROUP BY f, x),
      cum AS (
        SELECT *,
               coalesce(sum(nx) OVER (PARTITION BY f ORDER BY x
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 + (nx + 1)::DOUBLE / 2 AS avgrank
        FROM g),
      st AS (
        SELECT f,
               sum(m_click * avgrank) AS r_click, sum(m_click) AS n_click,
               sum(m_error * avgrank) AS r_error, sum(m_error) AS n_error,
               sum(m_view * avgrank) AS r_view, sum(m_view) AS n_view,
               sum(nx * nx * nx - nx) AS ties, sum(nx) AS n
        FROM cum GROUP BY f),
      hh AS (
        SELECT f,
               (CASE WHEN n_click > 0 THEN 1 ELSE 0 END
                + CASE WHEN n_error > 0 THEN 1 ELSE 0 END
                + CASE WHEN n_view > 0 THEN 1 ELSE 0 END) - 1 AS df,
               12.0 / (n::DOUBLE * (n + 1)) *
                 ((CASE WHEN n_click > 0 THEN r_click * r_click / n_click ELSE 0.0 END)
                  + (CASE WHEN n_error > 0 THEN r_error * r_error / n_error ELSE 0.0 END)
                  + (CASE WHEN n_view > 0 THEN r_view * r_view / n_view ELSE 0.0 END))
                 - 3.0 * (n + 1) AS h0,
               1.0 - ties::DOUBLE / (n::DOUBLE * n * n - n) AS c
        FROM st),
      pp AS (
        SELECT f, CASE
                 WHEN df <= 0 OR c <= 0 OR h <= 0 THEN 1.0::DOUBLE
                 WHEN df = 1 THEN least(1.0::DOUBLE, $phiTail)
                 ELSE least(1.0::DOUBLE, exp(-h / 2))
               END AS p
        FROM (SELECT f, df, h0 / c AS h, c FROM hh)),
      ${OracleExact.bhCtesSql("pp", "f")}
      SELECT a.f AS feature, round(a.p, 6) AS p_value,
             CASE WHEN (SELECT k FROM ks) = 0 THEN true
                  ELSE coalesce(r.rk <= (SELECT k FROM ks), false) END AS kept
      FROM pp a JOIN ranked r ON a.f = r.feature
      """
    },
  )

  /** Relevance filtering for a REGRESSION target via Kendall τ-b —
    * tsfresh's nonparametric real×real test, next to the Pearson
    * variant (`ts_features_relevant`). Spark runs Knight's O(n log n)
    * per-feature algorithm; the oracle counts the O(n²) pairs directly
    * — both land on the IDENTICAL integers (P−Q, tie-group sums), so
    * the τ and the tie-corrected asymptotic p replay exactly.
    */
  val tsRelevantTau: Q = Q(
    "ts_features_relevant_tau",
    (s, dir) => {
      val e = Tables.events(s, dir)
      val dec = sum(col("value").cast("decimal(18,6)")).cast("double")
      val perUser = e.groupBy(col("user_id")).agg(
        count(lit(1)).as("cnt"),
        dec.as("sum_v"),
        max(col("value")).as("max_v"),
        (dec / count(lit(1))).as("mean_v"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("err"))
      val f = perUser.select(col("user_id"),
        col("cnt").cast("double").as("cnt"),
        col("sum_v"), col("max_v"), col("mean_v"),
        col("err").cast("double").as("y"))
      TsFeatures.featureRelevanceTau(f,
        Seq("cnt", "sum_v", "max_v", "mean_v"), "y", alpha = 0.05)
        .select(col("feature"), round(col("tau"), 6).as("tau"),
          round(col("p_value"), 6).as("p_value"), col("kept"))
    },
    Some {
      val phiTail = OracleExact.phiTailSql("abs(s / sqrt(vs))")
      s"""
      WITH pu AS (
        SELECT user_id, count(*) AS cnt,
               sum(value::DECIMAL(18,6))::DOUBLE AS sum_v,
               max(value) AS max_v,
               sum(value::DECIMAL(18,6))::DOUBLE / count(*) AS mean_v,
               sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS err
        FROM events GROUP BY user_id),
      f AS (
        SELECT user_id, cnt::DOUBLE AS cnt, sum_v, max_v, mean_v,
               err::DOUBLE AS y
        FROM pu),
      long0 AS (
        SELECT user_id AS u, 'cnt' AS f, cnt AS x, y FROM f
        UNION ALL SELECT user_id, 'sum_v', sum_v, y FROM f
        UNION ALL SELECT user_id, 'max_v', max_v, y FROM f
        UNION ALL SELECT user_id, 'mean_v', mean_v, y FROM f),
      long AS (SELECT * FROM long0 WHERE x IS NOT NULL AND y IS NOT NULL),
      feats AS (SELECT unnest(['cnt', 'sum_v', 'max_v', 'mean_v']) AS f),
      pr AS (
        SELECT a.f,
               (sum(CASE WHEN (a.x - b.x) * (a.y - b.y) > 0 THEN 1 ELSE 0 END)
                - sum(CASE WHEN (a.x - b.x) * (a.y - b.y) < 0 THEN 1 ELSE 0 END)
               )::BIGINT AS s
        FROM long a JOIN long b ON a.f = b.f AND a.u < b.u
        GROUP BY a.f),
      xt AS (
        SELECT f, sum(t * (t - 1))::BIGINT AS st,
               sum(t * (t - 1) * (t - 2))::BIGINT AS stt,
               sum(t * (t - 1) * (2 * t + 5))::BIGINT AS vt
        FROM (SELECT f, x, count(*) AS t FROM long GROUP BY f, x)
        GROUP BY f),
      yt AS (
        SELECT f, sum(u * (u - 1))::BIGINT AS su,
               sum(u * (u - 1) * (u - 2))::BIGINT AS suu,
               sum(u * (u - 1) * (2 * u + 5))::BIGINT AS vu
        FROM (SELECT f, y, count(*) AS u FROM long GROUP BY f, y)
        GROUP BY f),
      nn AS (SELECT f, count(*) AS n FROM long GROUP BY f),
      st0 AS (
        -- LEFT JOINs from the static feature UNIVERSE: a feature whose
        -- pair join is empty (or whose rows all filtered) must still
        -- emit a row with p = 1, like the Spark side's fallback —
        -- inner joins would silently drop it and skew the BH divisor
        SELECT feats.f, coalesce(nn.n, 0) AS n, coalesce(pr.s, 0) AS s,
               coalesce(xt.st, 0) AS st, coalesce(xt.stt, 0) AS stt,
               coalesce(xt.vt, 0) AS vt,
               coalesce(yt.su, 0) AS su, coalesce(yt.suu, 0) AS suu,
               coalesce(yt.vu, 0) AS vu,
               coalesce(nn.n, 0) * (coalesce(nn.n, 0) - 1) // 2 AS n0
        FROM feats LEFT JOIN nn ON feats.f = nn.f
        LEFT JOIN pr ON feats.f = pr.f
        LEFT JOIN xt ON feats.f = xt.f
        LEFT JOIN yt ON feats.f = yt.f),
      st1 AS (
        SELECT f, n, s, st, stt, su, suu, vt, vu, n0,
               CASE WHEN (n0 - st // 2) <= 0 OR (n0 - su // 2) <= 0 THEN NULL
                    ELSE s / sqrt((n0 - st // 2)::DOUBLE * (n0 - su // 2)) END AS tau,
               CASE WHEN n < 3 THEN NULL ELSE
                 (n::DOUBLE * (n - 1) * (2 * n + 5) - vt - vu) / 18
                 + st::DOUBLE * su / (2.0 * n * (n - 1))
                 + stt::DOUBLE * suu / (9.0 * n * (n - 1) * (n - 2)) END AS vs
        FROM st0),
      pp AS (
        SELECT f, tau,
               CASE WHEN n < 3 OR vs <= 0 THEN 1.0::DOUBLE
                    ELSE least(1.0::DOUBLE, $phiTail) END AS p
        FROM st1),
      ${OracleExact.bhCtesSql("pp", "f")}
      SELECT a.f AS feature, round(a.tau, 6) AS tau, round(a.p, 6) AS p_value,
             CASE WHEN (SELECT k FROM ks) = 0 THEN true
                  ELSE coalesce(r.rk <= (SELECT k FROM ks), false) END AS kept
      FROM pp a JOIN ranked r ON a.f = r.feature
      """
    },
  )

  // ---------------------------------------------------------------- §2.2/28
  val tsResample: Q = Q(
    "ts_resample",
    (s, dir) => {
      val e = Tables.events(s, dir).select(col("user_id"), col("ts"), col("value"))
      val f = TsFeatures.resample(e, "user_id", "ts", "value", 3600L * 1000 * 1000 * 1000)
      f.select(col("user_id"), col("bucket"), col("n"),
        round(col("mean_v"), 6).as("mean_v"),
        round(col("sum_v"), 6).as("sum_v"),
        round(col("min_v"), 6).as("min_v"),
        round(col("max_v"), 6).as("max_v"))
    },
    Some("""
      SELECT user_id,
             epoch_ns(ts) // 3600000000000 AS bucket,
             count(*) AS n,
             round(sum(value::DECIMAL(18,6))::DOUBLE / count(*), 6) AS mean_v,
             round(sum(value::DECIMAL(18,6))::DOUBLE, 6) AS sum_v,
             round(min(value), 6) AS min_v,
             round(max(value), 6) AS max_v
      FROM events GROUP BY 1, 2
    """),
  )

  // --------------------------------------------------------------- §2.2/28b
  /** Sliding-window resample (2h window, 1h slide — every event lands
    * in exactly two windows) via Spark's native `window()`; the oracle
    * regenerates window membership with an explicit range(2) explode.
    */
  val tsResampleSliding: Q = Q(
    "ts_resample_sliding",
    (s, dir) => {
      val e = Tables.events(s, dir).select(col("user_id"), col("ts"), col("value"))
      TsFeatures.resampleSliding(e, "user_id", "ts", "value", "2 hours", "1 hour")
        .select(col("user_id"), col("w_start"), col("n"),
          round(col("mean_v"), 6).as("mean_v"),
          round(col("sum_v"), 6).as("sum_v"),
          round(col("min_v"), 6).as("min_v"),
          round(col("max_v"), 6).as("max_v"))
    },
    Some("""
      SELECT user_id,
             (epoch_us(ts) // 3600000000 - i.i) * 3600 AS w_start,
             count(*) AS n,
             round(sum(value::DECIMAL(18,6))::DOUBLE / count(*), 6) AS mean_v,
             round(sum(value::DECIMAL(18,6))::DOUBLE, 6) AS sum_v,
             round(min(value), 6) AS min_v,
             round(max(value), 6) AS max_v
      FROM events, range(2) i(i)
      GROUP BY 1, 2
    """),
  )

  /** tsfresh sample_entropy (m=2, r=0.2·σ_pop) per series via the
    * GroupedApply escape hatch (inherently O(n²) PER SERIES — see
    * TsFeatures.sampleEntropy). The oracle replays the ordered
    * template-pair counting with a per-user self-join: B over m=2
    * windows, A over m=3, −ln(A/B); A=0 or B=0 → null on both engines.
    */
  val tsSampleEntropy: Q = Q(
    "ts_sample_entropy",
    (s, dir) => {
      val e = Tables.events(s, dir).select(col("user_id"), col("ts"), col("value"))
      TsFeatures.sampleEntropy(e, "user_id", Seq("ts"), "value")
        .select(col("user_id"),
          round(col("sample_entropy"), 6).as("sample_entropy"),
          round(col("approx_entropy"), 6).as("approx_entropy"))
    },
    // Per-template counts (i≠j pairs) replay the Scala pair loop;
    // ApEn adds the self-match back (+1) and averages ln(C_i/N_m)
    // per template — Φ(2)/Φ(3) as in tsfresh approximate_entropy.
    Some("""
      WITH x AS (
        SELECT user_id, value AS v,
               row_number() OVER (PARTITION BY user_id ORDER BY ts) - 1 AS i
        FROM events),
      p AS (SELECT user_id, 0.2 * stddev_pop(v) AS r FROM x GROUP BY user_id),
      t AS (
        SELECT a.user_id, a.i, a.v AS v0, b.v AS v1, c.v AS v2
        FROM x a
        JOIN x b ON b.user_id = a.user_id AND b.i = a.i + 1
        LEFT JOIN x c ON c.user_id = a.user_id AND c.i = a.i + 2),
      percnt AS (
        SELECT t1.user_id, t1.i, max(CASE WHEN t1.v2 IS NOT NULL THEN 1 ELSE 0 END) AS has3,
               sum(CASE WHEN abs(t1.v0 - t2.v0) <= p.r
                         AND abs(t1.v1 - t2.v1) <= p.r THEN 1 ELSE 0 END) AS c2,
               sum(CASE WHEN t1.v2 IS NOT NULL AND t2.v2 IS NOT NULL
                         AND abs(t1.v0 - t2.v0) <= p.r
                         AND abs(t1.v1 - t2.v1) <= p.r
                         AND abs(t1.v2 - t2.v2) <= p.r THEN 1 ELSE 0 END) AS c3
        FROM t t1
        JOIN t t2 ON t2.user_id = t1.user_id AND t2.i <> t1.i
        JOIN p ON p.user_id = t1.user_id
        GROUP BY t1.user_id, t1.i),
      nn AS (
        SELECT user_id, count(*) AS n2, sum(has3) AS n3
        FROM percnt GROUP BY user_id),
      agg AS (
        SELECT percnt.user_id,
               sum(c2) AS b, sum(c3) AS a,
               sum(ln((c2 + 1)::DOUBLE / nn.n2)) / max(nn.n2) AS phi2,
               sum(CASE WHEN has3 = 1
                        THEN ln((c3 + 1)::DOUBLE / nn.n3) END) / max(nn.n3) AS phi3
        FROM percnt JOIN nn ON nn.user_id = percnt.user_id
        GROUP BY percnt.user_id)
      SELECT user_id,
             CASE WHEN a > 0 AND b > 0
                  THEN round(-ln(a::DOUBLE / b), 6) END AS sample_entropy,
             CASE WHEN n3 > 0 THEN round(abs(phi2 - phi3), 6) END AS approx_entropy
      FROM agg JOIN nn USING (user_id)
    """),
  )

  /** Distinct/reoccurring-value features (tsfresh
    * ratio_value_number_to_time_series_length, sum_of_reoccurring_
    * values/data_points, percentage_of_reoccurring_*): these need a
    * per-(series, value) pre-aggregation — a SECOND shuffle — so they
    * ship as their own query instead of breaking the one-Exchange
    * guarantee of `ts_features_extract`. Both shuffles partial-
    * aggregate map-side; value equality on identical doubles is
    * engine-portable, and the reoccurring sums ride exact decimals.
    */
  val tsCounts: Q = Q(
    "ts_features_counts",
    (s, dir) => {
      val vc = Tables.events(s, dir)
        .groupBy(col("user_id"), col("value").as("v"))
        .agg(count(lit(1)).as("c"))
      vc.groupBy(col("user_id")).agg(
        (count(lit(1)) / sum(col("c"))).as("ratio_value_number"),
        sum(when(col("c") > 1, col("v")).cast("decimal(18,6)")).cast("double")
          .as("sum_reocc_values"),
        sum(when(col("c") > 1, col("v") * col("c")).cast("decimal(28,6)"))
          .cast("double").as("sum_reocc_points"),
        (sum(when(col("c") > 1, 1L).otherwise(0L)).cast("double") / count(lit(1)))
          .as("pct_reocc_values"),
        (sum(when(col("c") > 1, col("c")).otherwise(0L)).cast("double") / sum(col("c")))
          .as("pct_reocc_points"))
        .select(col("user_id"),
          round(col("ratio_value_number"), 6).as("ratio_value_number"),
          round(col("sum_reocc_values"), 6).as("sum_reocc_values"),
          round(col("sum_reocc_points"), 6).as("sum_reocc_points"),
          round(col("pct_reocc_values"), 6).as("pct_reocc_values"),
          round(col("pct_reocc_points"), 6).as("pct_reocc_points"))
    },
    Some("""
      WITH vc AS (
        SELECT user_id, value AS v, count(*) AS c
        FROM events GROUP BY 1, 2)
      SELECT user_id,
             round(count(*) / sum(c), 6) AS ratio_value_number,
             round(sum((CASE WHEN c > 1 THEN v END)::DECIMAL(18,6))::DOUBLE, 6)
               AS sum_reocc_values,
             round(sum((CASE WHEN c > 1 THEN v * c END)::DECIMAL(28,6))::DOUBLE, 6)
               AS sum_reocc_points,
             round(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END)::DOUBLE / count(*), 6)
               AS pct_reocc_values,
             round(sum(CASE WHEN c > 1 THEN c ELSE 0 END)::DOUBLE / sum(c), 6)
               AS pct_reocc_points
      FROM vc GROUP BY user_id
    """),
  )

  /** Time-series DENSIFICATION: resample to daily buckets, generate
    * each series' full bucket spine (sequence min..max — per-series,
    * never a global calendar crossjoin), left-join the aggregates and
    * forward-fill the gaps. The "make the series regular before
    * modeling" step; gaps flagged so downstream can distinguish
    * observed from imputed. Spine explode + one join + one per-series
    * window — all keyed on the series, no global sort.
    */
  val tsGapFill: Q = Q(
    "ts_gap_fill",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val dayNs = 86400000000000L
      val e = Tables.events(s, dir).select(col("user_id"), col("ts"), col("value"))
      val r = TsFeatures.resample(e, "user_id", "ts", "value", dayNs)
        .select(col("user_id"), col("bucket"), col("mean_v"))
      val spine = r.groupBy(col("user_id"))
        .agg(min(col("bucket")).as("lo"), max(col("bucket")).as("hi"))
        .select(col("user_id"), explode(sequence(col("lo"), col("hi"))).as("bucket"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("bucket"))
        .rowsBetween(Window.unboundedPreceding, 0)
      spine.join(r, Seq("user_id", "bucket"), "left")
        .select(col("user_id"), col("bucket"),
          col("mean_v").isNull.cast("int").as("is_gap"),
          round(last(col("mean_v"), ignoreNulls = true).over(w), 6).as("mean_ff"))
    },
    Some("""
      WITH r AS (
        SELECT user_id, epoch_ns(ts) // 86400000000000 AS bucket,
               sum(value::DECIMAL(18,6))::DOUBLE / count(*) AS mean_v
        FROM events GROUP BY 1, 2),
      s AS (
        SELECT user_id, unnest(generate_series(min(bucket), max(bucket))) AS bucket
        FROM r GROUP BY user_id),
      j AS (SELECT s.user_id, s.bucket, r.mean_v
            FROM s LEFT JOIN r ON s.user_id = r.user_id AND s.bucket = r.bucket)
      SELECT user_id, bucket,
             (mean_v IS NULL)::INT AS is_gap,
             round(last_value(mean_v IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS mean_ff
      FROM j
    """),
  )

  /** Per-series EWMA (pandas `ewm(alpha=0.3, adjust=False).mean()`
    * analog): the sequential fold runs in GroupedApply (one shuffle,
    * sorted groups) in EXACT integer micro-units — a float fold's
    * second step lands mathematically ON 6-dp rounding midpoints (see
    * the operator scaladoc; both float variants failed the sf0.1 sweep
    * there) — and the oracle replays the integer recursion with a
    * recursive CTE. ts is µs-truncated because DuckDB reads the
    * TIMESTAMP(NANOS) parquet at µs precision.
    */
  val tsEwma: Q = Q(
    "ts_ewma",
    (s, dir) => {
      val e = Tables.events(s, dir)
        .withColumn("ts", expr("ts div 1000 * 1000"))
        .select(col("user_id"), col("ts"), col("value"))
      graft.operators.TsFeatures.ewma(e, "user_id", Seq("ts"), "value",
          alphaNum = 3, den = 10)
        .select(col("user_id"), col("ts"), round(col("value"), 6).as("value"),
          round(col("ewma"), 6).as("ewma"))
    },
    Some("""
      WITH RECURSIVE s AS (
        SELECT user_id, epoch_ns(ts) AS ts, value,
               round(value * 1e6)::BIGINT AS xm,
               row_number() OVER (PARTITION BY user_id ORDER BY epoch_ns(ts)) AS rn
        FROM events),
      rec(user_id, rn, ts, value, ym) AS (
        SELECT user_id, rn, ts, value, xm FROM s WHERE rn = 1
        UNION ALL
        SELECT s.user_id, s.rn, s.ts, s.value,
               CASE WHEN 3 * s.xm + 7 * r.ym >= 0
                    THEN (3 * s.xm + 7 * r.ym + 5) // 10
                    ELSE -((-(3 * s.xm + 7 * r.ym) + 5) // 10) END
        FROM s JOIN rec r ON s.user_id = r.user_id AND s.rn = r.rn + 1)
      SELECT user_id, ts, round(value, 6) AS value,
             round(ym / 1e6, 6) AS ewma FROM rec
    """),
  )

  /** Holt's linear-trend smoothing (α=0.3, β=0.1, zero-initial-trend
    * convention) — the two-accumulator sibling of `ts_ewma`: exact
    * integer micro-unit recursion in GroupedApply, replayed
    * bit-exactly by a two-column recursive CTE (see
    * [[graft.operators.TsFeatures.holt]]).
    */
  val tsHolt: Q = Q(
    "ts_holt",
    (s, dir) => {
      val e = Tables.events(s, dir)
        .withColumn("ts", expr("ts div 1000 * 1000"))
        .select(col("user_id"), col("ts"), col("value"))
      graft.operators.TsFeatures.holt(e, "user_id", Seq("ts"), "value",
          alphaNum = 3, betaNum = 1, den = 10)
        .select(col("user_id"), col("ts"), round(col("value"), 6).as("value"),
          round(col("level"), 6).as("level"), round(col("trend"), 6).as("trend"))
    },
    Some("""
      WITH RECURSIVE s AS (
        SELECT user_id, epoch_ns(ts) AS ts, value,
               round(value * 1e6)::BIGINT AS xm,
               row_number() OVER (PARTITION BY user_id ORDER BY epoch_ns(ts)) AS rn
        FROM events),
      rec(user_id, rn, ts, value, lm, bm) AS (
        SELECT user_id, rn, ts, value, xm, 0::BIGINT FROM s WHERE rn = 1
        UNION ALL
        SELECT user_id, rn, ts, value, lm_new,
               CASE WHEN 1 * (lm_new - lm_old) + 9 * bm_old >= 0
                    THEN (1 * (lm_new - lm_old) + 9 * bm_old + 5) // 10
                    ELSE -((-(1 * (lm_new - lm_old) + 9 * bm_old) + 5) // 10) END
        FROM (
          SELECT s.user_id, s.rn, s.ts, s.value, r.lm AS lm_old, r.bm AS bm_old,
                 CASE WHEN 3 * s.xm + 7 * (r.lm + r.bm) >= 0
                      THEN (3 * s.xm + 7 * (r.lm + r.bm) + 5) // 10
                      ELSE -((-(3 * s.xm + 7 * (r.lm + r.bm)) + 5) // 10) END AS lm_new
          FROM s JOIN rec r ON s.user_id = r.user_id AND s.rn = r.rn + 1))
      SELECT user_id, ts, round(value, 6) AS value,
             round(lm / 1e6, 6) AS level, round(bm / 1e6, 6) AS trend
      FROM rec
    """),
  )

  /** CUSUM changepoint detection per series: the split point
    * maximizing |S_i − (i/n)·S_n| over the ts-ordered prefix sums —
    * the classic offline single-changepoint statistic (Page's CUSUM /
    * binary-segmentation step). The argmax comparison runs ENTIRELY in
    * exact int64: values micro-quantize (round(v·1e6), the ExactAgg
    * convention), and the statistic compares the integer numerator
    * N_i = |n·S_i − i·S_n| (the ×n-scaled deviation) so no float tie
    * can flip the winner between engines (ties → smallest i). One hash
    * Exchange on user_id: both windows and the rank share the
    * partition key. Magnitude bound: n·S_i ≤ 99 · 5.5e10 ≈ 5.5e12 at
    * sf0.1 — far inside int64; a 100 TB run with ≫1e6-point series
    * would shift to the decimal(38) twin of the same formula. Series
    * need n ≥ 2 (no interior split exists otherwise).
    */
  val tsChangepoint: Q = Q(
    "ts_changepoint",
    (s, dir) => graft.operators.Changepoint.cusum(
      Tables.events(s, dir).select(col("user_id"), col("ts"), col("value")),
      "user_id", "ts", "value"),
    Some("""
      WITH s AS (
        SELECT user_id, epoch_ns(ts) AS tsn,
               round(value * 1000000)::BIGINT AS mu
        FROM events),
      c AS (
        SELECT user_id,
               row_number() OVER (PARTITION BY user_id ORDER BY tsn) AS i,
               sum(mu) OVER (PARTITION BY user_id ORDER BY tsn
                             ROWS UNBOUNDED PRECEDING) AS s_i,
               count(*) OVER (PARTITION BY user_id) AS n,
               sum(mu) OVER (PARTITION BY user_id) AS s_n
        FROM s),
      d AS (
        SELECT user_id, i, n, abs(n * s_i - i * s_n) AS nd
        FROM c WHERE i < n),
      r AS (
        SELECT user_id, n, i, nd,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY nd DESC, i) AS rn
        FROM d)
      SELECT user_id, n, i AS cp_index,
             round(nd::DOUBLE / (n * 1000000), 6) AS cusum
      FROM r WHERE rn = 1
    """),
  )

  /** Classical additive seasonal decomposition of each series' daily
    * totals (statsmodels `seasonal_decompose` analog, period 7 over
    * the observation index — see [[graft.operators.Decompose.seasonal]]
    * for the semantics and the exact-integer plumbing that lets the
    * oracle replay every value).
    */
  /** Shared decompose CTE chain + final projection — used verbatim by
    * the ts_decompose oracle and as the base of ts_seasonal_strength's
    * oracle so the two can never drift.
    */
  private val decomposeCtes = """
      daily AS (
        SELECT user_id, epoch_ns(ts) // 86400000000000 AS bucket,
               sum(round(value * 1000000)::BIGINT)::BIGINT AS dm
        FROM events GROUP BY 1, 2),
      i AS (
        SELECT user_id, bucket, dm,
               row_number() OVER (PARTITION BY user_id ORDER BY bucket) AS idx,
               sum(dm) OVER ctr AS t_num,
               count(*) OVER ctr AS t_cnt
        FROM daily
        WINDOW ctr AS (PARTITION BY user_id ORDER BY bucket
                       ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
      d AS (
        SELECT *, (idx - 1) % 7 AS phase,
               CASE WHEN t_cnt = 7 THEN 7 * dm - t_num END AS d7
        FROM i),
      p AS (
        SELECT user_id, phase,
               round(sum(d7) / (count(d7) * 7.0))::BIGINT AS sq
        FROM d WHERE d7 IS NOT NULL GROUP BY 1, 2),
      sn AS (
        SELECT user_id, phase,
               sq - sum(sq) OVER (PARTITION BY user_id) / 7.0 AS seas_m
        FROM p),
      dec AS (
        SELECT d.user_id, d.bucket,
               round(d.dm / 1e6, 6) AS y_sum,
               CASE WHEN d.t_cnt = 7 THEN round(d.t_num / 7.0 / 1e6, 6) END AS trend,
               round(sn.seas_m / 1e6, 6) AS seasonal,
               CASE WHEN d.t_cnt = 7 AND sn.seas_m IS NOT NULL
                    THEN round((d.dm - d.t_num / 7.0 - sn.seas_m) / 1e6, 6) END AS resid
        FROM d LEFT JOIN sn ON d.user_id = sn.user_id AND d.phase = sn.phase)"""

  val tsDecompose: Q = Q(
    "ts_decompose",
    (s, dir) => graft.operators.Decompose.seasonal(
      Tables.events(s, dir).select(col("user_id"), col("ts"), col("value")),
      "user_id", "ts", "value", period = 7),
    Some(s"WITH $decomposeCtes SELECT * FROM dec"),
  )

  /** Seasonal-strength metric per series (Hyndman FPP F =
    * max(0, 1 − Var(resid)/Var(seasonal+resid)) over the decompose
    * frame — [[graft.operators.Decompose.seasonalStrength]]); the
    * oracle extends the shared decompose CTE chain, so the two rows
    * can never drift.
    */
  val tsSeasonalStrength: Q = Q(
    "ts_seasonal_strength",
    (s, dir) => graft.operators.Decompose.seasonalStrength(
      graft.operators.Decompose.seasonal(
        Tables.events(s, dir).select(col("user_id"), col("ts"), col("value")),
        "user_id", "ts", "value", period = 7),
      "user_id"),
    Some(s"""
      WITH $decomposeCtes,
      v AS (SELECT user_id, count(*) AS n,
                   sum(resid::DECIMAL(28,6))::DOUBLE AS sr,
                   sum((resid*resid)::DECIMAL(28,6))::DOUBLE AS srr,
                   sum((seasonal+resid)::DECIMAL(28,6))::DOUBLE AS st,
                   sum(((seasonal+resid)*(seasonal+resid))::DECIMAL(28,6))::DOUBLE AS stt
            FROM dec WHERE resid IS NOT NULL AND seasonal IS NOT NULL GROUP BY 1)
      SELECT user_id, n,
             CASE WHEN n * stt - st * st > 0
                  THEN round(greatest(0.0, 1.0 - (n * srr - sr * sr) / (n * stt - st * st)), 6)
             END AS f_seasonal
      FROM v
    """),
  )

  /** MAD-based outlier flags per series — the ROBUST global twin of
    * the rolling z-score: flag |x − median| > 3σ̂ with σ̂ = 1.4826·MAD
    * (the normal-consistency constant), so a contaminated series
    * cannot inflate its own threshold the way a mean/std filter lets
    * it. Exact per-series median and MAD (quantile_cont parity), the
    * per-series stats joined back on the series key; threshold
    * compare is identical double arithmetic both engines
    * (4.4478 = 3·1.4826 as one literal). Zero-MAD series → null flag.
    */
  val tsOutlierMad: Q = Q(
    "ts_outlier_mad",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // both medians ride WINDOW aggregates over the same series
      // partition — one scan, one Exchange; the groupBy + join-back
      // formulation scanned events three times (NewOpsPlanSpec)
      val wU = Window.partitionBy(col("user_id"))
      Tables.events(s, dir).select(col("user_id"), col("ts"), col("value"))
        .withColumn("med", percentile(col("value"), lit(0.5)).over(wU))
        .withColumn("mad",
          percentile(abs(col("value") - col("med")), lit(0.5)).over(wU))
        .select(col("user_id"), col("ts"), round(col("value"), 6).as("value"),
          when(col("mad") > 0,
            (abs(col("value") - col("med")) > lit(4.4478) * col("mad")).cast("int"))
            .as("is_outlier"))
    },
    Some("""
      WITH m AS (SELECT user_id, quantile_cont(value, 0.5) AS med
                 FROM events GROUP BY 1),
      d AS (SELECT e.user_id, m.med,
                   quantile_cont(abs(e.value - m.med), 0.5) AS mad
            FROM events e JOIN m USING (user_id)
            GROUP BY e.user_id, m.med)
      SELECT e.user_id, epoch_ns(e.ts) AS ts, round(e.value, 6) AS value,
             CASE WHEN d.mad > 0
                  THEN (abs(e.value - d.med) > 4.4478 * d.mad)::INT END AS is_outlier
      FROM events e JOIN d USING (user_id)
    """),
  )

  /** Burstiness of each series' inter-event gaps (Goh & Barabási
    * B = (σ−μ)/(σ+μ) ∈ [−1, 1]: −1 = periodic, 0 = Poisson, →1 =
    * bursty) — the temporal-pattern profiler stat. Gaps quantize to
    * exact integer milliseconds (lag diff, div — never a double on
    * nanos); B = (√(nQ−S²) − S)/(√(nQ−S²) + S) after the n
    * cancellation, a pure function of exact int sums. One hash
    * Exchange shared by the lag window and the rollup.
    */
  val tsBurstiness: Q = Q(
    "ts_burstiness",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
      val gaps = Tables.events(s, dir).select(col("user_id"), col("ts"))
        .withColumn("prev", lag(col("ts"), 1).over(w))
        .where(col("prev").isNotNull)
        .withColumn("gap_s", expr("(ts - prev) div 1000000000"))
      gaps.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_gaps"),
          sum(col("gap_s")).as("sg"),
          sum(col("gap_s") * col("gap_s")).as("qg"))
        .select(col("user_id"), col("n_gaps"),
          round(col("sg") / col("n_gaps"), 6).as("mean_gap_s"),
          round((sqrt((col("n_gaps") * col("qg") - col("sg") * col("sg")).cast("double")) - col("sg")) /
                (sqrt((col("n_gaps") * col("qg") - col("sg") * col("sg")).cast("double")) + col("sg")), 6)
            .as("burstiness"))
    },
    Some("""
      WITH g AS (
        SELECT user_id,
               (epoch_ns(ts) - lag(epoch_ns(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ns(ts)))
                 // 1000000000 AS gap_s
        FROM events),
      a AS (SELECT user_id, count(*) AS n_gaps, sum(gap_s)::BIGINT AS sg,
                   sum(gap_s * gap_s)::BIGINT AS qg
            FROM g WHERE gap_s IS NOT NULL GROUP BY 1)
      SELECT user_id, n_gaps,
             round(sg / n_gaps, 6) AS mean_gap_s,
             round((sqrt((n_gaps * qg - sg * sg)::DOUBLE) - sg) /
                   (sqrt((n_gaps * qg - sg * sg)::DOUBLE) + sg), 6) AS burstiness
      FROM a
    """),
  )

  /** Rolling lag-1 autocorrelation per series (trailing 20
    * consecutive-value pairs) — the drift monitor next to the rolling
    * z-score: r collapsing toward 0 or flipping sign flags a
    * structural change long before level shifts do. Pearson over the
    * window's (x_{t−1}, x_t) pairs in EXACT int64 (3-dp quantization:
    * n·Σxy ≤ ~1.3e14), r a pure function of exact sums; null until 20
    * pairs exist or when either side's variance numerator is zero.
    * ONE hash Exchange shared by the lag and the window sums.
    */
  val tsRollingAutocorr: Q = Q(
    "ts_rolling_autocorr",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
      val pairs = Tables.events(s, dir).select(col("user_id"), col("ts"), col("value"))
        .withColumn("m", round(col("value") * 1e3, 0).cast("long"))
        .withColumn("mp", lag(col("m"), 1).over(w))
        .where(col("mp").isNotNull)
      val wp = Window.partitionBy(col("user_id")).orderBy(col("ts"))
        .rowsBetween(-19, 0)
      val sums = pairs.select(col("user_id"), col("ts"),
        count(lit(1)).over(wp).as("n"),
        sum(col("mp")).over(wp).as("sx"),
        sum(col("m")).over(wp).as("sy"),
        sum(col("mp") * col("mp")).over(wp).as("sxx"),
        sum(col("m") * col("m")).over(wp).as("syy"),
        sum(col("mp") * col("m")).over(wp).as("sxy"))
      val vx = col("n") * col("sxx") - col("sx") * col("sx")
      val vy = col("n") * col("syy") - col("sy") * col("sy")
      sums.select(col("user_id"), col("ts"),
        when(col("n") === 20 && vx > 0 && vy > 0,
          round((col("n") * col("sxy") - col("sx") * col("sy")) /
            (sqrt(vx.cast("double")) * sqrt(vy.cast("double"))), 6))
          .as("r1"))
    },
    Some("""
      WITH p AS (
        SELECT user_id, epoch_ns(ts) AS tsn,
               round(value * 1000)::BIGINT AS m,
               lag(round(value * 1000)::BIGINT) OVER
                 (PARTITION BY user_id ORDER BY epoch_ns(ts)) AS mp
        FROM events),
      q AS (
        SELECT user_id, tsn,
               count(*) OVER win AS n,
               sum(mp) OVER win AS sx,
               sum(m) OVER win AS sy,
               sum(mp * mp) OVER win AS sxx,
               sum(m * m) OVER win AS syy,
               sum(mp * m) OVER win AS sxy
        FROM p WHERE mp IS NOT NULL
        WINDOW win AS (PARTITION BY user_id ORDER BY tsn
                       ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
      SELECT user_id, tsn AS ts,
             CASE WHEN n = 20 AND n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
                  THEN round((n * sxy - sx * sy) /
                       (sqrt((n * sxx - sx * sx)::DOUBLE) * sqrt((n * syy - sy * sy)::DOUBLE)), 6)
             END AS r1
      FROM q
    """),
  )

  /** Lag-feature builder (the supervised-learning staple next to
    * `ml_dataset`): per series, value lags 1–3 plus the trailing-5
    * rolling mean, all over ONE ts-ordered window chain (one hash
    * Exchange). The rolling mean rides exact micro-int sums (S/n
    * then /1e6 — identical double steps both engines); leading rows
    * carry nulls exactly where history is missing, which is what the
    * downstream trainer's null-handling is supposed to see.
    */
  val tsLagFeatures: Q = Q(
    "ts_lag_features",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
      val wr = w.rowsBetween(-4, 0)
      Tables.events(s, dir).select(col("user_id"), col("ts"), col("value"))
        .withColumn("m", round(col("value") * 1e6, 0).cast("long"))
        .select(col("user_id"), col("ts"), round(col("value"), 6).as("value"),
          round(lag(col("value"), 1).over(w), 6).as("lag1"),
          round(lag(col("value"), 2).over(w), 6).as("lag2"),
          round(lag(col("value"), 3).over(w), 6).as("lag3"),
          round((sum(col("m")).over(wr) / count(col("m")).over(wr)) / 1e6, 6)
            .as("roll5"))
    },
    Some("""
      WITH s AS (
        SELECT user_id, epoch_ns(ts) AS tsn, value,
               round(value * 1000000)::BIGINT AS m
        FROM events)
      SELECT user_id, tsn AS ts, round(value, 6) AS value,
             round(lag(value, 1) OVER w, 6) AS lag1,
             round(lag(value, 2) OVER w, 6) AS lag2,
             round(lag(value, 3) OVER w, 6) AS lag3,
             round((sum(m) OVER wr / count(m) OVER wr) / 1e6, 6) AS roll5
      FROM s
      WINDOW w AS (PARTITION BY user_id ORDER BY tsn),
             wr AS (PARTITION BY user_id ORDER BY tsn
                    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
    """),
  )

  /** Rolling z-score anomaly flags (one-step-ahead surprise vs the 20
    * preceding events, |z| > 3, min 8 history rows) — see
    * [[graft.operators.Decompose.rollingZ]]. The 3-dp value
    * quantization is the documented contract that keeps the window's
    * Σm/Σm² in exact int64 and the oracle value-level.
    */
  val tsAnomaly: Q = Q(
    "ts_anomaly",
    (s, dir) => graft.operators.Decompose.rollingZ(
      Tables.events(s, dir).select(col("user_id"), col("ts"), col("value")),
      "user_id", "ts", "value", window = 20, minN = 8, threshold = 3.0),
    Some("""
      WITH s AS (
        SELECT user_id, epoch_ns(ts) AS tsn, value,
               round(value * 1000)::BIGINT AS m
        FROM events),
      w AS (
        SELECT user_id, tsn, value, m,
               sum(m) OVER pre AS sw,
               sum(m * m) OVER pre AS qw,
               count(*) OVER pre AS n
        FROM s
        WINDOW pre AS (PARTITION BY user_id ORDER BY tsn
                       ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)),
      z0 AS (
        SELECT user_id, tsn, value,
               CASE WHEN n >= 8 AND n * qw - sw * sw > 0
                    THEN (n * m - sw) / sqrt((n * qw - sw * sw)::DOUBLE) END AS zr
        FROM w)
      SELECT user_id, tsn AS ts, round(value, 6) AS value,
             round(zr, 6) AS z,
             CASE WHEN zr IS NOT NULL THEN (abs(zr) > 3.0)::INT END AS is_anomaly
      FROM z0
    """),
  )

  /** Strict local-maxima peak detection per series — the plain-window
    * peak counter next to the scipy-faithful `ts_cwt_peaks` bench row
    * (CWT ridge filtering finds SIGNIFICANT peaks; this row is the
    * cheap first pass monitoring dashboards actually plot): a peak is
    * strictly greater than both neighbors (plateaus are not peaks —
    * the strict-inequality convention stated so the oracle cannot
    * drift), counted per series with the max peak value; one lag/lead
    * window + rollup on the shared series Exchange.
    */
  val tsPeaks: Q = Q(
    "ts_peaks",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val wO = Window.partitionBy(col("user_id")).orderBy(col("ts"))
      Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("value"))
        .withColumn("pk",
          (col("value") > lag(col("value"), 1).over(wO)) &&
            (col("value") > lead(col("value"), 1).over(wO)))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("pk"), 1L).otherwise(0L)).as("n_peaks"),
          round(max(when(col("pk"), col("value"))), 6).as("max_peak"))
    },
    Some("""
      WITH m AS (
        SELECT user_id, value,
               value > lag(value) OVER w AND value > lead(value) OVER w AS pk
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts)))
      SELECT user_id, count(*)::BIGINT AS n,
             sum(CASE WHEN pk THEN 1 ELSE 0 END)::BIGINT AS n_peaks,
             round(max(CASE WHEN pk THEN value END), 6) AS max_peak
      FROM m GROUP BY 1
    """),
  )

  /** Hurst exponent per series via the aggregated-variance method —
    * the long-range-dependence diagnostic (H≈0.5 random walk, H>0.5
    * persistent/trending, H<0.5 mean-reverting) that tells a
    * forecasting pipeline whether Holt-class smoothers even apply:
    * block means at scales m ∈ {2,4,8,16} (full blocks only), their
    * variance Var(m) ∝ m^(2H−2), H = 1 + slope/2 from the OLS of
    * ln Var on ln m. Every variance is a pure ratio of exact int64
    * sums (values on the centi grid — the milli grid's k·Σs² would
    * overflow at sf1, the §13 resolution check), the 4-point OLS uses
    * micro-quantized log terms (order-free), and the whole chain —
    * row-number window, block rollup, scale rollup, fit rollup — rides
    * ONE hash(user) Exchange (every key is a superset of user).
    * Units cancel in the slope, so the centi grid does not bias H.
    */
  val tsHurst: Q = Q(
    "ts_hurst",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val wU = Window.partitionBy(col("user_id"))
      val wO = Window.partitionBy(col("user_id")).orderBy(col("ts"))
      val base = Tables.events(s, dir)
        .select(col("user_id"), col("ts"),
          round(col("value") * 100).cast("long").as("c"))
        .withColumn("rn", row_number().over(wO) - 1)
        .withColumn("n", count(lit(1)).over(wU))
      val varm = base
        .select(col("user_id"), col("c"), col("rn"), col("n"),
          explode(array(Seq(2L, 4L, 8L, 16L).map(lit): _*)).as("m"))
        .where(col("rn") < expr("(n div m) * m"))
        .groupBy(col("user_id"), col("m"), expr("rn div m").as("blk"))
        .agg(sum(col("c")).as("sb"))
        .groupBy(col("user_id"), col("m"))
        .agg(count(lit(1)).as("k"), sum(col("sb")).as("ss"),
          sum(col("sb") * col("sb")).as("ss2"))
        .where(col("k") >= 2)
        .select(col("user_id"), col("m"),
          ((col("k") * col("ss2") - col("ss") * col("ss")) /
            (col("k") * col("k") * col("m") * col("m"))).as("varm"))
        .where(col("varm") > 0)
      val pts = varm.select(col("user_id"),
        round(log(col("m").cast("double")) * 1e6).cast("long").as("mx"),
        round(log(col("varm")) * 1e6).cast("long").as("my"),
        round(log(col("m").cast("double")) * log(col("varm")) * 1e6).cast("long").as("mxy"),
        round(log(col("m").cast("double")) * log(col("m").cast("double")) * 1e6)
          .cast("long").as("mxx"))
      pts.groupBy(col("user_id"))
        .agg(count(lit(1)).as("p"), sum(col("mx")).as("sx"), sum(col("my")).as("sy"),
          sum(col("mxy")).as("sxy"), sum(col("mxx")).as("sxx"))
        .where(col("p") >= 3)
        .select(col("user_id"), col("p"),
          round(lit(1.0) +
            ((col("p") * (col("sxy") / 1e6) - (col("sx") / 1e6) * (col("sy") / 1e6)) /
              (col("p") * (col("sxx") / 1e6) - (col("sx") / 1e6) * (col("sx") / 1e6))) / 2,
            6).as("hurst"))
    },
    Some("""
      WITH b AS (
        SELECT user_id, round(value * 100)::BIGINT AS c,
               row_number() OVER (PARTITION BY user_id ORDER BY epoch_ns(ts)) - 1 AS rn,
               count(*) OVER (PARTITION BY user_id) AS n
        FROM events),
      e AS (SELECT user_id, c, rn, n, m.m AS m
            FROM b, (SELECT unnest([2, 4, 8, 16]) AS m) m
            WHERE rn < (n // m) * m),
      blk AS (SELECT user_id, m, rn // m AS blk, sum(c)::BIGINT AS sb
              FROM e GROUP BY 1, 2, 3),
      sc AS (SELECT user_id, m, count(*)::BIGINT AS k, sum(sb)::BIGINT AS ss,
                    sum(sb * sb)::BIGINT AS ss2
             FROM blk GROUP BY 1, 2),
      vm AS (SELECT user_id, m,
               (k * ss2 - ss * ss) / (k * k * m * m) AS varm
             FROM sc WHERE k >= 2),
      pts AS (SELECT user_id,
                round(ln(m::DOUBLE) * 1e6)::BIGINT AS mx,
                round(ln(varm) * 1e6)::BIGINT AS my,
                round(ln(m::DOUBLE) * ln(varm) * 1e6)::BIGINT AS mxy,
                round(ln(m::DOUBLE) * ln(m::DOUBLE) * 1e6)::BIGINT AS mxx
              FROM vm WHERE varm > 0),
      g AS (SELECT user_id, count(*)::BIGINT AS p, sum(mx)::BIGINT AS sx,
                   sum(my)::BIGINT AS sy, sum(mxy)::BIGINT AS sxy,
                   sum(mxx)::BIGINT AS sxx
            FROM pts GROUP BY 1)
      SELECT user_id, p,
             round(1.0 + ((p * (sxy / 1e6) - (sx / 1e6) * (sy / 1e6)) /
                          (p * (sxx / 1e6) - (sx / 1e6) * (sx / 1e6))) / 2, 6) AS hurst
      FROM g WHERE p >= 3
    """),
  )

  /** One-step-ahead forecast backtest over the [[tsHolt]] frame — the
    * forecast-EVAL row next to the AUC/recall@k/sketch-error
    * harnesses (a smoother you never backtest is a random number
    * generator with good marketing): forecast f_t = level_{t−1} +
    * trend_{t−1} via lag over the ts window (both on the exact 1e-6
    * grid, so f is exact), per-series MAE and sMAPE with per-row
    * errors micro-quantized before the order-free sums. One GroupedApply
    * shuffle (the Holt fit) + the same-key window and rollup.
    */
  val tsForecastEval: Q = Q(
    "ts_forecast_eval",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = Tables.events(s, dir)
        .withColumn("ts", expr("ts div 1000 * 1000"))
        .select(col("user_id"), col("ts"), col("value"))
      val h = graft.operators.TsFeatures.holt(e, "user_id", Seq("ts"), "value",
        alphaNum = 3, betaNum = 1, den = 10)
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
      val f = lag(col("level"), 1).over(w) + lag(col("trend"), 1).over(w)
      val err = abs(f - col("value"))
      val scored = h.select(col("user_id"),
        round(err * 1e6).cast("long").as("am"),
        round(err * 2 / (abs(f) + abs(col("value"))) * 1e6).cast("long").as("sm"))
        .where(col("am").isNotNull)
      // half-up integer-micro means: round(sum/1e6/n, 6) hands the
      // engines' round() a double that often sits AT a 6dp midpoint
      // (sum/n is small-denominator rational) where their tie paths
      // diverge — the r15 sf1 smape class; microQuotient settles the
      // digit in exact int64 (am/sm are >= 0, no -0 to normalize)
      scored.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_eval"),
          graft.operators.ExactAgg.microQuotient(
            sum(col("am")), count(lit(1))).as("mae"),
          graft.operators.ExactAgg.microQuotient(
            sum(col("sm")), count(lit(1))).as("smape"))
    },
    Some(s"""
      WITH RECURSIVE s AS (
        SELECT user_id, epoch_ns(ts) AS ts, value,
               round(value * 1e6)::BIGINT AS xm,
               row_number() OVER (PARTITION BY user_id ORDER BY epoch_ns(ts)) AS rn
        FROM events),
      rec(user_id, rn, ts, value, lm, bm) AS (
        SELECT user_id, rn, ts, value, xm, 0::BIGINT FROM s WHERE rn = 1
        UNION ALL
        SELECT user_id, rn, ts, value, lm_new,
               CASE WHEN 1 * (lm_new - lm_old) + 9 * bm_old >= 0
                    THEN (1 * (lm_new - lm_old) + 9 * bm_old + 5) // 10
                    ELSE -((-(1 * (lm_new - lm_old) + 9 * bm_old) + 5) // 10) END
        FROM (
          SELECT s.user_id, s.rn, s.ts, s.value, r.lm AS lm_old, r.bm AS bm_old,
                 CASE WHEN 3 * s.xm + 7 * (r.lm + r.bm) >= 0
                      THEN (3 * s.xm + 7 * (r.lm + r.bm) + 5) // 10
                      ELSE -((-(3 * s.xm + 7 * (r.lm + r.bm)) + 5) // 10) END AS lm_new
          FROM s JOIN rec r ON s.user_id = r.user_id AND s.rn = r.rn + 1)),
      fc AS (
        SELECT user_id, value,
               lag(lm) OVER w / 1e6 + lag(bm) OVER w / 1e6 AS f
        FROM rec WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      sc AS (
        SELECT user_id,
               round(abs(f - value) * 1e6)::BIGINT AS am,
               round(abs(f - value) * 2 / (abs(f) + abs(value)) * 1e6)::BIGINT AS sm
        FROM fc WHERE f IS NOT NULL)
      SELECT user_id, count(*)::BIGINT AS n_eval,
             ${OracleExact.microQuotientSql("sum(am)::BIGINT", "count(*)")} AS mae,
             ${OracleExact.microQuotientSql("sum(sm)::BIGINT", "count(*)")} AS smape
      FROM sc GROUP BY 1
    """),
  )

  /** Per-series autocorrelation function, lags 1..5 — the ORACLED acf
    * companion to the spec-pinned `ts_pacf` (statsmodels
    * `acf(adjusted=False)`: biased normalization by the FULL n·σ², so
    * every lag shares one denominator): values on the exact centi
    * grid, deviations kept integral by scaling ×n (d_t = n·c_t − Σc —
    * no division until the final ratio), lag products via `lead` over
    * the ts-ordered window; Σ d_t·d_{t+l} and Σd_t² are exact int64
    * (|d| ≤ n·max|c|, bounded at the corpus magnitudes — the
    * quantization-resolution check in §13), so every acf value is a
    * pure ratio of exact integers. ONE hash(user) Exchange: the
    * full-partition sums, the lead chain, and the final rollup all
    * share the key.
    */
  val tsAcf: Q = Q(
    "ts_acf",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val wU = Window.partitionBy(col("user_id"))
      val wO = Window.partitionBy(col("user_id")).orderBy(col("ts"))
      val base = Tables.events(s, dir)
        .select(col("user_id"), col("ts"),
          round(col("value") * 100).cast("long").as("c"))
        .withColumn("n", count(lit(1)).over(wU))
        .withColumn("s", sum(col("c")).over(wU))
        .withColumn("d", col("n") * col("c") - col("s"))
      val withLags = (1 to 5).foldLeft(base) { (df, l) =>
        df.withColumn(s"p$l", col("d") * lead(col("d"), l).over(wO))
      }
      val aggs = Seq(count(lit(1)).as("n"), sum(col("d") * col("d")).as("den")) ++
        (1 to 5).map(l => sum(col(s"p$l")).as(s"s$l"))
      val g = withLags.groupBy(col("user_id")).agg(aggs.head, aggs.tail: _*)
      g.select(col("user_id") +: col("n") +:
        (1 to 5).map(l =>
          round(when(col("den") > 0, col(s"s$l") / col("den")), 6).as(s"acf$l")): _*)
    },
    Some("""
      WITH b AS (
        SELECT user_id, epoch_ns(ts) AS tsn, round(value * 100)::BIGINT AS c
        FROM events),
      m AS (SELECT user_id, tsn, c,
                   count(*) OVER (PARTITION BY user_id) AS n,
                   sum(c) OVER (PARTITION BY user_id) AS s
            FROM b),
      d AS (SELECT user_id, tsn, n * c - s AS d FROM m),
      p AS (SELECT user_id, d,
                   d * lead(d, 1) OVER w AS p1,
                   d * lead(d, 2) OVER w AS p2,
                   d * lead(d, 3) OVER w AS p3,
                   d * lead(d, 4) OVER w AS p4,
                   d * lead(d, 5) OVER w AS p5
            FROM d WINDOW w AS (PARTITION BY user_id ORDER BY tsn)),
      g AS (SELECT user_id, count(*)::BIGINT AS n, sum(d * d)::BIGINT AS den,
                   sum(p1)::BIGINT AS s1, sum(p2)::BIGINT AS s2, sum(p3)::BIGINT AS s3,
                   sum(p4)::BIGINT AS s4, sum(p5)::BIGINT AS s5
            FROM p GROUP BY 1)
      SELECT user_id, n,
             round(CASE WHEN den > 0 THEN s1 / den::DOUBLE END, 6) AS acf1,
             round(CASE WHEN den > 0 THEN s2 / den::DOUBLE END, 6) AS acf2,
             round(CASE WHEN den > 0 THEN s3 / den::DOUBLE END, 6) AS acf3,
             round(CASE WHEN den > 0 THEN s4 / den::DOUBLE END, 6) AS acf4,
             round(CASE WHEN den > 0 THEN s5 / den::DOUBLE END, 6) AS acf5
      FROM g
    """),
  )

  /** Lead-lag cross-correlation between the daily click and purchase
    * series (lags −3..+3 days) — the multivariate companion to the
    * per-series autocorrelation features (does engagement LEAD
    * conversion, and by how many days?). Daily totals are exact int64
    * counts from one map-side-combined rollup; the lag alignment is a
    * bounded explode (7 lag rows per day) + one equi-join on the
    * shifted day key (never a cross join); per-lag Pearson r is a pure
    * fixed-op-order double function of six exact integer sums. At
    * 100 TB the day-grain rollup is tiny by construction — the explode
    * and join ride a table with one row per (day, lag).
    */
  val tsCrossCorr: Q = Q(
    "ts_cross_corr",
    (s, dir) => {
      val dayNs = 86400000000000L
      // materialize the day-grain rollup ONCE: both join sides hang off
      // it, and an unmaterialized self-join recomputes the full events
      // scan + rollup per branch (the CC double-materialization lesson)
      val daily = Tables.events(s, dir)
        .groupBy(expr(s"cast(ts as long) div $dayNs").as("day"))
        .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("x"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("y"))
        .localCheckpoint(eager = false)
      val lagged = daily.select(col("day"), col("x"),
        explode(array((-3 to 3).map(l => lit(l.toLong)): _*)).as("lag"))
      val ys = daily.select(col("day").as("yday"), col("y"))
      val r = lagged.join(ys, col("yday") === col("day") + col("lag"))
        .groupBy(col("lag"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
      r.select(col("lag"), col("n").as("n_days"),
        round((col("n") * col("sxy") - col("sx") * col("sy")) /
          (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
            sqrt(col("n") * col("syy") - col("sy") * col("sy"))), 6).as("r"))
    },
    Some("""
      WITH daily AS (
        SELECT epoch_ns(ts) // 86400000000000 AS day,
               sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS x,
               sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS y
        FROM events GROUP BY 1),
      lagged AS (
        SELECT day, x, l.l AS lag
        FROM daily, (SELECT unnest(generate_series(-3, 3)) AS l) l),
      j AS (
        SELECT lag, count(*)::BIGINT AS n, sum(a.x)::BIGINT AS sx, sum(b.y)::BIGINT AS sy,
               sum(a.x * b.y)::BIGINT AS sxy, sum(a.x * a.x)::BIGINT AS sxx,
               sum(b.y * b.y)::BIGINT AS syy
        FROM lagged a JOIN daily b ON b.day = a.day + a.lag
        GROUP BY 1)
      SELECT lag, n AS n_days,
             round((n * sxy - sx * sy) /
                   (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6) AS r
      FROM j
    """),
  )

  /** SAX symbolization (Lin et al. 2003, public): each series splits
    * into 8 equal row-count segments by pure integer arithmetic
    * (((rn−1)·8) div n — no engine ntile convention on the segment
    * boundary), PAA = the exact integer-micro mean per segment
    * (ExactAgg.microAvg), and symbols discretize the 8 PAA values by
    * per-series quartile rank (ntile(4) over (paa, seg) — data-driven
    * breakpoints, no distribution assumption, deterministic ties).
    * Per-series windows only — no global window; the output is one
    * 8-char word per series, the index structure behind wholesale
    * ts similarity search.
    */
  val tsSax: Q = Q(
    "ts_sax",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import graft.operators.ExactAgg
      val wOrd = Window.partitionBy(col("user_id")).orderBy(col("t"), col("event_id"))
      val wAll = Window.partitionBy(col("user_id"))
      val seg = Tables.events(s, dir)
        .select(col("user_id"), expr("cast(ts as long)").as("t"),
          col("event_id"), col("value"))
        .withColumn("rn", row_number().over(wOrd))
        .withColumn("n", count(lit(1)).over(wAll))
        .select(col("user_id"), col("n"),
          expr("((rn - 1) * 8) div n").as("seg"), col("value"))
        .groupBy(col("user_id"), col("seg"))
        .agg(max(col("n")).as("n"), ExactAgg.microAvg(col("value")).as("paa"))
      val wRank = Window.partitionBy(col("user_id")).orderBy(col("paa"), col("seg"))
      seg.withColumn("sym", ntile(4).over(wRank))
        .withColumn("ch", expr("substring('abcd', sym, 1)"))
        .groupBy(col("user_id"))
        .agg(max(col("n")).as("n"),
          expr("array_join(transform(array_sort(collect_list(struct(seg, ch))), x -> x.ch), '')")
            .as("sax"))
    },
    Some(s"""
      WITH r AS (SELECT user_id, value,
               row_number() OVER (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id) AS rn,
               count(*) OVER (PARTITION BY user_id) AS n
             FROM events),
      sg AS (SELECT user_id, ((rn - 1) * 8) // n AS seg, max(n)::BIGINT AS n,
               ${OracleExact.microAvgSql("value")} AS paa
             FROM r GROUP BY user_id, seg),
      sym AS (SELECT user_id, n, seg,
                ntile(4) OVER (PARTITION BY user_id ORDER BY paa, seg) AS sym
              FROM sg)
      SELECT user_id, max(n)::BIGINT AS n,
             string_agg(substr('abcd', sym, 1), '' ORDER BY seg) AS sax
      FROM sym GROUP BY user_id
    """),
  )

  /** Top-k trajectory-similarity search (the REPOSE/top-k-similarity
    * problem class, Spark-shaped): each series compresses to its
    * 8-point PAA vector in EXACT integer micros, candidate pairs are
    * generated by SAX-WORD equality blocking (same quartile shape
    * class — the reference-point/trie pruning idea expressed as a
    * bucketed equi-join, never all-pairs), and the within-block exact
    * Euclidean distance ranks globally (top-20 by (d², ids) —
    * distance² an exact HUGEINT/decimal sum of micro diffs, tie-free
    * ordering). At 100 TB the word key is what bounds the join; a
    * coarser prefix (first 4 letters) trades recall for block size
    * without changing the shape.
    */
  val tsSimilarityTopk: Q = Q(
    "ts_similarity_topk",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import graft.operators.ExactAgg
      val wOrd = Window.partitionBy(col("user_id")).orderBy(col("t"), col("event_id"))
      val wAll = Window.partitionBy(col("user_id"))
      val paa = Tables.events(s, dir)
        .select(col("user_id"), expr("cast(ts as long)").as("t"),
          col("event_id"), col("value"))
        .withColumn("rn", row_number().over(wOrd))
        .withColumn("n", count(lit(1)).over(wAll))
        .select(col("user_id"), expr("((rn - 1) * 8) div n").as("seg"), col("value"))
        .groupBy(col("user_id"), col("seg"))
        .agg(round(ExactAgg.microAvg(col("value")) * lit(1e6)).cast("long").as("paam"))
        .localCheckpoint(eager = false)
      val wRank = Window.partitionBy(col("user_id")).orderBy(col("paam"), col("seg"))
      val sax = paa.withColumn("sym", ntile(4).over(wRank))
        .withColumn("ch", expr("substring('abcd', sym, 1)"))
        .groupBy(col("user_id"))
        .agg(expr("array_join(transform(array_sort(collect_list(struct(seg, ch))), x -> x.ch), '')")
          .as("sax"))
      val cand = sax.as("a").join(sax.as("b"),
        col("a.sax") === col("b.sax") && col("a.user_id") < col("b.user_id"))
        .select(col("a.user_id").as("ida"), col("b.user_id").as("idb"),
          col("a.sax").as("sax"))
      val d2 = cand
        .join(paa.select(col("user_id").as("ida"), col("seg"), col("paam").as("pa")),
          Seq("ida"))
        .join(paa.select(col("user_id").as("idb"), col("seg"), col("paam").as("pb")),
          Seq("idb", "seg"))
        .groupBy(col("ida"), col("idb"), col("sax"))
        .agg(sum((col("pa") - col("pb")).cast("decimal(38,0)") *
          (col("pa") - col("pb"))).as("d2"))
      d2.select(col("ida").as("id_a"), col("idb").as("id_b"), col("sax"),
          col("d2").cast("double").as("d2d"))
        .orderBy(col("d2d"), col("id_a"), col("id_b")).limit(20)
        .select(col("id_a"), col("id_b"), col("sax"),
          round(sqrt(col("d2d")) / lit(1e6), 6).as("dist"))
    },
    Some(s"""
      WITH r AS (SELECT user_id, value,
               row_number() OVER (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id) AS rn,
               count(*) OVER (PARTITION BY user_id) AS n
             FROM events),
      paa AS (SELECT user_id, ((rn - 1) * 8) // n AS seg,
                round((${OracleExact.microAvgSql("value")}) * 1000000)::BIGINT AS paam
              FROM r GROUP BY user_id, seg),
      sym AS (SELECT user_id, seg,
                ntile(4) OVER (PARTITION BY user_id ORDER BY paam, seg) AS sym
              FROM paa),
      sax AS (SELECT user_id, string_agg(substr('abcd', sym, 1), '' ORDER BY seg) AS sax
              FROM sym GROUP BY user_id),
      cand AS (SELECT a.user_id AS ida, b.user_id AS idb, a.sax
               FROM sax a JOIN sax b ON a.sax = b.sax AND a.user_id < b.user_id),
      d AS (SELECT ida, idb, cand.sax,
              sum((pa.paam - pb.paam)::HUGEINT * (pa.paam - pb.paam)) AS d2
            FROM cand
            JOIN paa pa ON pa.user_id = ida
            JOIN paa pb ON pb.user_id = idb AND pb.seg = pa.seg
            GROUP BY 1, 2, 3)
      SELECT ida AS id_a, idb AS id_b, sax,
             round(sqrt(d2::DOUBLE) / 1000000, 6) AS dist
      FROM d ORDER BY d2::DOUBLE, id_a, id_b LIMIT 20
    """),
  )

  /** tsfresh `cwt_coefficients` (Ricker CWT, widths 2/5/10/20, first
    * 15 coefficients) in the cross-engine hash protocol:
    * [[graft.operators.TsFeatures.cwt]] computes the Ricker kernel with
    * a fixed-op-order exp (both engines produce bit-identical doubles)
    * and sums exact pico×micro integer products. The oracle scatters
    * each row into its ≤15 live targets per width and replays the
    * identical arithmetic — same op order, same quantization — so the
    * result hash-matches.
    */
  val tsCwt: Q = Q(
    "ts_cwt",
    (s, dir) => graft.operators.TsFeatures.cwt(
      Tables.events(s, dir).select(col("user_id"), col("ts"), col("value")),
      "user_id", Seq("ts"), "value")
      .select(col("user_id"), col("width").cast("long").as("width"),
        col("idx").cast("long").as("idx"), col("coeff")),
    Some("""
      WITH ev AS (
        SELECT user_id,
               row_number() OVER (PARTITION BY user_id ORDER BY ts) - 1 AS i0,
               count(*) OVER (PARTITION BY user_id) AS n,
               round(value * 1e6)::BIGINT AS xq
        FROM events),
      sc0 AS (SELECT ev.*, wd.w FROM ev, (VALUES (2::BIGINT),(5),(10),(20)) wd(w)),
      sc1 AS (SELECT *, least(w * 10, n) AS m FROM sc0),
      sc2 AS (SELECT *, (m - 1) // 2 AS off FROM sc1),
      sc3 AS (
        SELECT user_id, w, xq, i0, m, off,
               unnest(generate_series(greatest(0, i0 - off),
                                      least(least(15, n) - 1, i0 - off + m - 1))) AS t
        FROM sc2
        WHERE least(least(15, n) - 1, i0 - off + m - 1) >= greatest(0, i0 - off)),
      k0 AS (SELECT user_id, w, xq, t, m, m - 1 - (t + off - i0) AS j FROM sc3),
      k1 AS (SELECT *, (j - (m - 1) / 2.0) AS x FROM k0),
      k2 AS (SELECT *, x / w AS xa, -(x * x) / (2.0 * w * w) AS y FROM k1),
      k3 AS (SELECT *, floor(y / 0.6931471805599453 + 0.5) AS kk FROM k2),
      k4 AS (SELECT *, y - kk * 0.6931471805599453 AS r FROM k3),
      k5 AS (SELECT *,
        ((((((((1.0 + r) + r*r/2.0) + r*r*r/6.0) + r*r*r*r/24.0)
           + r*r*r*r*r/120.0) + r*r*r*r*r*r/720.0)
           + r*r*r*r*r*r*r/5040.0) + r*r*r*r*r*r*r*r/40320.0)
           + r*r*r*r*r*r*r*r*r/362880.0 AS p FROM k4),
      k6 AS (SELECT *, p * (1.0 / (1::BIGINT << (-kk)::INT)) AS dx FROM k5),
      k7 AS (SELECT *,
        (2.0 / (sqrt(3.0 * w) * sqrt(sqrt(3.141592653589793))))
          * (1.0 - xa * xa) * dx AS kern FROM k6),
      k8 AS (SELECT user_id, w, t, round(kern * 1e12)::BIGINT AS kq, xq FROM k7),
      ag AS (SELECT user_id, w AS width, t AS idx, sum(xq::HUGEINT * kq) AS s
             FROM k8 GROUP BY 1, 2, 3)
      SELECT user_id, width, idx, round((s::DOUBLE) / 1e18, 6) AS coeff FROM ag
    """),
  )

  /** GENERATED oracle for `ts_pacf` — built from the same k/j loops as
    * [[graft.operators.TsFeatures.pacf]] so the Durbin–Levinson op
    * order is identical by construction: r_k is one double division
    * of two exact HUGEINT sums (Σd·d_{+k} / Σd², d = n·xq − Σxq), then
    * each unrolled step publishes its φ row as CTE columns.
    */
  private def pacfOracleSql(nlags: Int): String = {
    val leads = (1 to nlags)
      .map(k => s"lead(n*xq - s, $k) OVER (PARTITION BY user_id ORDER BY ts) AS d$k")
      .mkString(",\n               ")
    val bsums = (1 to nlags).map(k => s"sum(d::HUGEINT * d$k) AS b$k")
      .mkString(", ")
    val rs = (1 to nlags)
      .map(k => s"CASE WHEN b0 = 0 THEN NULL ELSE (b$k::DOUBLE) / (b0::DOUBLE) END AS r$k")
      .mkString(",\n             ")
    val chain = new StringBuilder
    chain ++= "p1 AS (SELECT *, r1 AS f1_1 FROM rc)"
    for (k <- 2 to nlags) {
      val num = (1 until k).foldLeft(s"r$k")((acc, j) => s"($acc - f${k - 1}_$j * r${k - j})")
      val den = (1 until k).foldLeft("1.0")((acc, j) => s"($acc - f${k - 1}_$j * r$j)")
      chain ++= s",\n      q$k AS (SELECT *, CASE WHEN $den = 0 THEN NULL ELSE $num / $den END AS k$k FROM ${if (k == 2) "p1" else s"p${k - 1}"})"
      val phis = ((1 until k).map(j => s"f${k - 1}_$j - k$k * f${k - 1}_${k - j} AS f${k}_$j") :+ s"k$k AS f${k}_$k").mkString(", ")
      chain ++= s",\n      p$k AS (SELECT *, $phis FROM q$k)"
    }
    val rows = (1 to nlags).map { k =>
      val v = if (k == 1) "r1" else s"k$k"
      s"SELECT user_id, $k::BIGINT AS lag, CASE WHEN b0 = 0 OR n <= ${k + 1} THEN NULL ELSE round($v, 6) END AS pacf FROM p$nlags"
    }.mkString("\n      UNION ALL ")
    s"""
      WITH base AS (
        SELECT user_id, ts, round(value * 1e6)::BIGINT AS xq FROM events),
      st AS (SELECT user_id, ts, xq,
               count(*) OVER (PARTITION BY user_id) AS n,
               sum(xq) OVER (PARTITION BY user_id) AS s
             FROM base),
      dl AS (SELECT user_id, n, n*xq - s AS d,
               $leads
             FROM st),
      ac AS (SELECT user_id, n, sum(d::HUGEINT * d) AS b0, $bsums
             FROM dl GROUP BY 1, 2),
      rc AS (SELECT user_id, n, b0,
             $rs
             FROM ac),
      ${chain.result()}
      $rows
    """
  }

  /** tsfresh `partial_autocorrelation` lags 1..10 in the hash
    * protocol: exact-integer biased-ACF ratios + unrolled
    * Durbin–Levinson in bit-identical fixed-op-order doubles on both
    * engines ([[graft.operators.TsFeatures.pacf]]); the oracle text is
    * GENERATED from the same loops.
    */
  val tsPacf: Q = Q(
    "ts_pacf",
    (s, dir) => graft.operators.TsFeatures.pacf(
      Tables.events(s, dir).select(col("user_id"), col("ts"), col("value")),
      "user_id", Seq("ts"), "value")
      .withColumn("lag", col("lag").cast("long")),
    Some(pacfOracleSql(10)),
  )

  /** GENERATED oracle for `ts_friedrich` — shares every scalar
    * expression string with
    * [[graft.operators.TsFeatures.friedrichDistributed]] (the
    * `Friedrich` builders), so the Cramer solve, cubic reduction, and
    * bisection run the identical op sequence; only the exact-int
    * casts and the fold construct are DuckDB-specific.
    */
  private def friedrichOracleSql(bins: Int): String = {
    val F = graft.operators.TsFeatures.Friedrich
    // ordered double folds — the bin-order sequential sum DuckDB's
    // sum(x ORDER BY bin) runs matches Spark's aggregate() over the
    // bin-sorted list exactly (see Friedrich.termInner)
    val moSums =
      ((0 to 6).map(a => s"sum(${F.termInner(a, withMd = false)} ORDER BY bin) AS p$a") ++
        (0 to 3).map(a => s"sum(${F.termInner(a, withMd = true)} ORDER BY bin) AS r$a"))
        .mkString(", ")
    val betas = (3 to 0 by -1).map(i =>
      s"CASE WHEN ndist < 4 OR det_a = 0.0 THEN NULL " +
        s"ELSE (${F.det4(F.aWith(i))} / det_a) END AS b$i").mkString(",\n        ")
    // bisection as a RECURSIVE CTE, not list_reduce: DuckDB 1.0's
    // lambda captures scramble under multithreading (verified: the
    // same fold returned different fp values run-to-run with threads>1
    // and the correct Spark-matching value with threads=1)
    val fold =
      s"""rec(user_id, pp, qq, lo, hi, it) AS (
        SELECT user_id, pp, qq, bl, t0, 0 FROM c4
        UNION ALL
        SELECT user_id, pp, qq,
          CASE WHEN ${F.fMidPos("lo", "hi")} THEN lo ELSE ${F.midStr("lo", "hi")} END,
          CASE WHEN ${F.fMidPos("lo", "hi")} THEN ${F.midStr("lo", "hi")} ELSE hi END,
          it + 1
        FROM rec WHERE it < 200),
      tnq AS (SELECT user_id, hi AS tn FROM rec WHERE it = 200),
      c5 AS (SELECT c4.*, tnq.tn FROM c4 LEFT JOIN tnq USING (user_id))"""
    s"""
      WITH RECURSIVE base AS (
        SELECT user_id, ts, round(value * 1e6)::BIGINT AS xq FROM events),
      sg AS (SELECT user_id, xq,
               lead(xq, 1) OVER (PARTITION BY user_id ORDER BY ts) - xq AS dq
             FROM base),
      sig AS (SELECT * FROM sg WHERE dq IS NOT NULL),
      vg AS (SELECT user_id, xq, count(*) AS c, sum(dq) AS sd
             FROM sig GROUP BY 1, 2),
      vg2 AS (SELECT *, sum(c) OVER (PARTITION BY user_id) AS len,
                coalesce(sum(c) OVER (PARTITION BY user_id ORDER BY xq
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef
              FROM vg),
      bn AS (SELECT user_id, ((bef + c - 1) * $bins) // len AS bin,
               sum(xq * c) AS sx, sum(sd) AS sdd, sum(c) AS cb
             FROM vg2 GROUP BY 1, 2),
      pts AS (SELECT user_id, bin,
                (sx::DOUBLE) / ((cb::DOUBLE) * 1000000.0) AS mx,
                (sdd::DOUBLE) / ((cb::DOUBLE) * 1000000.0) AS md
              FROM bn),
      mo2 AS (SELECT user_id, count(DISTINCT mx) AS ndist, $moSums
             FROM pts GROUP BY 1),
      dt AS (SELECT *, ${F.det4(F.aMat)} AS det_a FROM mo2),
      bt AS (SELECT *,
        $betas
        FROM dt),
      c1 AS (SELECT *, ${F.pExpr} AS pp, ${F.qExpr} AS qq, ${F.shExpr} AS sh FROM bt),
      c2 AS (SELECT *, ${F.ddExpr} AS dd FROM c1),
      c3 AS (SELECT *, ${F.t0Expr} AS t0 FROM c2),
      c4 AS (SELECT *, ${F.blExpr} AS bl FROM c3),
      $fold
      SELECT user_id,
             round(b3, 6) + 0.0 AS coeff_3, round(b2, 6) + 0.0 AS coeff_2,
             round(b1, 6) + 0.0 AS coeff_1, round(b0, 6) + 0.0 AS coeff_0,
             round(${F.fpExpr}, 6) + 0.0 AS max_fixed_point
      FROM c5
    """
  }

  /** tsfresh `friedrich_coefficients` + `max_langevin_fixed_point` —
    * the r10 redesign (SURVEY §15 #3) that moved this row from
    * bench-only into the hash protocol: exact-rank bins, quantized
    * moments, Cramer + bisection in shared-text arithmetic
    * ([[graft.operators.TsFeatures.friedrichDistributed]]).
    */
  val tsFriedrich: Q = Q(
    "ts_friedrich",
    (s, dir) => graft.operators.TsFeatures.friedrichDistributed(
      Tables.events(s, dir).select(col("user_id"), col("ts"), col("value")),
      "user_id", Seq("ts"), "value"),
    Some(friedrichOracleSql(30)),
  )

  /** GENERATED oracle for `ts_adf` — the `Adf` builders' text, which
    * [[graft.operators.TsFeatures.adf]] replays op for op: the Cramer
    * 3×3 solve, the RSS identity, and the tau expression run the
    * identical op sequence.
    */
  private def adfOracleSql: String = {
    val A = graft.operators.TsFeatures.Adf
    val F = graft.operators.TsFeatures.Friedrich
    val sums = Seq(
      "sum(x1::HUGEINT * x1::HUGEINT) AS s11",
      "sum(x1::HUGEINT * x2::HUGEINT) AS s12",
      "sum(x2::HUGEINT * x2::HUGEINT) AS s22",
      "sum(x1::HUGEINT) AS s1", "sum(x2::HUGEINT) AS s2",
      "sum(x1::HUGEINT * z::HUGEINT) AS u1",
      "sum(x2::HUGEINT * z::HUGEINT) AS u2",
      "sum(z::HUGEINT) AS u0",
      "sum(z::HUGEINT * z::HUGEINT) AS zq").mkString(", ")
    val casts = A.moments.map { case (m, s, p) =>
      s"($s::DOUBLE) / ${A.scaleDiv(p)} AS $m" }.mkString(", ")
    s"""
      WITH base AS (
        SELECT user_id, ts, round(value * 1e6)::BIGINT AS xq FROM events),
      sg AS (SELECT user_id, xq,
               lead(xq, 1) OVER win AS l1, lead(xq, 2) OVER win AS l2
             FROM base WINDOW win AS (PARTITION BY user_id ORDER BY ts)),
      sm AS (SELECT user_id, l1 AS x1, l1 - xq AS x2, l2 - l1 AS z
             FROM sg WHERE l2 IS NOT NULL),
      mo AS (SELECT user_id, count(*) AS nobs, $sums FROM sm GROUP BY 1),
      mo2 AS (SELECT user_id, nobs, $casts, nobs::DOUBLE AS nn FROM mo),
      dt AS (SELECT *, ${F.det3(A.aMat)} AS det_a FROM mo2),
      bt AS (SELECT *, ${A.beta(0)} AS b0, ${A.beta(1)} AS b1,
               ${A.beta(2)} AS b2 FROM dt),
      fin AS (SELECT *, ${A.rssExpr} AS rss, ${A.inv00Expr} AS inv00 FROM bt),
      st AS (SELECT *, round(${A.statExpr}, 6) + 0.0 AS stat6 FROM fin)
      SELECT user_id, stat6 AS adf_stat,
             round(${A.mackinnonPExpr("stat6")}, 6) + 0.0 AS adf_p,
             nobs AS adf_nobs
      FROM st
    """
  }

  /** Fixed-lag-1 ADF tau and MacKinnon p per series
    * ([[graft.operators.TsFeatures.adf]]): exact-integer moments,
    * shared-text Cramer solve, 6-dp micro-stable output.
    */
  val tsAdf: Q = Q(
    "ts_adf",
    (s, dir) => graft.operators.TsFeatures.adf(
      Tables.events(s, dir).select(col("user_id"), col("ts"), col("value")),
      "user_id", Seq("ts"), "value"),
    Some(adfOracleSql),
  )

  /** GENERATED oracle for `ts_adf_autolag` — extends [[adfOracleSql]]
    * with the lag-0 candidate (FILTERed conditional sums split the
    * common t ≥ 2 and full t ≥ 1 samples inside one GROUP BY) and the
    * shared AIC-selection text; every double, the ln-based compare,
    * and the selected tau run the identical op sequence in both
    * engines.
    */
  private def adfAutolagOracleSql: String = {
    val A = graft.operators.TsFeatures.Adf
    val F = graft.operators.TsFeatures.Friedrich
    val c = "FILTER (WHERE x1 IS NOT NULL)"
    val sums = Seq(
      s"sum(x1::HUGEINT * x1::HUGEINT) $c AS s11",
      s"sum(x1::HUGEINT * x2::HUGEINT) $c AS s12",
      s"sum(x2::HUGEINT * x2::HUGEINT) $c AS s22",
      s"sum(x1::HUGEINT) $c AS s1", s"sum(x2::HUGEINT) $c AS s2",
      s"sum(x1::HUGEINT * z::HUGEINT) $c AS u1",
      s"sum(x2::HUGEINT * z::HUGEINT) $c AS u2",
      s"sum(z::HUGEINT) $c AS u0",
      s"sum(z::HUGEINT * z::HUGEINT) $c AS zq",
      "sum(x0::HUGEINT * x0::HUGEINT) AS p11", "sum(x0::HUGEINT) AS p1",
      "sum(x0::HUGEINT * z0::HUGEINT) AS q1", "sum(z0::HUGEINT) AS q0",
      "sum(z0::HUGEINT * z0::HUGEINT) AS qq").mkString(", ")
    val casts = (A.moments ++ A.momentsF).map { case (m, s, p) =>
      s"($s::DOUBLE) / ${A.scaleDiv(p)} AS $m" }.mkString(", ")
    s"""
      WITH base AS (
        SELECT user_id, ts, round(value * 1e6)::BIGINT AS xq FROM events),
      sg AS (SELECT user_id, xq,
               lead(xq, 1) OVER win AS l1, lead(xq, 2) OVER win AS l2
             FROM base WINDOW win AS (PARTITION BY user_id ORDER BY ts)),
      sm AS (SELECT user_id, xq AS x0, l1 - xq AS z0,
               CASE WHEN l2 IS NOT NULL THEN l1 END AS x1,
               CASE WHEN l2 IS NOT NULL THEN l1 - xq END AS x2,
               CASE WHEN l2 IS NOT NULL THEN l2 - l1 END AS z
             FROM sg WHERE l1 IS NOT NULL),
      mo AS (SELECT user_id, count(x1) AS nobs, count(*) AS fcount, $sums
             FROM sm GROUP BY 1),
      mo2 AS (SELECT user_id, nobs, fcount, $casts,
                nobs::DOUBLE AS nn, fcount::DOUBLE AS fnn FROM mo),
      dt AS (SELECT *, ${F.det3(A.aMat)} AS det_a FROM mo2),
      bt AS (SELECT *, ${A.beta(0)} AS b0, ${A.beta(1)} AS b1,
               ${A.beta(2)} AS b2 FROM dt),
      l1f AS (SELECT *, ${A.rssExpr} AS rss, ${A.inv00Expr} AS inv00 FROM bt),
      s1f AS (SELECT *, ${A.statExpr} AS stat1, ${A.det0cExpr} AS det0c FROM l1f),
      c0 AS (SELECT *, ${A.b0cExpr} AS b0c, ${A.b2cExpr} AS b2c FROM s1f),
      r0 AS (SELECT *, ${A.rss0cExpr} AS rss0c FROM c0),
      ai AS (SELECT *, ${A.aic0Expr} AS aic0, ${A.aic1Expr} AS aic1 FROM r0),
      lg AS (SELECT *, ${A.lagSelExpr} AS lag, ${A.det0fExpr} AS det0f FROM ai),
      f0 AS (SELECT *, ${A.b0fExpr} AS b0f, ${A.b2fExpr} AS b2f FROM lg),
      f1 AS (SELECT *, ${A.rss0fExpr} AS rss0f, ${A.inv00fExpr} AS inv00f FROM f0),
      f2 AS (SELECT *, ${A.stat0Expr} AS stat0 FROM f1),
      f3 AS (SELECT *, round(${A.statSelExpr}, 6) + 0.0 AS stat6 FROM f2)
      SELECT user_id, stat6 AS adf_stat,
             round(${A.mackinnonPExpr("stat6")}, 6) + 0.0 AS adf_p,
             lag::INT AS adf_lag,
             CASE WHEN lag IS NULL THEN NULL
                  WHEN lag = 0 THEN fcount ELSE nobs END AS adf_nobs
      FROM f3
    """
  }

  /** ADF with statsmodels `autolag="AIC"` (maxLag 1) per series — the
    * default statsmodels path next to row `ts_adf`'s fixed-lag
    * variant ([[graft.operators.TsFeatures.adfAutolag]]):
    * common-sample AIC selection between the lag-0 and lag-1 fits,
    * tuple-min tie-break, full-sample refit of the winner — all in the
    * shared expression text's arithmetic, fully DuckDB-replayed.
    */
  val tsAdfAutolag: Q = Q(
    "ts_adf_autolag",
    (s, dir) => graft.operators.TsFeatures.adfAutolag(
      Tables.events(s, dir).select(col("user_id"), col("ts"), col("value")),
      "user_id", Seq("ts"), "value", maxLag = 1),
    Some(adfAutolagOracleSql),
  )

  /** GENERATED oracle for `ts_matrix_profile` — shares the distance
    * and percentile expression text with
    * [[graft.operators.TsFeatures.matrixProfileBanded]] so both
    * engines replay bit-identical doubles; the lead columns, the
    * struct-unnest pair scatter, and the cast syntax are the only
    * DuckDB-specific parts.
    */
  /** Shared WITH-chain up to the profile CTE `prof(user_id, idx, pv)` —
    * the trunk both matrix-profile oracles build on (mirror of
    * [[graft.operators.TsFeatures.matrixProfileProf]]).
    */
  private def matrixProfileProfSql(m: Int, band: Int,
                                   withNN: Boolean = false): String = {
    val MP = graft.operators.TsFeatures.MatrixProfileShared
    val excl = (m + 1) / 2
    val castD = (s: String) => s"($s::DOUBLE)"
    val leads = (1 to band + m - 1)
      .map(k => s"lead(xq, $k) OVER win AS l$k").mkString(",\n               ")
    val ds = (excl to band)
      .map(o => s"${MP.dStr(o, m, castD)} AS d$o").mkString(",\n               ")
    val scatter = (excl to band).flatMap(o => Seq(
      s"struct_pack(idx := i0, d := d$o, nn := i0 + $o)",
      s"struct_pack(idx := i0 + $o, d := d$o, nn := i0)")).mkString(", ")
    // the nn column mirrors the Spark trunk's (d, nn) struct-min —
    // DuckDB's struct ordering is the same lexicographic compare
    val nnSel =
      if (withNN) ", min(struct_pack(d := d, nn := nn)).nn AS nn" else ""
    s"""WITH base AS (SELECT user_id, ts, round(value * 1e6)::BIGINT AS xq FROM events),
      w1 AS (SELECT user_id, xq,
               row_number() OVER win - 1 AS i0,
               $leads
             FROM base WINDOW win AS (PARTITION BY user_id ORDER BY ts)),
      w2 AS (SELECT *, ${MP.sx(m)} AS sx,
               $m*(${MP.s2(m)}) - (${MP.sx(m)})*(${MP.sx(m)}) AS vi
             FROM w1),
      w3 AS (SELECT user_id, i0,
               $ds
             FROM w2),
      pr AS (SELECT user_id, unnest([$scatter]) AS s FROM w3),
      pp AS (SELECT user_id, s.idx AS idx, s.d AS d, s.nn AS nn FROM pr WHERE s.d IS NOT NULL),
      prof AS (SELECT user_id, idx, min(d) AS pv$nnSel FROM pp GROUP BY 1, 2)"""
  }

  private def matrixProfileOracleSql(m: Int, band: Int): String = {
    val MP = graft.operators.TsFeatures.MatrixProfileShared
    val castD = (s: String) => s"($s::DOUBLE)"
    val picks = Seq("0.25" -> "25", "0.5" -> "50", "0.75" -> "75").flatMap {
      case (p, tag) => Seq(
        s"${MP.pickStr(s"floor((cnt - 1) * $p)::BIGINT")} AS v${tag}lo",
        s"${MP.pickStr(s"least(floor((cnt - 1) * $p)::BIGINT + 1, cnt - 1)")} AS v${tag}hi")
    }.mkString(",\n               ")
    s"""
      ${matrixProfileProfSql(m, band)},
      vg AS (SELECT user_id, pv, count(*) AS c FROM prof GROUP BY 1, 2),
      vg2 AS (SELECT *, sum(c) OVER (PARTITION BY user_id) AS cnt,
                coalesce(sum(c) OVER (PARTITION BY user_id ORDER BY pv
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef
              FROM vg),
      ag AS (SELECT user_id, min(pv) AS mn, max(pv) AS mx,
               sum(c * round(pv * 1000000.0)::BIGINT) AS ssum, max(cnt) AS n,
               $picks
             FROM vg2 GROUP BY 1)
      SELECT user_id, round(mn, 6) AS mp_min, round(mx, 6) AS mp_max,
             round((ssum::DOUBLE) / ((n::DOUBLE) * 1000000.0), 6) AS mp_mean,
             round(${MP.pctStr("0.5", "v50lo", "v50hi")}, 6) AS mp_median,
             round(${MP.pctStr("0.25", "v25lo", "v25hi")}, 6) AS mp_p25,
             round(${MP.pctStr("0.75", "v75lo", "v75hi")}, 6) AS mp_p75
      FROM ag
    """
  }

  /** tsfresh matrix-profile summary features — the r10 redesign
    * (SURVEY §15 #4) that moved this row from bench-only into the
    * hash protocol, with the documented BAND tie-break: nearest
    * non-trivial neighbor within 20 offsets (exclusion ⌈m/2⌉), not
    * the full O(n²) profile.
    */
  val tsMatrixProfile: Q = Q(
    "ts_matrix_profile",
    (s, dir) => graft.operators.TsFeatures.matrixProfileBanded(
      Tables.events(s, dir).select(col("user_id"), col("ts"), col("value")),
      "user_id", Seq("ts"), "value"),
    Some(matrixProfileOracleSql(4, 20)),
  )

  /** Motif/discord LOCATIONS from the banded profile (the §3
    * "still out" matrix-profile classes — VERDICT r14 #7): argmin /
    * argmax of (pv, idx) per series over the SAME profile trunk the
    * summary row replays; the idx tie-break pins flat-series ties
    * identically in both engines.
    */
  val tsMatrixProfileMotif: Q = Q(
    "ts_matrix_profile_motif",
    (s, dir) => graft.operators.TsFeatures.matrixProfileIndices(
      Tables.events(s, dir).select(col("user_id"), col("ts"), col("value")),
      "user_id", Seq("ts"), "value"),
    Some(s"""
      ${matrixProfileProfSql(4, 20)},
      sel AS (SELECT user_id, idx, pv,
                row_number() OVER (PARTITION BY user_id ORDER BY pv, idx) AS rmin,
                row_number() OVER (PARTITION BY user_id ORDER BY pv DESC, idx) AS rmax
              FROM prof)
      SELECT user_id,
             max(CASE WHEN rmin = 1 THEN idx END) AS motif_idx,
             round(max(CASE WHEN rmin = 1 THEN pv END), 6) AS motif_dist,
             max(CASE WHEN rmax = 1 THEN idx END) AS discord_idx,
             round(max(CASE WHEN rmax = 1 THEN pv END), 6) AS discord_dist
      FROM sel GROUP BY 1
    """),
  )

  /** FLUSS regime segmentation (VERDICT r15 #5): corrected arc curve
    * over the banded profile's nearest-neighbor arcs — arc-endpoint
    * scatter (+1/−1), running-sum arc count, idealized-parabola
    * normalization with edge zones pinned to 1 (shared `cacStr`
    * text), regime = the (cac, idx) struct-min. Bounded rollups on
    * the same single-window-pass trunk as summary/motif.
    */
  val tsMatrixProfileFluss: Q = Q(
    "ts_matrix_profile_fluss",
    (s, dir) => graft.operators.TsFeatures.matrixProfileFluss(
      Tables.events(s, dir).select(col("user_id"), col("ts"), col("value")),
      "user_id", Seq("ts"), "value"),
    Some {
      val MP = graft.operators.TsFeatures.MatrixProfileShared
      val castD = (s: String) => s"($s::DOUBLE)"
      s"""
      ${matrixProfileProfSql(4, 20, withNN = true)},
      arcs AS (SELECT user_id, least(idx, nn) AS lo, greatest(idx, nn) AS hi
               FROM prof),
      marks AS (
        SELECT user_id, pos, sum(mk) AS mk FROM (
          SELECT user_id, lo AS pos, 1::BIGINT AS mk FROM arcs
          UNION ALL SELECT user_id, hi, -1::BIGINT FROM arcs) e
        GROUP BY 1, 2),
      acs AS (
        SELECT p.user_id, p.idx,
               sum(coalesce(m.mk, 0)) OVER (
                 PARTITION BY p.user_id ORDER BY p.idx) AS ac,
               count(*) OVER (PARTITION BY p.user_id) AS nw
        FROM prof p LEFT JOIN marks m
          ON p.user_id = m.user_id AND p.idx = m.pos),
      cacs AS (SELECT user_id, idx, nw,
                 ${MP.cacStr("ac", "idx", "nw", 20, 11.0, castD)} AS cac
               FROM acs)
      SELECT user_id,
             min(struct_pack(cac := cac, idx := idx)).idx AS regime_idx,
             round(min(cac), 6) AS cac_min,
             max(nw) AS n_win
      FROM cacs GROUP BY 1
      """
    },
  )

  val all: Seq[Q] = Seq(tsBasic, tsChange, tsTrend, tsDist, tsExtract, tsMulti,
    tsRelevant, tsRelevantCls, tsRelevantMulti, tsRelevantTau, tsResample,
    tsResampleSliding, tsSampleEntropy, tsCounts, tsWindowed, tsGapFill, tsEwma,
    tsChangepoint, tsDecompose, tsSeasonalStrength, tsAnomaly, tsOutlierMad,
    tsHolt, tsBurstiness, tsRollingAutocorr, tsLagFeatures, tsCrossCorr, tsAcf,
    tsForecastEval, tsHurst, tsPeaks, tsSax, tsSimilarityTopk, tsCwt, tsPacf,
    tsFriedrich, tsMatrixProfile, tsMatrixProfileMotif, tsMatrixProfileFluss,
    tsAdf, tsAdfAutolag)
}
