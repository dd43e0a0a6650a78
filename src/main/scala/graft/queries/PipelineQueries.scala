package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.prep._
import StatsQueries.r6

/** Full Preprocessor orchestration coverage (SURVEY §2.1 rows 22-24):
  * fit -> transform composed over selection + shrink + fill + scale +
  * one-hot, and the transform -> inverse_transform round trip
  * (reference: tests/test_preprocessor.py, tests/test_inverse_transform.py).
  */
object PipelineQueries {

  /** customer with deterministic nulls injected (TESTDATA has none):
    * acctbal null every 7th key, mktsegment empty every 11th, plus a
    * boolean feature.
    */
  private def base(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir).select(
      col("c_custkey"),
      col("c_nationkey"),
      when(col("c_custkey") % 7 === 0, lit(null)).otherwise(col("c_acctbal"))
        .as("c_acctbal"),
      when(col("c_custkey") % 11 === 0, lit("")).otherwise(col("c_mktsegment"))
        .as("c_mktsegment"),
      (col("c_custkey") % 2 === 0).as("is_even"),
    )

  private val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

  // -------------------------------------------------------------- §2.1/22
  val prepPipeline: Q = Q(
    "prep_pipeline",
    (s, dir) => {
      val df = base(s, dir)
      val model = Preprocessor.fit(df, PrepConfig(
        excludedCols = Seq("c_custkey"),
        scaling = Scaling.Standardize,
        numFillNull = FillStrategy.Mean))
      val outs = Seq(
        col("c_custkey"),
        round(col("c_nationkey"), 6).as("c_nationkey"),
        round(col("c_acctbal"), 6).as("c_acctbal"),
        col("is_even"),
      ) ++ (segs :+ "None").map(v => col(s"c_mktsegment_$v"))
      model.transform(df).select(outs: _*)
    },
    Some(s"""
      WITH b AS (
        SELECT c_custkey,
               c_nationkey::DOUBLE AS nat,
               CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_acctbal END AS bal,
               CASE WHEN c_custkey % 11 = 0 THEN 'None' ELSE c_mktsegment END AS seg,
               CASE WHEN c_custkey % 2 = 0 THEN 1 ELSE 0 END AS is_even
        FROM customer),
      st AS (
        SELECT avg(nat) m_n, stddev_samp(nat) s_n,
               avg(bal) m_a, stddev_samp(bal) s_a
        FROM b)
      SELECT c_custkey,
             round((nat - m_n) / s_n, 6) AS c_nationkey,
             round((coalesce(bal, m_a) - m_a) / s_a, 6) AS c_acctbal,
             is_even,
             ${(segs :+ "None").map(v =>
               s"CASE WHEN seg = '$v' THEN 1 ELSE 0 END AS c_mktsegment_$v")
               .mkString(",\n             ")}
      FROM b, st
    """),
  )

  // -------------------------------------------------------------- §2.1/23
  val prepRoundtrip: Q = Q(
    "prep_roundtrip",
    (s, dir) => {
      val df = base(s, dir)
      // fill="none" exercises the sentinel path: nulls survive the
      // round trip (numerical_transformer.py:80-96, 241-269)
      val model = Preprocessor.fit(df, PrepConfig(
        excludedCols = Seq("c_custkey"),
        scaling = Scaling.Standardize,
        numFillNull = FillStrategy.None_))
      model.inverseTransform(model.transform(df)).select(
        col("c_custkey"),
        col("c_nationkey"),
        round(col("c_acctbal"), 4).as("c_acctbal"),
        col("c_mktsegment"),
        col("is_even"),
      )
    },
    Some("""
      SELECT c_custkey,
             c_nationkey,
             CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE round(c_acctbal, 4) END AS c_acctbal,
             CASE WHEN c_custkey % 11 = 0 THEN NULL ELSE c_mktsegment END AS c_mktsegment,
             c_custkey % 2 = 0 AS is_even
      FROM customer
    """),
  )

  // -------------------------------------------------------------- §2.1/96
  /** one oracle SELECT per profiled column (numeric vs string shape). */
  private def profileSql(c: String, numeric: Boolean): String = {
    val (minN, maxN, minS, maxS) =
      if (numeric) (s"round(min($c)::DOUBLE, 6)", s"round(max($c)::DOUBLE, 6)",
        "NULL::VARCHAR", "NULL::VARCHAR")
      else ("NULL::DOUBLE", "NULL::DOUBLE", s"min($c)", s"max($c)")
    s"""SELECT '$c' AS "column", count(*) AS n_rows,
        count(*) - count($c) AS n_nulls,
        count(DISTINCT $c) AS n_distinct,
        $minN AS min_num, $maxN AS max_num, $minS AS min_str, $maxS AS max_str
        FROM d"""
  }

  /** Column profiling ([[Profiler.profile]]): the pass every
    * preprocessing run starts with — ONE aggregation for all columns'
    * row/null/distinct counts and typed min/max. Exact distinct here
    * (oracle-checkable); `approxDistinct = true` is the 100 TB sketch
    * path.
    */
  val qProfile: Q = Q(
    "q_profile",
    (s, dir) => {
      val df = Tables.customer(s, dir).withColumn("c_acctbal",
        when(col("c_custkey") % 7 === 0, lit(null)).otherwise(col("c_acctbal")))
      Profiler.profile(df,
        Seq("c_custkey", "c_nationkey", "c_acctbal", "c_mktsegment"))
        .withColumn("min_num", round(col("min_num"), 6))
        .withColumn("max_num", round(col("max_num"), 6))
    },
    Some(s"""
      WITH d AS (
        SELECT c_custkey, c_nationkey,
               CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_acctbal END AS c_acctbal,
               c_mktsegment
        FROM customer)
      ${Seq(profileSql("c_custkey", numeric = true),
            profileSql("c_nationkey", numeric = true),
            profileSql("c_acctbal", numeric = true),
            profileSql("c_mktsegment", numeric = false))
          .mkString("\n      UNION ALL\n      ")}
    """),
  )

  /** COMPOSED "events → CV-ready training table" flow (the fourth
    * composition flavor next to prep/text/dedup pipelines): per-user
    * exact-arithmetic features (TsFeatures.basic) + label (error-event
    * count, 0 for error-free users) + deterministic md5 5-fold
    * assignment — one declarative plan: two per-user aggregations
    * joined on the key plus a narrow hash projection, no RNG, no
    * global sort, reproducible on any cluster layout.
    */
  val mlDataset: Q = Q(
    "ml_dataset",
    (s, dir) => {
      val events = Tables.events(s, dir)
      val feats = graft.operators.TsFeatures.basic(
        events.select(col("user_id"), col("value")), "user_id", "value")
      val labels = events.where(col("event_type") === "error")
        .groupBy(col("user_id")).agg(count(lit(1)).as("label"))
      feats.join(labels, Seq("user_id"), "left")
        .select(col("user_id"), col("n"),
          round(col("mean_v"), 6).as("mean_v"),
          round(col("std_v"), 6).as("std_v"),
          round(col("min_v"), 6).as("min_v"),
          round(col("max_v"), 6).as("max_v"),
          round(col("sum_v"), 6).as("sum_v"),
          coalesce(col("label"), lit(0L)).as("label"),
          pmod(graft.operators.Sampling.hashBucket(col("user_id")), lit(5))
            .as("fold"))
    },
    Some(s"""
      WITH f AS (
        SELECT user_id, count(value) AS n,
               round(${OracleExact.microAvgSql("value")}, 6) AS mean_v,
               round(stddev_pop(value), 6) AS std_v,
               round(min(value), 6) AS min_v,
               round(max(value), 6) AS max_v,
               round(${OracleExact.decSumSql("value")}, 6) AS sum_v
        FROM events GROUP BY user_id),
      l AS (
        SELECT user_id, count(*) AS label
        FROM events WHERE event_type = 'error' GROUP BY user_id),
      h AS (
        SELECT user_id, ${OracleExact.h16Sql("hx")} % 5 AS fold
        FROM (SELECT DISTINCT user_id, md5(user_id::VARCHAR) AS hx FROM events))
      SELECT f.user_id, f.n, f.mean_v, f.std_v, f.min_v, f.max_v, f.sum_v,
             coalesce(l.label, 0) AS label, h.fold
      FROM f LEFT JOIN l ON f.user_id = l.user_id
      JOIN h ON f.user_id = h.user_id
    """),
  )

  /** Per-key approximate quantiles from the deterministic
    * log-histogram sketch ([[graft.operators.QuantileSketch]]) — the
    * mergeable bounded-state quantile path for 100 TB fits. Every
    * step (geometric bucketing, mid-bucket representative, cumulative
    * rank selection) is a pure elementary function, so the oracle
    * replays the APPROXIMATE result exactly — unlike t-digest /
    * percentile_approx, whose merge-order-dependent centroids no
    * external engine can reproduce.
    */
  val qQuantileSketch: Q = Q(
    "q_quantile_sketch",
    (s, dir) => {
      val e = Tables.events(s, dir).select(col("user_id"), col("value"))
      graft.operators.QuantileSketch.profile(e, "user_id", "value",
        Seq("p50" -> 0.5, "p95" -> 0.95))
        .select(col("user_id"), col("n"),
          round(col("p50"), 6).as("p50"), round(col("p95"), 6).as("p95"))
    },
    Some(quantileSketchOracle),
  )

  /** Shared oracle for the batch sketch and its streaming twin — the
    * ln-γ constant is embedded as the Scala double's literal so both
    * engines bucket with the identical constant.
    */
  private[queries] def quantileSketchOracle: String = {
    val ln = graft.operators.QuantileSketch.LnGamma
    s"""
      WITH r AS (
        SELECT user_id,
               CASE WHEN value = 0 THEN 0.0
                    ELSE sign(value) *
                         exp((floor(ln(abs(value)) / $ln) + 0.5) * $ln) END AS rep
        FROM events),
      g AS (SELECT user_id, rep, count(*) AS c FROM r GROUP BY 1, 2),
      cum AS (
        SELECT user_id, rep, c,
               sum(c) OVER (PARTITION BY user_id ORDER BY rep
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
               sum(c) OVER (PARTITION BY user_id) AS n
        FROM g)
      SELECT user_id, max(n)::BIGINT AS n,
             round(min(CASE WHEN cum >= 0.5 * n THEN rep END), 6) AS p50,
             round(min(CASE WHEN cum >= 0.95 * n THEN rep END), 6) AS p95
      FROM cum GROUP BY user_id
    """
  }

  /** Benford first-digit screening over order totals — the classic
    * fabricated-data / aggregation-bug detector (organically-grown
    * monetary amounts follow log(1+1/d); uniform or clumped first
    * digits flag synthetic or truncated data): the first digit is
    * extracted by pure INTEGER arithmetic on exact cents (digit =
    * cents div 10^(len−1) — never a double log10 or a double→string
    * format, which engines render differently), observed shares vs
    * the Benford expectation per digit, and the χ² statistic with the
    * per-digit terms micro-quantized before the order-free total. One
    * map-side-combined 9-cell rollup.
    */
  val qBenford: Q = Q(
    "q_benford",
    (s, dir) => {
      val digits = Tables.orders(s, dir)
        .select(round(col("o_totalprice") * 100).cast("long").as("cents"))
        .where(col("cents") > 0)
        .select(expr("cents div cast(pow(10, length(cast(cents as string)) - 1) as long)")
          .as("digit"))
        .groupBy(col("digit")).agg(count(lit(1)).as("n"))
        .orderBy(col("digit")).collect() // 9-cell fit state
      val total = digits.map(_.getLong(1)).sum
      val rows = digits.map { r =>
        val d = r.getLong(0)
        val n = r.getLong(1)
        val exp = math.log(1.0 + 1.0 / d) / math.log(10.0)
        val e = exp * total
        (d, n, r6(exp), math.round((n - e) * (n - e) / e * 1e6))
      }
      val chi2 = rows.map(_._4).sum / 1e6
      import s.implicits._
      rows.map { case (d, n, exp, _) =>
        (d, n, r6(n.toDouble / total), exp, r6(chi2))
      }.toSeq.toDF("digit", "n", "observed", "expected", "chi2_total")
    },
    Some("""
      WITH c AS (SELECT round(o_totalprice * 100)::BIGINT AS cents FROM orders
                 WHERE round(o_totalprice * 100) > 0),
      d AS (SELECT cents // pow(10, strlen(cents::VARCHAR) - 1)::BIGINT AS digit
            FROM c),
      g AS (SELECT digit, count(*)::BIGINT AS n FROM d GROUP BY 1),
      tt AS (SELECT sum(n)::BIGINT AS total FROM g),
      t AS (SELECT g.digit, g.n,
              ln(1.0 + 1.0 / g.digit) / ln(10.0) AS exp_p,
              round((g.n - (ln(1.0 + 1.0 / g.digit) / ln(10.0)) * tt.total) *
                    (g.n - (ln(1.0 + 1.0 / g.digit) / ln(10.0)) * tt.total) /
                    ((ln(1.0 + 1.0 / g.digit) / ln(10.0)) * tt.total) * 1e6)::BIGINT AS micro
            FROM g CROSS JOIN tt)
      SELECT t.digit, t.n,
             round(t.n::DOUBLE / tt.total, 6) AS observed,
             round(t.exp_p, 6) AS expected,
             round((SELECT sum(micro) FROM t) / 1e6, 6) AS chi2_total
      FROM t CROSS JOIN tt
    """),
  )

  /** Multi-feature PSI drift report — [[qPsi]]'s production shape
    * (a monitor watches EVERY model input, not one): per-feature
    * population stability across the shipdate halves of lineitem
    * (quantity / extendedprice / discount), 10 baseline-fitted
    * equi-width bins each, Laplace-smoothed terms micro-quantized via
    * the shared [[graft.operators.Eval.psiTerms]] fold — one row per
    * feature with its PSI and the standard traffic-light verdict
    * (<0.1 ok, <0.25 warning, else drift). ONE data-scale pass: all
    * features' two-period bin counts ride a single unpivoted rollup.
    */
  /** Multi-feature two-sample KS drift monitor — `q_psi_multi`'s
    * distribution-sensitive sibling (PSI's fixed bins can miss a
    * shape change that KS catches): every lineitem numeric feature,
    * stacked in ONE pass, tested across the shipdate halves. Fully
    * distributed — per-feature ECDF gaps ride cumulative windows
    * PARTITIONED by feature over the bounded value grain (exact
    * integer numerators, decimal/HUGEINT), verdict = D vs the 95%
    * two-sample critical value 1.36·√((n_a+n_b)/(n_a·n_b)) — no
    * driver loops, one stacked rollup materialized for both the
    * totals and the cumulative scan.
    */
  val qKsMulti: Q = Q(
    "q_ks_multi",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val li = Tables.lineitem(s, dir)
      val b = li.agg(min(unix_micros(col("l_shipdate").cast("timestamp"))),
        max(unix_micros(col("l_shipdate").cast("timestamp")))).head()
      val mid = b.getLong(0) + (b.getLong(1) - b.getLong(0)) / 2
      val feats = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val stack = feats.map(f => s"'$f', round($f * 10000)").mkString(", ")
      // repartition BEFORE the 4-way stack (the minhashPairs/FastSS
      // discipline, guide §2): the testdata tables are single-row-group
      // parquet, so the explode + partial aggregation would otherwise
      // run inside a 1-task scan stage
      val par = s.sparkContext.defaultParallelism
      val roll = li
        .repartition(par, col("l_orderkey"), col("l_linenumber"))
        .select(expr(s"stack(${feats.size}, $stack) AS (feature, vf)"),
          (unix_micros(col("l_shipdate").cast("timestamp")) < mid)
            .cast("long").as("isA"))
        .select(col("feature"), col("vf").cast("long").as("v"), col("isA"))
        .groupBy(col("feature"), col("v"))
        .agg(sum(col("isA")).as("na"), sum(lit(1L) - col("isA")).as("nb"))
        // lazy: both consumers (tot, gaps) sit in ONE final action, so
        // the cache fills during that action — no dedicated job
        .localCheckpoint(eager = false)
      val tot = roll.groupBy(col("feature"))
        .agg(sum(col("na")).as("ta"), sum(col("nb")).as("tb"))
      val w = Window.partitionBy(col("feature")).orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val gaps = roll
        .withColumn("ca", sum(col("na")).over(w))
        .withColumn("cb", sum(col("nb")).over(w))
        .join(tot, Seq("feature"))
        .groupBy(col("feature"))
        .agg(max(abs(col("ca").cast("decimal(38,0)") * col("tb") -
          col("cb").cast("decimal(38,0)") * col("ta"))).as("dn"),
          max(col("ta")).as("ta"), max(col("tb")).as("tb"))
      val d = col("dn").cast("double") / (col("ta").cast("double") * col("tb"))
      val crit = lit(1.36) * sqrt((col("ta") + col("tb")).cast("double") /
        (col("ta").cast("double") * col("tb")))
      gaps.select(col("feature"), col("ta").as("n_a"), col("tb").as("n_b"),
        round(d, 6).as("d"), round(crit, 6).as("crit_95"),
        when(d > crit, "drift").otherwise("ok").as("verdict"))
    },
    Some("""
      WITH bd AS (SELECT min(epoch_us(l_shipdate)) +
                         (max(epoch_us(l_shipdate)) - min(epoch_us(l_shipdate))) // 2 AS mid
                  FROM lineitem),
      ev AS (SELECT u.feature, round(u.x * 10000)::BIGINT AS v,
               (epoch_us(l_shipdate) < bd.mid)::BIGINT AS isA
             FROM lineitem, bd,
                  LATERAL (VALUES ('l_quantity', l_quantity),
                                  ('l_extendedprice', l_extendedprice),
                                  ('l_discount', l_discount),
                                  ('l_tax', l_tax)) AS u(feature, x)),
      g AS (SELECT feature, v, sum(isA)::BIGINT AS na, sum(1 - isA)::BIGINT AS nb
            FROM ev GROUP BY 1, 2),
      tt AS (SELECT feature, sum(na)::BIGINT AS ta, sum(nb)::BIGINT AS tb
             FROM g GROUP BY 1),
      c AS (SELECT feature, v,
              sum(na) OVER (PARTITION BY feature ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
              sum(nb) OVER (PARTITION BY feature ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb
            FROM g),
      dm AS (SELECT c.feature,
               max(abs(ca::HUGEINT * tb - cb::HUGEINT * ta)) AS dn,
               max(ta) AS ta, max(tb) AS tb
             FROM c JOIN tt ON c.feature = tt.feature GROUP BY 1)
      SELECT feature, ta AS n_a, tb AS n_b,
             round(dn::DOUBLE / (ta::DOUBLE * tb), 6) AS d,
             round(1.36 * sqrt((ta + tb)::DOUBLE / (ta::DOUBLE * tb)), 6) AS crit_95,
             CASE WHEN dn::DOUBLE / (ta::DOUBLE * tb) >
                       1.36 * sqrt((ta + tb)::DOUBLE / (ta::DOUBLE * tb))
                  THEN 'drift' ELSE 'ok' END AS verdict
      FROM dm
    """),
  )

  val qPsiMulti: Q = Q(
    "q_psi_multi",
    (s, dir) => {
      val li = Tables.lineitem(s, dir)
      val b = li.agg(min(unix_micros(col("l_shipdate").cast("timestamp"))),
        max(unix_micros(col("l_shipdate").cast("timestamp")))).head()
      val mid = b.getLong(0) + (b.getLong(1) - b.getLong(0)) / 2
      val feats = Seq("l_quantity", "l_extendedprice", "l_discount")
      val fit = li.where(unix_micros(col("l_shipdate").cast("timestamp")) < mid)
        .agg(min(col(feats(0))), max(col(feats(0))), min(col(feats(1))),
          max(col(feats(1))), min(col(feats(2))), max(col(feats(2)))).head()
      val ranges = feats.zipWithIndex.map { case (f, i) =>
        f -> (fit.getDouble(2 * i), fit.getDouble(2 * i + 1))
      }.toMap
      val stack = feats.map { f =>
        val (lo, hi) = ranges(f)
        val w = (hi - lo) / 10.0
        s"'$f', least(greatest(floor(($f - ${lo}d) / ${w}d), 0.0d), 9.0d)"
      }.mkString(", ")
      val counts = li
        .select(expr(s"stack(${feats.size}, $stack) AS (feature, binf)"),
          (unix_micros(col("l_shipdate").cast("timestamp")) < mid)
            .cast("long").as("isA"))
        .groupBy(col("feature"), col("binf").cast("long").as("bin"))
        .agg(sum(col("isA")).as("n_a"), sum(lit(1L) - col("isA")).as("n_b"))
        .orderBy(col("feature"), col("bin")).collect() // bounded: 3 × 10
      import s.implicits._
      feats.map { f =>
        val rows = counts.filter(_.getString(0) == f)
          .map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
        val (_, total) = graft.operators.Eval.psiTerms(rows)
        val psi = total / 1e6
        val verdict = if (psi < 0.1) "ok" else if (psi < 0.25) "warning" else "drift"
        (f, r6(psi), verdict)
      }.toDF("feature", "psi", "verdict")
    },
    Some(s"""
      WITH bd AS (SELECT min(epoch_us(l_shipdate)) +
                         (max(epoch_us(l_shipdate)) - min(epoch_us(l_shipdate))) // 2 AS mid
                  FROM lineitem),
      ft AS (SELECT min(CASE WHEN epoch_us(l_shipdate) < bd.mid THEN l_quantity END) AS lo1,
                    max(CASE WHEN epoch_us(l_shipdate) < bd.mid THEN l_quantity END) AS hi1,
                    min(CASE WHEN epoch_us(l_shipdate) < bd.mid THEN l_extendedprice END) AS lo2,
                    max(CASE WHEN epoch_us(l_shipdate) < bd.mid THEN l_extendedprice END) AS hi2,
                    min(CASE WHEN epoch_us(l_shipdate) < bd.mid THEN l_discount END) AS lo3,
                    max(CASE WHEN epoch_us(l_shipdate) < bd.mid THEN l_discount END) AS hi3
             FROM lineitem, bd),
      ev AS (
        SELECT u.feature,
               least(greatest(floor((u.x - u.lo) / ((u.hi - u.lo) / 10.0)), 0.0), 9.0)::BIGINT AS bin,
               (epoch_us(l_shipdate) < bd.mid)::BIGINT AS isA
        FROM lineitem, bd, ft,
             LATERAL (VALUES ('l_quantity', l_quantity, ft.lo1, ft.hi1),
                             ('l_extendedprice', l_extendedprice, ft.lo2, ft.hi2),
                             ('l_discount', l_discount, ft.lo3, ft.hi3)) AS u(feature, x, lo, hi)),
      g AS (SELECT feature, bin, sum(isA)::BIGINT AS n_a, sum(1 - isA)::BIGINT AS n_b
            FROM ev GROUP BY 1, 2),
      tt AS (SELECT feature, sum(n_a)::BIGINT AS ta, sum(n_b)::BIGINT AS tb,
                    count(*)::BIGINT AS k
             FROM g GROUP BY 1),
      t AS (SELECT g.feature,
              round(((g.n_b + 0.5) / (tt.tb + tt.k / 2.0) -
                     (g.n_a + 0.5) / (tt.ta + tt.k / 2.0)) *
                    ln(((g.n_b + 0.5) / (tt.tb + tt.k / 2.0)) /
                       ((g.n_a + 0.5) / (tt.ta + tt.k / 2.0))) * 1e6)::BIGINT AS micro
            FROM g JOIN tt USING (feature)),
      p AS (SELECT feature, sum(micro)::BIGINT / 1e6 AS psi FROM t GROUP BY 1)
      SELECT feature, round(psi, 6) AS psi,
             CASE WHEN psi < 0.1 THEN 'ok'
                  WHEN psi < 0.25 THEN 'warning' ELSE 'drift' END AS verdict
      FROM p
    """),
  )

  /** Expected calibration error over the [[qIsotonic]] bins — the
    * scalar the calibration plot collapses to (the number a model
    * gate thresholds on, next to AUC's ranking and isotonic's fix):
    * predicted probability per bin = the label construction's true
    * form evaluated at the bin center ((25·bin + 12.5)·0.002 — the
    * md5-Bernoulli threshold rate), observed = exact bin rate,
    * ECE = Σ (w/N)·|obs − pred| with per-bin terms micro-quantized
    * before the order-free total; also reports the max bin gap
    * (MCE). One k-bounded rollup — same data-scale shape as the
    * isotonic fit.
    */
  val qEce: Q = Q(
    "q_ece",
    (s, dir) => {
      val y = (graft.operators.Sampling.hashBucket(col("event_id")) % 1000 <
        col("value") * 2).cast("long")
      val bins = Tables.events(s, dir)
        .select(least(floor(col("value") / 25.0), lit(19.0)).cast("long").as("bin"),
          y.as("y"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("w"), sum(col("y")).as("s"))
        .orderBy(col("bin")).collect() // k-bounded (k <= 20)
      val n = bins.map(_.getLong(1)).sum
      val terms = bins.map { r =>
        val (bin, w, sp) = (r.getLong(0), r.getLong(1), r.getLong(2))
        val obs = sp.toDouble / w
        val pred = (25.0 * bin + 12.5) * 0.002
        (w, math.round(w.toDouble / n * math.abs(obs - pred) * 1e8),
          math.round(math.abs(obs - pred) * 1e8))
      }
      val ece = terms.map(_._2).sum / 1e8
      val mce = terms.map(_._3).max / 1e8
      import s.implicits._
      Seq((n, terms.length.toLong, r6(ece), r6(mce)))
        .toDF("n", "n_bins", "ece", "mce")
    },
    Some(s"""
      WITH ev AS (
        SELECT least(floor(value / 25.0), 19.0)::BIGINT AS bin,
               (${OracleExact.h16Sql("md5(event_id::VARCHAR)")} % 1000 < value * 2)::INT AS y
        FROM events),
      b AS (SELECT bin, count(*)::BIGINT AS w, sum(y)::BIGINT AS s
            FROM ev GROUP BY 1),
      t AS (SELECT w,
              round(w::DOUBLE / (SELECT sum(w) FROM b) *
                    abs(s::DOUBLE / w - (25.0 * bin + 12.5) * 0.002) * 1e8)::BIGINT AS em,
              round(abs(s::DOUBLE / w - (25.0 * bin + 12.5) * 0.002) * 1e8)::BIGINT AS gm
            FROM b)
      SELECT (SELECT sum(w) FROM b)::BIGINT AS n,
             (SELECT count(*) FROM b)::BIGINT AS n_bins,
             round(sum(em) / 1e8, 6) AS ece,
             round(max(gm) / 1e8, 6) AS mce
      FROM t
    """),
  )

  /** Sketch-accuracy harness for the keyed quantile sketch — the
    * quantile twin of `q_recall_at_k` (ANN) and q_heavy_hitters'
    * overcount column (count-min): per-key relative error of the
    * log-histogram p50/p95 against the exact percentiles, rolled up to
    * max/mean — the number that justifies swapping the exact
    * percentile passes for the sketch at 100 TB (the documented
    * trade: γ-bounded relative error for O(log-range) state).
    * Per-key errors micro-quantize before the order-free rollup; the
    * whole report is IN-PLAN (sketch chain + exact chain + one join +
    * one aggregate), no driver collect.
    */
  val qQuantileSketchError: Q = Q(
    "q_quantile_sketch_error",
    (s, dir) => {
      val e = Tables.events(s, dir).select(col("user_id"), col("value"))
      val sk = graft.operators.QuantileSketch.profile(e, "user_id", "value",
        Seq("p50" -> 0.5, "p95" -> 0.95))
        .select(col("user_id").as("u2"),
          round(col("p50"), 6).as("sp50"), round(col("p95"), 6).as("sp95"))
      val ex = e.groupBy(col("user_id"))
        .agg(expr("percentile(value, 0.5)").as("ep50"),
          expr("percentile(value, 0.95)").as("ep95"))
      ex.join(sk, col("user_id") === col("u2"))
        .select(
          round(abs(col("sp50") - col("ep50")) / col("ep50") * 1e6).cast("long").as("e50"),
          round(abs(col("sp95") - col("ep95")) / col("ep95") * 1e6).cast("long").as("e95"))
        .agg(count(lit(1)).as("n_keys"),
          round(max(col("e50")) / 1e6, 6).as("max_rel_err_p50"),
          round(sum(col("e50")) / 1e6 / count(lit(1)), 6).as("mean_rel_err_p50"),
          round(max(col("e95")) / 1e6, 6).as("max_rel_err_p95"),
          round(sum(col("e95")) / 1e6 / count(lit(1)), 6).as("mean_rel_err_p95"))
    },
    Some(s"""
      WITH sk AS ($quantileSketchOracle),
      ex AS (SELECT user_id, quantile_cont(value, 0.5) AS ep50,
                    quantile_cont(value, 0.95) AS ep95
             FROM events GROUP BY 1),
      j AS (SELECT round(abs(sk.p50 - ep50) / ep50 * 1e6)::BIGINT AS e50,
                   round(abs(sk.p95 - ep95) / ep95 * 1e6)::BIGINT AS e95
            FROM sk JOIN ex USING (user_id))
      SELECT count(*)::BIGINT AS n_keys,
             round(max(e50) / 1e6, 6) AS max_rel_err_p50,
             round(sum(e50) / 1e6 / count(*), 6) AS mean_rel_err_p50,
             round(max(e95) / 1e6, 6) AS max_rel_err_p95,
             round(sum(e95) / 1e6 / count(*), 6) AS mean_rel_err_p95
      FROM j
    """),
  )

  /** Deterministic HyperLogLog distinct-count estimates
    * ([[graft.operators.HllSketch]]) probed over four key columns
    * whose cardinalities bracket the m=512 small-range boundary
    * (events.user_id exercises the linear-counting branch, the other
    * three the raw-HLL branch), each next to its exact count. The
    * md5-register construction makes the whole register file — and so
    * the estimate — DuckDB-replayable, unlike `approx_count_distinct`
    * (HLL++ over xxhash64).
    */
  /** DuckDB replay of the deterministic m=512 HLL estimate over one
    * column — `estExpr` is the un-rounded estimate, usable as a
    * scalar subquery body (shared by q_hll_distinct's 6-dp probe and
    * the AQP-rewrite oracle's integer rounding).
    */
  private[queries] def hllEstFromSql(table: String, vc: String): String = {
    val m = 512
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    val h = OracleExact.h32Sql(s"md5(($vc)::VARCHAR)")
    s"""(
        SELECT CASE WHEN ($alpha)::DOUBLE * $m * $m / s <= ${2.5 * m} AND v > 0
                    THEN $m * ln($m / v)
                    ELSE ($alpha)::DOUBLE * $m * $m / s END AS est
        FROM (
          SELECT sum(power(2.0, -mr)) + ($m - count(*)) AS s,
                 $m - count(*) AS v
          FROM (
            SELECT j, max(r) AS mr
            FROM (
              SELECT h % $m AS j,
                     CASE WHEN h // $m = 0 THEN 24
                          ELSE 24 - length(bin(h // $m)) END AS r
              FROM (SELECT $h AS h FROM $table WHERE $vc IS NOT NULL))
            GROUP BY j)))"""
  }

  val qHllDistinct: Q = {
    def probeSql(table: String, vc: String, label: String): String =
      s"""
      SELECT '$label' AS column_name,
             (SELECT count(DISTINCT $vc) FROM $table WHERE $vc IS NOT NULL)
               AS n_exact,
             round((SELECT est FROM ${hllEstFromSql(table, vc)} e), 6) AS est"""
    Q(
      "q_hll_distinct",
      (s, dir) => {
        import graft.operators.HllSketch
        HllSketch.probe(Tables.lineitem(s, dir), "l_orderkey", "l_orderkey")
          .unionAll(HllSketch.probe(Tables.lineitem(s, dir), "l_partkey", "l_partkey"))
          .unionAll(HllSketch.probe(Tables.orders(s, dir), "o_custkey", "o_custkey"))
          .unionAll(HllSketch.probe(Tables.events(s, dir), "user_id", "user_id"))
      },
      Some(Seq(
        probeSql("lineitem", "l_orderkey", "l_orderkey"),
        probeSql("lineitem", "l_partkey", "l_partkey"),
        probeSql("orders", "o_custkey", "o_custkey"),
        probeSql("events", "user_id", "user_id"),
      ).mkString("", "\nUNION ALL\n", "")),
    )
  }

  /** The AQP optimizer rewrite exercised END TO END through plain
    * SQL: with `spark.graft.approxDistinct=true`,
    * `count(DISTINCT x)` text is silently re-planned onto the
    * deterministic HLL aggregate
    * ([[graft.plans.ApproxDistinctRewrite]]) — one map-side pass, no
    * Expand, 512-byte state — and because the sketch is
    * md5-deterministic the APPROXIMATE answers still hash-match a
    * DuckDB replay of the register file. The flag flips on only for
    * this query's materialization (eager localCheckpoint) and
    * restores after.
    */
  val qApproxDistinct: Q = Q(
    "q_approx_distinct",
    (s, dir) => {
      graft.Graft.registerAll(s, dir)
      s.conf.set("spark.graft.approxDistinct", "true")
      try {
        s.sql("""
          SELECT 'user_id' AS column_name, count(DISTINCT user_id) AS est FROM events
          UNION ALL
          SELECT 'o_custkey', count(DISTINCT o_custkey) FROM orders
          UNION ALL
          SELECT 'l_partkey', count(DISTINCT l_partkey) FROM lineitem
        """).localCheckpoint()
      } finally s.conf.set("spark.graft.approxDistinct", "false")
    },
    Some(s"""
      SELECT 'user_id' AS column_name,
             round((SELECT est FROM ${hllEstFromSql("events", "user_id")} e))::BIGINT AS est
      UNION ALL
      SELECT 'o_custkey',
             round((SELECT est FROM ${hllEstFromSql("orders", "o_custkey")} e))::BIGINT
      UNION ALL
      SELECT 'l_partkey',
             round((SELECT est FROM ${hllEstFromSql("lineitem", "l_partkey")} e))::BIGINT
    """),
  )

  /** The second AQP rung proven end-to-end: untouched exact
    * `percentile(x, p)` SQL, rewritten by
    * [[graft.plans.ApproxPercentileRewrite]] (flag-gated, like the
    * distinct rewrite) into the deterministic log-histogram sketch
    * aggregate — per-group state drops from every-distinct-value (the
    * exact percentile OOM shape at 100 TB) to one count per occupied
    * γ-bucket, and the DuckDB oracle replays the bucket arithmetic +
    * first-rep-reaching-q·n selection verbatim. localCheckpoint
    * materializes under the flag so the shared session's other
    * percentiles stay exact.
    */
  val qApproxPercentile: Q = Q(
    "q_approx_percentile",
    (s, dir) => {
      graft.Graft.registerAll(s, dir)
      s.conf.set("spark.graft.approxPercentile", "true")
      try {
        s.sql("""
          SELECT l_returnflag AS flag,
                 round(percentile(l_extendedprice, 0.5), 6) AS p50,
                 round(percentile(l_extendedprice, 0.9), 6) AS p90
          FROM lineitem GROUP BY 1
        """).localCheckpoint()
      } finally s.conf.set("spark.graft.approxPercentile", "false")
    },
    Some {
      val ln = graft.operators.QuantileSketch.LnGamma
      s"""
      WITH r AS (
        SELECT l_returnflag AS flag,
               CASE WHEN l_extendedprice = 0 THEN 0.0
                    ELSE sign(l_extendedprice) *
                         exp((floor(ln(abs(l_extendedprice)) / $ln) + 0.5) * $ln) END AS rep
        FROM lineitem),
      g AS (SELECT flag, rep, count(*) AS c FROM r GROUP BY 1, 2),
      cum AS (
        SELECT flag, rep, c,
               sum(c) OVER (PARTITION BY flag ORDER BY rep
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
               sum(c) OVER (PARTITION BY flag) AS n
        FROM g)
      SELECT flag,
             round(min(CASE WHEN cum >= 0.5 * n THEN rep END), 6) AS p50,
             round(min(CASE WHEN cum >= 0.9 * n THEN rep END), 6) AS p90
      FROM cum GROUP BY flag
    """
    },
  )

  /** Subject-access fan-out (the GDPR/DSAR governance op): for a
    * deterministic subject set (user_id ≡ 3 mod 997 — an arithmetic
    * predicate, so membership pushes into every scan as a filter, no
    * subject-list shuffle at all), count the rows each table holds
    * about those subjects — events by user_id, customer by c_custkey,
    * orders by o_custkey, lineitem via its order (the one join,
    * broadcast-sized: the filtered orders side is |subjects|·orders
    * per customer). This is the "what do we store about these users"
    * report a deletion/compliance pipeline runs first; at 100 TB
    * every branch is a filtered scan + count, and the union is 4
    * one-row aggregates.
    */
  val qSubjectAccess: Q = Q(
    "q_subject_access",
    (s, dir) => {
      val subj = (c: org.apache.spark.sql.Column) => c % 997 === 3
      val ev = Tables.events(s, dir).where(subj(col("user_id")))
        .agg(count(lit(1)).as("n_rows")).select(lit("events").as("table_name"), col("n_rows"))
      val cu = Tables.customer(s, dir).where(subj(col("c_custkey")))
        .agg(count(lit(1)).as("n_rows")).select(lit("customer").as("table_name"), col("n_rows"))
      val or = Tables.orders(s, dir).where(subj(col("o_custkey")))
        .agg(count(lit(1)).as("n_rows")).select(lit("orders").as("table_name"), col("n_rows"))
      val li = Tables.lineitem(s, dir)
        .join(broadcast(Tables.orders(s, dir).where(subj(col("o_custkey")))
          .select(col("o_orderkey").as("l_orderkey"))), Seq("l_orderkey"), "left_semi")
        .agg(count(lit(1)).as("n_rows")).select(lit("lineitem").as("table_name"), col("n_rows"))
      ev.unionAll(cu).unionAll(or).unionAll(li)
    },
    Some("""
      SELECT 'events' AS table_name, count(*)::BIGINT AS n_rows
      FROM events WHERE user_id % 997 = 3
      UNION ALL
      SELECT 'customer', count(*)::BIGINT FROM customer WHERE c_custkey % 997 = 3
      UNION ALL
      SELECT 'orders', count(*)::BIGINT FROM orders WHERE o_custkey % 997 = 3
      UNION ALL
      SELECT 'lineitem', count(*)::BIGINT FROM lineitem
      WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_custkey % 997 = 3)
    """),
  )

  /** Chapman capture–recapture estimate of the distinct-user
    * population from two INDEPENDENT deterministic tag samples
    * (md5(user‖'cra') and md5(user‖'crb'), each ~1/16 of users) —
    * the "how many distinct entities are there really" estimator
    * when a full distinct pass is off-budget and the HLL sketch
    * needs an independent cross-check: N̂ = (n_a+1)(n_b+1)/(n_ab+1)−1.
    * ONE distinct-user rollup; tags are pure column arithmetic on it;
    * the exact distinct count rides along for the error readout.
    */
  val qCaptureRecapture: Q = Q(
    "q_capture_recapture",
    (s, dir) => {
      import s.implicits._
      def tag(salt: String) =
        conv(substring(md5(concat(col("user_id").cast("string"), lit(salt))),
          1, 4), 16, 10).cast("long") % 16 === 0
      val r = Tables.events(s, dir).select(col("user_id")).distinct()
        .agg(count(lit(1)).as("n_exact"),
          sum(when(tag("cra"), 1L).otherwise(0L)).as("n_a"),
          sum(when(tag("crb"), 1L).otherwise(0L)).as("n_b"),
          sum(when(tag("cra") && tag("crb"), 1L).otherwise(0L)).as("n_ab"))
        .head()
      val (ne, na, nb, nab) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      val nHat = (na + 1.0) * (nb + 1.0) / (nab + 1.0) - 1.0
      Seq((ne, na, nb, nab, r6(nHat)))
        .toDF("n_exact", "n_a", "n_b", "n_both", "n_hat")
    },
    Some(s"""
      WITH u AS (SELECT DISTINCT user_id FROM events),
      t AS (SELECT
          count(*)::BIGINT AS n_exact,
          sum(CASE WHEN ${OracleExact.h16Sql("md5(user_id::VARCHAR || 'cra')")} % 16 = 0
              THEN 1 ELSE 0 END)::BIGINT AS n_a,
          sum(CASE WHEN ${OracleExact.h16Sql("md5(user_id::VARCHAR || 'crb')")} % 16 = 0
              THEN 1 ELSE 0 END)::BIGINT AS n_b,
          sum(CASE WHEN ${OracleExact.h16Sql("md5(user_id::VARCHAR || 'cra')")} % 16 = 0
                AND ${OracleExact.h16Sql("md5(user_id::VARCHAR || 'crb')")} % 16 = 0
              THEN 1 ELSE 0 END)::BIGINT AS n_ab
        FROM u)
      SELECT n_exact, n_a, n_b, n_ab AS n_both,
             round((n_a + 1.0) * (n_b + 1.0) / (n_ab + 1.0) - 1.0, 6) AS n_hat
      FROM t
    """),
  )

  /** Equi-width numeric histogram (k=20) — the profiler's
    * distribution-shape companion: min/max fit in the same pass
    * shape as NumericalTransformer (exact, order-free), then one
    * map-side-combined groupBy over k bins. The bin expression is
    * identical double arithmetic in both engines (exact min/max in,
    * same op order), so bin assignment is bit-deterministic; the top
    * edge closes into the last bin (x = max → bin k−1).
    */
  val qHistogram: Q = Q(
    "q_histogram",
    (s, dir) => {
      val k = 20
      val li = Tables.lineitem(s, dir).select(col("l_extendedprice").as("x"))
      // min/max are fit-boundary scalars (exact, order-free) collected
      // once and interpolated as literals — the bm25/N-avgdl pattern;
      // a crossJoin(broadcast(agg)) would trip the repo-wide
      // PlanGuard's nested-loop ban
      val r = li.agg(min(col("x")).as("mn"), max(col("x")).as("mx")).head()
      val (mn, mx) = (r.getDouble(0), r.getDouble(1))
      li.select(
          least(floor((col("x") - lit(mn)) * lit(k.toDouble) / lit(mx - mn)),
            lit((k - 1).toDouble)).cast("int").as("bin"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("bin"),
          round(lit(mn) + col("bin") * lit(mx - mn) / lit(k.toDouble), 6).as("lo"),
          round(lit(mn) + (col("bin") + 1) * lit(mx - mn) / lit(k.toDouble), 6).as("hi"),
          col("cnt"))
    },
    Some("""
      WITH mm AS (SELECT min(l_extendedprice) AS mn, max(l_extendedprice) AS mx FROM lineitem),
      b AS (SELECT least(floor((l_extendedprice - mn) * 20.0 / (mx - mn)), 19.0)::INT AS bin, mn, mx
            FROM lineitem, mm)
      SELECT bin,
             round(mn + bin * (mx - mn) / 20.0, 6) AS lo,
             round(mn + (bin + 1) * (mx - mn) / 20.0, 6) AS hi,
             count(*) AS cnt
      FROM b GROUP BY bin, mn, mx
    """),
  )

  /** Pairwise Pearson correlation matrix over the numeric lineitem
    * columns — the profiler's feature-redundancy report (what
    * `df.corr()` gives the reference's pandas user). RESTRUCTURED in
    * r12 onto the [[graft.functions.GramAgg]] in-place cell buffer
    * (the q_pca_power 2.76 → 0.68 s device) after four rounds of
    * bench creep on the 15-column decimal(28,6) hash-aggregate: the
    * per-row vector is the four CENT-quantized columns (TPC-H money
    * columns carry ≤ 2 dp, so round(x·100) is EXACT) plus a literal 1,
    * and ONE 5-dim upper-triangle gram delivers every Σxᵢxⱼ, Σxᵢ, and
    * n as 15 in-place long adds per row — one ~15-cell buffer per
    * partition instead of 15 wide decimal aggregation columns. The
    * quantization scale cancels in the correlation ratio, so the
    * d(d+1)/2 correlations are pure driver-side double arithmetic on
    * exact integer moments, replayed term for term by the oracle.
    * GramBuffer's int64-partial + BigInt-total tiering keeps the cent²
    * sums exact at any scale.
    */
  // -- corr machinery SHARED by q_corr_matrix and q_grouped_corr ----
  // (one definition of the vector, the driver arithmetic, and every
  // oracle fragment — the two rows can never drift apart)
  private val corrCols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  /** Cent-quantized [features..., 1] vector (exact for 2-dp money). */
  private def corrVec = array(corrCols.map(c =>
    round(col(c) * lit(100)).cast("long")) :+ lit(1L): _*)

  private def corrGramCol = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.functions.GramAgg(
      ColumnBridge.expression(col("mv")), corrCols.length + 1,
      upperOnly = true).toAggregateExpression())
  }

  /** The d(d−1)/2 (col_a, col_b, corr) rows off an upper-triangle
    * moment lookup — exactly the op order the oracle spells out.
    */
  private def corrRows(m: (Int, Int) => Double): Seq[(String, String, Double)] = {
    val k = corrCols.length
    val n = m(k, k)
    def s1(i: Int) = m(i, k)
    def p(i: Int, j: Int) = m(math.min(i, j), math.max(i, j))
    for {
      i <- corrCols.indices
      j <- (i + 1) until corrCols.length
    } yield {
      val corr = (n * p(i, j) - s1(i) * s1(j)) /
        (math.sqrt(n * p(i, i) - s1(i) * s1(i)) *
          math.sqrt(n * p(j, j) - s1(j) * s1(j)))
      (corrCols(i), corrCols(j), r6(corr) + 0.0)
    }
  }

  private def corrQsSql = corrCols.zipWithIndex.map { case (c, i) =>
    s"round($c * 100)::BIGINT AS x$i" }.mkString(", ")
  private def corrAggsSql =
    (corrCols.indices.map(i => s"sum(x$i::HUGEINT)::DOUBLE AS s$i") ++
      (for (i <- corrCols.indices; j <- i until corrCols.length) yield
        s"sum(x$i::HUGEINT * x$j::HUGEINT)::DOUBLE AS p${i}_$j"))
      .mkString(", ")
  /** `leading` prefixes each pair select (e.g. "l_returnflag, "). */
  private def corrPairsSql(leading: String) =
    (for (i <- corrCols.indices; j <- (i + 1) until corrCols.length) yield
      s"""SELECT $leading'${corrCols(i)}' AS col_a, '${corrCols(j)}' AS col_b,
          round((n * p${i}_$j - s$i * s$j) /
                (sqrt(n * p${i}_$i - s$i * s$i) * sqrt(n * p${j}_$j - s$j * s$j)), 6)
            + 0.0 AS corr FROM s""").mkString("\nUNION ALL\n")

  val qCorrMatrix: Q = Q(
    "q_corr_matrix",
    (s, dir) => {
      import s.implicits._
      val m = Tables.lineitem(s, dir)
        .select(corrVec.as("mv")).agg(corrGramCol.as("cells"))
        .select(inline(col("cells")))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getDecimal(2).doubleValue())
        .toMap
      corrRows((i, j) => m((i, j))).toDF("col_a", "col_b", "corr")
    },
    Some(s"""WITH q AS (SELECT $corrQsSql FROM lineitem),
          s AS (SELECT count(*)::DOUBLE AS n, $corrAggsSql FROM q)
          ${corrPairsSql("")}"""),
  )

  /** PER-GROUP correlation matrices — [[qCorrMatrix]]'s grouped twin
    * and the "fit a million small gram matrices in one pass" shape:
    * the SAME GramAgg buffer rides a groupBy, so every key accumulates
    * its own 15 exact integer moments with map-side combine and the
    * shuffle carries one ≤ ~200 B buffer per (partition, key). The
    * per-key correlations are driver doubles off the bounded
    * (3 flags × 15 cells) collect, replayed term for term.
    */
  val qGroupedCorr: Q = Q(
    "q_grouped_corr",
    (s, dir) => {
      import s.implicits._
      val m = Tables.lineitem(s, dir)
        .select(col("l_returnflag"), corrVec.as("mv"))
        .groupBy(col("l_returnflag")).agg(corrGramCol.as("cells"))
        .select(col("l_returnflag"), inline(col("cells")))
        .collect()
        .map(r => (r.getString(0), r.getInt(1), r.getInt(2)) ->
          r.getDecimal(3).doubleValue())
        .toMap
      val flags = m.keySet.map(_._1).toSeq.sorted
      val rows = flags.flatMap(f =>
        corrRows((i, j) => m((f, i, j))).map { case (a, b, c) => (f, a, b, c) })
      rows.toDF("l_returnflag", "col_a", "col_b", "corr")
    },
    Some(s"""WITH q AS (SELECT l_returnflag, $corrQsSql FROM lineitem),
          s AS (SELECT l_returnflag, count(*)::DOUBLE AS n, $corrAggsSql
                FROM q GROUP BY 1)
          ${corrPairsSql("l_returnflag, ")}"""),
  )

  /** Differentially-private count release (ε = 1 Laplace mechanism)
    * over the per-nation customer counts — the privacy-release shape
    * next to `q_k_anonymity`: noise = −b·sgn(u−½)·ln(1−2|u−½|) with
    * u the md5-h16 uniform of the group key, so the release is
    * REPLAYABLE for testing (true count, noise, and noisy count all
    * emitted). One bounded-grain rollup; noise is pure column
    * arithmetic on it.
    *
    * WARNING — NOT A PRIVACY MECHANISM AS WRITTEN: the uniform u is a
    * deterministic public function of the (public) group key, so the
    * released "noise" carries ZERO actual privacy — anyone can replay
    * it and recover the true count exactly. The emitted column is
    * named `replay_noise` to make this impossible to miss. A
    * production ε=1 release swaps u for a fresh cryptographic RNG
    * draw per release and publishes ONLY the noisy column; the
    * mechanism shape, scale b=1/ε, and plumbing are what this row
    * pins.
    */
  val qDpCounts: Q = Q(
    "q_dp_counts",
    (s, dir) => {
      val g = Tables.customer(s, dir).groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n"))
        .withColumn("u",
          (graft.operators.Sampling.hashBucket(col("c_nationkey")) + 1)
            .cast("double") / 65537.0)
      g.withColumn("replay_noise", expr(
          "round(-1.0 * (CASE WHEN u >= 0.5 THEN 1.0 ELSE -1.0 END) " +
            "* ln(1.0 - 2.0 * abs(u - 0.5)), 6) + 0.0"))
        .select(col("c_nationkey"), col("n"), col("replay_noise"),
          (col("n") + col("replay_noise")).as("noisy_n"))
    },
    Some(s"""
      WITH g AS (SELECT c_nationkey, count(*) AS n FROM customer GROUP BY 1),
      h AS (SELECT c_nationkey, n,
              (${OracleExact.h16Sql("md5(c_nationkey::VARCHAR)")} + 1.0)
                / 65537.0 AS u
            FROM g),
      t AS (SELECT c_nationkey, n,
              round(-1.0 * (CASE WHEN u >= 0.5 THEN 1.0 ELSE -1.0 END)
                * ln(1.0 - 2.0 * abs(u - 0.5)), 6) + 0.0 AS replay_noise
            FROM h)
      SELECT c_nationkey, n, replay_noise, n + replay_noise AS noisy_n FROM t
    """),
  )

  /** Grouped median absolute deviation (per return flag) — the robust
    * dispersion stat next to [[qHistogram]]/`q_grouped_quantiles`:
    * exact per-group median (quantile_cont parity), broadcast back
    * (group cardinality bounded), exact median of absolute deviations
    * in a second grouped pass. The 100 TB path swaps both percentile
    * passes for the keyed log-histogram sketch.
    */
  val qMad: Q = Q(
    "q_mad",
    (s, dir) => {
      // groupBy + broadcast join-back, NOT the window-median shape
      // ts_outlier_mad uses: with 3 groups the window variant drags
      // every row through full-partition window aggregation + a
      // distinct (2.6x slower at sf0.1), while the extra scan here is
      // cheap; per-SERIES medians (many small partitions) go the
      // window way — group cardinality decides the shape
      val li = Tables.lineitem(s, dir)
        .select(col("l_returnflag"), col("l_quantity").as("x"))
      val med = li.groupBy(col("l_returnflag"))
        .agg(percentile(col("x"), lit(0.5)).as("med"))
      li.join(broadcast(med), "l_returnflag")
        .groupBy(col("l_returnflag"), col("med"))
        .agg(percentile(abs(col("x") - col("med")), lit(0.5)).as("mad"))
        .select(col("l_returnflag"), round(col("med"), 6).as("med"),
          round(col("mad"), 6).as("mad"))
    },
    Some("""
      WITH m AS (SELECT l_returnflag, quantile_cont(l_quantity, 0.5) AS med
                 FROM lineitem GROUP BY 1)
      SELECT l.l_returnflag, round(m.med, 6) AS med,
             round(quantile_cont(abs(l.l_quantity - m.med), 0.5), 6) AS mad
      FROM lineitem l JOIN m USING (l_returnflag)
      GROUP BY l.l_returnflag, m.med
    """),
  )

  /** HLL set algebra — the sketch property that matters at 100 TB:
    * register files are MERGEABLE (union = pairwise max), so
    * \|A∪B\| costs no rescan and \|A∩B\| falls out of
    * inclusion–exclusion on three estimates. Clicking vs erroring
    * user sets: est(A), est(B), est(A∪B) from registers, intersection
    * = a + b − u on the unrounded estimates. All register files are
    * the deterministic md5 construction, so the oracle replays every
    * register and every estimate.
    */
  val qHllSetOps: Q = {
    val m = 512
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    Q(
      "q_hll_set_ops",
      (s, dir) => {
        import s.implicits._
        import graft.operators.HllSketch
        val e = Tables.events(s, dir)
        def regs(tpe: String) = HllSketch.registers(
          e.where(col("event_type") === tpe).select(col("user_id")), "user_id", m)
        val ra = regs("click")
        val rb = regs("error")
        val ru = ra.unionAll(rb).groupBy(col("j")).agg(max(col("mr")).as("mr"))
        def est(reg: org.apache.spark.sql.DataFrame): Double =
          HllSketch.estimate(reg, m).head().getDouble(0)
        val (a, b, u) = (est(ra), est(rb), est(ru))
        Seq((r6(a), r6(b), r6(u), r6(a + b - u)))
          .toDF("est_a", "est_b", "est_union", "est_intersect")
      },
      Some {
        def regSql(tpe: String) =
          s"""SELECT j, max(r) AS mr FROM (
                SELECT h % $m AS j,
                       CASE WHEN h // $m = 0 THEN 24
                            ELSE 24 - length(bin(h // $m)) END AS r
                FROM (SELECT ${OracleExact.h32Sql("md5((user_id)::VARCHAR)")} AS h
                      FROM events WHERE event_type = '$tpe' AND user_id IS NOT NULL))
              GROUP BY j"""
        def estSql(reg: String) =
          s"""SELECT CASE WHEN ($alpha)::DOUBLE * $m * $m / s <= ${2.5 * m} AND v > 0
                          THEN $m * ln($m / v)
                          ELSE ($alpha)::DOUBLE * $m * $m / s END AS est
              FROM (SELECT sum(power(2.0, -mr)) + ($m - count(*)) AS s,
                           $m - count(*) AS v FROM $reg)"""
        s"""
        WITH ra AS (${regSql("click")}),
        rb AS (${regSql("error")}),
        ru AS (SELECT j, max(mr) AS mr
               FROM (SELECT * FROM ra UNION ALL SELECT * FROM rb) GROUP BY j),
        ea AS (${estSql("ra")}),
        eb AS (${estSql("rb")}),
        eu AS (${estSql("ru")})
        SELECT round(ea.est, 6) AS est_a, round(eb.est, 6) AS est_b,
               round(eu.est, 6) AS est_union,
               round(ea.est + eb.est - eu.est, 6) AS est_intersect
        FROM ea, eb, eu
        """
      },
    )
  }

  /** Declarative data-quality gate (Great-Expectations-style): a
    * suite of assertions — key uniqueness, non-negativity, null-rate,
    * domain membership — evaluated in ONE scan / ONE aggregate, then
    * unpivoted to a (check, observed, passed) report via stack() (a
    * generator, so the whole gate stays in-plan with no driver
    * collect). The report is the artifact a pipeline PERSISTS next to
    * its output — failing checks block the publish step.
    */
  val qExpectations: Q = Q(
    "q_expectations",
    (s, dir) => {
      val a = Tables.orders(s, dir).agg(
        (count(lit(1)) - countDistinct(col("o_orderkey"))).as("dup_keys"),
        sum(when(col("o_totalprice") < 0, 1L).otherwise(0L)).as("neg_price"),
        (count(lit(1)) - count(col("o_custkey"))).as("null_cust"),
        sum(when(!col("o_orderstatus").isin("F", "O", "P"), 1L).otherwise(0L))
          .as("bad_status"))
      a.select(expr(
          """stack(4,
             'orderkey_unique', dup_keys,
             'totalprice_nonneg', neg_price,
             'custkey_not_null', null_cust,
             'status_in_domain', bad_status) AS (check_name, observed)"""))
        .select(col("check_name"), col("observed"),
          (col("observed") === 0).cast("int").as("passed"))
    },
    Some("""
      WITH a AS (SELECT
          count(*) - count(DISTINCT o_orderkey) AS dup_keys,
          sum(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END)::BIGINT AS neg_price,
          count(*) - count(o_custkey) AS null_cust,
          sum(CASE WHEN o_orderstatus NOT IN ('F','O','P') THEN 1 ELSE 0 END)::BIGINT AS bad_status
        FROM orders)
      SELECT 'orderkey_unique' AS check_name, dup_keys AS observed, (dup_keys = 0)::INT AS passed FROM a
      UNION ALL
      SELECT 'totalprice_nonneg', neg_price, (neg_price = 0)::INT FROM a
      UNION ALL
      SELECT 'custkey_not_null', null_cust, (null_cust = 0)::INT FROM a
      UNION ALL
      SELECT 'status_in_domain', bad_status, (bad_status = 0)::INT FROM a
    """),
  )

  /** Isotonic (PAV) probability calibration over score bins
    * ([[graft.operators.Calibration]]): a deterministic Bernoulli
    * label (event-id md5 bucket vs value/500, so the true rate rises
    * with the score and sampling noise plants real monotonicity
    * violations), 20 equi-width score bins, and the weighted
    * pool-adjacent-violators fit next to the raw per-bin rate. The
    * ONLY data-scale pass is the map-side-combined bin rollup; the
    * PAV solve is O(k³) driver arithmetic on the k exact (w, Σy)
    * longs — fit state like the scaler quantile grids — and the
    * oracle replays it through the minimax identity
    * iso(i) = max_{j<=i} min_{k>=i} mean(j..k), where every segment
    * mean is one double division of int64 prefix-sum differences
    * (bit-identical across engines).
    */
  val qIsotonic: Q = Q(
    "q_isotonic",
    (s, dir) => {
      val ev = Tables.events(s, dir)
      val y = (graft.operators.Sampling.hashBucket(col("event_id")) % 1000 <
        col("value") * 2).cast("long")
      val bins = ev
        .select(least(floor(col("value") / 25.0), lit(19.0)).cast("long").as("bin"),
          y.as("y"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("w"), sum(col("y")).as("s"))
        .orderBy(col("bin"))
        .collect() // k-bounded fit state (k <= 20 rows)
      val w = bins.map(_.getLong(1)).toIndexedSeq
      val sPos = bins.map(_.getLong(2)).toIndexedSeq
      val iso = graft.operators.Calibration.pav(w, sPos)
      import s.implicits._
      bins.indices.map { i =>
        (bins(i).getLong(0), w(i), sPos(i),
          r6(sPos(i).toDouble / w(i).toDouble), r6(iso(i)))
      }.toDF("bin", "w", "s", "rate_raw", "rate_iso")
    },
    Some(s"""
      WITH ev AS (
        SELECT least(floor(value / 25.0), 19.0)::BIGINT AS bin,
               (${OracleExact.h16Sql("md5(event_id::VARCHAR)")} % 1000 < value * 2)::INT AS y
        FROM events),
      bins AS (SELECT bin, count(*)::BIGINT AS w, sum(y)::BIGINT AS s
               FROM ev GROUP BY 1),
      pre AS (SELECT bin, w, s,
              sum(w) OVER (ORDER BY bin) AS cw,
              sum(s) OVER (ORDER BY bin) AS cs FROM bins),
      seg AS (SELECT j.bin AS bj, k.bin AS bk,
                (k.cs - (j.cs - j.s))::DOUBLE / (k.cw - (j.cw - j.w))::DOUBLE AS m
              FROM pre j JOIN pre k ON j.bin <= k.bin),
      inner_min AS (SELECT b.bin, seg.bj, min(seg.m) AS mn
                    FROM bins b JOIN seg ON seg.bj <= b.bin AND seg.bk >= b.bin
                    GROUP BY 1, 2),
      iso AS (SELECT bin, max(mn) AS iso FROM inner_min GROUP BY 1)
      SELECT b.bin, b.w, b.s,
             round(b.s::DOUBLE / b.w::DOUBLE, 6) AS rate_raw,
             round(i.iso, 6) AS rate_iso
      FROM bins b JOIN iso i USING (bin)
    """),
  )

  /** ROC AUC of a score column against a deterministic binary label —
    * the ranking-quality eval next to [[qIsotonic]]'s calibration (the
    * same md5-Bernoulli label construction, so the score is genuinely
    * informative and the AUC lands strictly between 0.5 and 1). The
    * tie-corrected Mann–Whitney identity
    * AUC = (Σ_pos avgrank − n⁺(n⁺+1)/2) / (n⁺·n⁻) runs entirely in
    * exact integer arithmetic: scores quantize to cents (the corpus
    * grid), the distinct-score rollup is ONE map-side-combined groupBy
    * (bounded by score cardinality, not row count), and the ordered
    * prefix sum rides that bounded table; 2·avgrank = 2·cum + n + 1
    * keeps the half-ranks integral, so the final AUC double is a pure
    * function of three exact int64 sums and replays bit-for-bit.
    * Scale: the only data-scale pass is the first rollup; everything
    * after is O(#distinct scores).
    */
  val qAuc: Q = Q(
    "q_auc",
    (s, dir) => {
      val y = (graft.operators.Sampling.hashBucket(col("event_id")) % 1000 <
        col("value") * 2).cast("long")
      val scored = Tables.events(s, dir)
        .select(round(col("value") * 100).cast("long").as("cents"), y.as("y"))
      val (np, nn, auc) = graft.operators.Eval.auc(scored, "cents", "y")
      import s.implicits._
      Seq((np, nn, r6(auc), r6(2 * auc - 1)))
        .toDF("n_pos", "n_neg", "auc", "gini")
    },
    Some(s"""
      WITH ev AS (
        SELECT round(value * 100)::BIGINT AS cents,
               (${OracleExact.h16Sql("md5(event_id::VARCHAR)")} % 1000 < value * 2)::BIGINT AS y
        FROM events),
      g AS (SELECT cents, count(*)::BIGINT AS n, sum(y)::BIGINT AS npos
            FROM ev GROUP BY 1),
      rk AS (SELECT npos, n,
               2 * (sum(n) OVER (ORDER BY cents) - n) + n + 1 AS rank2
             FROM g),
      a AS (SELECT sum(npos)::BIGINT AS np, sum(n - npos)::BIGINT AS nn,
                   sum(npos * rank2)::BIGINT AS s2 FROM rk)
      SELECT np AS n_pos, nn AS n_neg,
             round((s2 / 2.0 - np::DOUBLE * (np + 1) / 2.0) / (np::DOUBLE * nn::DOUBLE), 6) AS auc,
             round(2 * ((s2 / 2.0 - np::DOUBLE * (np + 1) / 2.0) / (np::DOUBLE * nn::DOUBLE)) - 1, 6) AS gini
      FROM a
    """),
  )

  /** Population stability index between the first and second half of
    * the corpus time range — THE production drift monitor a feature
    * pipeline runs between a training snapshot and live traffic.
    * Period boundary and the 10 equi-width bin edges are fit on the
    * BASELINE half only (fit-offline scalars, the histogram/BM25
    * pattern), out-of-range current values clamp into the edge bins.
    * Shares are Laplace-smoothed ((n + ½)/(N + k/2)) so an empty bin
    * cannot produce ±∞; each bin's PSI term (pB−pA)·ln(pB/pA) is a
    * pure double function of exact int64 counts (identical op order
    * both engines), micro-quantized before the cross-bin total so the
    * 10-term sum is order-free. ONE data-scale pass: the k-bounded bin
    * rollup with both periods' counts in the same aggregate.
    */
  val qPsi: Q = Q(
    "q_psi",
    (s, dir) => {
      val ev = Tables.events(s, dir)
      val b = ev.agg(min(expr("cast(ts as long)")), max(expr("cast(ts as long)"))).head()
      val mid = b.getLong(0) + (b.getLong(1) - b.getLong(0)) / 2
      val fit = ev.where(expr(s"cast(ts as long) < ${mid}L"))
        .agg(min(col("value")), max(col("value"))).head()
      val (lo, hi) = (fit.getDouble(0), fit.getDouble(1))
      val width = (hi - lo) / 10.0
      val binc = least(greatest(floor((col("value") - lit(lo)) / lit(width)), lit(0.0)),
        lit(9.0)).cast("long")
      val counts = ev
        .select(binc.as("bin"),
          (expr("cast(ts as long)") < lit(mid)).cast("long").as("isA"))
        .groupBy(col("bin"))
        .agg(sum(col("isA")).as("n_a"), sum(lit(1L) - col("isA")).as("n_b"))
      val rows = counts.orderBy(col("bin")).collect() // k-bounded (k <= 10)
      val (terms, total) = graft.operators.Eval.psiTerms(
        rows.toSeq.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))))
      import s.implicits._
      terms.map { case (bin, nA, nB, m) =>
        (bin, nA, nB, m / 1e6, total / 1e6)
      }.toDF("bin", "n_a", "n_b", "psi_term", "psi_total")
    },
    Some(s"""
      WITH bd AS (SELECT min(epoch_ns(ts)) + (max(epoch_ns(ts)) - min(epoch_ns(ts))) // 2 AS mid
                  FROM events),
      ft AS (SELECT min(value) AS lo, max(value) AS hi
             FROM events, bd WHERE epoch_ns(ts) < bd.mid),
      ev AS (SELECT least(greatest(floor((value - ft.lo) / ((ft.hi - ft.lo) / 10.0)), 0.0), 9.0)::BIGINT AS bin,
                    (epoch_ns(ts) < bd.mid)::BIGINT AS isA
             FROM events, ft, bd),
      g AS (SELECT bin, sum(isA)::BIGINT AS n_a, sum(1 - isA)::BIGINT AS n_b
            FROM ev GROUP BY 1),
      t AS (SELECT bin, n_a, n_b,
              round(((n_b + 0.5) / ((SELECT sum(n_b) FROM g) + (SELECT count(*) FROM g) / 2.0) -
                     (n_a + 0.5) / ((SELECT sum(n_a) FROM g) + (SELECT count(*) FROM g) / 2.0)) *
                    ln(((n_b + 0.5) / ((SELECT sum(n_b) FROM g) + (SELECT count(*) FROM g) / 2.0)) /
                       ((n_a + 0.5) / ((SELECT sum(n_a) FROM g) + (SELECT count(*) FROM g) / 2.0))) * 1e6)::BIGINT AS micro
            FROM g)
      SELECT bin, n_a, n_b, micro / 1e6 AS psi_term,
             (SELECT sum(micro) FROM t) / 1e6 AS psi_total
      FROM t
    """),
  )

  /** Chi-squared association + Cramér's V between two categorical
    * columns — the categorical twin of [[qCorrMatrix]]'s numeric
    * redundancy report (what a feature-selection pass runs before
    * one-hot encoding two columns that encode the same signal). The
    * ONLY data-scale pass is the r×c contingency rollup (map-side
    * combined, bounded by the category product); everything after is
    * driver arithmetic on exact int64 cell counts: per-cell
    * (O−E)²/E terms micro-quantized before the cross-cell sum
    * (order-free), V = √(χ²/(n·min(r−1,c−1))), and the
    * Wilson–Hilferty cube-root normal approximation for the p-value
    * through the SAME A&S tail mirror (`normTwoSidedP` ↔
    * `phiTailSql`) the relevance batteries pin. The oracle replays
    * cells, expectations, terms, and the tail bit-for-bit.
    */
  val qCramersV: Q = Q(
    "q_cramers_v",
    (s, dir) => {
      val cells = Tables.customer(s, dir)
        .groupBy(col("c_mktsegment").as("seg"),
          (col("c_nationkey") % 5).cast("long").as("band"))
        .agg(count(lit(1)).as("o"))
        .collect() // bounded: r×c = 25 cells
        .toSeq.map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      val (n, nr, nc, dof, chi2, v, p) = graft.operators.Eval.cramersV(cells)
      import s.implicits._
      Seq((n, nr, nc, dof, r6(chi2), r6(v), r6(p)))
        .toDF("n", "r", "c", "dof", "chi2", "cramers_v", "p_wh")
    },
    Some(s"""
      WITH cells AS (
        SELECT c_mktsegment AS seg, c_nationkey % 5 AS band, count(*)::BIGINT AS o
        FROM customer GROUP BY 1, 2),
      tot AS (SELECT sum(o)::BIGINT AS n FROM cells),
      rt AS (SELECT seg, sum(o)::BIGINT AS rt FROM cells GROUP BY 1),
      ct AS (SELECT band, sum(o)::BIGINT AS ct FROM cells GROUP BY 1),
      dense AS (SELECT rt.seg, ct.band, rt.rt, ct.ct, coalesce(cells.o, 0)::BIGINT AS o
                FROM rt CROSS JOIN ct
                LEFT JOIN cells ON cells.seg = rt.seg AND cells.band = ct.band),
      t AS (SELECT round((dense.o - dense.rt::DOUBLE * dense.ct / tot.n) *
                         (dense.o - dense.rt::DOUBLE * dense.ct / tot.n) /
                         (dense.rt::DOUBLE * dense.ct / tot.n) * 1e6)::BIGINT AS micro
            FROM dense CROSS JOIN tot),
      dims AS (SELECT (SELECT count(*) FROM rt)::BIGINT AS r,
                      (SELECT count(*) FROM ct)::BIGINT AS c),
      x AS (SELECT tot.n, dims.r, dims.c,
                   (dims.r - 1) * (dims.c - 1) AS dof,
                   least(dims.r - 1, dims.c - 1) AS minrc,
                   (SELECT sum(micro) FROM t) / 1e6 AS chi2
            FROM tot CROSS JOIN dims),
      z AS (SELECT *,
              (cbrt(chi2 / dof) - (1.0 - 2.0 / (9.0 * dof))) /
                sqrt(2.0 / (9.0 * dof)) AS zv
            FROM x)
      SELECT n, r, c, dof, round(chi2, 6) AS chi2,
             round(sqrt(chi2 / (n::DOUBLE * minrc)), 6) AS cramers_v,
             round(CASE WHEN zv >= 0 THEN ${OracleExact.phiTailSql("zv")} / 2
                        ELSE 1.0 - ${OracleExact.phiTailSql("(-zv)")} / 2 END, 6) AS p_wh
      FROM z
    """),
  )

  /** Mutual information + normalized MI over the SAME contingency
    * rollup as [[qCramersV]] ([[graft.operators.Eval.mutualInfo]]) —
    * the information-theoretic association measure next to the χ²
    * second-order test (MI detects ANY dependence; NMI = MI/√(H_r·H_c)
    * makes it comparable across column pairs, the number a
    * feature-selection pass actually ranks by). Zero cells contribute
    * exactly 0, so the sparse rollup needs no densification; every
    * term is micro-quantized before its order-free sum and the oracle
    * replays term for term.
    */
  val qMutualInfo: Q = Q(
    "q_mutual_info",
    (s, dir) => {
      val cells = Tables.customer(s, dir)
        .groupBy(col("c_mktsegment").as("seg"),
          (col("c_nationkey") % 5).cast("long").as("band"))
        .agg(count(lit(1)).as("o"))
        .collect() // bounded: r×c = 25 cells
        .toSeq.map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      val (n, miM, hrM, hcM) = graft.operators.Eval.mutualInfo(cells)
      val (mi, hr, hc) = (miM / 1e6, hrM / 1e6, hcM / 1e6)
      val nmi = mi / math.sqrt(hr * hc)
      import s.implicits._
      Seq((n, r6(mi), r6(hr), r6(hc), r6(nmi)))
        .toDF("n", "mi", "h_row", "h_col", "nmi")
    },
    Some("""
      WITH cells AS (
        SELECT c_mktsegment AS seg, c_nationkey % 5 AS band, count(*)::BIGINT AS o
        FROM customer GROUP BY 1, 2),
      tot AS (SELECT sum(o)::BIGINT AS n FROM cells),
      rt AS (SELECT seg, sum(o)::BIGINT AS rt FROM cells GROUP BY 1),
      ct AS (SELECT band, sum(o)::BIGINT AS ct FROM cells GROUP BY 1),
      mi AS (SELECT sum(round((cells.o::DOUBLE / tot.n) *
                       ln((cells.o::DOUBLE / tot.n) /
                          ((rt.rt::DOUBLE / tot.n) * (ct.ct::DOUBLE / tot.n))) * 1e6)::BIGINT)::BIGINT AS m
             FROM cells JOIN rt USING (seg) JOIN ct USING (band) CROSS JOIN tot),
      hr AS (SELECT sum(round(-(rt::DOUBLE / tot.n) * ln(rt::DOUBLE / tot.n) * 1e6)::BIGINT)::BIGINT AS m
             FROM rt CROSS JOIN tot),
      hc AS (SELECT sum(round(-(ct::DOUBLE / tot.n) * ln(ct::DOUBLE / tot.n) * 1e6)::BIGINT)::BIGINT AS m
             FROM ct CROSS JOIN tot)
      SELECT tot.n, round((SELECT m FROM mi) / 1e6, 6) AS mi,
             round((SELECT m FROM hr) / 1e6, 6) AS h_row,
             round((SELECT m FROM hc) / 1e6, 6) AS h_col,
             round(((SELECT m FROM mi) / 1e6) /
                   sqrt(((SELECT m FROM hr) / 1e6) * ((SELECT m FROM hc) / 1e6)), 6) AS nmi
      FROM tot
    """),
  )

  /** Closed-form distributed OLS — multi-feature linear regression via
    * the normal equations, the d-bounded exact-sums pattern that makes
    * regression a SINGLE aggregate at any scale (the GramAgg/PCA story
    * applied to supervised fitting): ONE scan, ONE 1-row GramAgg over
    * the cent-quantized [quantity, discount, price, 1] vector — ten
    * exact integer moments from 10 in-place long adds per row (cents
    * are exact: quantity integral, discount 2 dp, price 2 dp) — then
    * the 3×3 Cramer's-rule solve, SSE via the optimum identity
    * SSE = Σy² − bᵀXᵀy, and R² as pure driver double arithmetic the
    * oracle spells out in the IDENTICAL op order (each moment is one
    * int→double cast + one scale division on both engines).
    * `regr_slope`-style streaming moments would diverge in the low
    * bits under distributed accumulation; exact sums make the fit
    * replayable bit-for-bit. 100 TB: same plan shape — the aggregate
    * is d²-bounded state, mergeable by addition.
    */
  val qLinreg: Q = Q(
    "q_linreg",
    (s, dir) => {
      // r12: the ten moment sums ride ONE GramAgg buffer over the
      // cent-quantized [x1, x2, y, 1] vector (the q_corr_matrix
      // restructure — 15 in-place long adds per row instead of 9 wide
      // decimal aggregation columns; cents are exact for these ≤2-dp
      // columns). Moments rescale to raw units by one double division
      // each, in the SAME op order the oracle spells out.
      import org.apache.spark.sql.graft.ColumnBridge
      val li = Tables.lineitem(s, dir)
      val vec = array(
        round(col("l_quantity") * lit(100)).cast("long"),
        round(col("l_discount") * lit(100)).cast("long"),
        round(col("l_extendedprice") * lit(100)).cast("long"),
        lit(1L))
      val gram = ColumnBridge.column(
        graft.functions.GramAgg(ColumnBridge.expression(col("mv")), 4,
          upperOnly = true).toAggregateExpression())
      val m = li.select(vec.as("mv")).agg(gram.as("cells"))
        .select(inline(col("cells")))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getDecimal(2).doubleValue())
        .toMap
      val n = m((3, 3))
      def c1(i: Int) = m((i, 3)) / 100.0
      def c2(i: Int, j: Int) = m((math.min(i, j), math.max(i, j))) / 10000.0
      val (b0, b1, b2, r2) = graft.operators.Eval.ols2(
        n, c1(0), c1(1), c1(2),
        c2(0, 0), c2(0, 1), c2(1, 1), c2(0, 2), c2(1, 2), c2(2, 2))
      import s.implicits._
      Seq((n.toLong, r6(b0), r6(b1), r6(b2), r6(r2)))
        .toDF("n", "b_intercept", "b_quantity", "b_discount", "r2")
    },
    Some("""
      WITH q AS (SELECT
          round(l_quantity * 100)::BIGINT AS x1,
          round(l_discount * 100)::BIGINT AS x2,
          round(l_extendedprice * 100)::BIGINT AS y
        FROM lineitem),
      a AS (SELECT
          count(*)::DOUBLE AS n,
          sum(x1::HUGEINT)::DOUBLE / 100.0 AS s1,
          sum(x2::HUGEINT)::DOUBLE / 100.0 AS s2,
          sum(y::HUGEINT)::DOUBLE / 100.0 AS sy,
          sum(x1::HUGEINT * x1::HUGEINT)::DOUBLE / 10000.0 AS s11,
          sum(x1::HUGEINT * x2::HUGEINT)::DOUBLE / 10000.0 AS s12,
          sum(x2::HUGEINT * x2::HUGEINT)::DOUBLE / 10000.0 AS s22,
          sum(x1::HUGEINT * y::HUGEINT)::DOUBLE / 10000.0 AS s1y,
          sum(x2::HUGEINT * y::HUGEINT)::DOUBLE / 10000.0 AS s2y,
          sum(y::HUGEINT * y::HUGEINT)::DOUBLE / 10000.0 AS syy
        FROM q),
      d AS (SELECT *,
          n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2) + s2 * (s1 * s12 - s11 * s2) AS det
        FROM a),
      b AS (SELECT *,
          (sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y) + s2 * (s1y * s12 - s11 * s2y)) / det AS b0,
          (n * (s1y * s22 - s12 * s2y) - sy * (s1 * s22 - s12 * s2) + s2 * (s1 * s2y - s1y * s2)) / det AS b1,
          (n * (s11 * s2y - s1y * s12) - s1 * (s1 * s2y - s1y * s2) + sy * (s1 * s12 - s11 * s2)) / det AS b2
        FROM d)
      SELECT n::BIGINT AS n, round(b0, 6) AS b_intercept,
             round(b1, 6) AS b_quantity, round(b2, 6) AS b_discount,
             round(1.0 - (syy - b0 * sy - b1 * s1y - b2 * s2y) / (syy - sy * sy / n), 6) AS r2
      FROM b
    """),
  )

  /** Per-group simple linear regression — [[qLinreg]]'s grouped twin
    * and the "fit a MILLION small models in one pass" pattern (per
    * supplier: price-vs-quantity slope/intercept/R²): everything stays
    * IN-PLAN — one map-side-combined groupBy collecting the five
    * exact decimal sums per key, closed-form slope/intercept/R² as
    * narrow fixed-op-order column arithmetic on them — no driver
    * collect, no per-group iteration, so the same plan fits 10⁸ keys
    * on a cluster exactly like `regr_slope ... GROUP BY` would but
    * with order-free exact sums the oracle replays bit-for-bit.
    * Degenerate groups (zero x-variance) null out in both engines.
    */
  val qGroupedLinreg: Q = Q(
    "q_grouped_linreg",
    (s, dir) => {
      import graft.operators.ExactAgg.decSum
      val g = Tables.lineitem(s, dir)
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("n"),
          decSum(col("l_quantity")).as("sx"),
          decSum(col("l_extendedprice")).as("sy"),
          decSum(col("l_quantity") * col("l_quantity")).as("sxx"),
          decSum(col("l_quantity") * col("l_extendedprice")).as("sxy"),
          decSum(col("l_extendedprice") * col("l_extendedprice")).as("syy"))
      val nd = col("n").cast("double")
      val vx = nd * col("sxx") - col("sx") * col("sx")
      val vy = nd * col("syy") - col("sy") * col("sy")
      val cov = nd * col("sxy") - col("sx") * col("sy")
      val slope = cov / vx
      g.select(col("l_suppkey"), col("n"),
        round(when(vx === 0, lit(null)).otherwise(slope), 6).as("slope"),
        round(when(vx === 0, lit(null))
          .otherwise((col("sy") - slope * col("sx")) / nd), 6).as("intercept"),
        round(when(vx === 0 || vy === 0, lit(null))
          .otherwise(cov * cov / (vx * vy)), 6).as("r2"))
    },
    Some("""
      WITH g AS (
        SELECT l_suppkey, count(*)::DOUBLE AS n,
               sum((l_quantity)::DECIMAL(28,6))::DOUBLE AS sx,
               sum((l_extendedprice)::DECIMAL(28,6))::DOUBLE AS sy,
               sum((l_quantity * l_quantity)::DECIMAL(28,6))::DOUBLE AS sxx,
               sum((l_quantity * l_extendedprice)::DECIMAL(28,6))::DOUBLE AS sxy,
               sum((l_extendedprice * l_extendedprice)::DECIMAL(28,6))::DOUBLE AS syy
        FROM lineitem GROUP BY 1),
      c AS (SELECT l_suppkey, n,
              n * sxx - sx * sx AS vx,
              n * syy - sy * sy AS vy,
              n * sxy - sx * sy AS cov,
              sx, sy FROM g)
      SELECT l_suppkey, n::BIGINT AS n,
             round(CASE WHEN vx = 0 THEN NULL ELSE cov / vx END, 6) AS slope,
             round(CASE WHEN vx = 0 THEN NULL ELSE (sy - (cov / vx) * sx) / n END, 6) AS intercept,
             round(CASE WHEN vx = 0 OR vy = 0 THEN NULL ELSE cov * cov / (vx * vy) END, 6) AS r2
      FROM c
    """),
  )

  val all: Seq[Q] = Seq(prepPipeline, prepRoundtrip, qProfile, mlDataset,
    qQuantileSketch, qHllDistinct, qHistogram, qCorrMatrix, qMad, qHllSetOps,
    qExpectations, qIsotonic, qAuc, qPsi, qCramersV, qLinreg, qMutualInfo,
    qGroupedLinreg, qQuantileSketchError, qEce, qPsiMulti, qBenford,
    qApproxDistinct, qApproxPercentile, qKsMulti, qSubjectAccess,
    qCaptureRecapture, qGroupedCorr, qDpCounts)
}
