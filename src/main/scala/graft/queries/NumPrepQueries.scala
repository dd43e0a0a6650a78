package graft.queries

import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.operators.SeriesWindow
import graft.prep._

/** Numerical-transformer coverage (SURVEY §2.1 rows 4-14).
  * Testdata has no nulls/infs, so each query injects them
  * deterministically (key % k) in BOTH the Spark plan and the oracle.
  */
object NumPrepQueries {

  /** events.value with nulls punched in at event_id%7==0. */
  private def nulledEvents(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables.events(s, dir).select(
      col("event_id"), col("user_id"),
      when(col("event_id") % 7 === 0, lit(null)).otherwise(col("value")).as("v"),
    )

  private val nulledEventsSql =
    "SELECT event_id, user_id, CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v FROM events"

  /** customer.c_acctbal with nulls at c_custkey%7==0. */
  private def nulledCustomer(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables.customer(s, dir).select(
      col("c_custkey"),
      when(col("c_custkey") % 7 === 0, lit(null)).otherwise(col("c_acctbal")).as("v"),
    )

  private val nulledCustomerSql =
    "SELECT c_custkey, CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_acctbal END AS v FROM customer"

  // ---------------------------------------------------------------- §2.1/4
  val replaceInf: Q = Q(
    "replace_inf",
    (s, dir) => {
      val dirty = Tables.events(s, dir).select(
        col("event_id"),
        when(col("event_id") % 5 === 0, lit(Double.PositiveInfinity))
          .when(col("event_id") % 5 === 1, lit(Double.NegativeInfinity))
          .when(col("event_id") % 5 === 2, lit(Double.NaN))
          .otherwise(col("value")).as("dirty"),
      )
      dirty.select(col("event_id"),
        round(NumericalTransformer.replaceInf(col("dirty")), 6).as("clean"))
    },
    Some("""
      SELECT event_id,
             round(CASE WHEN isinf(dirty) OR isnan(dirty) OR dirty > 1e308 OR dirty < -1e308
                        THEN NULL ELSE dirty END, 6) AS clean
      FROM (SELECT event_id,
                   CASE WHEN event_id % 5 = 0 THEN 'inf'::DOUBLE
                        WHEN event_id % 5 = 1 THEN '-inf'::DOUBLE
                        WHEN event_id % 5 = 2 THEN 'nan'::DOUBLE
                        ELSE value END AS dirty
            FROM events)
    """),
  )

  // ---------------------------------------------------------------- §2.1/5
  val fillMean: Q = Q(
    "fill_mean",
    (s, dir) => {
      val df = nulledCustomer(s, dir)
      val stats = NumericalTransformer.fit(df, Seq("v"))
      df.select(col("c_custkey"),
        round(NumericalTransformer.fill(col("v"), FillStrategy.Mean, stats("v")), 6)
          .as("filled"))
    },
    Some(s"""
      SELECT c_custkey, round(coalesce(v, avg(v) OVER ()), 6) AS filled
      FROM ($nulledCustomerSql)
    """),
  )

  // ---------------------------------------------------------------- §2.1/6
  val fillConsts: Q = Q(
    "fill_minmax_zero_one_value",
    (s, dir) => {
      val df = nulledEvents(s, dir)
      val stats = NumericalTransformer.fit(df, Seq("v"))
      import FillStrategy._
      df.select(
        col("event_id"),
        round(NumericalTransformer.fill(col("v"), Min, stats("v")), 6).as("filled_min"),
        round(NumericalTransformer.fill(col("v"), Max, stats("v")), 6).as("filled_max"),
        round(NumericalTransformer.fill(col("v"), Zero, stats("v")), 6).as("filled_zero"),
        round(NumericalTransformer.fill(col("v"), One, stats("v")), 6).as("filled_one"),
        round(NumericalTransformer.fill(col("v"), Value(42.5), stats("v")), 6).as("filled_value"),
      )
    },
    Some(s"""
      SELECT event_id,
             round(coalesce(v, min(v) OVER ()), 6) AS filled_min,
             round(coalesce(v, max(v) OVER ()), 6) AS filled_max,
             round(coalesce(v, 0.0), 6) AS filled_zero,
             round(coalesce(v, 1.0), 6) AS filled_one,
             round(coalesce(v, 42.5), 6) AS filled_value
      FROM ($nulledEventsSql)
    """),
  )

  // -------------------------------------------------------------- §2.1/7-8
  val fillForward: Q = Q(
    "fill_forward",
    (s, dir) => {
      val df = nulledEvents(s, dir)
      val w = SeriesWindow(Seq(col("user_id")), Seq(col("event_id")))
      df.select(col("event_id"), col("user_id"),
        round(NumericalTransformer.forwardFill(col("v"), w), 6).as("filled"))
    },
    Some(s"""
      SELECT event_id, user_id,
             round(last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS filled
      FROM ($nulledEventsSql)
    """),
  )

  val fillBackward: Q = Q(
    "fill_backward",
    (s, dir) => {
      val df = nulledEvents(s, dir)
      val w = SeriesWindow(Seq(col("user_id")), Seq(col("event_id")))
      df.select(col("event_id"), col("user_id"),
        round(NumericalTransformer.backwardFill(col("v"), w), 6).as("filled"))
    },
    Some(s"""
      SELECT event_id, user_id,
             round(first_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY event_id
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING), 6) AS filled
      FROM ($nulledEventsSql)
    """),
  )

  // ---------------------------------------------------------------- §2.1/9
  val fillInterpolate: Q = Q(
    "fill_interpolate",
    (s, dir) => {
      val df = nulledEvents(s, dir)
      val w = SeriesWindow(Seq(col("user_id")), Seq(col("event_id")))
      df.select(col("event_id"), col("user_id"),
        round(NumericalTransformer.interpolate(col("v"), w), 6).as("filled"))
    },
    Some(s"""
      WITH base AS ($nulledEventsSql),
      p1 AS (
        SELECT event_id, user_id, v,
               row_number() OVER w AS rn,
               CASE WHEN v IS NOT NULL THEN row_number() OVER w END AS rn_of
        FROM base
        WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
      ),
      p2 AS (
        SELECT event_id, user_id, v, rn,
               last_value(v IGNORE NULLS) OVER back AS prev_v,
               last_value(rn_of IGNORE NULLS) OVER back AS prev_i,
               first_value(v IGNORE NULLS) OVER fwd AS next_v,
               first_value(rn_of IGNORE NULLS) OVER fwd AS next_i
        FROM p1
        WINDOW back AS (PARTITION BY user_id ORDER BY event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               fwd AS (PARTITION BY user_id ORDER BY event_id
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
      )
      SELECT event_id, user_id,
             round(coalesce(v, prev_v + (next_v - prev_v) * (rn - prev_i) / (next_i - prev_i)), 6)
               AS filled
      FROM p2
    """),
  )

  // -------------------------------------------------------------- §2.1/10-11
  val scaleNormalize: Q = Q(
    "scale_normalize",
    (s, dir) => {
      val df = Tables.customer(s, dir).select(col("c_custkey"), col("c_acctbal").as("v"))
      val st = NumericalTransformer.fit(df, Seq("v"))("v")
      val sc = MinMaxScaler(st.min, st.max)
      // transform -> inverse must round-trip; emit both.
      df.select(col("c_custkey"),
        round(sc.transform(col("v")), 6).as("scaled"),
        round(sc.inverse(sc.transform(col("v"))), 4).as("roundtrip"))
    },
    Some("""
      SELECT c_custkey,
             round((c_acctbal - min(c_acctbal) OVER ()) /
                   (max(c_acctbal) OVER () - min(c_acctbal) OVER ()), 6) AS scaled,
             round(c_acctbal, 4) AS roundtrip
      FROM customer
    """),
  )

  val scaleStandardize: Q = Q(
    "scale_standardize",
    (s, dir) => {
      val df = Tables.customer(s, dir).select(col("c_custkey"), col("c_acctbal").as("v"))
      val st = NumericalTransformer.fit(df, Seq("v"))("v")
      val sc = StandardScaler(st.mean, st.std)
      df.select(col("c_custkey"),
        round(sc.transform(col("v")), 6).as("scaled"),
        round(sc.inverse(sc.transform(col("v"))), 4).as("roundtrip"))
    },
    Some("""
      SELECT c_custkey,
             round((c_acctbal - avg(c_acctbal) OVER ()) / (stddev_samp(c_acctbal) OVER ()), 6)
               AS scaled,
             round(c_acctbal, 4) AS roundtrip
      FROM customer
    """),
  )

  /** Median/IQR scaling (sklearn RobustScaler): quantile fit stats,
    * pure-expression transform + exact inverse round-trip.
    */
  val scaleRobust: Q = Q(
    "scale_robust",
    (s, dir) => {
      val df = Tables.customer(s, dir).select(col("c_custkey"), col("c_acctbal").as("v"))
      val st = NumericalTransformer.fit(df, Seq("v"),
        quantileProbs = Seq(0.25, 0.5, 0.75))("v")
      val sc = RobustScaler(st.quantiles(1), st.quantiles(0), st.quantiles(2))
      df.select(col("c_custkey"),
        round(sc.transform(col("v")), 6).as("scaled"),
        round(sc.inverse(sc.transform(col("v"))), 4).as("roundtrip"))
    },
    Some("""
      SELECT c_custkey,
             round((c_acctbal - quantile_cont(c_acctbal, 0.5) OVER ()) /
                   (quantile_cont(c_acctbal, 0.75) OVER ()
                    - quantile_cont(c_acctbal, 0.25) OVER ()), 6) AS scaled,
             round(c_acctbal, 4) AS roundtrip
      FROM customer
    """),
  )

  /** Max-absolute scaling to [-1,1] (sklearn MaxAbsScaler): preserves
    * zero and sign.
    */
  val scaleMaxAbs: Q = Q(
    "scale_maxabs",
    (s, dir) => {
      val df = Tables.customer(s, dir).select(col("c_custkey"), col("c_acctbal").as("v"))
      val m = df.agg(max(abs(col("v")))).head().getDouble(0)
      val sc = MaxAbsScaler(m)
      df.select(col("c_custkey"),
        round(sc.transform(col("v")), 6).as("scaled"),
        round(sc.inverse(sc.transform(col("v"))), 4).as("roundtrip"))
    },
    Some("""
      SELECT c_custkey,
             round(c_acctbal / max(abs(c_acctbal)) OVER (), 6) AS scaled,
             round(c_acctbal, 4) AS roundtrip
      FROM customer
    """),
  )

  /** Yeo-Johnson power transform (sklearn PowerTransformer analog):
    * λ fitted by grid MLE in ONE aggregation pass with exact-integer
    * milli-unit stats, so the oracle replays the identical argmax —
    * the whole fit is deterministic across engines (§10 discipline
    * applied to a model fit, not just an output column).
    */
  val scalePower: Q = {
    val grid = PowerTransform.defaultGrid
    Q(
      "scale_power",
      (s, dir) => {
        val df = Tables.customer(s, dir).select(col("c_custkey"), col("c_acctbal").as("v"))
        val lam = PowerTransform.fitYeoJohnson(df, "v")
        val sc = YeoJohnsonScaler(lam)
        df.select(col("c_custkey"), lit(lam).as("lambda"),
          round(sc.transform(col("v")), 6).as("scaled"),
          round(sc.inverse(sc.transform(col("v"))), 4).as("roundtrip"))
      },
      Some(s"""
        WITH g(l) AS (SELECT CAST(unnest(list_value${"(" + grid.mkString(", ") + ")"}) AS DOUBLE)),
        d AS (SELECT c_custkey, c_acctbal::DOUBLE AS x FROM customer),
        t AS (
          SELECT g.l, d.c_custkey, d.x,
                 CASE WHEN d.x >= 0 THEN
                   CASE WHEN g.l = 0 THEN ln(d.x + 1)
                        ELSE (pow(d.x + 1, g.l) - 1) / g.l END
                 ELSE
                   CASE WHEN g.l = 2 THEN -ln(1 - d.x)
                        ELSE -(pow(1 - d.x, 2 - g.l) - 1) / (2 - g.l) END
                 END AS psi
          FROM g CROSS JOIN d),
        m AS (SELECT l, c_custkey, psi,
                     round(psi * 1e3)::BIGINT AS pm FROM t),
        st AS (SELECT l, count(*)::DOUBLE AS n,
                      sum(pm)::DOUBLE AS s1,
                      sum(pm::HUGEINT * pm)::DOUBLE AS s2
               FROM m GROUP BY l),
        sl AS (SELECT sum(round(CASE WHEN x >= 0 THEN ln(x + 1)
                                     ELSE -ln(1 - x) END * 1e3)::BIGINT)::DOUBLE / 1e3
                 AS slog FROM d),
        ll AS (SELECT l,
                      -(n / 2) * ln((s2 - s1 * s1 / n) / n / 1e6) + (l - 1) * slog AS ll
               FROM st, sl
               WHERE (s2 - s1 * s1 / n) / n / 1e6 > 0),
        best AS (SELECT l FROM ll ORDER BY ll DESC, l LIMIT 1)
        SELECT t.c_custkey, b.l AS lambda, round(t.psi, 6) AS scaled,
               round(t.x, 4) AS roundtrip
        FROM t JOIN best b ON t.l = b.l
      """),
    )
  }

  // ----------------------------------------------------------- §2.1/12-13
  /** Exact rank-based quantile->uniform (the fit==transform special
    * case of QuantileTransformer), via the distributed
    * [[graft.operators.Rank]] range-partitioned sort — never a
    * single-partition global window. Scale alternative for
    * fit-then-transform: the fitted-grid QuantileGridScaler.
    */
  val scaleQuantileUniform: Q = Q(
    "scale_quantile_uniform",
    (s, dir) => {
      val df = Tables.customer(s, dir).select(col("c_custkey"), col("c_acctbal").as("v"))
      graft.operators.Rank.withPercentRank(df, "v", "q")
        .select(col("c_custkey"), round(col("q"), 6).as("q"))
    },
    Some("""
      SELECT c_custkey, round(percent_rank() OVER (ORDER BY c_acctbal), 6) AS q
      FROM customer
    """),
  )

  /** Quantile->normal(0,1): percent-rank composed with the Acklam
    * probit (pure column arithmetic, no UDF); the oracle replays the
    * identical rational approximation in SQL via [[Probit.sql]].
    */
  val scaleQuantileNormal: Q = Q(
    "scale_quantile_normal",
    (s, dir) => {
      val df = Tables.customer(s, dir).select(col("c_custkey"), col("c_acctbal").as("v"))
      graft.operators.Rank.withPercentRank(df, "v", "q")
        .select(col("c_custkey"), round(Probit(col("q")), 6).as("z"))
    },
    Some(s"""
      WITH r AS (
        SELECT c_custkey, percent_rank() OVER (ORDER BY c_acctbal) AS q
        FROM customer)
      SELECT c_custkey, round(${Probit.sql("q")}, 6) AS z FROM r
    """),
  )

  // -------------------------------------------------------------- §2.1/14
  val scaleKBins: Q = Q(
    "scale_kbins",
    (s, dir) => {
      val df = Tables.customer(s, dir).select(col("c_custkey"), col("c_acctbal").as("v"))
      val probs = (1 until 10).map(_ / 10.0)
      val st = NumericalTransformer.fit(df, Seq("v"), quantileProbs = probs)("v")
      val sc = KBinsScaler(st.quantiles)
      df.select(col("c_custkey"), sc.transform(col("v")).as("bin"))
    },
    Some("""
      WITH b AS (SELECT unnest(quantile_cont(c_acctbal, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9])) AS bv
                 FROM customer)
      SELECT c_custkey, (SELECT count(*) FROM b WHERE b.bv < c.c_acctbal)::INT AS bin
      FROM customer c
    """),
  )

  /** The 100 TB fit path for kbins/quantile-grid scaling:
    * `percentile_approx` (t-digest sketch — mergeable, bounded executor
    * memory, no global sort) instead of the exact percentile. Its
    * output depends on the sketch, so there is no deterministic DuckDB
    * oracle — this runs as a BENCH-ONLY entry; `NumPrepSpec` pins the
    * bin-assignment agreement against the exact path.
    */
  def kbinsApprox(s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val df = Tables.customer(s, dir).select(col("c_custkey"), col("c_acctbal").as("v"))
    val probs = (1 until 10).map(_ / 10.0)
    val st = NumericalTransformer.fit(df, Seq("v"), quantileProbs = probs,
      quantileFit = QuantileFitMode.TDigest)("v")
    val sc = KBinsScaler(st.quantiles)
    df.select(col("c_custkey"), sc.transform(col("v")).as("bin"))
  }

  /** The DOCUMENTED 100 TB kbins fit path — boundaries from the
    * deterministic log-histogram sketch ([[QuantileFitMode.Sketch]]).
    * Unlike the t-digest row above, this one is ORACLED: the sketch's
    * geometric bucketing and cumulative-rank boundary rule are pure
    * elementary functions, so DuckDB replays the approximate
    * boundaries exactly and the hash compare stays meaningful on the
    * scale path itself.
    */
  val scaleKBinsSketch: Q = {
    val ln = graft.operators.QuantileSketch.LnGamma
    Q(
      "scale_kbins_sketch",
      (s, dir) => {
        val df = Tables.customer(s, dir).select(col("c_custkey"), col("c_acctbal").as("v"))
        val probs = (1 until 10).map(_ / 10.0)
        val st = NumericalTransformer.fit(df, Seq("v"), quantileProbs = probs,
          quantileFit = QuantileFitMode.Sketch)("v")
        val sc = KBinsScaler(st.quantiles)
        df.select(col("c_custkey"), sc.transform(col("v")).as("bin"))
      },
      Some(s"""
        WITH r AS (
          SELECT CASE WHEN c_acctbal = 0 THEN 0.0
                      ELSE sign(c_acctbal) *
                           exp((floor(ln(abs(c_acctbal)) / $ln) + 0.5) * $ln) END AS rep
          FROM customer),
        g AS (SELECT rep, count(*) AS c FROM r GROUP BY 1),
        cum AS (
          SELECT rep, c,
                 sum(c) OVER (ORDER BY rep
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                 sum(c) OVER () AS n
          FROM g),
        b AS (
          SELECT p.p, min(CASE WHEN cum >= p.p * n THEN rep END) AS bv
          FROM cum CROSS JOIN (SELECT unnest([0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS p) p
          GROUP BY p.p)
        SELECT c_custkey, (SELECT count(*) FROM b WHERE b.bv < c.c_acctbal)::INT AS bin
        FROM customer c
      """),
    )
  }

  /** Winsorized clipping at the fitted [p05, p95] (scipy
    * `mstats.winsorize` / "clip outliers before scaling" analog):
    * the quantile fit rides the same exact-percentile path as every
    * scaler fit (sketch-mode available at 100 TB via
    * [[QuantileFitMode]]); the transform is a pure two-sided clamp,
    * codegen-friendly, no shuffle beyond the fit.
    */
  val scaleWinsorize: Q = Q(
    "scale_winsorize",
    (s, dir) => {
      val df = Tables.customer(s, dir).select(col("c_custkey"), col("c_acctbal").as("v"))
      val st = NumericalTransformer.fit(df, Seq("v"), quantileProbs = Seq(0.05, 0.95))("v")
      val (lo, hi) = (st.quantiles.head, st.quantiles(1))
      df.select(col("c_custkey"),
        round(least(greatest(col("v"), lit(lo)), lit(hi)), 6).as("wins"))
    },
    Some("""
      WITH q AS (SELECT quantile_cont(c_acctbal, 0.05) AS lo,
                        quantile_cont(c_acctbal, 0.95) AS hi FROM customer)
      SELECT c_custkey, round(least(greatest(c_acctbal, lo), hi), 6) AS wins
      FROM customer, q
    """),
  )

  /** Signed log transform ([[SignedLogScaler]], symlog): fit-free
    * heavy-tail compression with an exact inverse — round-trips
    * through transform∘inverse like onehot_roundtrip/prep_roundtrip.
    */
  val scaleSignedLog: Q = Q(
    "scale_signed_log",
    (s, dir) => {
      val df = Tables.customer(s, dir).select(col("c_custkey"), col("c_acctbal").as("v"))
      df.select(col("c_custkey"),
        round(SignedLogScaler.transform(col("v")), 6).as("slog"),
        round(SignedLogScaler.inverse(SignedLogScaler.transform(col("v"))), 6).as("rt"))
    },
    Some("""
      SELECT c_custkey,
             round(sign(c_acctbal) * ln(1 + abs(c_acctbal)), 6) AS slog,
             round(sign(sign(c_acctbal) * ln(1 + abs(c_acctbal))) *
                   (exp(abs(sign(c_acctbal) * ln(1 + abs(c_acctbal)))) - 1), 6) AS rt
      FROM customer
    """),
  )

  /** Median imputation (sklearn `SimpleImputer(strategy="median")` —
    * the robust sibling of [[fillMean]]): median fit over non-null
    * values on the exact-percentile path (quantile_cont parity),
    * interpolated as a literal, coalesce transform.
    */
  val fillMedian: Q = Q(
    "fill_median",
    (s, dir) => {
      val df = nulledCustomer(s, dir)
      val med = df.agg(percentile(col("v"), lit(0.5))).head().getDouble(0)
      df.select(col("c_custkey"), round(coalesce(col("v"), lit(med)), 6).as("filled"))
    },
    Some(s"""
      WITH src AS ($nulledCustomerSql),
      m AS (SELECT quantile_cont(v, 0.5) AS med FROM src)
      SELECT c_custkey, round(coalesce(v, med), 6) AS filled
      FROM src, m
    """),
  )

  /** GROUPED standardization (z-score within each category — the
    * per-segment normalization a mixed-population dataset needs where
    * global standardize washes out group structure): group mean/std
    * from exact decimal(28,6) sums of v and v² (order-free, so the
    * per-group stats replay bit-for-bit; the micro-int grid would
    * overflow on v² here), z computed in identical double op order
    * both engines. One groupBy + broadcast-back (bounded group
    * cardinality), narrow transform.
    */
  val scaleStandardizeGrouped: Q = Q(
    "scale_standardize_grouped",
    (s, dir) => {
      val df = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment").as("seg"), col("c_acctbal").as("v"))
      val st = df.groupBy(col("seg")).agg(
        count(col("v")).as("n"),
        sum(col("v").cast("decimal(28,6)")).cast("double").as("sv"),
        sum((col("v") * col("v")).cast("decimal(28,6)")).cast("double").as("qv"))
      val mean = col("sv") / col("n")
      val std = sqrt((col("n") * col("qv") - col("sv") * col("sv")) /
        (col("n") * (col("n") - 1)))
      df.join(broadcast(st), "seg")
        .select(col("c_custkey"), col("seg"),
          round((col("v") - mean) / std, 6).as("z"))
    },
    Some("""
      WITH st AS (
        SELECT c_mktsegment AS seg, count(c_acctbal) AS n,
               sum(c_acctbal::DECIMAL(28,6))::DOUBLE AS sv,
               sum((c_acctbal * c_acctbal)::DECIMAL(28,6))::DOUBLE AS qv
        FROM customer GROUP BY 1)
      SELECT c_custkey, st.seg,
             round((c_acctbal - sv / n) /
                   sqrt((n * qv - sv * sv) / (n * (n - 1))), 6) AS z
      FROM customer JOIN st ON c_mktsegment = st.seg
    """),
  )

  /** Forward fill with a carry LIMIT (pandas `ffill(limit=n)`) — the
    * production variant of [[fillForward]] (unbounded LOCF silently
    * fabricates data across long outages; a limit caps how stale a
    * carried value may be): filled = the last non-null within the
    * preceding `limit`+current rows of the key's order, which is
    * exactly a bounded-frame `last(ignoreNulls)` window — same
    * one-Exchange shape, O(limit) frame state. The fixture nulls 40%
    * of rows in runs (event_id % 5 < 2) so limit = 1 genuinely binds:
    * second-and-later nulls of a run stay null.
    */
  val fillForwardLimit: Q = Q(
    "fill_forward_limit",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val df = Tables.events(s, dir).select(
        col("event_id"), col("user_id"),
        when(col("event_id") % 5 < 2, lit(null)).otherwise(col("value")).as("v"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
        .rowsBetween(-1, Window.currentRow)
      df.select(col("event_id"), col("user_id"),
        round(last(col("v"), ignoreNulls = true).over(w), 6).as("filled"))
    },
    Some("""
      WITH d AS (SELECT event_id, user_id,
                        CASE WHEN event_id % 5 < 2 THEN NULL ELSE value END AS v
                 FROM events)
      SELECT event_id, user_id,
             round(last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY event_id
                   ROWS BETWEEN 1 PRECEDING AND CURRENT ROW), 6) AS filled
      FROM d
    """),
  )

  /** Regression imputation (the sklearn `IterativeImputer` single-pass
    * analog, the model-based sibling of fill_mean/fill_median): fit a
    * two-feature OLS on the NON-NULL rows via the exact
    * normal-equation sums ([[graft.operators.Eval.ols2]] — the
    * q_linreg machinery reused as a FIT step), then impute each null
    * as the model prediction rounded to the corpus cent grid. The fit
    * is one aggregate over the observed rows; the transform is a
    * narrow coalesce — the oracle replays the sums, the Cramer solve,
    * and the prediction term for term, so even a near-zero-R² fit
    * (features only weakly predict the target, the honest common
    * case) imputes bit-identically.
    */
  val fillRegression: Q = Q(
    "fill_regression",
    (s, dir) => {
      val df = Tables.customer(s, dir).select(
        col("c_custkey"),
        col("c_nationkey").cast("long").as("x1"),
        (col("c_custkey") % 97).cast("long").as("x2"),
        when(col("c_custkey") % 7 === 0, lit(null)).otherwise(col("c_acctbal")).as("v"))
      import graft.operators.ExactAgg.decSum
      val r = df.where(col("v").isNotNull).agg(
        count(lit(1)), decSum(col("x1")), decSum(col("x2")), decSum(col("v")),
        decSum(col("x1") * col("x1")), decSum(col("x1") * col("x2")),
        decSum(col("x2") * col("x2")), decSum(col("x1") * col("v")),
        decSum(col("x2") * col("v")), decSum(col("v") * col("v"))).head()
      val (b0, b1, b2, _) = graft.operators.Eval.ols2(
        r.getLong(0).toDouble, r.getDouble(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6), r.getDouble(7),
        r.getDouble(8), r.getDouble(9))
      df.select(col("c_custkey"),
        round(coalesce(col("v"),
          round(lit(b0) + lit(b1) * col("x1") + lit(b2) * col("x2"), 2)), 6)
          .as("filled"),
        col("v").isNull.cast("int").as("was_imputed"))
    },
    Some("""
      WITH d AS (
        SELECT c_custkey, c_nationkey::BIGINT AS x1, (c_custkey % 97)::BIGINT AS x2,
               CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_acctbal END AS v
        FROM customer),
      a AS (SELECT
          count(*)::DOUBLE AS n,
          sum((x1)::DECIMAL(28,6))::DOUBLE AS s1,
          sum((x2)::DECIMAL(28,6))::DOUBLE AS s2,
          sum((v)::DECIMAL(28,6))::DOUBLE AS sy,
          sum((x1 * x1)::DECIMAL(28,6))::DOUBLE AS s11,
          sum((x1 * x2)::DECIMAL(28,6))::DOUBLE AS s12,
          sum((x2 * x2)::DECIMAL(28,6))::DOUBLE AS s22,
          sum((x1 * v)::DECIMAL(28,6))::DOUBLE AS s1y,
          sum((x2 * v)::DECIMAL(28,6))::DOUBLE AS s2y
        FROM d WHERE v IS NOT NULL),
      dt AS (SELECT *,
          n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2) + s2 * (s1 * s12 - s11 * s2) AS det
        FROM a),
      b AS (SELECT
          (sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y) + s2 * (s1y * s12 - s11 * s2y)) / det AS b0,
          (n * (s1y * s22 - s12 * s2y) - sy * (s1 * s22 - s12 * s2) + s2 * (s1 * s2y - s1y * s2)) / det AS b1,
          (n * (s11 * s2y - s1y * s12) - s1 * (s1 * s2y - s1y * s2) + sy * (s1 * s12 - s11 * s2)) / det AS b2
        FROM dt)
      SELECT c_custkey,
             round(coalesce(v, round(b.b0 + b.b1 * x1 + b.b2 * x2, 2)), 6) AS filled,
             (v IS NULL)::INT AS was_imputed
      FROM d CROSS JOIN b
    """),
  )

  val all: Seq[Q] = Seq(replaceInf, fillMean, fillMedian, fillConsts, fillForward,
    fillBackward, fillInterpolate, scaleNormalize, scaleStandardize,
    scaleStandardizeGrouped, scaleRobust, scaleMaxAbs, scaleQuantileUniform,
    scaleQuantileNormal, scaleKBins, scaleKBinsSketch, scalePower,
    scaleWinsorize, scaleSignedLog, fillRegression, fillForwardLimit)
}
