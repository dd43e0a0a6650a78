package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Tables}

/** Statistical-inference / experimentation operators (round 9): the
  * drift-test + causal-measurement battery a training-data platform
  * runs next to its PSI/AUC monitors — two-sample KS, CUPED
  * variance reduction, difference-in-differences, Kaplan–Meier
  * retention, and the referential-integrity audit.
  *
  * Shared discipline (SURVEY §6): the only data-scale passes are
  * bounded exact rollups (map-side combined); scalar statistics are
  * pure functions of exact int sums in a fixed op order, with
  * transcendental terms micro-quantized (×1e6, the PSI pattern) so
  * cross-term totals are order-free integer sums that replay
  * bit-for-bit in DuckDB. Reference scope: the training-data
  * pipeline mandate (reference preprocessor.py has no inference
  * battery; this is the 100 TB operational layer around it).
  */
object StatsQueries {

  /** 6-dp HALF_UP — the cross-engine report rounding. NaN/Inf pass
    * through unchanged (BigDecimal would throw): a degenerate input
    * (empty cell, zero marginal) must degrade the report row, never
    * crash the dump while the SQL oracle returns NULL/NaN.
    */
  private[graft] def r6(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Half-up-away-from-zero long rounding — DuckDB round() semantics
    * for NEGATIVE values too (math.round = floor(x+½) disagrees at
    * exact negative .5 ties).
    */
  private[graft] def rL(x: Double): Long =
    BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong

  /** md5 A/B arm (0/1) — the q_ab_lift split, single convention. */
  private[graft] def arm(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 4), 16, 10).cast("long") % 2

  private[graft] val armSql = s"${OracleExact.h16Sql("md5(user_id::VARCHAR)")} % 2"

  /** Two-sample Kolmogorov–Smirnov test of purchase-value
    * distributions across the md5 A/B arms — the standard "did the
    * metric DISTRIBUTION move" drift test PSI's fixed bins can miss.
    *
    * D rides the distinct-cents rollup (bounded by value cardinality,
    * map-side combined): at each distinct value the ECDF gap
    * |F_A − F_B| equals |cumA·N_B − cumB·N_A| / (N_A·N_B), whose
    * numerator is an exact integer — decimal(38,0) so cum·N products
    * survive any corpus size — and the max over the grain is
    * order-free. The asymptotic p = 2·Σ(−1)^{k−1}exp(−2k²λ²) sums 50
    * micro-quantized terms (order-free int sum, the PSI pattern).
    * The cumulative window rides the bounded rollup, not the event
    * stream (the gini/ntile adjudication, SURVEY §12).
    */
  /** KS tail shared with the streaming twin: the (v, na, nb)
    * value-grain rollup -> (D, p) report.
    */
  private[graft] def ksFromRoll(roll0: DataFrame): DataFrame = {
    val s = roll0.sparkSession
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    {
      // one materialization -- totals AND the cumulative scan both read
      // the rollup (the §13 shared-subtree rule)
      val roll = roll0.localCheckpoint(eager = false)
      val t = roll.agg(sum(col("na")).as("ta"), sum(col("nb")).as("tb")).head()
      val (ta, tb) = (t.getLong(0), t.getLong(1))
      val w = Window.orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val d = roll
        .select(sum(col("na")).over(w).as("ca"), sum(col("nb")).over(w).as("cb"))
        .agg(max(abs(col("ca").cast("decimal(38,0)") * lit(tb) -
          col("cb").cast("decimal(38,0)") * lit(ta))).as("dn")).head()
      val dnum = BigDecimal(d.getDecimal(0)).toBigInt
      val dd = dnum.toDouble / (ta.toDouble * tb)
      val lam = dd * math.sqrt(ta.toDouble * tb / (ta + tb))
      val sp = (1 to 50).map { k =>
        val sgn = if (k % 2 == 1) 1.0 else -1.0
        rL(sgn * math.exp(-2.0 * k * k * lam * lam) * 1e6)
      }.sum
      val p = if (dnum == 0) 1.0
        else math.min(1.0, math.max(0.0, 2.0 * sp / 1e6))
      Seq((ta, tb, r6(dd), r6(p))).toDF("n_a", "n_b", "d", "p")
    }
  }

  /** The (v, na, nb) purchase-cents rollup by md5 arm. */
  private[graft] def ksRoll(events: DataFrame): DataFrame =
    events
      .where(col("event_type") === "purchase")
      .select(round(col("value") * 100).cast("long").as("v"),
        arm(col("user_id")).as("g"))
      .groupBy(col("v"))
      .agg(sum(when(col("g") === 0, 1L).otherwise(0L)).as("na"),
        sum(when(col("g") === 1, 1L).otherwise(0L)).as("nb"))

  val qKsTest: Q = Q(
    "q_ks_test",
    (s, dir) => ksFromRoll(ksRoll(Tables.events(s, dir))),
    Some(s"""
      WITH u AS (SELECT round(value * 100)::BIGINT AS v, $armSql AS g
                 FROM events WHERE event_type = 'purchase'),
      roll AS (SELECT v,
                 sum(CASE WHEN g = 0 THEN 1 ELSE 0 END)::BIGINT AS na,
                 sum(CASE WHEN g = 1 THEN 1 ELSE 0 END)::BIGINT AS nb
               FROM u GROUP BY v),
      tot AS (SELECT sum(na)::BIGINT AS ta, sum(nb)::BIGINT AS tb FROM roll),
      c AS (SELECT sum(na) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
                   sum(nb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb
            FROM roll),
      dm AS (SELECT max(abs(ca::HUGEINT * tb - cb::HUGEINT * ta)) AS dnum FROM c, tot),
      lm AS (SELECT ta, tb, dnum,
               (dnum::DOUBLE / (ta::DOUBLE * tb)) * sqrt(ta::DOUBLE * tb / (ta + tb)) AS l
             FROM dm, tot),
      pp AS (SELECT sum(round((CASE WHEN k % 2 = 1 THEN 1.0 ELSE -1.0 END)
                      * exp(-2.0 * k * k * l * l) * 1000000)::BIGINT)::BIGINT AS sp
             FROM lm, generate_series(1, 50) AS t(k))
      SELECT ta AS n_a, tb AS n_b,
             round(dnum::DOUBLE / (ta::DOUBLE * tb), 6) AS d,
             CASE WHEN dnum = 0 THEN 1.0
                  ELSE round(least(1.0, greatest(0.0, 2.0 * sp / 1000000.0)), 6) END AS p
      FROM lm, pp
    """),
  )

  /** CUPED variance-reduced A/B lift (Deng et al. 2013, public): the
    * pre-period covariate adjustment every mature experimentation
    * platform applies before reading a lift. Pre/post split at the
    * integer midpoint of the corpus time range; per-user purchase
    * cents in each period (exact int64), θ = cov(x,y)/var(x) from
    * exact decimal(38,0) product sums via the textbook
    * (n·Σxy − Σx·Σy)/(n·Σx² − (Σx)²) identity — BigInt on the Spark
    * side, HUGEINT in DuckDB, so θ is bit-replayable. Adjusted arm
    * means subtract θ·(x̄_arm − x̄) in one fixed op order.
    */
  val qCuped: Q = Q(
    "q_cuped",
    (s, dir) => {
      import s.implicits._
      val ev = Tables.events(s, dir)
      val mm = ev.agg(min(expr("cast(ts as long)")).as("mn"),
        max(expr("cast(ts as long)")).as("mx")).head()
      val mid = mm.getLong(0) + (mm.getLong(1) - mm.getLong(0)) / 2
      val cents = round(col("value") * 100).cast("long")
      val u = ev.groupBy(col("user_id"))
        .agg(
          sum(when(col("event_type") === "purchase" &&
            expr("cast(ts as long)") < lit(mid), cents).otherwise(0L)).as("x"),
          sum(when(col("event_type") === "purchase" &&
            expr("cast(ts as long)") >= lit(mid), cents).otherwise(0L)).as("y"))
        .select(col("x"), col("y"), arm(col("user_id")).as("g"))
      val r = u.agg(
        count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x").cast("decimal(38,0)") * col("y")).as("sxy"),
        sum(col("x").cast("decimal(38,0)") * col("x")).as("sxx"),
        sum(when(col("g") === 0, 1L).otherwise(0L)).as("na"),
        sum(when(col("g") === 0, col("x")).otherwise(0L)).as("sxa"),
        sum(when(col("g") === 0, col("y")).otherwise(0L)).as("sya"),
        sum(when(col("g") === 1, 1L).otherwise(0L)).as("nb"),
        sum(when(col("g") === 1, col("x")).otherwise(0L)).as("sxb"),
        sum(when(col("g") === 1, col("y")).otherwise(0L)).as("syb")).head()
      val n = r.getLong(0)
      val (sx, sy) = (BigInt(r.getLong(1)), BigInt(r.getLong(2)))
      val sxy = BigDecimal(r.getDecimal(3)).toBigInt
      val sxx = BigDecimal(r.getDecimal(4)).toBigInt
      val (na, sxa, sya) = (r.getLong(5), r.getLong(6), r.getLong(7))
      val (nb, sxb, syb) = (r.getLong(8), r.getLong(9), r.getLong(10))
      val num = BigInt(n) * sxy - sx * sy
      val den = BigInt(n) * sxx - sx * sx
      val theta = num.toDouble / den.toDouble
      val xbar = sx.toDouble / n
      val liftRaw = syb.toDouble / nb - sya.toDouble / na
      val adjA = sya.toDouble / na - theta * (sxa.toDouble / na - xbar)
      val adjB = syb.toDouble / nb - theta * (sxb.toDouble / nb - xbar)
      Seq((na, nb, r6(theta), r6(liftRaw), r6(adjB - adjA)))
        .toDF("n_a", "n_b", "theta", "lift_raw", "lift_cuped")
    },
    Some(s"""
      WITH mm AS (SELECT min(epoch_ns(ts)) AS mn, max(epoch_ns(ts)) AS mx FROM events),
      u AS (SELECT user_id,
              sum(CASE WHEN event_type = 'purchase' AND epoch_ns(ts) < mn + (mx - mn) // 2
                       THEN round(value * 100)::BIGINT ELSE 0 END)::BIGINT AS x,
              sum(CASE WHEN event_type = 'purchase' AND epoch_ns(ts) >= mn + (mx - mn) // 2
                       THEN round(value * 100)::BIGINT ELSE 0 END)::BIGINT AS y,
              $armSql AS g
            FROM events, mm GROUP BY user_id),
      a AS (SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
              sum(x::HUGEINT * y) AS sxy, sum(x::HUGEINT * x) AS sxx,
              sum(CASE WHEN g = 0 THEN 1 ELSE 0 END)::BIGINT AS na,
              sum(CASE WHEN g = 0 THEN x ELSE 0 END)::BIGINT AS sxa,
              sum(CASE WHEN g = 0 THEN y ELSE 0 END)::BIGINT AS sya,
              sum(CASE WHEN g = 1 THEN 1 ELSE 0 END)::BIGINT AS nb,
              sum(CASE WHEN g = 1 THEN x ELSE 0 END)::BIGINT AS sxb,
              sum(CASE WHEN g = 1 THEN y ELSE 0 END)::BIGINT AS syb
            FROM u),
      th AS (SELECT *,
               (n * sxy - sx::HUGEINT * sy)::DOUBLE / (n * sxx - sx::HUGEINT * sx)::DOUBLE AS theta,
               sx::DOUBLE / n AS xbar
             FROM a)
      SELECT na AS n_a, nb AS n_b, round(theta, 6) AS theta,
             round(syb::DOUBLE / nb - sya::DOUBLE / na, 6) AS lift_raw,
             round((syb::DOUBLE / nb - theta * (sxb::DOUBLE / nb - xbar))
                 - (sya::DOUBLE / na - theta * (sxa::DOUBLE / na - xbar)), 6) AS lift_cuped
      FROM th
    """),
  )

  /** Difference-in-differences over the (md5 arm × pre/post) grid at
    * the purchase-EVENT grain (q_cuped measures user-grain totals;
    * this is the per-transaction value movement): four cell means
    * from exact cents sums / exact counts, DiD = (B_post − B_pre) −
    * (A_post − A_pre) in one fixed op order.
    */
  val qDiffInDiff: Q = Q(
    "q_diff_in_diff",
    (s, dir) => {
      import s.implicits._
      val ev = Tables.events(s, dir)
      val mm = ev.agg(min(expr("cast(ts as long)")).as("mn"),
        max(expr("cast(ts as long)")).as("mx")).head()
      val mid = mm.getLong(0) + (mm.getLong(1) - mm.getLong(0)) / 2
      val r = ev.where(col("event_type") === "purchase")
        .select(round(col("value") * 100).cast("long").as("c"),
          arm(col("user_id")).as("g"),
          when(expr("cast(ts as long)") < lit(mid), 0).otherwise(1).as("per"))
        .agg(
          sum(when(col("g") === 0 && col("per") === 0, 1L).otherwise(0L)).as("n00"),
          sum(when(col("g") === 0 && col("per") === 0, col("c")).otherwise(0L)).as("s00"),
          sum(when(col("g") === 0 && col("per") === 1, 1L).otherwise(0L)).as("n01"),
          sum(when(col("g") === 0 && col("per") === 1, col("c")).otherwise(0L)).as("s01"),
          sum(when(col("g") === 1 && col("per") === 0, 1L).otherwise(0L)).as("n10"),
          sum(when(col("g") === 1 && col("per") === 0, col("c")).otherwise(0L)).as("s10"),
          sum(when(col("g") === 1 && col("per") === 1, 1L).otherwise(0L)).as("n11"),
          sum(when(col("g") === 1 && col("per") === 1, col("c")).otherwise(0L)).as("s11"))
        .head()
      val (n00, s00) = (r.getLong(0), r.getLong(1))
      val (n01, s01) = (r.getLong(2), r.getLong(3))
      val (n10, s10) = (r.getLong(4), r.getLong(5))
      val (n11, s11) = (r.getLong(6), r.getLong(7))
      val (mAPre, mAPost) = (s00.toDouble / n00, s01.toDouble / n01)
      val (mBPre, mBPost) = (s10.toDouble / n10, s11.toDouble / n11)
      Seq((r6(mAPre), r6(mAPost), r6(mBPre), r6(mBPost),
        r6((mBPost - mBPre) - (mAPost - mAPre))))
        .toDF("mean_a_pre", "mean_a_post", "mean_b_pre", "mean_b_post", "did")
    },
    Some(s"""
      WITH mm AS (SELECT min(epoch_ns(ts)) AS mn, max(epoch_ns(ts)) AS mx FROM events),
      e AS (SELECT round(value * 100)::BIGINT AS c, $armSql AS g,
              CASE WHEN epoch_ns(ts) < mn + (mx - mn) // 2 THEN 0 ELSE 1 END AS per
            FROM events, mm WHERE event_type = 'purchase'),
      a AS (SELECT
          sum(CASE WHEN g = 0 AND per = 0 THEN 1 ELSE 0 END)::BIGINT AS n00,
          sum(CASE WHEN g = 0 AND per = 0 THEN c ELSE 0 END)::BIGINT AS s00,
          sum(CASE WHEN g = 0 AND per = 1 THEN 1 ELSE 0 END)::BIGINT AS n01,
          sum(CASE WHEN g = 0 AND per = 1 THEN c ELSE 0 END)::BIGINT AS s01,
          sum(CASE WHEN g = 1 AND per = 0 THEN 1 ELSE 0 END)::BIGINT AS n10,
          sum(CASE WHEN g = 1 AND per = 0 THEN c ELSE 0 END)::BIGINT AS s10,
          sum(CASE WHEN g = 1 AND per = 1 THEN 1 ELSE 0 END)::BIGINT AS n11,
          sum(CASE WHEN g = 1 AND per = 1 THEN c ELSE 0 END)::BIGINT AS s11
        FROM e)
      SELECT round(s00::DOUBLE / n00, 6) AS mean_a_pre,
             round(s01::DOUBLE / n01, 6) AS mean_a_post,
             round(s10::DOUBLE / n10, 6) AS mean_b_pre,
             round(s11::DOUBLE / n11, 6) AS mean_b_post,
             round((s11::DOUBLE / n11 - s10::DOUBLE / n10)
                 - (s01::DOUBLE / n01 - s00::DOUBLE / n00), 6) AS did
      FROM a
    """),
  )

  /** Kaplan–Meier user-retention curve: lifetime = (last − first)
    * event day per user, right-censored when the user was still
    * active in the final 7 days of the corpus. The data-scale passes
    * are the per-user rollup and the day-grain (deaths, censored)
    * rollup; the ≤O(days) curve itself is fit-state-sized, so the
    * sequential survival product runs on the driver (the gini/KS
    * head() pattern) with per-step ln factors micro-quantized —
    * the cumulative micro sum is an order-free integer, and
    * surv = exp(cum/1e6) replays in DuckDB's window mirror. A day
    * where every remaining at-risk user dies gets the fixed
    * −138e9 micro floor (exp underflows to exactly 0.0 in both
    * engines) instead of ln(0) = −∞.
    */
  /** KM tail shared with the streaming twin: (user_id, f, l) spans →
    * day-grain (deaths, censored) rollup → driver-side survival
    * product over the ≤O(days) curve.
    */
  private[graft] def kmCurve(spans: DataFrame): DataFrame = {
    val s = spans.sparkSession
    import s.implicits._
    val dayNs = 86400000000000L
    val sp = spans.localCheckpoint(eager = false)
    val mx = sp.agg(max(col("l"))).head().getLong(0)
    val roll = sp
      .select(expr(s"(l - f) div $dayNs").as("day"),
        when(lit(mx) - col("l") < lit(7L * dayNs), 1).otherwise(0).as("cens"))
      .groupBy(col("day"))
      .agg(sum(when(col("cens") === 0, 1L).otherwise(0L)).as("deaths"),
        sum(col("cens").cast("long")).as("censored"))
      .orderBy(col("day"))
      .collect()
    var atRisk = roll.map(r => r.getLong(1) + r.getLong(2)).sum
    var cum = 0L
    val out = roll.map { r =>
      val (day, deaths, cens) = (r.getLong(0), r.getLong(1), r.getLong(2))
      val nr = atRisk
      if (deaths > 0) {
        cum += (if (deaths == nr) -138000000000L
          else rL(math.log(1 - deaths.toDouble / nr) * 1e6))
      }
      atRisk -= deaths + cens
      (day, nr, deaths, cens, r6(math.exp(cum / 1e6)))
    }.toSeq
    out.toDF("day", "n_risk", "deaths", "censored", "surv")
  }

  val qSurvivalKm: Q = Q(
    "q_survival_km",
    (s, dir) => kmCurve(
      Tables.events(s, dir)
        .select(col("user_id"), expr("cast(ts as long)").as("t"))
        .groupBy(col("user_id"))
        .agg(min(col("t")).as("f"), max(col("t")).as("l"))),
    Some("""
      WITH mx AS (SELECT max(epoch_ns(ts)) AS mt FROM events),
      u AS (SELECT user_id, min(epoch_ns(ts)) AS f, max(epoch_ns(ts)) AS l
            FROM events GROUP BY 1),
      lab AS (SELECT (l - f) // 86400000000000 AS day,
                CASE WHEN (mt - l) < 604800000000000 THEN 1 ELSE 0 END AS cens
              FROM u, mx),
      roll AS (SELECT day,
                 sum(CASE WHEN cens = 0 THEN 1 ELSE 0 END)::BIGINT AS deaths,
                 sum(cens)::BIGINT AS censored
               FROM lab GROUP BY day),
      tot AS (SELECT count(*)::BIGINT AS n FROM lab),
      r2 AS (SELECT day, deaths, censored,
               ((SELECT n FROM tot) - coalesce(sum(deaths + censored) OVER
                 (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))::BIGINT AS n_risk
             FROM roll),
      r3 AS (SELECT day, deaths, censored, n_risk,
               CASE WHEN deaths = 0 THEN 0
                    WHEN deaths = n_risk THEN -138000000000
                    ELSE round(ln(1 - deaths::DOUBLE / n_risk) * 1000000)::BIGINT END AS lnm
             FROM r2)
      SELECT day, n_risk, deaths, censored,
             round(exp(sum(lnm) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW) / 1000000.0), 6) AS surv
      FROM r3
    """),
  )

  /** Referential-integrity audit over the full TPC-H-ish FK graph —
    * the data-quality gate a warehouse runs before trusting a join
    * (an orphaned key silently DROPS rows from every inner join
    * downstream). One left join + exact counts per edge; dimension
    * parents broadcast under the default threshold, the fact-fact
    * edge (lineitem→orders) shuffles on its key like any data-scale
    * join. Null child keys are not violations (SQL FK semantics).
    */
  val qFkViolations: Q = Q(
    "q_fk_violations",
    (s, dir) => {
      def edge(name: String, child: DataFrame, ck: String,
               parent: DataFrame, pk: String): DataFrame =
        child.select(col(ck).as("k"))
          .join(parent.select(col(pk).as("pk")).distinct(),
            col("k") === col("pk"), "left")
          .agg(count(lit(1)).as("n_child"),
            sum(when(col("k").isNotNull && col("pk").isNull, 1L)
              .otherwise(0L)).as("n_orphans"))
          .select(lit(name).as("fk"), col("n_child"), col("n_orphans"))
      val li = Tables.lineitem(s, dir); val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir); val su = Tables.supplier(s, dir)
      val p = Tables.part(s, dir); val na = Tables.nation(s, dir)
      val re = Tables.region(s, dir); val ev = Tables.events(s, dir)
      Seq(
        edge("lineitem_orders", li, "l_orderkey", o, "o_orderkey"),
        edge("lineitem_part", li, "l_partkey", p, "p_partkey"),
        edge("lineitem_supplier", li, "l_suppkey", su, "s_suppkey"),
        edge("orders_customer", o, "o_custkey", c, "c_custkey"),
        edge("customer_nation", c, "c_nationkey", na, "n_nationkey"),
        edge("supplier_nation", su, "s_nationkey", na, "n_nationkey"),
        edge("nation_region", na, "n_regionkey", re, "r_regionkey"),
        edge("events_customer", ev, "user_id", c, "c_custkey"),
      ).reduce(_.unionAll(_))
    },
    Some {
      def e(name: String, child: String, ck: String,
            parent: String, pk: String): String =
        s"""SELECT '$name' AS fk, count(*)::BIGINT AS n_child,
           sum(CASE WHEN c.$ck IS NOT NULL AND pp.$pk IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_orphans
           FROM $child c LEFT JOIN (SELECT DISTINCT $pk FROM $parent) pp ON c.$ck = pp.$pk"""
      Seq(
        e("lineitem_orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        e("lineitem_part", "lineitem", "l_partkey", "part", "p_partkey"),
        e("lineitem_supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
        e("orders_customer", "orders", "o_custkey", "customer", "c_custkey"),
        e("customer_nation", "customer", "c_nationkey", "nation", "n_nationkey"),
        e("supplier_nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
        e("nation_region", "nation", "n_regionkey", "region", "r_regionkey"),
        e("events_customer", "events", "user_id", "customer", "c_custkey"),
      ).mkString("\n UNION ALL \n")
    },
  )

  /** The DuckDB replay of the two-step logistic fit — CTE bodies
    * u/u2/g1/w1/pr/g2/w2 ending in the micro weights (n, va, vb, vc);
    * shared by q_logreg_step and the explainability oracles.
    */
  private val logregFitSql: String = """u AS (SELECT count(*)::BIGINT AS x1,
               sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS x2
             FROM events GROUP BY user_id),
      u2 AS (SELECT x1, x2, (CASE WHEN x2 >= 14 THEN 1 ELSE 0 END)::BIGINT AS y FROM u),
      g1 AS (SELECT count(*)::BIGINT AS n, sum(1 - 2 * y)::BIGINT AS g0t,
               sum((1 - 2 * y) * x1)::BIGINT AS g1t,
               sum((1 - 2 * y) * x2)::BIGINT AS g2t FROM u2),
      w1 AS (SELECT n,
               round(-0.1 * (g0t::DOUBLE / 2 / n) * 1000000)::BIGINT AS wa,
               round(-0.1 * (g1t::DOUBLE / 2 / n) * 1000000)::BIGINT AS wb,
               round(-0.1 * (g2t::DOUBLE / 2 / n) * 1000000)::BIGINT AS wc
             FROM g1),
      pr AS (SELECT y, x1, x2,
               1.0 / (1.0 + exp(-((wa + wb * x1 + wc * x2)::DOUBLE / 1000000.0))) AS p
             FROM u2, w1),
      g2 AS (SELECT sum(round((p - y) * 1000000)::BIGINT)::BIGINT AS h0,
                    sum(round((p - y) * x1 * 1000000)::BIGINT)::BIGINT AS h1,
                    sum(round((p - y) * x2 * 1000000)::BIGINT)::BIGINT AS h2
             FROM pr),
      w2 AS (SELECT n,
               round((wa / 1000000.0 - 0.1 * ((h0 / 1000000.0) / n)) * 1000000)::BIGINT AS va,
               round((wb / 1000000.0 - 0.1 * ((h1 / 1000000.0) / n)) * 1000000)::BIGINT AS vb,
               round((wc / 1000000.0 - 0.1 * ((h2 / 1000000.0) / n)) * 1000000)::BIGINT AS vc
             FROM w1, g2)"""

  /** Two full gradient-descent steps of logistic regression (bias +
    * event count + purchase count → high-intent label), the
    * distributed-ML-step family next to `q_kmeans_step` /
    * `q_pagerank_step` / `q_pca_power`. Step 1 from w=0 is EXACTLY
    * integral (σ(0)=½ ⇒ 2·grad = Σ(1−2y)·x, an int64 sum); published
    * weights are micro-quantized after each step, so step 2's per-row
    * σ(w·x) evaluates on exact micro rationals and its gradient terms
    * micro-quantize into an order-free int sum — the whole fit
    * replays bit-for-bit. Three aggregate passes over ONE
    * materialized user rollup (§13); log-loss clamps p away from
    * exact 0/1 (1e-12) in both engines so saturated rows stay finite.
    */
  /** The (x1, x2, y) user frame the logreg family fits on. */
  private[graft] def logregFrame(events: DataFrame): DataFrame =
    events
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("x1"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("x2"))
      .select(col("x1"), col("x2"),
        when(col("x2") >= 14, 1L).otherwise(0L).as("y"))

  /** The two micro-quantized gradient steps from w=0 (see
    * q_logreg_step) — returns (n, w_bias, w_events, w_purch) in
    * integer micros; shared by the fit query and the
    * explainability pair.
    */
  /** The exactly-integral first gradient step from w = 0 (sigma(0) = 1/2
    * makes 2*grad an int64 sum), micro-quantized at learning rate `lr`
    * — shared by the 2-step fit and the training loop so the
    * quantization can never drift between them.
    */
  /** Returns (n, wa, wb, wc, min x1, max x1): the x1 range rides the
    * same aggregate row so range consumers (q_pdp's grid) need no
    * second scalar action (§1.2 fewer actions).
    */
  private[graft] def logregFirstStep(u: DataFrame,
                                     lr: Double): (Long, Long, Long, Long, Long, Long) = {
    val g1 = u.agg(count(lit(1)).as("n"),
      sum(lit(1L) - lit(2L) * col("y")).as("g0t"),
      sum((lit(1L) - lit(2L) * col("y")) * col("x1")).as("g1t"),
      sum((lit(1L) - lit(2L) * col("y")) * col("x2")).as("g2t"),
      min(col("x1")).as("mn1"), max(col("x1")).as("mx1")).head()
    val n = g1.getLong(0)
    def w1m(gt: Long): Long = rL(-lr * (gt.toDouble / 2 / n) * 1e6)
    (n, w1m(g1.getLong(1)), w1m(g1.getLong(2)), w1m(g1.getLong(3)),
      g1.getLong(4), g1.getLong(5))
  }

  /** The micro log-loss column both the step and train rows emit —
    * one definition so the 1e-12 saturation clamp cannot diverge.
    */
  private def logLossMicro(p: Column, y: Column): Column =
    round((-(y * log(greatest(p, lit(1e-12))) +
      (lit(1L) - y) * log(greatest(lit(1.0) - p, lit(1e-12))))) * lit(1e6))
      .cast("long")

  /** Returns (n, va, vb, vc, min x1, max x1) — the range passes
    * through from [[logregFirstStep]] for grid consumers.
    */
  private[graft] def logregFit(u: DataFrame): (Long, Long, Long, Long, Long, Long) = {
    val lr = 0.1
    val (n, wa, wb, wc, mn1, mx1) = logregFirstStep(u, lr)
    val z1 = (lit(wa) + lit(wb) * col("x1") + lit(wc) * col("x2"))
      .cast("double") / lit(1e6)
    val p1 = lit(1.0) / (lit(1.0) + exp(-z1))
    val g2 = u.select(col("y"), col("x1"), col("x2"), p1.as("p"))
      .agg(
        sum(round((col("p") - col("y")) * lit(1e6)).cast("long")).as("h0"),
        sum(round((col("p") - col("y")) * col("x1") * lit(1e6)).cast("long")).as("h1"),
        sum(round((col("p") - col("y")) * col("x2") * lit(1e6)).cast("long")).as("h2"))
      .head()
    def w2m(w1: Long, hm: Long): Long =
      rL((w1 / 1e6 - lr * ((hm / 1e6) / n)) * 1e6)
    (n, w2m(wa, g2.getLong(0)), w2m(wb, g2.getLong(1)), w2m(wc, g2.getLong(2)),
      mn1, mx1)
  }

  val qLogregStep: Q = Q(
    "q_logreg_step",
    (s, dir) => {
      import s.implicits._
      val u = logregFrame(Tables.events(s, dir)).localCheckpoint(eager = false)
      val (n, va, vb, vc, _, _) = logregFit(u)
      val z2i = lit(va) + lit(vb) * col("x1") + lit(vc) * col("x2")
      val p2 = lit(1.0) / (lit(1.0) + exp(-(z2i.cast("double") / lit(1e6))))
      val fin = u.select(col("y"), z2i.as("zi"), p2.as("p2"))
        .agg(
          sum(when((col("zi") > 0) === (col("y") === 1L), 1L).otherwise(0L)).as("ok"),
          sum(logLossMicro(col("p2"), col("y"))).as("llm")).head()
      val acc = fin.getLong(0).toDouble / n
      val loss = (fin.getLong(1).toDouble / n) / 1e6
      Seq((n, r6(va / 1e6), r6(vb / 1e6), r6(vc / 1e6), r6(acc), r6(loss)))
        .toDF("n", "w_bias", "w_events", "w_purch", "acc", "log_loss")
    },
    Some(s"""
      WITH $logregFitSql,
      fin AS (SELECT
          sum(CASE WHEN ((va + vb * x1 + vc * x2) > 0) = (y = 1) THEN 1 ELSE 0 END)::BIGINT AS ok,
          sum(round((-(y * ln(greatest(1.0 / (1.0 + exp(-((va + vb * x1 + vc * x2)::DOUBLE / 1000000.0))), 1e-12))
              + (1 - y) * ln(greatest(1.0 - 1.0 / (1.0 + exp(-((va + vb * x1 + vc * x2)::DOUBLE / 1000000.0))), 1e-12))))
              * 1000000)::BIGINT)::BIGINT AS llm
        FROM u2, w2)
      SELECT n, round(va / 1000000.0, 6) AS w_bias,
             round(vb / 1000000.0, 6) AS w_events,
             round(vc / 1000000.0, 6) AS w_purch,
             round(ok::DOUBLE / n, 6) AS acc,
             round((llm::DOUBLE / n) / 1000000.0, 6) AS log_loss
      FROM w2, fin
    """),
  )

  /** One chained-oracle logreg iteration: combined agg at weights
    * wt$t (gradient sums h0..h2, accuracy hits, micro log-loss), then
    * weights wt${t+1} by the micro-quantized update.
    */
  private val trainLr = 0.001
  private def logregIterSql(t: Int): String =
    s"""p$t AS (
        SELECT y, x1, x2, (wa + wb * x1 + wc * x2) AS zi,
               1.0 / (1.0 + exp(-((wa + wb * x1 + wc * x2)::DOUBLE / 1000000.0))) AS p
        FROM u2, wt$t),
      a$t AS (SELECT
          sum(round((p - y) * 1000000)::BIGINT)::BIGINT AS h0,
          sum(round((p - y) * x1 * 1000000)::BIGINT)::BIGINT AS h1,
          sum(round((p - y) * x2 * 1000000)::BIGINT)::BIGINT AS h2,
          sum(CASE WHEN (zi > 0) = (y = 1) THEN 1 ELSE 0 END)::BIGINT AS ok,
          sum(round((-(y * ln(greatest(p, 1e-12))
            + (1 - y) * ln(greatest(1.0 - p, 1e-12)))) * 1000000)::BIGINT)::BIGINT AS llm
        FROM p$t),
      wt${t + 1} AS (SELECT n,
          round((wa / 1000000.0 - $trainLr * ((h0 / 1000000.0) / n)) * 1000000)::BIGINT AS wa,
          round((wb / 1000000.0 - $trainLr * ((h1 / 1000000.0) / n)) * 1000000)::BIGINT AS wb,
          round((wc / 1000000.0 - $trainLr * ((h2 / 1000000.0) / n)) * 1000000)::BIGINT AS wc
        FROM wt$t, a$t)"""

  /** Logistic regression TRAINED for 4 chained gradient iterations
    * (the convergence-loop composition over `q_logreg_step`, next to
    * `q_kmeans_train`/`q_pagerank`): weights stay int64 MICROS across
    * every boundary — per-row gradient terms micro-quantize before
    * the order-free sum, the update re-quantizes — so the whole
    * 4-iteration training CURVE (weights, accuracy, log-loss per
    * iteration) replays bit-for-bit in DuckDB. ONE combined aggregate
    * per iteration over one materialized user rollup carries the
    * gradient AND the metrics at the same weights (no separate
    * metrics pass); the loss clamp (1e-12) matches both engines.
    */
  val qLogregTrain: Q = Q(
    "q_logreg_train",
    (s, dir) => {
      import s.implicits._
      val lr = trainLr
      val u = logregFrame(Tables.events(s, dir)).localCheckpoint(eager = false)
      val (n, wa0, wb0, wc0, _, _) = logregFirstStep(u, lr)
      var w = (wa0, wb0, wc0)
      val out = Seq.newBuilder[(Int, Long, Double, Double, Double, Double, Double)]
      for (t <- 1 to 4) {
        val z = lit(w._1) + lit(w._2) * col("x1") + lit(w._3) * col("x2")
        val p = lit(1.0) / (lit(1.0) + exp(-(z.cast("double") / lit(1e6))))
        val r = u.select(col("y"), col("x1"), col("x2"), z.as("zi"), p.as("p"))
          .agg(
            sum(round((col("p") - col("y")) * lit(1e6)).cast("long")).as("h0"),
            sum(round((col("p") - col("y")) * col("x1") * lit(1e6)).cast("long")).as("h1"),
            sum(round((col("p") - col("y")) * col("x2") * lit(1e6)).cast("long")).as("h2"),
            sum(when((col("zi") > 0) === (col("y") === 1L), 1L).otherwise(0L)).as("ok"),
            sum(logLossMicro(col("p"), col("y"))).as("llm")).head()
        out += ((t, n, r6(w._1 / 1e6), r6(w._2 / 1e6), r6(w._3 / 1e6),
          r6(r.getLong(3).toDouble / n), r6((r.getLong(4).toDouble / n) / 1e6)))
        def upd(wi: Long, hm: Long): Long =
          rL((wi / 1e6 - lr * ((hm / 1e6) / n)) * 1e6)
        w = (upd(w._1, r.getLong(0)), upd(w._2, r.getLong(1)),
          upd(w._3, r.getLong(2)))
      }
      out.result().toDF("iter", "n", "w_bias", "w_events", "w_purch",
        "acc", "log_loss")
    },
    Some(s"""
      WITH u AS (SELECT count(*)::BIGINT AS x1,
               sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS x2
             FROM events GROUP BY user_id),
      u2 AS (SELECT x1, x2, (CASE WHEN x2 >= 14 THEN 1 ELSE 0 END)::BIGINT AS y FROM u),
      g1 AS (SELECT count(*)::BIGINT AS n, sum(1 - 2 * y)::BIGINT AS g0t,
               sum((1 - 2 * y) * x1)::BIGINT AS g1t,
               sum((1 - 2 * y) * x2)::BIGINT AS g2t FROM u2),
      wt1 AS (SELECT n,
               round(-$trainLr * (g0t::DOUBLE / 2 / n) * 1000000)::BIGINT AS wa,
               round(-$trainLr * (g1t::DOUBLE / 2 / n) * 1000000)::BIGINT AS wb,
               round(-$trainLr * (g2t::DOUBLE / 2 / n) * 1000000)::BIGINT AS wc
             FROM g1),
      ${logregIterSql(1)},
      ${logregIterSql(2)},
      ${logregIterSql(3)},
      ${logregIterSql(4)}
      ${(1 to 4).map(t =>
        s"""SELECT $t AS iter, n, round(wa / 1000000.0, 6) AS w_bias,
             round(wb / 1000000.0, 6) AS w_events,
             round(wc / 1000000.0, 6) AS w_purch,
             round(ok::DOUBLE / n, 6) AS acc,
             round((llm::DOUBLE / n) / 1000000.0, 6) AS log_loss
           FROM wt$t, a$t""").mkString("\n      UNION ALL\n      ")}
    """),
  )

  /** Best single-feature decision stump (event count → high-intent
    * label) by weighted Gini impurity — the split search inside every
    * tree learner, run once over the DISTINCT-VALUE rollup: candidate
    * thresholds are the value grain (map-side-combined counts), left
    * counts come from the cumulative window over that bounded grain,
    * per-candidate impurity is a fixed-order double over exact counts
    * (squares in decimal/HUGEINT so the arithmetic survives any row
    * count), and the argmin key is the nano-quantized impurity with
    * the threshold as tie-break — identical rank order in both
    * engines.
    */
  val qDecisionStump: Q = Q(
    "q_decision_stump",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val u = Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("x"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("np"))
        .select(col("x"), when(col("np") >= 14, 1L).otherwise(0L).as("y"))
      val roll = u.groupBy(col("x"))
        .agg(sum(col("y")).as("c1"), sum(lit(1L) - col("y")).as("c0"))
      // ONE action: the class totals t1/t0 ride the same
      // single-partition window pass as the cumulative counts
      // (full-frame sums), so the separate totals collect disappears
      // (§1.2 fewer actions; identical long/double arithmetic)
      val w = Window.orderBy(col("x"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy() // whole-table totals need no order
      val nl = col("l1") + col("l0")
      val nr = col("r1") + col("r0")
      val gl = nl.cast("double") -
        (col("l1").cast("decimal(38,0)") * col("l1") +
          col("l0").cast("decimal(38,0)") * col("l0")).cast("double") / nl
      val gr = nr.cast("double") -
        (col("r1").cast("decimal(38,0)") * col("r1") +
          col("r0").cast("decimal(38,0)") * col("r0")).cast("double") / nr
      val imp = (gl + gr) / (col("t1") + col("t0")).cast("double")
      val best = roll
        .select(col("x"), sum(col("c1")).over(w).as("l1"),
          sum(col("c0")).over(w).as("l0"),
          sum(col("c1")).over(wAll).as("t1"), sum(col("c0")).over(wAll).as("t0"))
        .where(col("l1") + col("l0") < col("t1") + col("t0"))
        .select(col("x"), col("l1"), col("l0"),
          (col("t1") - col("l1")).as("r1"), (col("t0") - col("l0")).as("r0"),
          col("t1"), col("t0"))
        .select(col("x"), nl.as("n_left"), nr.as("n_right"),
          round(imp * lit(1e9)).cast("long").as("impm"), imp.as("imp"),
          (greatest(col("l1"), col("l0")) +
            greatest(col("r1"), col("r0"))).as("okn"),
          (col("t1") + col("t0")).as("n"))
        .orderBy(col("impm"), col("x")).limit(1).head()
      val n = best.getLong(6)
      Seq((best.getLong(0), best.getLong(1), best.getLong(2),
        r6(best.getDouble(4)), r6(best.getLong(5).toDouble / n)))
        .toDF("split_x", "n_left", "n_right", "gini", "acc")
    },
    Some("""
      WITH u AS (SELECT count(*)::BIGINT AS x,
               (CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >= 14
                     THEN 1 ELSE 0 END)::BIGINT AS y
             FROM events GROUP BY user_id),
      roll AS (SELECT x, sum(y)::BIGINT AS c1, sum(1 - y)::BIGINT AS c0 FROM u GROUP BY x),
      tot AS (SELECT sum(c1)::BIGINT AS t1, sum(c0)::BIGINT AS t0 FROM roll),
      cum AS (SELECT x,
                sum(c1) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS l1,
                sum(c0) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS l0
              FROM roll),
      cand AS (SELECT x, l1, l0, t1 - l1 AS r1, t0 - l0 AS r0
               FROM cum, tot WHERE l1 + l0 < t1 + t0),
      sc AS (SELECT x, l1 + l0 AS n_left, r1 + r0 AS n_right,
               (((l1 + l0) - (l1::HUGEINT * l1 + l0::HUGEINT * l0)::DOUBLE / (l1 + l0))
                + ((r1 + r0) - (r1::HUGEINT * r1 + r0::HUGEINT * r0)::DOUBLE / (r1 + r0)))
                 / (SELECT t1 + t0 FROM tot) AS imp,
               greatest(l1, l0) + greatest(r1, r0) AS okn
             FROM cand),
      b AS (SELECT * FROM sc
            ORDER BY round(imp * 1000000000)::BIGINT, x LIMIT 1)
      SELECT x AS split_x, n_left, n_right, round(imp, 6) AS gini,
             round(okn::DOUBLE / (SELECT t1 + t0 FROM tot), 6) AS acc
      FROM b
    """),
  )

  /** One greedy level deeper than `q_decision_stump`: the depth-2
    * decision tree (root split, then the best split INSIDE each
    * child), i.e. one full iteration of recursive partitioning — the
    * loop a distributed tree learner runs per level. The level-2
    * search is a SINGLE pass: the per-side candidate windows
    * partition by the side label, so both children's argmins ride
    * one Exchange; a pure child (no valid candidate) reports a null
    * split and its majority-class accuracy. Same exact arithmetic as
    * the stump (decimal squares, nano-quantized argmin keys, value-
    * grain cumulative counting). Output: root/L/R rows with node
    * size, split, Gini, and subtree accuracy (root = the full
    * depth-2 training accuracy).
    */
  val qTreeDepth2: Q = Q(
    "q_tree_depth2",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val u = Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("x"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("np"))
        .select(col("x"), when(col("np") >= 14, 1L).otherwise(0L).as("y"))
        .localCheckpoint()
      // per-side best split over a (side, x, c1, c0) rollup: the
      // candidate windows and the argmin rank all partition by side
      def bestSplits(rollSided: DataFrame): DataFrame = {
        val tots = rollSided.groupBy(col("side"))
          .agg(sum(col("c1")).as("t1"), sum(col("c0")).as("t0"))
        val w = Window.partitionBy(col("side")).orderBy(col("x"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val nl = col("l1") + col("l0")
        val nr = col("r1") + col("r0")
        val gl = nl.cast("double") -
          (col("l1").cast("decimal(38,0)") * col("l1") +
            col("l0").cast("decimal(38,0)") * col("l0")).cast("double") / nl
        val gr = nr.cast("double") -
          (col("r1").cast("decimal(38,0)") * col("r1") +
            col("r0").cast("decimal(38,0)") * col("r0")).cast("double") / nr
        val imp = (gl + gr) / (col("t1") + col("t0")).cast("double")
        val wSel = Window.partitionBy(col("side")).orderBy(col("impm"), col("x"))
        rollSided
          .withColumn("l1", sum(col("c1")).over(w))
          .withColumn("l0", sum(col("c0")).over(w))
          .join(tots, Seq("side"))
          .where(col("l1") + col("l0") < col("t1") + col("t0"))
          .select(col("side"), col("x"), col("l1"), col("l0"),
            (col("t1") - col("l1")).as("r1"), (col("t0") - col("l0")).as("r0"),
            col("t1"), col("t0"))
          .select(col("side"), col("x"),
            round(imp * lit(1e9)).cast("long").as("impm"), imp.as("imp"),
            (greatest(col("l1"), col("l0")) +
              greatest(col("r1"), col("r0"))).as("okn"))
          .withColumn("rk", row_number().over(wSel)).where(col("rk") === 1)
      }
      val rootRoll = u.groupBy(col("x"))
        .agg(sum(col("y")).as("c1"), sum(lit(1L) - col("y")).as("c0"))
        .withColumn("side", lit("root"))
      val root = bestSplits(rootRoll).head()
      val rootX = root.getAs[Long]("x")
      val roll2 = u
        .select(when(col("x") <= rootX, "L").otherwise("R").as("side"),
          col("x"), col("y"))
        .groupBy(col("side"), col("x"))
        .agg(sum(col("y")).as("c1"), sum(lit(1L) - col("y")).as("c0"))
        .localCheckpoint()
      // ONE collect for per-side totals + best splits (the oracle's
      // `sides` left-join shape): a pure child simply has null split
      // columns — replaces two scalar actions (§1.2 fewer actions)
      val sides2 = roll2.groupBy(col("side"))
        .agg(sum(col("c1")).as("t1"), sum(col("c0")).as("t0"))
        .join(bestSplits(roll2).select(col("side"), col("x"), col("imp"),
          col("okn")), Seq("side"), "left")
        .collect()
      val best2 = sides2.filter(!_.isNullAt(3))
        .map(r => r.getString(0) -> r).toMap
      val tots2 = sides2
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      val n = tots2.values.map(t => t._1 + t._2).sum
      def sideRow(sd: String): (String, Long, Option[Long], Option[Double], Double) = {
        val (t1, t0) = tots2(sd)
        val nn = t1 + t0
        best2.get(sd) match {
          case Some(b) => (sd, nn, Some(b.getAs[Long]("x")),
            Some(r6(b.getAs[Double]("imp"))),
            r6(b.getAs[Long]("okn").toDouble / nn))
          case None => (sd, nn, None, None,
            r6(math.max(t1, t0).toDouble / nn))
        }
      }
      val leafOk = Seq("L", "R").map { sd =>
        best2.get(sd).map(_.getAs[Long]("okn"))
          .getOrElse(math.max(tots2(sd)._1, tots2(sd)._2))
      }.sum
      val rows = Seq(
        ("root", n, Some(rootX), Some(r6(root.getAs[Double]("imp"))),
          r6(leafOk.toDouble / n)),
        sideRow("L"), sideRow("R"))
      rows.toDF("node", "n_node", "split_x", "gini", "acc")
    },
    Some("""
      WITH u AS (SELECT count(*)::BIGINT AS x,
               (CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >= 14
                     THEN 1 ELSE 0 END)::BIGINT AS y
             FROM events GROUP BY user_id),
      r0 AS (SELECT x, sum(y)::BIGINT AS c1, sum(1 - y)::BIGINT AS c0 FROM u GROUP BY 1),
      tt0 AS (SELECT sum(c1)::BIGINT AS t1, sum(c0)::BIGINT AS t0 FROM r0),
      cum0 AS (SELECT x,
                 sum(c1) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS l1,
                 sum(c0) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS l0
               FROM r0),
      sc0 AS (SELECT x,
                (((l1 + l0) - (l1::HUGEINT * l1 + l0::HUGEINT * l0)::DOUBLE / (l1 + l0))
                 + (((t1 - l1) + (t0 - l0)) - ((t1 - l1)::HUGEINT * (t1 - l1)
                     + (t0 - l0)::HUGEINT * (t0 - l0))::DOUBLE / ((t1 - l1) + (t0 - l0))))
                  / (t1 + t0) AS imp
              FROM cum0, tt0 WHERE l1 + l0 < t1 + t0),
      b0 AS (SELECT x, imp FROM sc0 ORDER BY round(imp * 1000000000)::BIGINT, x LIMIT 1),
      u2 AS (SELECT CASE WHEN x <= (SELECT x FROM b0) THEN 'L' ELSE 'R' END AS side, x, y
             FROM u),
      r2 AS (SELECT side, x, sum(y)::BIGINT AS c1, sum(1 - y)::BIGINT AS c0
             FROM u2 GROUP BY 1, 2),
      t2 AS (SELECT side, sum(c1)::BIGINT AS t1, sum(c0)::BIGINT AS t0 FROM r2 GROUP BY 1),
      cum2 AS (SELECT side, x,
                 sum(c1) OVER (PARTITION BY side ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS l1,
                 sum(c0) OVER (PARTITION BY side ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS l0
               FROM r2),
      sc2 AS (SELECT cum2.side, x,
                (((l1 + l0) - (l1::HUGEINT * l1 + l0::HUGEINT * l0)::DOUBLE / (l1 + l0))
                 + (((t1 - l1) + (t0 - l0)) - ((t1 - l1)::HUGEINT * (t1 - l1)
                     + (t0 - l0)::HUGEINT * (t0 - l0))::DOUBLE / ((t1 - l1) + (t0 - l0))))
                  / (t1 + t0) AS imp,
                greatest(l1, l0) + greatest(t1 - l1, t0 - l0) AS okn
              FROM cum2 JOIN t2 ON cum2.side = t2.side
              WHERE l1 + l0 < t1 + t0),
      b2 AS (SELECT side, x, imp, okn
             FROM (SELECT *, row_number() OVER (PARTITION BY side
                     ORDER BY round(imp * 1000000000)::BIGINT, x) AS rk FROM sc2)
             WHERE rk = 1),
      sides AS (SELECT t2.side AS node, (t2.t1 + t2.t0)::BIGINT AS n_node,
                  b2.x AS split_x, round(b2.imp, 6) AS gini,
                  round(coalesce(b2.okn, greatest(t2.t1, t2.t0))::DOUBLE
                    / (t2.t1 + t2.t0), 6) AS acc
                FROM t2 LEFT JOIN b2 ON t2.side = b2.side),
      acc2 AS (SELECT sum(coalesce(b2.okn, greatest(t2.t1, t2.t0)))::BIGINT AS ok
               FROM t2 LEFT JOIN b2 ON t2.side = b2.side)
      SELECT 'root' AS node, (SELECT t1 + t0 FROM tt0)::BIGINT AS n_node,
             (SELECT x FROM b0) AS split_x,
             (SELECT round(imp, 6) FROM b0) AS gini,
             round((SELECT ok FROM acc2)::DOUBLE / (SELECT t1 + t0 FROM tt0), 6) AS acc
      UNION ALL
      SELECT node, n_node, split_x, gini, acc FROM sides
    """),
  )

  /** Hash-bagged stump forest (5 bags): the bagging loop of a random
    * forest as ONE pass per stage — every user joins each bag with a
    * deterministic Poisson(1) weight (the bootstrap-CI thresholds on
    * md5(user‖bag)), the per-bag weighted Gini stump search runs in
    * a single bag-partitioned window pass (weighted counts stay
    * exact integers), and the 5 collected stumps vote per user as
    * pure literal expressions — no per-tree jobs, no RNG, the whole
    * ensemble replays bit-for-bit. Zero-weight prefixes are filtered
    * from the candidate set (nl, nr > 0) so weighted impurity never
    * divides by zero.
    */
  val qForestVote: Q = Q(
    "q_forest_vote",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val u = Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("x"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("np"))
        .select(col("user_id"), col("x"),
          when(col("np") >= 14, 1L).otherwise(0L).as("y"))
        .localCheckpoint(eager = false)
      val h = conv(substring(md5(concat(col("user_id").cast("string"),
        lit(":"), col("bag").cast("string"))), 1, 4), 16, 10).cast("long")
      val wgt = when(h < 24109, 0L).when(h < 48218, 1L).when(h < 60273, 2L)
        .when(h < 64291, 3L).when(h < 65296, 4L).when(h < 65497, 5L)
        .when(h < 65530, 6L).otherwise(7L)
      val roll = u
        .select(col("user_id"), col("x"), col("y"),
          explode(sequence(lit(0L), lit(4L))).as("bag"))
        .select(col("bag"), col("x"), (wgt * col("y")).as("wy"),
          (wgt * (lit(1L) - col("y"))).as("wn"))
        .groupBy(col("bag"), col("x"))
        .agg(sum(col("wy")).as("c1"), sum(col("wn")).as("c0"))
        .localCheckpoint()
      val tots = roll.groupBy(col("bag"))
        .agg(sum(col("c1")).as("t1"), sum(col("c0")).as("t0"))
      val w = Window.partitionBy(col("bag")).orderBy(col("x"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val nl = col("l1") + col("l0")
      val nr = col("r1") + col("r0")
      val gl = nl.cast("double") -
        (col("l1").cast("decimal(38,0)") * col("l1") +
          col("l0").cast("decimal(38,0)") * col("l0")).cast("double") / nl
      val gr = nr.cast("double") -
        (col("r1").cast("decimal(38,0)") * col("r1") +
          col("r0").cast("decimal(38,0)") * col("r0")).cast("double") / nr
      val imp = (gl + gr) / (col("t1") + col("t0")).cast("double")
      val wSel = Window.partitionBy(col("bag")).orderBy(col("impm"), col("x"))
      val best = roll
        .withColumn("l1", sum(col("c1")).over(w))
        .withColumn("l0", sum(col("c0")).over(w))
        .join(tots, Seq("bag"))
        .select(col("bag"), col("x"), col("l1"), col("l0"),
          (col("t1") - col("l1")).as("r1"), (col("t0") - col("l0")).as("r0"),
          col("t1"), col("t0"))
        .where(nl > 0 && nr > 0)
        .select(col("bag"), col("x"),
          round(imp * lit(1e9)).cast("long").as("impm"), imp.as("imp"),
          (col("l1") >= col("l0")).cast("long").as("majl"),
          (col("r1") >= col("r0")).cast("long").as("majr"))
        .withColumn("rk", row_number().over(wSel)).where(col("rk") === 1)
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(4), r.getLong(5), r.getDouble(3))).toMap
      val votes = (0L to 4L).map { b =>
        val (t, majl, majr, _) = best(b)
        when(col("x") <= t, lit(majl)).otherwise(lit(majr))
      }.reduce(_ + _)
      val acc = u.agg(count(lit(1)).as("n"),
        sum(when((votes >= 3L) === (col("y") === 1L), 1L).otherwise(0L)).as("ok"))
        .head()
      val accF = r6(acc.getLong(1).toDouble / acc.getLong(0))
      (0L to 4L).map { b =>
        val (t, majl, majr, g) = best(b)
        (b, t, majl, majr, r6(g), accF)
      }.toDF("bag", "split_x", "maj_left", "maj_right", "gini", "acc_forest")
    },
    Some("""
      WITH u AS (SELECT user_id, count(*)::BIGINT AS x,
               (CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >= 14
                     THEN 1 ELSE 0 END)::BIGINT AS y
             FROM events GROUP BY user_id),
      ub AS (SELECT user_id, x, y, b.b AS bag,
               ((strpos('0123456789abcdef', substr(md5(user_id::VARCHAR || ':' || b.b::VARCHAR), 1, 1)) - 1) * 4096
                + (strpos('0123456789abcdef', substr(md5(user_id::VARCHAR || ':' || b.b::VARCHAR), 2, 1)) - 1) * 256
                + (strpos('0123456789abcdef', substr(md5(user_id::VARCHAR || ':' || b.b::VARCHAR), 3, 1)) - 1) * 16
                + (strpos('0123456789abcdef', substr(md5(user_id::VARCHAR || ':' || b.b::VARCHAR), 4, 1)) - 1)) AS h
             FROM u, generate_series(0, 4) b(b)),
      uw AS (SELECT user_id, x, y, bag,
               (CASE WHEN h < 24109 THEN 0 WHEN h < 48218 THEN 1
                     WHEN h < 60273 THEN 2 WHEN h < 64291 THEN 3
                     WHEN h < 65296 THEN 4 WHEN h < 65497 THEN 5
                     WHEN h < 65530 THEN 6 ELSE 7 END)::BIGINT AS w
             FROM ub),
      roll AS (SELECT bag, x, sum(w * y)::BIGINT AS c1, sum(w * (1 - y))::BIGINT AS c0
               FROM uw GROUP BY 1, 2),
      t2 AS (SELECT bag, sum(c1)::BIGINT AS t1, sum(c0)::BIGINT AS t0 FROM roll GROUP BY 1),
      cum AS (SELECT bag, x,
                sum(c1) OVER (PARTITION BY bag ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS l1,
                sum(c0) OVER (PARTITION BY bag ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS l0
              FROM roll),
      sc AS (SELECT cum.bag, x,
               (((l1 + l0) - (l1::HUGEINT * l1 + l0::HUGEINT * l0)::DOUBLE / (l1 + l0))
                + (((t1 - l1) + (t0 - l0)) - ((t1 - l1)::HUGEINT * (t1 - l1)
                    + (t0 - l0)::HUGEINT * (t0 - l0))::DOUBLE / ((t1 - l1) + (t0 - l0))))
                 / (t1 + t0) AS imp,
               (l1 >= l0)::BIGINT AS majl,
               (t1 - l1 >= t0 - l0)::BIGINT AS majr
             FROM cum JOIN t2 ON cum.bag = t2.bag
             WHERE l1 + l0 > 0 AND (t1 - l1) + (t0 - l0) > 0),
      b2 AS (SELECT bag, x, imp, majl, majr
             FROM (SELECT *, row_number() OVER (PARTITION BY bag
                     ORDER BY round(imp * 1000000000)::BIGINT, x) AS rk FROM sc)
             WHERE rk = 1),
      pred AS (SELECT u.user_id, u.y,
                 sum(CASE WHEN u.x <= b2.x THEN b2.majl ELSE b2.majr END)::BIGINT AS v
               FROM u CROSS JOIN b2 GROUP BY 1, 2),
      af AS (SELECT round(sum(CASE WHEN (v >= 3) = (y = 1) THEN 1 ELSE 0 END)::DOUBLE
                      / count(*), 6) AS acc FROM pred)
      SELECT bag, x AS split_x, majl AS maj_left, majr AS maj_right,
             round(imp, 6) AS gini, (SELECT acc FROM af) AS acc_forest
      FROM b2
    """),
  )

  /** Exact Shapley feature importance for the fitted two-feature
    * logistic model — with d=2 the Shapley value has a closed 4-term
    * coalition form (no sampling): φ₁ = ½[(f(x₁,x₂)−f(0,x₂)) +
    * (f(x₁,0)−f(0,0))], per-user values micro-quantized into
    * order-free int sums, reported as mean |φ| (global importance)
    * and signed mean per feature. One pass over the user rollup with
    * the collected micro weights as literals — model explainability
    * at the engine's exact-replay standard.
    */
  val qShapleyImportance: Q = Q(
    "q_shapley_importance",
    (s, dir) => {
      import s.implicits._
      val u = logregFrame(Tables.events(s, dir)).localCheckpoint(eager = false)
      val (n, va, vb, vc, _, _) = logregFit(u)
      def sig(zi: Column): Column =
        lit(1.0) / (lit(1.0) + exp(-(zi.cast("double") / lit(1e6))))
      val f12 = sig(lit(va) + lit(vb) * col("x1") + lit(vc) * col("x2"))
      val f2 = sig(lit(va) + lit(vc) * col("x2"))
      val f1 = sig(lit(va) + lit(vb) * col("x1"))
      val f0 = sig(lit(va))
      val phi1 = ((f12 - f2) + (f1 - f0)) * lit(0.5)
      val phi2 = ((f12 - f1) + (f2 - f0)) * lit(0.5)
      val a = u.agg(
        sum(round(abs(phi1) * lit(1e6)).cast("long")).as("a1"),
        sum(round(phi1 * lit(1e6)).cast("long")).as("m1"),
        sum(round(abs(phi2) * lit(1e6)).cast("long")).as("a2"),
        sum(round(phi2 * lit(1e6)).cast("long")).as("m2")).head()
      Seq(
        ("x_events", r6(a.getLong(0).toDouble / n / 1e6),
          r6(a.getLong(1).toDouble / n / 1e6)),
        ("x_purchases", r6(a.getLong(2).toDouble / n / 1e6),
          r6(a.getLong(3).toDouble / n / 1e6)))
        .toDF("feature", "mean_abs_shap", "mean_shap")
    },
    Some(s"""
      WITH $logregFitSql,
      fs AS (SELECT
               1.0 / (1.0 + exp(-((va + vb * x1 + vc * x2)::DOUBLE / 1000000.0))) AS f12,
               1.0 / (1.0 + exp(-((va + vc * x2)::DOUBLE / 1000000.0))) AS f2,
               1.0 / (1.0 + exp(-((va + vb * x1)::DOUBLE / 1000000.0))) AS f1,
               1.0 / (1.0 + exp(-((va)::DOUBLE / 1000000.0))) AS f0
             FROM u2, w2),
      sh AS (SELECT ((f12 - f2) + (f1 - f0)) * 0.5 AS phi1,
                    ((f12 - f1) + (f2 - f0)) * 0.5 AS phi2 FROM fs),
      ag AS (SELECT sum(round(abs(phi1) * 1000000)::BIGINT)::BIGINT AS a1,
                    sum(round(phi1 * 1000000)::BIGINT)::BIGINT AS m1,
                    sum(round(abs(phi2) * 1000000)::BIGINT)::BIGINT AS a2,
                    sum(round(phi2 * 1000000)::BIGINT)::BIGINT AS m2
             FROM sh)
      SELECT 'x_events' AS feature,
             round(a1::DOUBLE / (SELECT n FROM w2) / 1000000.0, 6) AS mean_abs_shap,
             round(m1::DOUBLE / (SELECT n FROM w2) / 1000000.0, 6) AS mean_shap
      FROM ag
      UNION ALL
      SELECT 'x_purchases',
             round(a2::DOUBLE / (SELECT n FROM w2) / 1000000.0, 6),
             round(m2::DOUBLE / (SELECT n FROM w2) / 1000000.0, 6)
      FROM ag
    """),
  )

  /** Partial-dependence profile of the fitted model along the event
    * count: a 10-point integer grid over [min, max], PDP(g) = the
    * mean prediction with x₁ forced to g and x₂ marginalized over
    * the real population (the standard PDP estimator) — one ×10
    * explode of the user rollup into a grid-keyed exact micro mean.
    */
  val qPdp: Q = Q(
    "q_pdp",
    (s, dir) => {
      val u = logregFrame(Tables.events(s, dir)).localCheckpoint(eager = false)
      // the x1 range rides the fit's first-step aggregate row — no
      // separate min/max scalar action (§1.2 fewer actions)
      val (n, va, vb, vc, mn, mx) = logregFit(u)
      val z = (lit(va) + lit(vb) * col("g") + lit(vc) * col("x2"))
        .cast("double") / lit(1e6)
      val p = lit(1.0) / (lit(1.0) + exp(-z))
      u.select(col("x2"), explode(sequence(lit(0L), lit(9L))).as("i"))
        .select(col("x2"), col("i"),
          expr(s"$mn + ((${mx - mn}) * i) div 9").as("g"))
        .groupBy(col("i"), col("g"))
        .agg(sum(round(p * lit(1e6)).cast("long")).as("sm"))
        .select(col("i").as("grid_idx"), col("g").as("x_events"),
          round(col("sm").cast("double") / lit(n) / lit(1e6), 6).as("pdp"))
    },
    Some(s"""
      WITH $logregFitSql,
      mm AS (SELECT min(x1) AS mn, max(x1) AS mx FROM u2),
      gr AS (SELECT x2, t.i, (mm.mn + ((mm.mx - mm.mn) * t.i) // 9)::BIGINT AS g
             FROM u2, mm, generate_series(0, 9) t(i)),
      pd AS (SELECT i, g,
               sum(round(1.0 / (1.0 + exp(-((va + vb * g + vc * x2)::DOUBLE / 1000000.0)))
                 * 1000000)::BIGINT)::BIGINT AS sm
             FROM gr, w2 GROUP BY 1, 2)
      SELECT i AS grid_idx, g AS x_events,
             round(sm::DOUBLE / (SELECT n FROM w2) / 1000000.0, 6) AS pdp
      FROM pd
    """),
  )

  /** Cumulative-gains / lift table at score deciles — the
    * campaign-targeting chart behind every propensity model: users
    * rank by (activity score desc, user_id), decile assignment uses
    * the §13 two-level decomposition (value-grain prefix counts
    * joined back + a window PARTITIONED by score for within-tie
    * order — no single-partition global sort), and each decile
    * reports its exact positive count, cumulative capture share, and
    * lift over the base rate.
    */
  /** Gains tail shared with the streaming twin: the (user_id, score,
    * y) frame -> decile gains/lift table.
    */
  private[graft] def gainsFromUsers(users: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    {
      val uu = users.localCheckpoint(eager = false)
      val t = uu.agg(count(lit(1)).as("n"), sum(col("y")).as("p")).head()
      val (n, totPos) = (t.getLong(0), t.getLong(1))
      // two-level exact rank: prefix = users with a STRICTLY higher
      // score (bounded value-grain rollup), within-tie by user_id
      val wv = Window.orderBy(col("score").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val prefix = uu.groupBy(col("score")).agg(count(lit(1)).as("c"))
        .withColumn("cum", sum(col("c")).over(wv))
        .select(col("score"), (col("cum") - col("c")).as("before"))
      val wTie = Window.partitionBy(col("score")).orderBy(col("user_id"))
      val ranked = uu.join(prefix, Seq("score"))
        .withColumn("rk", col("before") + row_number().over(wTie))
      val wCum = Window.orderBy(col("decile"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ranked
        .select(expr(s"((rk - 1) * 10) div $n").as("decile"), col("y"))
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n_users"), sum(col("y")).as("pos"))
        .withColumn("cum_pos", sum(col("pos")).over(wCum))
        .select(col("decile"), col("n_users"), col("pos"),
          round(col("cum_pos").cast("double") / lit(totPos), 6).as("cum_capture"),
          round((col("pos").cast("double") / col("n_users")) /
            (lit(totPos).cast("double") / lit(n)), 6).as("lift"))
    }
  }

  val qGainsCurve: Q = Q(
    "q_gains_curve",
    (s, dir) => gainsFromUsers(
      Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("score"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("np"))
        .select(col("user_id"), col("score"),
          when(col("np") >= 14, 1L).otherwise(0L).as("y"))),
    Some("""
      WITH u AS (SELECT user_id, count(*)::BIGINT AS score,
               (CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >= 14
                     THEN 1 ELSE 0 END)::BIGINT AS y
             FROM events GROUP BY user_id),
      t AS (SELECT count(*)::BIGINT AS n, sum(y)::BIGINT AS p FROM u),
      pre AS (SELECT score,
                (sum(c) OVER (ORDER BY score DESC ROWS BETWEEN UNBOUNDED PRECEDING
                  AND CURRENT ROW) - c)::BIGINT AS before
              FROM (SELECT score, count(*)::BIGINT AS c FROM u GROUP BY 1)),
      rk AS (SELECT u.y,
               pre.before + row_number() OVER (PARTITION BY u.score ORDER BY u.user_id) AS rk
             FROM u JOIN pre ON u.score = pre.score),
      d AS (SELECT ((rk - 1) * 10) // (SELECT n FROM t) AS decile, y FROM rk),
      g AS (SELECT decile, count(*)::BIGINT AS n_users, sum(y)::BIGINT AS pos
            FROM d GROUP BY 1)
      SELECT decile, n_users, pos,
             round((sum(pos) OVER (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW))::DOUBLE / (SELECT p FROM t), 6) AS cum_capture,
             round((pos::DOUBLE / n_users) /
               ((SELECT p FROM t)::DOUBLE / (SELECT n FROM t)), 6) AS lift
      FROM g
    """),
  )

  /** Weight-of-evidence / information value over 10 equi-width score
    * bins — the credit-scoring feature-strength report: per-bin
    * WoE = ln((pos_b/P)/(neg_b/N)) with half-count smoothing (no
    * ±∞ on pure bins), IV = Σ (pos_b/P − neg_b/N)·WoE_b with terms
    * micro-quantized into an order-free int total. One bounded
    * 10-bin rollup over the user frame.
    */
  /** WoE/IV tail shared with the streaming twin: (score, y) frame ->
    * 10-bin report.
    */
  private[graft] def woeFromUsers(users: DataFrame): DataFrame = {
    val s = users.sparkSession
    import s.implicits._
    {
      val uu = users.localCheckpoint(eager = false)
      val mm = uu.agg(min(col("score")), max(col("score"))).head()
      val (mn, mx) = (mm.getLong(0), mm.getLong(1))
      val bins = uu
        .select(least(expr(s"(((score - $mn) * 10) div ${math.max(mx - mn + 1, 1)})"),
          lit(9L)).as("bin"), col("y"))
        .groupBy(col("bin"))
        .agg(sum(col("y")).as("pos"), sum(lit(1L) - col("y")).as("neg"))
        .orderBy(col("bin")).collect()
      val totP = bins.map(_.getLong(1)).sum
      val totN = bins.map(_.getLong(2)).sum
      def shares(p: Long, nn: Long): (Double, Double) =
        ((p + 0.5) / (totP + bins.length / 2.0), (nn + 0.5) / (totN + bins.length / 2.0))
      val rows = bins.map { r =>
        val (b, p, nn) = (r.getLong(0), r.getLong(1), r.getLong(2))
        val (sp, sn) = shares(p, nn)
        val woe = math.log(sp / sn)
        (b, p, nn, r6(woe), rL((sp - sn) * woe * 1e6))
      }
      val iv = rows.map(_._5).sum / 1e6
      rows.map { case (b, p, nn, woe, _) => (b, p, nn, woe, r6(iv)) }.toSeq
        .toDF("bin", "pos", "neg", "woe", "iv_total")
    }
  }

  val qWoeIv: Q = Q(
    "q_woe_iv",
    (s, dir) => woeFromUsers(
      Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("score"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("np"))
        .select(col("score"), when(col("np") >= 14, 1L).otherwise(0L).as("y"))),
    Some("""
      WITH u AS (SELECT count(*)::BIGINT AS score,
               (CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >= 14
                     THEN 1 ELSE 0 END)::BIGINT AS y
             FROM events GROUP BY user_id),
      mm AS (SELECT min(score) AS mn, max(score) AS mx FROM u),
      b AS (SELECT least(((score - mm.mn) * 10) // greatest(mm.mx - mm.mn + 1, 1), 9) AS bin, y
            FROM u, mm),
      g AS (SELECT bin, sum(y)::BIGINT AS pos, sum(1 - y)::BIGINT AS neg
            FROM b GROUP BY 1),
      t AS (SELECT sum(pos)::BIGINT AS tp, sum(neg)::BIGINT AS tn,
              count(*)::BIGINT AS k FROM g),
      w AS (SELECT bin, pos, neg,
              ln(((pos + 0.5) / (tp + k / 2.0)) / ((neg + 0.5) / (tn + k / 2.0))) AS woe,
              round((((pos + 0.5) / (tp + k / 2.0)) - ((neg + 0.5) / (tn + k / 2.0)))
                * ln(((pos + 0.5) / (tp + k / 2.0)) / ((neg + 0.5) / (tn + k / 2.0)))
                * 1000000)::BIGINT AS ivm
            FROM g, t),
      iv AS (SELECT sum(ivm)::BIGINT AS s FROM w)
      SELECT bin, pos, neg, round(woe, 6) AS woe,
             round((SELECT s FROM iv) / 1000000.0, 6) AS iv_total
      FROM w
    """),
  )

  /** Spearman rank correlation between activity and purchase counts
    * across users — the monotone-association statistic next to the
    * relevance batteries' Kendall tau, computed EXACTLY under ties:
    * doubled midranks 2·before + (c+1) are integers derived from the
    * value-grain rollup (two-level rank, no global row sort, no
    * within-tie window needed — ties share a midrank), and ρ is the
    * Pearson formula over those exact integer ranks (BigInt/HUGEINT
    * product sums, one fixed-order double at the end).
    */
  /** Spearman tail shared with the streaming twin: (x1, x2) frame ->
    * tie-exact rho.
    */
  private[graft] def spearmanFromUsers(users: DataFrame): DataFrame = {
    val s = users.sparkSession
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    {
      val u = users.localCheckpoint()
      def rank2(vc: String): DataFrame = {
        val w = Window.orderBy(col(vc))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        u.groupBy(col(vc)).agg(count(lit(1)).as("c"))
          .withColumn("cum", sum(col("c")).over(w))
          .select(col(vc),
            (lit(2L) * (col("cum") - col("c")) + col("c") + 1).as(s"r_$vc"))
      }
      val ranked = u.join(rank2("x1"), Seq("x1")).join(rank2("x2"), Seq("x2"))
      val r = ranked.agg(count(lit(1)).as("n"),
        sum(col("r_x1")).as("sa"), sum(col("r_x2")).as("sb"),
        sum(col("r_x1").cast("decimal(38,0)") * col("r_x2")).as("sab"),
        sum(col("r_x1").cast("decimal(38,0)") * col("r_x1")).as("saa"),
        sum(col("r_x2").cast("decimal(38,0)") * col("r_x2")).as("sbb")).head()
      val n = BigInt(r.getLong(0))
      val (sa, sb) = (BigInt(r.getLong(1)), BigInt(r.getLong(2)))
      val sab = BigDecimal(r.getDecimal(3)).toBigInt
      val saa = BigDecimal(r.getDecimal(4)).toBigInt
      val sbb = BigDecimal(r.getDecimal(5)).toBigInt
      val rho = (n * sab - sa * sb).toDouble /
        (math.sqrt((n * saa - sa * sa).toDouble) *
          math.sqrt((n * sbb - sb * sb).toDouble))
      Seq((r.getLong(0), r6(rho))).toDF("n", "spearman_rho")
    }
  }

  val qSpearman: Q = Q(
    "q_spearman",
    (s, dir) => spearmanFromUsers(
      Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("x1"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("x2"))
        .select(col("x1"), col("x2"))),
    Some("""
      WITH u AS (SELECT count(*)::BIGINT AS x1,
               sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS x2
             FROM events GROUP BY user_id),
      r1 AS (SELECT x1, (2 * (sum(c) OVER (ORDER BY x1 ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW) - c) + c + 1)::BIGINT AS ra
             FROM (SELECT x1, count(*)::BIGINT AS c FROM u GROUP BY 1)),
      r2 AS (SELECT x2, (2 * (sum(c) OVER (ORDER BY x2 ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW) - c) + c + 1)::BIGINT AS rb
             FROM (SELECT x2, count(*)::BIGINT AS c FROM u GROUP BY 1)),
      j AS (SELECT ra, rb FROM u JOIN r1 USING (x1) JOIN r2 USING (x2)),
      a AS (SELECT count(*)::BIGINT AS n, sum(ra)::BIGINT AS sa, sum(rb)::BIGINT AS sb,
              sum(ra::HUGEINT * rb) AS sab, sum(ra::HUGEINT * ra) AS saa,
              sum(rb::HUGEINT * rb) AS sbb
            FROM j)
      SELECT n,
             round((n * sab - sa::HUGEINT * sb)::DOUBLE /
               (sqrt((n * saa - sa::HUGEINT * sa)::DOUBLE) *
                sqrt((n * sbb - sb::HUGEINT * sb)::DOUBLE)), 6) AS spearman_rho
      FROM a
    """),
  )

  /** Power analysis for the A/B test: at the OBSERVED pooled rate and
    * lift, the detection power of the current arm size and its 4×/16×
    * scale-ups (normal approximation, α=0.05 two-sided), plus the 80%-
    * power minimal detectable effect at each size — the "how long must
    * this experiment run" table, a pure function of three exact
    * counts through the shared A&S normal tail.
    */
  val qAbPower: Q = Q(
    "q_ab_power",
    (s, dir) => {
      import s.implicits._
      import graft.operators.TsFeatures
      val r = Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("np"))
        .select(when(col("np") >= 14, 1).otherwise(0).as("conv"),
          arm(col("user_id")).as("g"))
        .agg(sum(when(col("g") === 0, 1L).otherwise(0L)).as("n_a"),
          sum(when(col("g") === 0, col("conv")).otherwise(0)).as("k_a"),
          sum(when(col("g") === 1, 1L).otherwise(0L)).as("n_b"),
          sum(when(col("g") === 1, col("conv")).otherwise(0)).as("k_b")).head()
      val (nA, kA, nB, kB) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      val pp = (kA + kB).toDouble / (nA + nB)
      val delta = math.abs(kA.toDouble / nA - kB.toDouble / nB)
      // P(Z > a) via the shared two-sided tail: a>=0 -> pT(a)/2
      def upperTail(a: Double): Double =
        if (a >= 0) TsFeatures.normTwoSidedP(a) / 2
        else 1.0 - TsFeatures.normTwoSidedP(-a) / 2
      val rows = Seq(1L, 4L, 16L).map { m =>
        val n = nA * m
        val se = math.sqrt(2.0 * pp * (1 - pp) / n)
        val power = upperTail(1.959964 - delta / se)
        val mde = (1.959964 + 0.841621) * se
        (m, n, r6(se), r6(power), r6(mde))
      }
      rows.toDF("scale", "n_per_arm", "se", "power_at_observed", "mde_80")
    },
    Some(s"""
      WITH u AS (SELECT user_id,
               CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >= 14
                    THEN 1 ELSE 0 END AS conv,
               $armSql AS g
             FROM events GROUP BY user_id),
      a AS (SELECT sum(CASE WHEN g = 0 THEN 1 ELSE 0 END)::BIGINT AS n_a,
              sum(CASE WHEN g = 0 THEN conv ELSE 0 END)::BIGINT AS k_a,
              sum(CASE WHEN g = 1 THEN 1 ELSE 0 END)::BIGINT AS n_b,
              sum(CASE WHEN g = 1 THEN conv ELSE 0 END)::BIGINT AS k_b
            FROM u),
      base AS (SELECT (k_a + k_b)::DOUBLE / (n_a + n_b) AS pp,
                abs(k_a::DOUBLE / n_a - k_b::DOUBLE / n_b) AS delta, n_a
              FROM a),
      grid AS (SELECT m.m AS scale, base.n_a * m.m AS n_per_arm,
                 sqrt(2.0 * pp * (1 - pp) / (base.n_a * m.m)) AS se,
                 delta
               FROM base, (VALUES (1), (4), (16)) m(m))
      SELECT scale::BIGINT AS scale, n_per_arm::BIGINT AS n_per_arm,
             round(se, 6) AS se,
             round(CASE WHEN (1.959964 - delta / se) >= 0
                        THEN (${OracleExact.phiTailSql("(1.959964 - delta / se)")}) / 2
                        ELSE 1.0 - (${OracleExact.phiTailSql("(-(1.959964 - delta / se))")}) / 2
                   END, 6) AS power_at_observed,
             round((1.959964 + 0.841621) * se, 6) AS mde_80
      FROM grid
    """),
  )

  /** Day-of-week uniformity test — the seasonality detector a
    * scheduling/capacity dashboard runs: chi-squared goodness-of-fit
    * of the 7 day-of-week event counts against uniform (integer dow
    * arithmetic, (epoch_days+4)%7), per-cell (O−E)²/E terms
    * micro-quantized into an order-free total, p via the
    * Wilson–Hilferty cube-root normal approximation through the
    * shared A&S tail (the q_cramers_v convention, df=6). One 7-cell
    * rollup.
    */
  val qDowUniformity: Q = Q(
    "q_dow_uniformity",
    (s, dir) => {
      import s.implicits._
      import graft.operators.TsFeatures
      val cells = Tables.events(s, dir)
        .select(expr("(cast(ts as long) div 86400000000000 + 4) % 7").as("dow"))
        .groupBy(col("dow")).agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val n = cells.map(_._2).sum
      val e = n / 7.0
      val chi2m = cells.map { case (_, o) => rL((o - e) * (o - e) / e * 1e6) }.sum
      val chi2 = chi2m / 1e6
      val df = 6.0
      val z = (math.cbrt(chi2 / df) - (1 - 2 / (9 * df))) / math.sqrt(2 / (9 * df))
      val p = if (z >= 0) TsFeatures.normTwoSidedP(z) / 2
        else 1.0 - TsFeatures.normTwoSidedP(-z) / 2
      Seq((n, r6(chi2), r6(p))).toDF("n", "chi2", "p_wh")
    },
    Some(s"""
      WITH g AS (SELECT (epoch_ns(ts) // 86400000000000 + 4) % 7 AS dow,
               count(*)::BIGINT AS n
             FROM events GROUP BY 1),
      t AS (SELECT sum(n)::BIGINT AS n FROM g),
      c AS (SELECT sum(round((g.n - t.n / 7.0) * (g.n - t.n / 7.0) / (t.n / 7.0)
              * 1000000)::BIGINT)::BIGINT AS cm
            FROM g, t),
      x AS (SELECT t.n, cm / 1000000.0 AS chi2,
              (cbrt((cm / 1000000.0) / 6.0) - (1 - 2 / (9 * 6.0))) / sqrt(2 / (9 * 6.0)) AS z
            FROM c, t)
      SELECT n, round(chi2, 6) AS chi2,
             round(CASE WHEN z >= 0 THEN (${OracleExact.phiTailSql("z")}) / 2
                        ELSE 1.0 - (${OracleExact.phiTailSql("(-z)")}) / 2 END, 6) AS p_wh
      FROM x
    """),
  )

  /** 2×2 odds ratio of high intent across the md5 arms with its
    * 95% log-normal CI (Woolf interval, +½ Haldane–Anscombe
    * correction so empty cells stay finite) — the effect-size report
    * next to the z-test's significance. Pure scalar function of the
    * four exact counts in a fixed op order.
    */
  val qOddsRatio: Q = Q(
    "q_odds_ratio",
    (s, dir) => {
      import s.implicits._
      val r = Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("np"))
        .select(when(col("np") >= 14, 1L).otherwise(0L).as("conv"),
          arm(col("user_id")).as("g"))
        .agg(sum(when(col("g") === 0 && col("conv") === 1L, 1L).otherwise(0L)).as("a"),
          sum(when(col("g") === 0 && col("conv") === 0L, 1L).otherwise(0L)).as("b"),
          sum(when(col("g") === 1 && col("conv") === 1L, 1L).otherwise(0L)).as("c"),
          sum(when(col("g") === 1 && col("conv") === 0L, 1L).otherwise(0L)).as("d"))
        .head()
      val (a, b, c, d) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      val or = ((a + 0.5) * (d + 0.5)) / ((b + 0.5) * (c + 0.5))
      val se = math.sqrt(1 / (a + 0.5) + 1 / (b + 0.5) + 1 / (c + 0.5) + 1 / (d + 0.5))
      val lnOr = math.log(or)
      Seq((a, b, c, d, r6(or),
        r6(math.exp(lnOr - 1.959964 * se)), r6(math.exp(lnOr + 1.959964 * se))))
        .toDF("a", "b", "c", "d", "odds_ratio", "ci_lo", "ci_hi")
    },
    Some(s"""
      WITH u AS (SELECT user_id,
               CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >= 14
                    THEN 1 ELSE 0 END AS conv,
               $armSql AS g
             FROM events GROUP BY user_id),
      t AS (SELECT
          sum(CASE WHEN g = 0 AND conv = 1 THEN 1 ELSE 0 END)::BIGINT AS a,
          sum(CASE WHEN g = 0 AND conv = 0 THEN 1 ELSE 0 END)::BIGINT AS b,
          sum(CASE WHEN g = 1 AND conv = 1 THEN 1 ELSE 0 END)::BIGINT AS c,
          sum(CASE WHEN g = 1 AND conv = 0 THEN 1 ELSE 0 END)::BIGINT AS d
        FROM u),
      x AS (SELECT a, b, c, d,
              ((a + 0.5) * (d + 0.5)) / ((b + 0.5) * (c + 0.5)) AS orr,
              sqrt(1 / (a + 0.5) + 1 / (b + 0.5) + 1 / (c + 0.5) + 1 / (d + 0.5)) AS se
            FROM t)
      SELECT a, b, c, d, round(orr, 6) AS odds_ratio,
             round(exp(ln(orr) - 1.959964 * se), 6) AS ci_lo,
             round(exp(ln(orr) + 1.959964 * se), 6) AS ci_hi
      FROM x
    """),
  )

  /** Bowley quartile skewness of purchase value — the robust shape
    * scalar next to the trimmed mean: Q1/Q2/Q3 by exact rank
    * counting over the distinct-cents rollup (k-th smallest =
    * ⌈q·n⌉, the §14 pattern), skew = (Q3 + Q1 − 2·Q2)/(Q3 − Q1) on
    * exact cents.
    */
  val qBowleySkew: Q = Q(
    "q_bowley_skew",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val roll = Tables.events(s, dir)
        .where(col("event_type") === "purchase")
        .select(round(col("value") * 100).cast("long").as("v"))
        .groupBy(col("v")).agg(count(lit(1)).as("c"))
      // ONE action: the total n rides the same single-partition window
      // pass as the cumulative counts (full-frame sum), the three
      // rank thresholds become per-row integer exprs of n, and the
      // three k-th-smallest lookups fuse into conditional mins —
      // replaces four scalar actions (n + 3 kth collects) with one
      // (§1.2 fewer actions; same exact rank arithmetic, oracle green)
      val w = Window.orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy() // whole-table totals need no order
      val r = roll
        .withColumn("cum", sum(col("c")).over(w))
        .withColumn("n", sum(col("c")).over(wAll))
        .agg(max(col("n")).as("n"),
          min(when(col("cum") >= expr("(n + 3) div 4"), col("v"))).as("q1"),
          min(when(col("cum") >= expr("(n + 1) div 2"), col("v"))).as("q2"),
          min(when(col("cum") >= expr("(3 * n + 3) div 4"), col("v"))).as("q3"))
        .head()
      val (n, q1, q2, q3) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      val skew = (q3 + q1 - 2.0 * q2) / (q3 - q1)
      Seq((n, q1, q2, q3, r6(skew)))
        .toDF("n", "q1_cents", "q2_cents", "q3_cents", "bowley_skew")
    },
    Some("""
      WITH roll AS (SELECT round(value * 100)::BIGINT AS v, count(*)::BIGINT AS c
                    FROM events WHERE event_type = 'purchase' GROUP BY 1),
      t AS (SELECT sum(c)::BIGINT AS n FROM roll),
      cum AS (SELECT v, sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                AND CURRENT ROW)::BIGINT AS cum FROM roll),
      q AS (SELECT
          (SELECT min(v) FROM cum, t WHERE cum >= (n + 3) // 4) AS q1,
          (SELECT min(v) FROM cum, t WHERE cum >= (n + 1) // 2) AS q2,
          (SELECT min(v) FROM cum, t WHERE cum >= (3 * n + 3) // 4) AS q3)
      SELECT t.n, q1 AS q1_cents, q2 AS q2_cents, q3 AS q3_cents,
             round((q3 + q1 - 2.0 * q2) / (q3 - q1), 6) AS bowley_skew
      FROM q, t
    """),
  )

  /** Lorenz curve of revenue concentration at population deciles —
    * `q_gini`'s curve companion: users rank by (cents, user_id)
    * (two-level exact rank, value-grain prefix + within-tie window),
    * each decile reports its exact cents and the cumulative revenue
    * share — the chart the scalar Gini summarizes.
    */
  val qLorenz: Q = Q(
    "q_lorenz",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val u = Tables.events(s, dir)
        .where(col("event_type") === "purchase")
        .groupBy(col("user_id"))
        .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
        .localCheckpoint(eager = false)
      val t = u.agg(count(lit(1)).as("n"), sum(col("cents")).as("sx")).head()
      val (n, sx) = (t.getLong(0), t.getLong(1))
      val wv = Window.orderBy(col("cents"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val prefix = u.groupBy(col("cents")).agg(count(lit(1)).as("c"))
        .withColumn("cum", sum(col("c")).over(wv))
        .select(col("cents"), (col("cum") - col("c")).as("before"))
      val wTie = Window.partitionBy(col("cents")).orderBy(col("user_id"))
      val wCum = Window.orderBy(col("decile"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      u.join(prefix, Seq("cents"))
        .withColumn("rk", col("before") + row_number().over(wTie))
        .select(expr(s"((rk - 1) * 10) div $n").as("decile"), col("cents"))
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n_users"), sum(col("cents")).as("cents"))
        .withColumn("cumc", sum(col("cents")).over(wCum))
        .select(col("decile"), col("n_users"), col("cents"),
          round(col("cumc").cast("double") / lit(sx), 6).as("cum_share"))
    },
    Some("""
      WITH u AS (SELECT user_id, sum(round(value * 100)::BIGINT)::BIGINT AS cents
                 FROM events WHERE event_type = 'purchase' GROUP BY 1),
      t AS (SELECT count(*)::BIGINT AS n, sum(cents)::BIGINT AS sx FROM u),
      pre AS (SELECT cents,
                (sum(c) OVER (ORDER BY cents ROWS BETWEEN UNBOUNDED PRECEDING
                  AND CURRENT ROW) - c)::BIGINT AS before
              FROM (SELECT cents, count(*)::BIGINT AS c FROM u GROUP BY 1)),
      rk AS (SELECT u.cents,
               pre.before + row_number() OVER (PARTITION BY u.cents ORDER BY u.user_id) AS rk
             FROM u JOIN pre ON u.cents = pre.cents),
      d AS (SELECT ((rk - 1) * 10) // (SELECT n FROM t) AS decile, cents FROM rk),
      g AS (SELECT decile, count(*)::BIGINT AS n_users, sum(cents)::BIGINT AS cents
            FROM d GROUP BY 1)
      SELECT decile, n_users, cents,
             round((sum(cents) OVER (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW))::DOUBLE / (SELECT sx FROM t), 6) AS cum_share
      FROM g
    """),
  )

  /** Per-day churn hazard — the discrete hazard function λ(d) =
    * deaths/n_risk alongside the KM survival curve (what retention
    * teams actually act on: WHEN users churn, not just how many
    * remain); derived from the same spans/day-grain rollup and
    * risk-set telescoping as `q_survival_km`.
    */
  val qChurnHazard: Q = Q(
    "q_churn_hazard",
    (s, dir) => {
      val km = kmCurve(
        Tables.events(s, dir)
          .select(col("user_id"), expr("cast(ts as long)").as("t"))
          .groupBy(col("user_id"))
          .agg(min(col("t")).as("f"), max(col("t")).as("l")))
      km.select(col("day"), col("n_risk"), col("deaths"),
        round(col("deaths").cast("double") / col("n_risk"), 6).as("hazard"))
    },
    Some("""
      WITH mx AS (SELECT max(epoch_ns(ts)) AS mt FROM events),
      u AS (SELECT user_id, min(epoch_ns(ts)) AS f, max(epoch_ns(ts)) AS l
            FROM events GROUP BY 1),
      lab AS (SELECT (l - f) // 86400000000000 AS day,
                CASE WHEN (mt - l) < 604800000000000 THEN 1 ELSE 0 END AS cens
              FROM u, mx),
      roll AS (SELECT day,
                 sum(CASE WHEN cens = 0 THEN 1 ELSE 0 END)::BIGINT AS deaths,
                 sum(cens)::BIGINT AS censored
               FROM lab GROUP BY day),
      tot AS (SELECT count(*)::BIGINT AS n FROM lab),
      r2 AS (SELECT day, deaths, censored,
               ((SELECT n FROM tot) - coalesce(sum(deaths + censored) OVER
                 (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))::BIGINT AS n_risk
             FROM roll)
      SELECT day, n_risk, deaths,
             round(deaths::DOUBLE / n_risk, 6) AS hazard
      FROM r2
    """),
  )

  /** Multinomial Naive Bayes language classifier over the documents
    * corpus — train on the 80% md5 hash split (the `text_hash_split`
    * convention), classify the held-out 20%, emit the confusion
    * matrix. The model is two bounded rollups (token×class counts,
    * class totals + priors); classification explodes each test
    * occurrence by the literal class array (bounded ×|classes|, no
    * nested-loop join) and left-joins the count grid on (token,
    * class) — shuffle keyed on the token, never all-pairs. Laplace
    * log-probabilities micro-quantize per occurrence so each doc's
    * class score is an order-free int sum + integer prior; argmax
    * tie-breaks on class name. Replays bit-for-bit in DuckDB.
    */
  val qNaiveBayes: Q = Q(
    "q_naive_bayes",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val b = pmod(conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long"), lit(10))
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          split(lower(col("text")), " ", -1).as("ws"), b.as("b"))
      val train = docs.where(col("b") < 8)
      val test = docs.where(col("b") >= 8)
      // checkpoint the (w, lang, cnt) rollup instead of the raw token
      // explode: the cache shrinks from O(tokens) to O(vocab·lang) and
      // the final action reads the counts directly instead of
      // re-aggregating the exploded frame (§1.2, §5)
      val toks = train.select(col("lang"), explode(col("ws")).as("w"))
      val tc0 = toks.groupBy(col("w"), col("lang")).agg(count(lit(1)).as("cnt"))
        .localCheckpoint(eager = false)
      val tc = tc0.select(col("w").as("tw"), col("lang").as("tl"), col("cnt"))
      val vocabV = tc0.select(col("w")).distinct().count()
      // ONE pass over train for doc counts AND token totals: the
      // per-lang token count equals the sum of ws sizes (explode emits
      // one row per element; a null ws explodes to zero rows), so the
      // two per-lang collects fuse into one action (§1.2 fewer actions)
      val cd = train.groupBy(col("lang"))
        .agg(count(lit(1)).as("nd"),
          sum(when(col("ws").isNotNull, size(col("ws")))
            .otherwise(lit(0L)).cast("long")).as("totc"))
        .collect()
      val ndt = cd.map(_.getLong(1)).sum
      val clsArr = array(cd.filter(_.getLong(2) > 0).sortBy(_.getString(0)).map { r =>
        val lang = r.getString(0)
        val nd = r.getLong(1)
        struct(lit(lang).as("cl"), lit(r.getLong(2)).as("totc"),
          lit(rL(math.log(nd.toDouble / ndt) * 1e6)).as("priorm"))
      }.toSeq: _*)
      val pairs = test.select(col("doc_id"), explode(col("ws")).as("w"))
        .select(col("doc_id"), col("w"), explode(clsArr).as("c"))
        .select(col("doc_id"), col("w"), col("c.cl"), col("c.totc"), col("c.priorm"))
      val term = round(log((coalesce(col("cnt"), lit(0L)) + 1).cast("double") /
        (col("totc") + lit(vocabV))) * lit(1e6)).cast("long")
      val scores = pairs
        .join(tc, pairs("w") === tc("tw") && pairs("cl") === tc("tl"), "left")
        .groupBy(col("doc_id"), col("cl"), col("priorm"))
        .agg(sum(term).as("st"))
        .select(col("doc_id"), col("cl"), (col("st") + col("priorm")).as("sc"))
      val wd = Window.partitionBy(col("doc_id"))
        .orderBy(col("sc").desc, col("cl"))
      scores.withColumn("rk", row_number().over(wd)).where(col("rk") === 1)
        .join(test.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .groupBy(col("lang"), col("cl").as("pred"))
        .agg(count(lit(1)).as("n"))
        .select(col("lang"), col("pred"), col("n"))
    },
    Some(s"""
      WITH d AS (SELECT doc_id, lang, string_split(lower(text), ' ') AS ws,
               ${OracleExact.h16Sql("md5(doc_id::VARCHAR)")} % 10 AS b
             FROM documents),
      train AS (SELECT * FROM d WHERE b < 8),
      test AS (SELECT * FROM d WHERE b >= 8),
      toks AS (SELECT lang, unnest(ws) AS w FROM train),
      tc AS (SELECT w, lang, count(*)::BIGINT AS cnt FROM toks GROUP BY 1, 2),
      ct AS (SELECT lang, count(*)::BIGINT AS totc FROM toks GROUP BY 1),
      vv AS (SELECT count(DISTINCT w)::BIGINT AS v FROM toks),
      dc AS (SELECT lang, count(*)::BIGINT AS nd FROM train GROUP BY 1),
      nt AS (SELECT count(*)::BIGINT AS ndt FROM train),
      cls AS (SELECT ct.lang AS cl, ct.totc,
                round(ln(dc.nd::DOUBLE / (SELECT ndt FROM nt)) * 1000000)::BIGINT AS priorm
              FROM ct JOIN dc ON ct.lang = dc.lang),
      occ AS (SELECT doc_id, unnest(ws) AS w FROM test),
      terms AS (SELECT o.doc_id, c.cl, c.priorm,
                  round(ln((coalesce(tc.cnt, 0) + 1)::DOUBLE /
                    (c.totc + (SELECT v FROM vv))) * 1000000)::BIGINT AS tm
                FROM occ o CROSS JOIN cls c
                LEFT JOIN tc ON o.w = tc.w AND c.cl = tc.lang),
      scores AS (SELECT doc_id, cl, sum(tm)::BIGINT + priorm AS sc
                 FROM terms GROUP BY doc_id, cl, priorm),
      pred AS (SELECT doc_id, cl,
                 row_number() OVER (PARTITION BY doc_id ORDER BY sc DESC, cl) AS rk
               FROM scores)
      SELECT t.lang, p.cl AS pred, count(*)::BIGINT AS n
      FROM pred p JOIN test t ON p.doc_id = t.doc_id
      WHERE p.rk = 1 GROUP BY 1, 2
    """),
  )

  /** One-way ANOVA of event value across event types: the k-bounded
    * group rollup carries exact micro sums (Σm as decimal, Σm² in
    * micro²-value units), per-group squared-sum terms quantize to
    * micro-value² ints (bounded magnitude, order-free k-term sums —
    * the cross-engine double-summation hazard removed), and
    * F = (SSB/(k−1)) / (SSW/(N−k)) assembles from those ints in one
    * fixed op order. F and the sums are reported; a p-value would
    * need the incomplete beta (no closed mirror) — the caller
    * compares F against their df table.
    */
  val qAnova: Q = Q(
    "q_anova",
    (s, dir) => {
      import s.implicits._
      val g = Tables.events(s, dir)
        .select(col("event_type"),
          round(col("value") * lit(1e6)).cast("long").as("m"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("m").cast("decimal(38,0)")).as("sm"),
          sum(col("m").cast("decimal(38,0)") * col("m")).as("qm"))
        .collect()
      val k = g.length.toLong
      val n = g.map(_.getLong(1)).sum
      val sTot = g.map(r => BigDecimal(r.getDecimal(2))).sum
      def term(sg: BigDecimal, ng: Long): Long =
        rL((sg.toDouble * sg.toDouble / ng) / 1e12 * 1e6)
      val a = g.map(r => term(BigDecimal(r.getDecimal(2)), r.getLong(1))).sum
      val qmSum = g.map(r => rL(BigDecimal(r.getDecimal(3)).toDouble / 1e12 * 1e6)).sum
      val cf = term(sTot, n)
      val ssb = (a - cf) / 1e6
      val ssw = (qmSum - a) / 1e6
      val f = (ssb / (k - 1)) / (ssw / (n - k))
      Seq((k, n, r6(ssb), r6(ssw), r6(f)))
        .toDF("k", "n", "ssb", "ssw", "f")
    },
    Some("""
      WITH g AS (SELECT event_type, count(*)::BIGINT AS n,
               sum(round(value * 1000000)::BIGINT)::HUGEINT AS sm,
               sum(round(value * 1000000)::BIGINT::HUGEINT
                   * round(value * 1000000)::BIGINT) AS qm
             FROM events GROUP BY event_type),
      t AS (SELECT count(*)::BIGINT AS k, sum(n)::BIGINT AS n,
              sum(round((sm::DOUBLE * sm::DOUBLE / n) / 1000000000000.0 * 1000000.0)::BIGINT)::BIGINT AS a,
              sum(round(qm::DOUBLE / 1000000000000.0 * 1000000.0)::BIGINT)::BIGINT AS q,
              sum(sm)::HUGEINT AS stot
            FROM g),
      f AS (SELECT k, n, a, q,
              round((stot::DOUBLE * stot::DOUBLE / n) / 1000000000000.0 * 1000000.0)::BIGINT AS cf
            FROM t)
      SELECT k, n,
             round((a - cf) / 1000000.0, 6) AS ssb,
             round((q - a) / 1000000.0, 6) AS ssw,
             round((((a - cf) / 1000000.0) / (k - 1)) / (((q - a) / 1000000.0) / (n - k)), 6) AS f
      FROM f
    """),
  )

  /** Deterministic Poisson bootstrap CI for mean user revenue — the
    * one-pass, hash-derived resampling every large-scale metrics
    * platform uses instead of materializing B resamples: each of
    * B=200 replicates draws a Poisson(1) weight per user from
    * md5(user‖b) against the fixed inverse-CDF thresholds on the
    * 16-bit hash (weights capped at 7, exact integer comparisons —
    * no RNG, fully replayable). The data-scale pass is one ×B
    * explode into a (b)-keyed exact rollup; the 200-row replicate
    * table ranks on the driver side of the plan (bounded), CI bounds
    * are the 6th / 195th ordered means (2.5 / 97.5 percentile,
    * (mean, b) tie order).
    */
  val qBootstrapCi: Q = Q(
    "q_bootstrap_ci",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val u = Tables.events(s, dir)
        .where(col("event_type") === "purchase")
        .groupBy(col("user_id"))
        .agg(sum(round(col("value") * 100).cast("long")).as("x"))
        .localCheckpoint(eager = false)
      val t = u.agg(count(lit(1)).as("n"), sum(col("x")).as("sx")).head()
      val (nU, sx) = (t.getLong(0), t.getLong(1))
      val h = conv(substring(md5(concat(col("user_id").cast("string"),
        lit("_"), col("b").cast("string"))), 1, 4), 16, 10).cast("long")
      val wgt = when(h < 24109, 0L).when(h < 48218, 1L).when(h < 60273, 2L)
        .when(h < 64291, 3L).when(h < 65296, 4L).when(h < 65497, 5L)
        .when(h < 65530, 6L).otherwise(7L)
      val reps = u.select(col("user_id"), col("x"),
          explode(sequence(lit(0L), lit(199L))).as("b"))
        .select(col("b"), col("x"), wgt.as("w"))
        .groupBy(col("b"))
        .agg(sum(col("w").cast("decimal(38,0)") * col("x")).as("swx"),
          sum(col("w")).as("sw"))
        .select(col("b"), (col("swx").cast("double") / col("sw")).as("mb"))
      val wr = Window.orderBy(col("mb"), col("b"))
      val ranked = reps.withColumn("rk", row_number().over(wr))
        .where(col("rk") === 6 || col("rk") === 195)
        .orderBy(col("rk")).collect()
      Seq((nU, r6(sx.toDouble / nU), r6(ranked(0).getDouble(1)),
        r6(ranked(1).getDouble(1))))
        .toDF("n_users", "mean", "lo", "hi")
    },
    Some(s"""
      WITH u AS (SELECT user_id, sum(round(value * 100)::BIGINT)::BIGINT AS x
                 FROM events WHERE event_type = 'purchase' GROUP BY 1),
      t AS (SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS sx FROM u),
      reps AS (SELECT b.b, u.x,
                 ${OracleExact.h16Sql("md5(user_id::VARCHAR || '_' || b.b::VARCHAR)")} AS h
               FROM u CROSS JOIN generate_series(0, 199) AS b(b)),
      ww AS (SELECT b, x,
               CASE WHEN h < 24109 THEN 0 WHEN h < 48218 THEN 1
                    WHEN h < 60273 THEN 2 WHEN h < 64291 THEN 3
                    WHEN h < 65296 THEN 4 WHEN h < 65497 THEN 5
                    WHEN h < 65530 THEN 6 ELSE 7 END::BIGINT AS w
             FROM reps),
      mb AS (SELECT b, sum(w::HUGEINT * x)::DOUBLE / sum(w) AS mb
             FROM ww GROUP BY b),
      rk AS (SELECT mb, row_number() OVER (ORDER BY mb, b) AS rk FROM mb)
      SELECT t.n AS n_users, round(sx::DOUBLE / n, 6) AS mean,
             round((SELECT mb FROM rk WHERE rk = 6), 6) AS lo,
             round((SELECT mb FROM rk WHERE rk = 195), 6) AS hi
      FROM t
    """),
  )

  /** One ALS user-factor half-step (d=2, fixed deterministic item
    * factors q_i = (1, (i+1)/8) over the 7 day-of-week "items",
    * ratings = per-cell event counts, ridge λ=0.1): each user's
    * normal equations assemble from five exact int sums over their
    * observed cells and solve by the closed 2×2 inverse — the
    * alternating-least-squares shape (one side fixed, embarrassingly
    * parallel per key, map-side-combined rollup) at the exact-
    * arithmetic standard of `q_kmeans_step`/`q_pca_power`.
    */
  val qAlsStep: Q = Q(
    "q_als_step",
    (s, dir) => {
      val lam = 0.1
      val r = Tables.events(s, dir)
        .select(col("user_id"),
          expr("(cast(ts as long) div 86400000000000 + 4) % 7").as("i"))
        .groupBy(col("user_id"), col("i"))
        .agg(count(lit(1)).as("r"))
      val sums = r.groupBy(col("user_id"))
        .agg(count(lit(1)).as("s0"),
          sum(col("i") + 1).as("s1"),
          sum((col("i") + 1) * (col("i") + 1)).as("s2"),
          sum(col("r")).as("sr"),
          sum(col("r") * (col("i") + 1)).as("sri"))
      val a11 = col("s0").cast("double") + lit(lam)
      val a12 = col("s1").cast("double") / lit(8.0)
      val a22 = col("s2").cast("double") / lit(64.0) + lit(lam)
      val b1 = col("sr").cast("double")
      val b2 = col("sri").cast("double") / lit(8.0)
      val det = a11 * a22 - a12 * a12
      sums.select(col("user_id"), col("s0").as("n_items"),
        round((a22 * b1 - a12 * b2) / det, 6).as("p1"),
        round((a11 * b2 - a12 * b1) / det, 6).as("p2"))
    },
    Some("""
      WITH r AS (SELECT user_id, (epoch_ns(ts) // 86400000000000 + 4) % 7 AS i,
                   count(*)::BIGINT AS r FROM events GROUP BY 1, 2),
      s AS (SELECT user_id, count(*)::BIGINT AS s0,
              sum(i + 1)::BIGINT AS s1, sum((i + 1) * (i + 1))::BIGINT AS s2,
              sum(r)::BIGINT AS sr, sum(r * (i + 1))::BIGINT AS sri
            FROM r GROUP BY 1)
      SELECT user_id, s0 AS n_items,
             round(((s2::DOUBLE / 64.0 + 0.1) * sr::DOUBLE - (s1::DOUBLE / 8.0) * (sri::DOUBLE / 8.0))
               / ((s0::DOUBLE + 0.1) * (s2::DOUBLE / 64.0 + 0.1) - (s1::DOUBLE / 8.0) * (s1::DOUBLE / 8.0)), 6) AS p1,
             round(((s0::DOUBLE + 0.1) * (sri::DOUBLE / 8.0) - (s1::DOUBLE / 8.0) * sr::DOUBLE)
               / ((s0::DOUBLE + 0.1) * (s2::DOUBLE / 64.0 + 0.1) - (s1::DOUBLE / 8.0) * (s1::DOUBLE / 8.0)), 6) AS p2
      FROM s
    """),
  )

  /** Split-conformal prediction interval (Vovk; Lei et al., public)
    * for the per-type mean-value predictor: train/calibration/test by
    * the md5 event hash (60/20/20), nonconformity = |value − mean| in
    * exact micros, q̂ = the ⌈0.9·(n+1)⌉-th smallest calibration
    * residual found by cumulative counting over the residual-VALUE
    * grain (no global row sort — the KS/gini bounded-rollup
    * discipline), and the reported test coverage is an exact integer
    * comparison count. The finite-sample ≥90% guarantee audited
    * end-to-end, bit-replayable.
    */
  val qConformalInterval: Q = Q(
    "q_conformal_interval",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      import graft.operators.ExactAgg
      val b = pmod(conv(substring(md5(col("event_id").cast("string")), 1, 4), 16, 10)
        .cast("long"), lit(10))
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("event_type"), col("value"), b.as("b"))
        .localCheckpoint()
      val means = ev.where(col("b") < 6).groupBy(col("event_type"))
        .agg(ExactAgg.microAvg(col("value")).as("m"))
      val rm = abs(round(col("value") * lit(1e6)).cast("long") -
        round(col("m") * lit(1e6)).cast("long"))
      // ONE action for nCal + qhat: the calibration total rides the
      // same single-partition window pass as the cumulative counts
      // (full-frame sum), the 90%-rank k is a per-row integer expr of
      // n, and the k-th lookup is a conditional min — replaces two
      // scalar actions (§1.2 fewer actions; same rank arithmetic)
      val w = Window.orderBy(col("rm"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy() // whole-table totals need no order
      val cal = ev.where(col("b") >= 6 && col("b") < 8)
        .join(means, Seq("event_type"))
        .select(rm.as("rm"))
        .groupBy(col("rm")).agg(count(lit(1)).as("c"))
        .withColumn("cum", sum(col("c")).over(w))
        .withColumn("n", sum(col("c")).over(wAll))
        .agg(max(col("n")).as("n"),
          min(when(col("cum") >= least(expr("(9 * (n + 1) + 9) div 10"), col("n")),
            col("rm"))).as("qm"))
        .head()
      val (nCal, qhatM) = (cal.getLong(0), cal.getLong(1))
      val t = ev.where(col("b") >= 8).join(means, Seq("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(when(rm <= lit(qhatM), 1L).otherwise(0L)).as("cov")).head()
      val (nTest, cov) = (t.getLong(0), t.getLong(1))
      Seq((nCal, nTest, r6(qhatM / 1e6), r6(cov.toDouble / nTest)))
        .toDF("n_cal", "n_test", "qhat", "coverage")
    },
    Some(s"""
      WITH e AS (SELECT event_id, event_type, value,
               ${OracleExact.h16Sql("md5(event_id::VARCHAR)")} % 10 AS b
             FROM events),
      m AS (SELECT event_type, ${OracleExact.microAvgSql("value")} AS m
            FROM e WHERE b < 6 GROUP BY 1),
      cal AS (SELECT abs(round(value * 1000000)::BIGINT - round(m.m * 1000000)::BIGINT) AS rm
              FROM e JOIN m ON e.event_type = m.event_type WHERE b >= 6 AND b < 8),
      roll AS (SELECT rm, count(*)::BIGINT AS c FROM cal GROUP BY rm),
      nc AS (SELECT sum(c)::BIGINT AS n FROM roll),
      kk AS (SELECT least((9 * (n + 1) + 9) // 10, n) AS k FROM nc),
      cum AS (SELECT rm, sum(c) OVER (ORDER BY rm ROWS BETWEEN UNBOUNDED PRECEDING
                AND CURRENT ROW) AS cum FROM roll),
      qh AS (SELECT min(rm)::BIGINT AS qm FROM cum, kk WHERE cum >= kk.k),
      tt AS (SELECT count(*)::BIGINT AS n_test,
               sum(CASE WHEN abs(round(value * 1000000)::BIGINT - round(m.m * 1000000)::BIGINT) <= qm
                        THEN 1 ELSE 0 END)::BIGINT AS cov
             FROM e JOIN m ON e.event_type = m.event_type, qh WHERE b >= 8)
      SELECT (SELECT n FROM nc) AS n_cal, n_test,
             round(qm / 1000000.0, 6) AS qhat,
             round(cov::DOUBLE / n_test, 6) AS coverage
      FROM tt, qh
    """),
  )

  /** 10%-trimmed mean of purchase value — the outlier-robust location
    * estimate, computed EXACTLY by integer rank accounting over the
    * distinct-cents rollup (no global row sort, no approximation):
    * each value contributes min(cum, hi) − max(cum − c, lo) copies
    * (clamped ≥0) to the kept middle 80%, so the trimmed sum is a
    * pure int product sum — the conformal/KS bounded-grain counting
    * pattern applied to robust statistics.
    */
  /** Trimmed-mean tail shared with the streaming twin: the (v, c)
    * value-grain rollup -> 10%-trimmed mean report.
    */
  private[graft] def trimmedFromRoll(roll0: DataFrame): DataFrame = {
    val s = roll0.sparkSession
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    {
      // ONE action: n rides the same single-partition window pass as
      // cum (full-frame sum), lo/hi become per-row integer exprs of n
      // — replaces the separate totals collect (§1.2 fewer actions;
      // identical clamped-rank integer arithmetic)
      val w = Window.orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy() // whole-table totals need no order
      val lo = expr("n div 10")
      val hi = col("n") - lo
      val take = greatest(
        least(col("cum"), hi) - greatest(col("cum") - col("c"), lo),
        lit(0L))
      val t = roll0
        .withColumn("cum", sum(col("c")).over(w))
        .withColumn("n", sum(col("c")).over(wAll))
        .agg(sum(take.cast("decimal(38,0)") * col("v")).as("ts"),
          max(col("n")).as("n")).head()
      val tsum = BigDecimal(t.getDecimal(0)).toBigInt
      val n = t.getLong(1)
      val kept = n - n / 10 - n / 10
      Seq((n, kept, r6(tsum.toDouble / kept / 100)))
        .toDF("n", "n_kept", "trimmed_mean")
    }
  }

  val qTrimmedMean: Q = Q(
    "q_trimmed_mean",
    (s, dir) => trimmedFromRoll(
      Tables.events(s, dir)
        .where(col("event_type") === "purchase")
        .select(round(col("value") * 100).cast("long").as("v"))
        .groupBy(col("v")).agg(count(lit(1)).as("c"))),
    Some("""
      WITH roll AS (SELECT round(value * 100)::BIGINT AS v, count(*)::BIGINT AS c
                    FROM events WHERE event_type = 'purchase' GROUP BY 1),
      t AS (SELECT sum(c)::BIGINT AS n FROM roll),
      b AS (SELECT n, n // 10 AS lo, n - n // 10 AS hi FROM t),
      cum AS (SELECT v, c, sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                AND CURRENT ROW)::BIGINT AS cum FROM roll),
      kept AS (SELECT sum(greatest(least(cum, hi) - greatest(cum - c, lo), 0)::HUGEINT * v) AS ts
               FROM cum, b)
      SELECT n, hi - lo AS n_kept,
             round(ts::DOUBLE / (hi - lo) / 100, 6) AS trimmed_mean
      FROM kept, b
    """),
  )

  /** Slice-based model evaluation: tie-corrected Mann–Whitney AUC of
    * the activity score per customer market segment — the fairness /
    * subgroup-performance audit (a global AUC can hide a segment
    * where the model inverts). Same exact-arithmetic shape as
    * `Eval.auc`, evaluated COLUMNAR per segment: distinct-score
    * rollup per (segment, score), rank window partitioned by segment
    * over that bounded grain, S₂ in decimal(38,0)/HUGEINT, and the
    * degenerate one-class segment reports null instead of an
    * engine-dependent ±∞.
    */
  val qAucBySegment: Q = Q(
    "q_auc_by_segment",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val u = Tables.events(s, dir).groupBy(col("user_id"))
        .agg(count(lit(1)).as("score"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("np"))
        .select(col("user_id"), col("score"),
          when(col("np") >= 14, 1L).otherwise(0L).as("y"))
      val seg = u.join(Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment").as("segment")),
        col("user_id") === col("c_custkey"))
      val byScore = seg.groupBy(col("segment"), col("score"))
        .agg(count(lit(1)).as("n"), sum(col("y")).as("npos"))
      val w = Window.partitionBy(col("segment")).orderBy(col("score"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      byScore
        .withColumn("rank2", lit(2) * (sum(col("n")).over(w) - col("n")) + col("n") + 1)
        .groupBy(col("segment"))
        .agg(sum(col("npos")).as("np"), sum(col("n") - col("npos")).as("nn"),
          sum(col("npos").cast("decimal(38,0)") * col("rank2")).as("s2"))
        .select(col("segment"), col("np").as("n_pos"), col("nn").as("n_neg"),
          when(col("np") === 0 || col("nn") === 0, lit(null).cast("double"))
            .otherwise(round((col("s2").cast("double") / 2 -
              col("np").cast("double") * (col("np") + 1) / 2)
              / (col("np").cast("double") * col("nn")), 6)).as("auc"))
    },
    Some("""
      WITH u AS (SELECT user_id, count(*)::BIGINT AS score,
               (CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >= 14
                     THEN 1 ELSE 0 END)::BIGINT AS y
             FROM events GROUP BY 1),
      sgm AS (SELECT u.user_id, u.score, u.y, c.c_mktsegment AS segment
              FROM u JOIN customer c ON u.user_id = c.c_custkey),
      bs AS (SELECT segment, score, count(*)::BIGINT AS n, sum(y)::BIGINT AS npos
             FROM sgm GROUP BY 1, 2),
      rk AS (SELECT segment, n, npos,
               2 * (sum(n) OVER (PARTITION BY segment ORDER BY score
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n) + n + 1 AS rank2
             FROM bs),
      a AS (SELECT segment, sum(npos)::BIGINT AS np, sum(n - npos)::BIGINT AS nn,
              sum(npos::HUGEINT * rank2) AS s2 FROM rk GROUP BY 1)
      SELECT segment, np AS n_pos, nn AS n_neg,
             CASE WHEN np = 0 OR nn = 0 THEN NULL
                  ELSE round((s2::DOUBLE / 2 - np::DOUBLE * (np + 1) / 2)
                    / (np::DOUBLE * nn), 6) END AS auc
      FROM a
    """),
  )

  /** Demographic-parity report over customer market segments: the
    * high-intent selection rate per segment plus each segment's gap
    * to the best-treated segment — the selection-rate-parity audit a
    * model gate runs next to its slice AUCs. One exact rollup; the
    * max-rate window rides the ≤|segments| grain.
    */
  val qParityReport: Q = Q(
    "q_parity_report",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val u = Tables.events(s, dir).groupBy(col("user_id"))
        .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("np"))
        .select(col("user_id"), when(col("np") >= 14, 1L).otherwise(0L).as("y"))
      val g = u.join(Tables.customer(s, dir)
          .select(col("c_custkey"), col("c_mktsegment").as("segment")),
          col("user_id") === col("c_custkey"))
        .groupBy(col("segment"))
        .agg(count(lit(1)).as("n"), sum(col("y")).as("k"))
      val w = Window.partitionBy() // unordered: the frame is every row
      val rate = col("k").cast("double") / col("n")
      g.select(col("segment"), col("n"), col("k"),
        round(rate, 6).as("rate"),
        round(max(rate).over(w) - rate, 6).as("gap_to_best"))
    },
    Some("""
      WITH u AS (SELECT user_id,
               (CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >= 14
                     THEN 1 ELSE 0 END)::BIGINT AS y
             FROM events GROUP BY 1),
      g AS (SELECT c.c_mktsegment AS segment, count(*)::BIGINT AS n, sum(y)::BIGINT AS k
            FROM u JOIN customer c ON u.user_id = c.c_custkey GROUP BY 1)
      SELECT segment, n, k,
             round(k::DOUBLE / n, 6) AS rate,
             round(max(k::DOUBLE / n) OVER () - k::DOUBLE / n, 6) AS gap_to_best
      FROM g
    """),
  )

  /** Entropy rate of the user-behavior Markov chain — the
    * predictability scalar over the `q_event_transitions` matrix
    * (0 = deterministic journeys, ln k = uniform random):
    * H = −Σ (c_ab/N)·ln(c_ab/c_a) over the k²-bounded transition
    * grid, per-cell terms nano-quantized (×1e9) and summed as exact
    * ints in a fixed (a, b) order, plus the ratio to the ln k
    * maximum. The only data-scale pass is the lead-window transition
    * rollup on the series key.
    */
  /** Entropy tail shared with the streaming twin: the (a, b, c)
    * transition grid -> entropy-rate report.
    */
  private[graft] def entropyFromCells(cellsDf: DataFrame): DataFrame = {
    val s = cellsDf.sparkSession
    import s.implicits._
    {
      val cells = cellsDf.collect()
      val n = cells.map(_.getLong(2)).sum
      val rowTot = cells.groupBy(_.getString(0))
        .map { case (k, v) => k -> v.map(_.getLong(2)).sum }
      val k = (cells.map(_.getString(0)) ++ cells.map(_.getString(1)))
        .distinct.length.toLong
      val sm = cells.map { r =>
        val c = r.getLong(2); val ca = rowTot(r.getString(0))
        rL((c.toDouble / n) * math.log(c.toDouble / ca) * 1e9)
      }.sum
      val h = -sm / 1e9
      Seq((n, k, r6(h), r6(h / math.log(k))))
        .toDF("n_transitions", "n_states", "entropy_rate", "ratio_to_max")
    }
  }

  val qMarkovEntropy: Q = Q(
    "q_markov_entropy",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("t"), col("event_id"))
      entropyFromCells(
        Tables.events(s, dir)
          .select(col("user_id"), expr("cast(ts as long)").as("t"),
            col("event_id"), col("event_type").as("a"))
          .withColumn("b", lead(col("a"), 1).over(w))
          .where(col("b").isNotNull)
          .groupBy(col("a"), col("b")).agg(count(lit(1)).as("c")))
    },
    Some("""
      WITH tr AS (SELECT event_type AS a,
               lead(event_type) OVER (PARTITION BY user_id
                 ORDER BY epoch_ns(ts), event_id) AS b
             FROM events),
      cells AS (SELECT a, b, count(*)::BIGINT AS c FROM tr WHERE b IS NOT NULL
                GROUP BY 1, 2),
      tot AS (SELECT sum(c)::BIGINT AS n FROM cells),
      rt AS (SELECT a, sum(c)::BIGINT AS ca FROM cells GROUP BY 1),
      st AS (SELECT count(*)::BIGINT AS k
             FROM (SELECT a FROM cells UNION SELECT b FROM cells)),
      terms AS (SELECT round((c::DOUBLE / tot.n) * ln(c::DOUBLE / rt.ca)
                  * 1000000000)::BIGINT AS tm
                FROM cells JOIN rt USING (a), tot),
      hs AS (SELECT sum(tm)::BIGINT AS sm FROM terms)
      SELECT tot.n AS n_transitions, st.k AS n_states,
             round(-sm / 1000000000.0, 6) AS entropy_rate,
             round((-sm / 1000000000.0) / ln(st.k), 6) AS ratio_to_max
      FROM tot, st, hs
    """),
  )

  /** Mann–Whitney U test (tie-exact rank-sum form) of purchase value
    * across the md5 A/B arms — the nonparametric location test next
    * to q_ks_test's distribution test. Midranks under ties come
    * DOUBLED (2·before + c + 1, exact integers off the same
    * distinct-cents rollup as KS — the q_spearman device), so the
    * doubled arm-A rank sum 2·R_A is an exact decimal(38,0) sum and
    * U_A = (2R_A − nA(nA+1)) / 2 is exact. The tie-corrected normal
    * z uses σ² = nA·nB/12·((N+1) − Σ(c³−c)/(N(N−1))) with the tie
    * term Σ(c³−c) an exact integer off the rollup; p through the
    * shared A&S tail. Data-scale pass = one bounded value-grain
    * rollup (map-side combined); the cumulative window rides the
    * rollup, never the event stream (SURVEY §12/§14).
    */
  /** MW tail shared with the streaming twin: (v, na, nb) rollup →
    * (n_a, n_b, u_a, z, p) report.
    */
  private[graft] def mwFromRoll(roll0: DataFrame): DataFrame = {
    val s = roll0.sparkSession
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    import graft.operators.TsFeatures
    {
      val roll = roll0.localCheckpoint(eager = false)
      val w = Window.orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val r = roll
        .withColumn("c", col("na") + col("nb"))
        .withColumn("cum", sum(col("c")).over(w))
        .agg(sum(col("na")).as("ta"), sum(col("nb")).as("tb"),
          sum(col("na").cast("decimal(38,0)") *
            (lit(2L) * (col("cum") - col("c")) + col("c") + 1)).as("ra2"),
          sum(col("c").cast("decimal(38,0)") * col("c") * col("c") - col("c"))
            .as("ties")).head()
      val (ta, tb) = (r.getLong(0), r.getLong(1))
      val ra2 = BigDecimal(r.getDecimal(2)).toBigInt
      val ties = BigDecimal(r.getDecimal(3)).toBigInt
      val n = ta + tb
      val ua = (ra2 - BigInt(ta) * (ta + 1)).toDouble / 2
      val mu = ta.toDouble * tb / 2.0
      val sig = math.sqrt(ta.toDouble * tb / 12.0 *
        ((n + 1.0) - ties.toDouble / (n.toDouble * (n - 1.0))))
      val z = (ua - mu) / sig
      val p = TsFeatures.normTwoSidedP(math.abs(z))
      Seq((ta, tb, ua, r6(z), r6(p))).toDF("n_a", "n_b", "u_a", "z", "p")
    }
  }

  val qMannWhitney: Q = Q(
    "q_mann_whitney",
    (s, dir) => mwFromRoll(ksRoll(Tables.events(s, dir))),
    Some(s"""
      WITH roll AS (SELECT round(value * 100)::BIGINT AS v,
               sum(CASE WHEN $armSql = 0 THEN 1 ELSE 0 END)::BIGINT AS na,
               sum(CASE WHEN $armSql = 1 THEN 1 ELSE 0 END)::BIGINT AS nb
             FROM events WHERE event_type = 'purchase' GROUP BY 1),
      c AS (SELECT v, na, nb, (na + nb)::BIGINT AS c,
              sum(na + nb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                AND CURRENT ROW)::BIGINT AS cum
            FROM roll),
      a AS (SELECT sum(na)::BIGINT AS ta, sum(nb)::BIGINT AS tb,
              sum(na::HUGEINT * (2 * (cum - c) + c + 1)) AS ra2,
              sum(c::HUGEINT * c * c - c) AS ties
            FROM c),
      x AS (SELECT ta, tb, ta + tb AS n,
              (ra2 - ta::HUGEINT * (ta + 1))::DOUBLE / 2 AS ua, ties
            FROM a),
      z AS (SELECT ta, tb, ua,
              (ua - ta::DOUBLE * tb / 2.0) /
                sqrt(ta::DOUBLE * tb / 12.0 *
                  ((n + 1.0) - ties::DOUBLE / (n::DOUBLE * (n - 1.0)))) AS z
            FROM x),
      az AS (SELECT ta, tb, ua, z, abs(z) AS at FROM z)
      SELECT ta AS n_a, tb AS n_b, ua AS u_a, round(z, 6) AS z,
             round(${OracleExact.phiTailSql("at")}, 6) AS p
      FROM az
    """),
  )

  /** Wald–Wolfowitz runs test on the daily event-count series — "is
    * activity serially random or trending/clustered": days are marked
    * above/below the exact lower median of the daily counts (k-th
    * smallest, k = (n_days+1) div 2 — the §14 rank pattern; days AT
    * the median are discarded, the classical convention), runs of the
    * resulting ± sequence are counted by lag inequality, and
    * z = (R − μ)/σ with μ = 1 + 2n₁n₂/N, σ² = 2n₁n₂(2n₁n₂−N) /
    * (N²(N−1)) — pure scalars of exact integer counts. The day grain
    * is bounded by the calendar (does not grow with corpus size), so
    * the driver-side fold is O(days) after one map-side-combined
    * rollup.
    */
  val qRunsTest: Q = Q(
    "q_runs_test",
    (s, dir) => {
      import s.implicits._
      import graft.operators.TsFeatures
      val days = Tables.events(s, dir)
        .select(expr("cast(ts as long) div 86400000000000").as("d"))
        .groupBy(col("d")).agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      val nd = days.length
      val med = days.map(_._2).sorted.apply((nd + 1) / 2 - 1)
      val signs = days.filter(_._2 != med).map(t => if (t._2 > med) 1 else 0)
      val nn = signs.length.toLong
      val n1 = signs.count(_ == 1).toLong
      val n2 = nn - n1
      val runs = (1L +: signs.sliding(2).collect {
        case Array(a, b) if a != b => 1L
      }.toSeq).sum
      val mu = 1 + 2.0 * n1 * n2 / nn
      val sig = math.sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - nn) /
        (nn.toDouble * nn * (nn - 1.0)))
      val z = (runs - mu) / sig
      val p = TsFeatures.normTwoSidedP(math.abs(z))
      Seq((nd.toLong, med, n1, n2, runs, r6(z), r6(p)))
        .toDF("n_days", "median_n", "n_above", "n_below", "runs", "z", "p")
    },
    Some(s"""
      WITH d AS (SELECT epoch_ns(ts) // 86400000000000 AS d, count(*)::BIGINT AS n
             FROM events GROUP BY 1),
      nd AS (SELECT count(*)::BIGINT AS nd FROM d),
      m AS (SELECT n AS med
            FROM (SELECT n, row_number() OVER (ORDER BY n) AS rk FROM d), nd
            WHERE rk = (nd.nd + 1) // 2),
      sg AS (SELECT d.d, CASE WHEN d.n > m.med THEN 1 ELSE 0 END AS sg
             FROM d, m WHERE d.n <> m.med),
      r AS (SELECT sg, lag(sg) OVER (ORDER BY d) AS pg FROM sg),
      a AS (SELECT count(*)::BIGINT AS nn, sum(sg)::BIGINT AS n1,
              sum(CASE WHEN pg IS NULL OR sg <> pg THEN 1 ELSE 0 END)::BIGINT AS runs
            FROM r),
      z AS (SELECT nd.nd, m.med, a.n1, a.nn - a.n1 AS n2, a.runs,
              (a.runs - (1 + 2.0 * a.n1 * (a.nn - a.n1) / a.nn)) /
                sqrt(2.0 * a.n1 * (a.nn - a.n1) *
                  (2.0 * a.n1 * (a.nn - a.n1) - a.nn) /
                  (a.nn::DOUBLE * a.nn * (a.nn - 1.0))) AS z
            FROM a, m, nd),
      az AS (SELECT *, abs(z) AS at FROM z)
      SELECT nd AS n_days, med AS median_n, n1 AS n_above, n2 AS n_below,
             runs, round(z, 6) AS z,
             round(${OracleExact.phiTailSql("at")}, 6) AS p
      FROM az
    """),
  )

  /** Ljung–Box portmanteau test (lags 1..6) on the hourly event-count
    * series — "is traffic white noise or autocorrelated", the
    * seasonality detector one level above q_dow_uniformity. The
    * series is the ZERO-FILLED hourly grid between the first and last
    * observed hour (gaps are real observations of 0, not missing
    * data). Each lag-k sample autocorrelation is an exact integer
    * ratio off the grid: N²-scaled numerator N²·M_k − N·S·(A_k+B_k) +
    * (N−k)·S² over denominator N·(N·SS − S²), all BigInt — one
    * double division per lag, then the Q terms r_k²/(N−k) are
    * pico-quantized (×1e12) so the 6-term total is an order-free
    * integer sum; p via Wilson–Hilferty (df=6) through the shared
    * A&S tail (the q_dow_uniformity device). The hour grain is
    * bounded by the calendar, so the driver-side fold is O(hours)
    * after one map-side-combined rollup.
    */
  val qLjungBox: Q = Q(
    "q_ljung_box",
    (s, dir) => {
      import s.implicits._
      import graft.operators.TsFeatures
      val cells = Tables.events(s, dir)
        .select(expr("cast(ts as long) div 3600000000000").as("h"))
        .groupBy(col("h")).agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val (h0, h1) = (cells.keys.min, cells.keys.max)
      val xs = (h0 to h1).map(h => cells.getOrElse(h, 0L)).toArray
      val nH = xs.length.toLong
      val sB = BigInt(xs.sum)
      val ssB = xs.map(x => BigInt(x) * x).sum
      val den = BigInt(nH) * (BigInt(nH) * ssB - sB * sB)
      val terms = (1 to 6).map { k =>
        val m = (k until xs.length).map(t => BigInt(xs(t)) * xs(t - k)).sum
        val a = BigInt((k until xs.length).map(xs).sum)
        val b = BigInt((0 until xs.length - k).map(xs).sum)
        val num = BigInt(nH) * nH * m - BigInt(nH) * sB * (a + b) +
          BigInt(nH - k) * sB * sB
        val rk = num.toDouble / den.toDouble
        rL(rk * rk / (nH - k) * 1e12)
      }.sum
      val q = nH * (nH + 2.0) * (terms / 1e12)
      val df = 6.0
      val z = (math.cbrt(q / df) - (1 - 2 / (9 * df))) / math.sqrt(2 / (9 * df))
      val p = if (z >= 0) TsFeatures.normTwoSidedP(z) / 2
        else 1.0 - TsFeatures.normTwoSidedP(-z) / 2
      Seq((nH, r6(q), r6(p))).toDF("n_hours", "q_lb", "p_wh")
    },
    Some(s"""
      WITH b AS (SELECT epoch_ns(ts) // 3600000000000 AS h, count(*)::BIGINT AS n
             FROM events GROUP BY 1),
      r AS (SELECT min(h) AS h0, max(h) AS h1 FROM b),
      grid AS (SELECT unnest(generate_series(r.h0, r.h1)) AS h FROM r),
      x AS (SELECT grid.h, coalesce(b.n, 0)::BIGINT AS x
            FROM grid LEFT JOIN b USING (h)),
      t AS (SELECT count(*)::BIGINT AS nn, sum(x)::BIGINT AS s,
              sum(x::HUGEINT * x) AS ss FROM x),
      l AS (SELECT ks.k, sum(a.x::HUGEINT * c.x) AS m,
              sum(a.x)::BIGINT AS sa, sum(c.x)::BIGINT AS sb
            FROM generate_series(1, 6) ks(k)
            JOIN x a ON true JOIN x c ON a.h = c.h + ks.k
            GROUP BY ks.k),
      rk AS (SELECT l.k,
              (t.nn::HUGEINT * t.nn * l.m - t.nn::HUGEINT * t.s * (l.sa + l.sb)
                + (t.nn - l.k)::HUGEINT * t.s * t.s)::DOUBLE /
              (t.nn::HUGEINT * (t.nn::HUGEINT * t.ss - t.s::HUGEINT * t.s))::DOUBLE
                AS rk
            FROM l, t),
      tm AS (SELECT sum(round(rk.rk * rk.rk / (t.nn - rk.k)
                * 1000000000000)::BIGINT)::BIGINT AS sm
             FROM rk, t),
      qq AS (SELECT t.nn, t.nn * (t.nn + 2.0) * (tm.sm / 1000000000000.0) AS q,
              (cbrt((t.nn * (t.nn + 2.0) * (tm.sm / 1000000000000.0)) / 6.0)
                - (1 - 2 / (9 * 6.0))) / sqrt(2 / (9 * 6.0)) AS z
             FROM t, tm)
      SELECT nn AS n_hours, round(q, 6) AS q_lb,
             round(CASE WHEN z >= 0 THEN (${OracleExact.phiTailSql("z")}) / 2
                        ELSE 1.0 - (${OracleExact.phiTailSql("(-z)")}) / 2 END, 6) AS p_wh
      FROM qq
    """),
  )

  /** Two-sided CUSUM drift monitor on the daily purchase-revenue
    * series — WHEN did the metric level shift, the change-point
    * companion to q_psi's did-it-shift. The recursion
    * C⁺_t = max(0, C⁺_{t−1} + (x_t − x̄)) is computed EXACTLY via the
    * cumsum-minus-running-min identity on D-scaled integer deviations
    * e_t = D·cents_t − S (so the target x̄ = S/D needs no division):
    * C⁺_t = cum_t − min_{j≤t} cum_j, C⁻_t = max_{j≤t} cum_j − cum_t,
    * all exact cents·D integers. Reports both maxima (descaled to
    * cents) and the FIRST day each is attained. Day grain is
    * calendar-bounded; one map-side-combined rollup feeds an O(days)
    * driver fold.
    */
  /** CUSUM tail shared with the streaming twin: (d, v) day rollup →
    * drift report.
    */
  private[graft] def cusumFromDays(daysDf: DataFrame): DataFrame = {
    val s = daysDf.sparkSession
    import s.implicits._
    {
      val days = daysDf
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      val nD = days.length.toLong
      val sB = days.map(t => BigInt(t._2)).sum
      var cum = BigInt(0); var rmin = BigInt(0); var rmax = BigInt(0)
      var maxPos = BigInt(0); var dayPos = days.head._1
      var maxNeg = BigInt(0); var dayNeg = days.head._1
      days.foreach { case (d, v) =>
        cum += BigInt(v) * nD - sB
        if (cum < rmin) rmin = cum
        if (cum > rmax) rmax = cum
        val pos = cum - rmin
        val neg = rmax - cum
        if (pos > maxPos) { maxPos = pos; dayPos = d }
        if (neg > maxNeg) { maxNeg = neg; dayNeg = d }
      }
      Seq((nD, r6(sB.toDouble / nD / 100),
        r6(maxPos.toDouble / nD / 100), dayPos,
        r6(maxNeg.toDouble / nD / 100), dayNeg))
        .toDF("n_days", "mean_daily", "cusum_pos", "day_pos",
          "cusum_neg", "day_neg")
    }
  }

  /** The (d, v) daily purchase-cents rollup the CUSUM family folds. */
  private[graft] def cusumDays(events: DataFrame): DataFrame =
    events
      .select(expr("cast(ts as long) div 86400000000000").as("d"),
        when(col("event_type") === "purchase",
          round(col("value") * 100).cast("long")).otherwise(0L).as("c"))
      .groupBy(col("d")).agg(sum(col("c")).as("v"))

  val qCusumDrift: Q = Q(
    "q_cusum_drift",
    (s, dir) => cusumFromDays(cusumDays(Tables.events(s, dir))),
    Some("""
      WITH d AS (SELECT epoch_ns(ts) // 86400000000000 AS d,
               sum(CASE WHEN event_type = 'purchase'
                   THEN round(value * 100)::BIGINT ELSE 0 END)::BIGINT AS v
             FROM events GROUP BY 1),
      t AS (SELECT count(*)::BIGINT AS nd, sum(v)::HUGEINT AS s FROM d),
      c AS (SELECT d.d,
              sum(d.v::HUGEINT * t.nd - t.s) OVER (ORDER BY d.d
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
            FROM d, t),
      w AS (SELECT d, cum,
              cum - least(min(cum) OVER (ORDER BY d
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS pos,
              greatest(max(cum) OVER (ORDER BY d
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) - cum AS neg
            FROM c),
      mp AS (SELECT max(pos) AS m FROM w),
      mn AS (SELECT max(neg) AS m FROM w),
      dp AS (SELECT min(d) AS d FROM w, mp WHERE pos = mp.m),
      dn AS (SELECT min(d) AS d FROM w, mn WHERE neg = mn.m)
      SELECT t.nd AS n_days,
             round(t.s::DOUBLE / t.nd / 100, 6) AS mean_daily,
             round(mp.m::DOUBLE / t.nd / 100, 6) AS cusum_pos,
             dp.d AS day_pos,
             round(mn.m::DOUBLE / t.nd / 100, 6) AS cusum_neg,
             dn.d AS day_neg
      FROM t, mp, mn, dp, dn
    """),
  )

  /** Brown–Forsythe (median-centered Levene) test of variance
    * homogeneity of event value across event types — "did the
    * SPREAD move per segment", the scale companion to q_anova's
    * location F. Per-group exact lower medians come off the
    * (type, cents) rollup by rank counting (smallest v with
    * cum ≥ (n_g+1) div 2 — the §14 pattern, bounded value grain,
    * map-side combined); the absolute deviations z = |cents − med_g|
    * are exact integers, and the one-way F on z reuses the q_anova
    * arithmetic verbatim (per-group Σz / Σz² exact, group terms
    * micro-quantized at unit² scale so the totals are order-free
    * integer sums). Two passes over events + one bounded-grain
    * window; the median broadcast is k rows.
    */
  val qLevene: Q = Q(
    "q_levene",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, dir)
        .select(col("event_type").as("g"),
          round(col("value") * 100).cast("long").as("v"))
      val roll = ev.groupBy(col("g"), col("v")).agg(count(lit(1)).as("c"))
        .localCheckpoint()
      val tot = roll.groupBy(col("g")).agg(sum(col("c")).as("ng"))
      val w = Window.partitionBy(col("g")).orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val med = roll.withColumn("cum", sum(col("c")).over(w))
        .join(tot, "g")
        .where(col("cum") >= expr("(ng + 1) div 2"))
        .groupBy(col("g")).agg(min(col("v")).as("med"))
      val ga = ev.join(broadcast(med), "g")
        .select(col("g"), abs(col("v") - col("med")).as("z"))
        .groupBy(col("g"))
        .agg(count(lit(1)).as("n"), sum(col("z")).as("sz"),
          sum(col("z").cast("decimal(38,0)") * col("z")).as("qz"))
        .collect()
      val k = ga.length.toLong
      val n = ga.map(_.getLong(1)).sum
      val sTot = ga.map(r => BigInt(r.getLong(2))).sum
      def term(sg: Double, ng: Long): Long = rL((sg * sg / ng) / 1e4 * 1e6)
      val a = ga.map(r => term(r.getLong(2).toDouble, r.getLong(1))).sum
      val q = ga.map(r => rL(BigDecimal(r.getDecimal(3)).toDouble / 1e4 * 1e6)).sum
      val cf = term(sTot.toDouble, n)
      val ssb = (a - cf) / 1e6
      val ssw = (q - a) / 1e6
      val f = (ssb / (k - 1)) / (ssw / (n - k))
      Seq((k, n, r6(ssb), r6(ssw), r6(f)))
        .toDF("k", "n", "ssb", "ssw", "f_bf")
    },
    Some("""
      WITH ev AS (SELECT event_type AS g, round(value * 100)::BIGINT AS v
             FROM events),
      roll AS (SELECT g, v, count(*)::BIGINT AS c FROM ev GROUP BY 1, 2),
      tot AS (SELECT g, sum(c)::BIGINT AS ng FROM roll GROUP BY 1),
      cm AS (SELECT g, v, c, sum(c) OVER (PARTITION BY g ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum
             FROM roll),
      med AS (SELECT cm.g, min(v)::BIGINT AS med
              FROM cm JOIN tot USING (g)
              WHERE cum >= (ng + 1) // 2 GROUP BY 1),
      z AS (SELECT ev.g, abs(ev.v - med.med)::BIGINT AS z
            FROM ev JOIN med USING (g)),
      ga AS (SELECT g, count(*)::BIGINT AS n, sum(z)::BIGINT AS sz,
               sum(z::HUGEINT * z) AS qz
             FROM z GROUP BY 1),
      t AS (SELECT count(*)::BIGINT AS k, sum(n)::BIGINT AS n,
              sum(round((sz::DOUBLE * sz::DOUBLE / n) / 10000.0 * 1000000.0)::BIGINT)::BIGINT AS a,
              sum(round(qz::DOUBLE / 10000.0 * 1000000.0)::BIGINT)::BIGINT AS q,
              sum(sz)::HUGEINT AS stot
            FROM ga),
      f AS (SELECT k, n, a, q,
              round((stot::DOUBLE * stot::DOUBLE / n) / 10000.0 * 1000000.0)::BIGINT AS cf
            FROM t)
      SELECT k, n,
             round((a - cf) / 1000000.0, 6) AS ssb,
             round((q - a) / 1000000.0, 6) AS ssw,
             round((((a - cf) / 1000000.0) / (k - 1)) /
                   (((q - a) / 1000000.0) / (n - k)), 6) AS f_bf
      FROM f
    """),
  )

  /** Calibration (reliability) table + expected calibration error for
    * the fitted logistic model — "can you trust the score as a
    * probability", the deployment gate after q_logreg_step's fit and
    * q_auc_by_segment's ranking check. Reuses the SAME micro-quantized
    * two-step weights (logregFit / logregFitSql), so per-user
    * σ(w·x) evaluates on exact micro rationals in both engines;
    * users land in 10 equal-width probability bins, per-bin
    * confidence is the micro-quantized mean prediction, accuracy the
    * exact label rate, and ECE = Σ n_b·|conf_b − acc_b| / N with each
    * bin term micro-quantized so the total is an order-free integer
    * sum. One aggregate pass over the shared user rollup; the bin
    * grain is 10 rows.
    */
  val qCalibration: Q = Q(
    "q_calibration",
    (s, dir) => {
      import s.implicits._
      val u = logregFrame(Tables.events(s, dir)).localCheckpoint(eager = false)
      val (n, va, vb, vc, _, _) = logregFit(u)
      val z2i = lit(va) + lit(vb) * col("x1") + lit(vc) * col("x2")
      val p2 = lit(1.0) / (lit(1.0) + exp(-(z2i.cast("double") / lit(1e6))))
      val bins = u.select(col("y"), p2.as("p"))
        .withColumn("b", least(floor(col("p") * 10), lit(9L)))
        .groupBy(col("b"))
        .agg(count(lit(1)).as("nb"),
          sum(round(col("p") * 1e6).cast("long")).as("sm"),
          sum(col("y")).as("sy"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(_._1)
      val em = bins.map { case (_, nb, sm, sy) =>
        rL(math.abs(sm.toDouble / nb / 1e6 - sy.toDouble / nb) * nb * 1e6)
      }.sum
      val ece = r6(em.toDouble / n / 1e6)
      bins.map { case (b, nb, sm, sy) =>
        (b, nb, r6(sm.toDouble / nb / 1e6), r6(sy.toDouble / nb), ece)
      }.toSeq.toDF("bin", "n", "conf", "acc", "ece")
    },
    Some(s"""
      WITH $logregFitSql,
      p AS (SELECT y,
              1.0 / (1.0 + exp(-((va + vb * x1 + vc * x2)::DOUBLE / 1000000.0))) AS p
            FROM u2, w2),
      b AS (SELECT least(floor(p * 10), 9)::BIGINT AS b, count(*)::BIGINT AS nb,
              sum(round(p * 1000000)::BIGINT)::BIGINT AS sm,
              sum(y)::BIGINT AS sy
            FROM p GROUP BY 1),
      e AS (SELECT sum(round(abs(sm::DOUBLE / nb / 1000000.0 - sy::DOUBLE / nb)
                * nb * 1000000)::BIGINT)::BIGINT AS em
            FROM b)
      SELECT b.b AS bin, b.nb AS n,
             round(sm::DOUBLE / nb / 1000000.0, 6) AS conf,
             round(sy::DOUBLE / nb, 6) AS acc,
             round(e.em::DOUBLE / w2.n / 1000000.0, 6) AS ece
      FROM b, e, w2
    """),
  )

  /** Theil–Sen tail shared with the streaming twin: (d, v) day
    * rollup → robust-slope report.
    */
  private[graft] def theilSenFromDays(daysDf: DataFrame): DataFrame = {
    val s = daysDf.sparkSession
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    {
      val d = daysDf.localCheckpoint(eager = false)
      val nD = d.count()
      val pairs = d.as("a").join(d.as("b"),
          col("b.d") > col("a.d"))
        .select(((col("b.v") - col("a.v")).cast("double") /
          (col("b.d") - col("a.d"))).as("s"))
      // ONE action for m + median: the pair total rides the same
      // single-partition window pass as the cumulative counts
      // (full-frame sum), the lower-median rank is a per-row integer
      // expr of m, and the k-th lookup is a conditional min — replaces
      // two scalar actions (§1.2 fewer actions; same rank arithmetic)
      val w = Window.orderBy(col("s"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy() // whole-table totals need no order
      val r = pairs.groupBy(col("s")).agg(count(lit(1)).as("c"))
        .withColumn("cum", sum(col("c")).over(w))
        .withColumn("m", sum(col("c")).over(wAll))
        .agg(max(col("m")).as("m"),
          min(when(col("cum") >= expr("(m + 1) div 2"), col("s"))).as("med"))
        .head()
      val (m, med) = (r.getLong(0), r.getDouble(1))
      Seq((nD, m, r6(med / 100)))
        .toDF("n_days", "n_pairs", "slope_per_day")
    }
  }

  /** Theil–Sen robust trend of daily purchase revenue — the
    * outlier-immune answer to "is revenue drifting", next to
    * q_linreg's OLS slope. The estimator is the exact LOWER MEDIAN
    * (rank (m+1) div 2, the §14 pattern) of all pairwise day-slopes
    * (v_j−v_i)/(d_j−d_i). The pair explosion rides the
    * CALENDAR-BOUNDED day grain (days², independent of corpus row
    * count — the same bound that makes the CUSUM fold safe), and the
    * median comes off a slope-grain rollup + cumulative window, never
    * a global row sort. Slopes are exact-integer-ratio doubles, so
    * both engines rank them identically.
    */
  val qTheilSen: Q = Q(
    "q_theil_sen",
    (s, dir) => theilSenFromDays(cusumDays(Tables.events(s, dir))),
    Some("""
      WITH d AS (SELECT epoch_ns(ts) // 86400000000000 AS d,
               sum(CASE WHEN event_type = 'purchase'
                   THEN round(value * 100)::BIGINT ELSE 0 END)::BIGINT AS v
             FROM events GROUP BY 1),
      p AS (SELECT (b.v - a.v)::DOUBLE / (b.d - a.d) AS s
            FROM d a JOIN d b ON b.d > a.d),
      roll AS (SELECT s, count(*)::BIGINT AS c FROM p GROUP BY 1),
      m AS (SELECT sum(c)::BIGINT AS m FROM roll),
      nd AS (SELECT count(*)::BIGINT AS nd FROM d),
      r AS (SELECT s, sum(c) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING
              AND CURRENT ROW)::BIGINT AS cum
            FROM roll),
      sel AS (SELECT min(s) AS med FROM r, m WHERE cum >= (m.m + 1) // 2)
      SELECT nd.nd AS n_days, m.m AS n_pairs,
             round(sel.med / 100, 6) AS slope_per_day
      FROM sel, m, nd
    """),
  )

  /** Partial correlation of user activity vs purchase count
    * CONTROLLING for revenue — "is the activity–conversion link real
    * or just both riding spend", the confounder-adjusted row next to
    * q_corr_matrix's raw Pearson grid. All three pairwise r's come
    * from ONE aggregate pass of exact integer sums (counts + cents,
    * squares/cross-terms in decimal(38,0)/HUGEINT), then
    * r_ab·c = (r_ab − r_ac·r_bc)/√((1−r_ac²)(1−r_bc²)) is a fixed-op-
    * order scalar both engines replay identically.
    */
  /** Partial-corr tail shared with the streaming twin: (a, b, c)
    * user frame → report.
    */
  private[graft] def partialCorrFromUsers(users: DataFrame): DataFrame = {
    val s = users.sparkSession
    import s.implicits._
    {
      val r = users
        .agg(count(lit(1)).as("n"),
          sum(col("a")).as("sa"), sum(col("b")).as("sb"), sum(col("c")).as("sc"),
          sum(col("a").cast("decimal(38,0)") * col("a")).as("saa"),
          sum(col("b").cast("decimal(38,0)") * col("b")).as("sbb"),
          sum(col("c").cast("decimal(38,0)") * col("c")).as("scc"),
          sum(col("a").cast("decimal(38,0)") * col("b")).as("sab"),
          sum(col("a").cast("decimal(38,0)") * col("c")).as("sac"),
          sum(col("b").cast("decimal(38,0)") * col("c")).as("sbc"))
        .head()
      val n = BigInt(r.getLong(0))
      val (sa, sb, sc) = (BigInt(r.getLong(1)), BigInt(r.getLong(2)), BigInt(r.getLong(3)))
      def dec(i: Int): BigInt = BigDecimal(r.getDecimal(i)).toBigInt
      val (saa, sbb, scc) = (dec(4), dec(5), dec(6))
      val (sab, sac, sbc) = (dec(7), dec(8), dec(9))
      def corr(sxy: BigInt, sx: BigInt, sy: BigInt, sxx: BigInt, syy: BigInt): Double =
        (n * sxy - sx * sy).toDouble /
          (math.sqrt((n * sxx - sx * sx).toDouble) *
            math.sqrt((n * syy - sy * sy).toDouble))
      val rab = corr(sab, sa, sb, saa, sbb)
      val rac = corr(sac, sa, sc, saa, scc)
      val rbc = corr(sbc, sb, sc, sbb, scc)
      val part = (rab - rac * rbc) /
        math.sqrt((1.0 - rac * rac) * (1.0 - rbc * rbc))
      Seq((r.getLong(0), r6(rab), r6(rac), r6(rbc), r6(part)))
        .toDF("n", "r_ab", "r_ac", "r_bc", "r_ab_given_c")
    }
  }

  /** The (a, b, c) = (events, purchases, revenue-cents) user frame
    * the partial-corr family reads.
    */
  private[graft] def partialCorrUsers(events: DataFrame): DataFrame =
    events
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("a"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("b"),
        sum(when(col("event_type") === "purchase",
          round(col("value") * 100).cast("long")).otherwise(0L)).as("c"))
      .select(col("a"), col("b"), col("c"))

  val qPartialCorr: Q = Q(
    "q_partial_corr",
    (s, dir) => partialCorrFromUsers(partialCorrUsers(Tables.events(s, dir))),
    Some("""
      WITH u AS (SELECT count(*)::BIGINT AS a,
               sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS b,
               sum(CASE WHEN event_type = 'purchase'
                   THEN round(value * 100)::BIGINT ELSE 0 END)::BIGINT AS c
             FROM events GROUP BY user_id),
      t AS (SELECT count(*)::BIGINT AS n,
              sum(a)::BIGINT AS sa, sum(b)::BIGINT AS sb, sum(c)::BIGINT AS sc,
              sum(a::HUGEINT * a) AS saa, sum(b::HUGEINT * b) AS sbb,
              sum(c::HUGEINT * c) AS scc, sum(a::HUGEINT * b) AS sab,
              sum(a::HUGEINT * c) AS sac, sum(b::HUGEINT * c) AS sbc
            FROM u),
      rr AS (SELECT n,
              (n * sab - sa::HUGEINT * sb)::DOUBLE /
                (sqrt((n * saa - sa::HUGEINT * sa)::DOUBLE) *
                 sqrt((n * sbb - sb::HUGEINT * sb)::DOUBLE)) AS rab,
              (n * sac - sa::HUGEINT * sc)::DOUBLE /
                (sqrt((n * saa - sa::HUGEINT * sa)::DOUBLE) *
                 sqrt((n * scc - sc::HUGEINT * sc)::DOUBLE)) AS rac,
              (n * sbc - sb::HUGEINT * sc)::DOUBLE /
                (sqrt((n * sbb - sb::HUGEINT * sb)::DOUBLE) *
                 sqrt((n * scc - sc::HUGEINT * sc)::DOUBLE)) AS rbc
            FROM t)
      SELECT n, round(rab, 6) AS r_ab, round(rac, 6) AS r_ac,
             round(rbc, 6) AS r_bc,
             round((rab - rac * rbc) /
               sqrt((1.0 - rac * rac) * (1.0 - rbc * rbc)), 6) AS r_ab_given_c
      FROM rr
    """),
  )

  /** STL-style additive decomposition of daily purchase revenue:
    * trend = centered 7-day moving average over the ZERO-FILLED day
    * grid (defined only where the full window exists), detrended
    * values kept EXACT by 7-scaling (y = 7·cents − Σ₇, no division in
    * the data path), per-day-of-week seasonal components = group
    * means of y (one exact division at the end), and
    * seasonal_strength = 1 − SSW/SST of y grouped by dow (the
    * q_anova arithmetic on the 7-scaled integers, terms
    * micro-quantized at dollars² so totals are order-free). The
    * day grid is calendar-bounded; one map-side-combined rollup
    * feeds an O(days) driver fold. Overflow grid (§13 convention):
    * the dollars²-micro terms overflow int64 when Σy²/49 exceeds
    * ~9·10¹² dollars² — i.e. sustained daily-revenue deviations
    * beyond ~$5M·√days; accumulate as decimal beyond that.
    */
  /** STL tail shared with the streaming twin: (d, v) day rollup →
    * per-dow decomposition report.
    */
  private[graft] def stlFromDays(daysDf: DataFrame): DataFrame = {
    val s = daysDf.sparkSession
    import s.implicits._
    {
      val cells = daysDf
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val (d0, d1) = (cells.keys.min, cells.keys.max)
      val xs = (d0 to d1).map(d => cells.getOrElse(d, 0L)).toArray
      val n = xs.length
      val ys = (3 until n - 3).map { i =>
        val s7 = (i - 3 to i + 3).map(xs).sum
        ((d0 + i + 4) % 7, 7L * xs(i) - s7)
      }
      val g = ys.groupBy(_._1).toSeq.map { case (dow, vs) =>
        (dow, vs.length.toLong, vs.map(v => BigInt(v._2)).sum,
          vs.map(v => BigInt(v._2) * v._2).sum)
      }.sortBy(_._1)
      val nY = ys.length.toLong
      val sTot = g.map(_._3).sum
      def term(sg: BigInt, ng: Long): Long =
        rL((sg.toDouble * sg.toDouble / ng) / 4.9e5 * 1e6)
      val a = g.map(r => term(r._3, r._2)).sum
      val q = g.map(r => rL(r._4.toDouble / 4.9e5 * 1e6)).sum
      val cf = rL((sTot.toDouble * sTot.toDouble / nY) / 4.9e5 * 1e6)
      val sst = (q - cf) / 1e6
      val ssw = (q - a) / 1e6
      val strength = 1.0 - ssw / sst
      g.map { case (dow, ng, sg, _) =>
        (dow, ng, r6(sg.toDouble / ng / 700), r6(sst), r6(ssw), r6(strength))
      }.toDF("dow", "n_days", "seasonal", "sst", "ssw", "seasonal_strength")
    }
  }

  val qStlDecompose: Q = Q(
    "q_stl_decompose",
    (s, dir) => stlFromDays(cusumDays(Tables.events(s, dir))),
    Some("""
      WITH b AS (SELECT epoch_ns(ts) // 86400000000000 AS d,
               sum(CASE WHEN event_type = 'purchase'
                   THEN round(value * 100)::BIGINT ELSE 0 END)::BIGINT AS v
             FROM events GROUP BY 1),
      r AS (SELECT min(d) AS d0, max(d) AS d1 FROM b),
      grid AS (SELECT unnest(generate_series(r.d0, r.d1)) AS d FROM r),
      x AS (SELECT grid.d, coalesce(b.v, 0)::BIGINT AS x
            FROM grid LEFT JOIN b USING (d)),
      w AS (SELECT d,
              7 * x - sum(x) OVER (ORDER BY d ROWS BETWEEN 3 PRECEDING
                AND 3 FOLLOWING) AS y,
              count(*) OVER (ORDER BY d ROWS BETWEEN 3 PRECEDING
                AND 3 FOLLOWING) AS cnt
            FROM x),
      yy AS (SELECT (d + 4) % 7 AS dow, y::BIGINT AS y FROM w WHERE cnt = 7),
      g AS (SELECT dow, count(*)::BIGINT AS ng, sum(y)::HUGEINT AS sg,
              sum(y::HUGEINT * y) AS qg
            FROM yy GROUP BY 1),
      t AS (SELECT sum(ng)::BIGINT AS ny, sum(sg)::HUGEINT AS stot,
              sum(round((sg::DOUBLE * sg::DOUBLE / ng) / 490000.0 * 1000000.0)::BIGINT)::BIGINT AS a,
              sum(round(qg::DOUBLE / 490000.0 * 1000000.0)::BIGINT)::BIGINT AS q
            FROM g),
      f AS (SELECT ny, a, q,
              round((stot::DOUBLE * stot::DOUBLE / ny) / 490000.0 * 1000000.0)::BIGINT AS cf
            FROM t)
      SELECT g.dow, g.ng AS n_days,
             round(sg::DOUBLE / ng / 700, 6) AS seasonal,
             round((f.q - f.cf) / 1000000.0, 6) AS sst,
             round((f.q - f.a) / 1000000.0, 6) AS ssw,
             round(1.0 - ((f.q - f.a) / 1000000.0) /
               ((f.q - f.cf) / 1000000.0), 6) AS seasonal_strength
      FROM g, f
    """),
  )

  /** Binary-segmentation changepoint on daily purchase revenue —
    * WHERE the level shifted, the locator next to q_cusum_drift's
    * detector. For every candidate split t the between-segment gain
    * S_L²/n_L + S_R²/n_R − S²/n (≥ 0 by the variance decomposition)
    * is computed from exact prefix sums over the calendar-bounded day
    * grain, micro-quantized at dollars², and the argmax key is
    * (gain_micros DESC, day ASC) — identical rank order in both
    * engines (the q_decision_stump device). One rollup + one
    * bounded-grain window; no global row sort.
    */
  /** Changepoint tail shared with the streaming twin: (d, v) day
    * rollup → best-split report.
    */
  private[graft] def changepointFromDays(daysDf: DataFrame): DataFrame = {
    val s = daysDf.sparkSession
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    {
      // ONE action: the day total n and revenue total s ride the same
      // single-partition window pass as the prefix sums (full-frame
      // aggregates), so the separate totals collect disappears (§1.2
      // fewer actions; identical prefix-sum gain arithmetic)
      val w = Window.orderBy(col("d"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy() // whole-table totals need no order
      val gain = (col("sl").cast("double") * col("sl") / col("nl") +
        (col("st") - col("sl")).cast("double") * (col("st") - col("sl")) /
          (col("n") - col("nl")) -
        col("st").cast("double") * col("st") / col("n")) / lit(10000.0) * lit(1000000.0)
      val best = daysDf
        .withColumn("nl", count(lit(1)).over(w))
        .withColumn("sl", sum(col("v")).over(w))
        .withColumn("n", count(lit(1)).over(wAll))
        .withColumn("st", sum(col("v")).over(wAll))
        .where(col("nl") < col("n"))
        .withColumn("gm", round(gain).cast("long"))
        .orderBy(col("gm").desc, col("d").asc)
        .limit(1).head()
      val (sd, nl, sl) = (best.getLong(0), best.getLong(2), best.getLong(3))
      val (n, sTot, gm) = (best.getLong(4), best.getLong(5), best.getLong(6))
      Seq((sd, nl, n - nl,
        r6(sl.toDouble / nl / 100),
        r6((sTot - sl).toDouble / (n - nl) / 100),
        r6(gm / 1e6)))
        .toDF("split_day", "n_left", "n_right", "mean_before",
          "mean_after", "gain")
    }
  }

  val qChangepoint: Q = Q(
    "q_changepoint_binary",
    (s, dir) => changepointFromDays(cusumDays(Tables.events(s, dir))),
    Some("""
      WITH d AS (SELECT epoch_ns(ts) // 86400000000000 AS d,
               sum(CASE WHEN event_type = 'purchase'
                   THEN round(value * 100)::BIGINT ELSE 0 END)::BIGINT AS v
             FROM events GROUP BY 1),
      t AS (SELECT count(*)::BIGINT AS n, sum(v)::BIGINT AS s FROM d),
      c AS (SELECT d, count(*) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
              AND CURRENT ROW)::BIGINT AS nl,
              sum(v) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
              AND CURRENT ROW)::BIGINT AS sl
            FROM d),
      g AS (SELECT c.d, c.nl, c.sl,
              round((c.sl::DOUBLE * c.sl / c.nl +
                (t.s - c.sl)::DOUBLE * (t.s - c.sl) / (t.n - c.nl) -
                t.s::DOUBLE * t.s / t.n) / 10000.0 * 1000000.0)::BIGINT AS gm
            FROM c, t WHERE c.nl < t.n),
      best AS (SELECT * FROM g ORDER BY gm DESC, d ASC LIMIT 1)
      SELECT best.d AS split_day, best.nl AS n_left, t.n - best.nl AS n_right,
             round(best.sl::DOUBLE / best.nl / 100, 6) AS mean_before,
             round((t.s - best.sl)::DOUBLE / (t.n - best.nl) / 100, 6) AS mean_after,
             round(best.gm / 1000000.0, 6) AS gain
      FROM best, t
    """),
  )

  /** Per-event-type Tukey-fence outlier audit: exact Q1/Q3 by rank
    * counting over the (type, cents) rollup (k = ⌈q·n⌉, the
    * q_bowley_skew convention), fences kept INTEGER-EXACT by
    * 2-scaling (x < Q1 − 1.5·IQR ⟺ 2x < 2·Q1 − 3·IQR — no fractional
    * cents anywhere), and out-of-fence counts from one more pass —
    * the per-segment data-QC row next to q_mad's global robust
    * z-scores. Bounded value grain; the fence broadcast is k rows.
    */
  /** Fences tail shared with the streaming twin: (g, v, c) rollup →
    * per-group fence report. Everything — quartiles AND out-of-fence
    * counts — reads the bounded rollup; the raw stream is scanned
    * exactly once (by the rollup), never again.
    */
  private[graft] def fencesFromRoll(roll0: DataFrame): DataFrame = {
    val s = roll0.sparkSession
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    {
      val roll = roll0.localCheckpoint()
      val tot = roll.groupBy(col("g")).agg(sum(col("c")).as("ng"))
      val w = Window.partitionBy(col("g")).orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cm = roll.withColumn("cum", sum(col("c")).over(w)).join(tot, "g")
      val q1 = cm.where(col("cum") >= expr("(ng + 3) div 4"))
        .groupBy(col("g")).agg(min(col("v")).as("q1"))
      val q3 = cm.where(col("cum") >= expr("(3 * ng + 3) div 4"))
        .groupBy(col("g")).agg(min(col("v")).as("q3"))
      val fences = q1.join(q3, "g")
        .select(col("g"), col("q1"), col("q3"),
          (lit(2L) * col("q1") - lit(3L) * (col("q3") - col("q1"))).as("lo2"),
          (lit(2L) * col("q3") + lit(3L) * (col("q3") - col("q1"))).as("hi2"))
      roll.join(broadcast(fences), "g")
        .groupBy(col("g"))
        .agg(sum(col("c")).as("n"),
          max(col("q1") / lit(100.0)).as("q1d"),
          max(col("q3") / lit(100.0)).as("q3d"),
          sum(when(lit(2L) * col("v") < col("lo2"), col("c")).otherwise(0L)).as("n_low"),
          sum(when(lit(2L) * col("v") > col("hi2"), col("c")).otherwise(0L)).as("n_high"))
        .select(col("g").as("event_type"), col("n"),
          round(col("q1d"), 6).as("q1"), round(col("q3d"), 6).as("q3"),
          col("n_low"), col("n_high"))
    }
  }

  /** The (g, v, c) per-type value-cents rollup the fence family reads. */
  private[graft] def fencesRoll(events: DataFrame): DataFrame =
    events
      .select(col("event_type").as("g"),
        round(col("value") * 100).cast("long").as("v"))
      .groupBy(col("g"), col("v")).agg(count(lit(1)).as("c"))

  val qOutlierFences: Q = Q(
    "q_outlier_fences",
    (s, dir) => fencesFromRoll(fencesRoll(Tables.events(s, dir))),
    Some("""
      WITH roll AS (SELECT event_type AS g, round(value * 100)::BIGINT AS v,
               count(*)::BIGINT AS c
             FROM events GROUP BY 1, 2),
      tot AS (SELECT g, sum(c)::BIGINT AS ng FROM roll GROUP BY 1),
      cm AS (SELECT roll.g, v, sum(c) OVER (PARTITION BY roll.g ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum,
               tot.ng
             FROM roll JOIN tot USING (g)),
      q1 AS (SELECT g, min(v)::BIGINT AS q1 FROM cm
             WHERE cum >= (ng + 3) // 4 GROUP BY 1),
      q3 AS (SELECT g, min(v)::BIGINT AS q3 FROM cm
             WHERE cum >= (3 * ng + 3) // 4 GROUP BY 1),
      f AS (SELECT q1.g, q1.q1, q3.q3,
              2 * q1.q1 - 3 * (q3.q3 - q1.q1) AS lo2,
              2 * q3.q3 + 3 * (q3.q3 - q1.q1) AS hi2
            FROM q1 JOIN q3 USING (g))
      SELECT roll.g AS event_type, sum(roll.c)::BIGINT AS n,
             round(max(f.q1 / 100.0), 6) AS q1,
             round(max(f.q3 / 100.0), 6) AS q3,
             sum(CASE WHEN 2 * roll.v < f.lo2 THEN roll.c ELSE 0 END)::BIGINT AS n_low,
             sum(CASE WHEN 2 * roll.v > f.hi2 THEN roll.c ELSE 0 END)::BIGINT AS n_high
      FROM roll JOIN f USING (g)
      GROUP BY 1
    """),
  )

  /** Covariate-stratified average treatment effect on the treated —
    * the deterministic core of propensity matching: users are
    * stratified into activity deciles by EXACT rank over the
    * event-count value grain (decile = 10·rank_before div n, stable
    * for every user sharing a value — no ntile, no RNG), and
    * ATT = Σ_b n_tb·(ȳ_tb − ȳ_cb) / Σ_b n_tb over strata containing
    * BOTH arms, with each stratum term micro-quantized so the total
    * is an order-free integer sum. Reported next to the naive
    * difference so the adjustment is visible. One user rollup + one
    * bounded value-grain window + a ≤ 20-cell collect.
    */
  val qStratifiedAtt: Q = Q(
    "q_stratified_att",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val users = Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("x1"),
          sum(when(col("event_type") === "purchase",
            round(col("value") * 100).cast("long")).otherwise(0L)).as("yc"))
        .select(col("x1"), col("yc"), arm(col("user_id")).as("t"))
        .localCheckpoint(eager = false)
      val n = users.count()
      val w = Window.orderBy(col("x1"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val bins = users.groupBy(col("x1")).agg(count(lit(1)).as("c"))
        .withColumn("cum", sum(col("c")).over(w))
        .select(col("x1"), expr(s"((cum - c) * 10) div $n").as("b"))
      val cells = users.join(broadcast(bins), "x1")
        .groupBy(col("b"), col("t"))
        .agg(count(lit(1)).as("nb"), sum(col("yc")).as("yb"))
        .collect().map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3))))
        .toMap
      val usedBins = cells.keys.map(_._1).toSeq.distinct.sorted
        .filter(b => cells.contains((b, 0L)) && cells.contains((b, 1L)))
      val (nt, yt) = cells.filterKeys(_._2 == 1L).values
        .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
      val (nc, yc) = cells.filterKeys(_._2 == 0L).values
        .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
      val naive = yt.toDouble / nt / 100 - yc.toDouble / nc / 100
      val ntUsed = usedBins.map(b => cells((b, 1L))._1).sum
      val attM = usedBins.map { b =>
        val (ntb, ytb) = cells((b, 1L))
        val (ncb, ycb) = cells((b, 0L))
        rL((ytb.toDouble / ntb - ycb.toDouble / ncb) * ntb / 100 * 1e6)
      }.sum
      val att = attM / 1e6 / ntUsed
      Seq((nt, nc, usedBins.length.toLong, r6(naive), r6(att)))
        .toDF("n_treated", "n_control", "n_strata", "naive_diff", "att")
    },
    Some(s"""
      WITH u AS (SELECT user_id, count(*)::BIGINT AS x1,
               sum(CASE WHEN event_type = 'purchase'
                   THEN round(value * 100)::BIGINT ELSE 0 END)::BIGINT AS yc,
               $armSql AS t
             FROM events GROUP BY user_id),
      nn AS (SELECT count(*)::BIGINT AS n FROM u),
      xr AS (SELECT x1, count(*)::BIGINT AS c FROM u GROUP BY 1),
      bb AS (SELECT x1, ((sum(c) OVER (ORDER BY x1 ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW) - c) * 10) // nn.n AS b
             FROM xr, nn),
      cells AS (SELECT bb.b, u.t, count(*)::BIGINT AS nb, sum(u.yc)::BIGINT AS yb
                FROM u JOIN bb USING (x1) GROUP BY 1, 2),
      arms AS (SELECT t, sum(nb)::BIGINT AS na, sum(yb)::BIGINT AS ya
               FROM cells GROUP BY 1),
      used AS (SELECT tr.b, tr.nb AS ntb, tr.yb AS ytb, co.nb AS ncb, co.yb AS ycb
               FROM (SELECT * FROM cells WHERE t = 1) tr
               JOIN (SELECT * FROM cells WHERE t = 0) co USING (b)),
      agg AS (SELECT count(*)::BIGINT AS n_strata, sum(ntb)::BIGINT AS nt_used,
                sum(round((ytb::DOUBLE / ntb - ycb::DOUBLE / ncb) * ntb / 100
                  * 1000000)::BIGINT)::BIGINT AS attm
              FROM used)
      SELECT t1.na AS n_treated, t0.na AS n_control, agg.n_strata,
             round(t1.ya::DOUBLE / t1.na / 100 - t0.ya::DOUBLE / t0.na / 100, 6)
               AS naive_diff,
             round(agg.attm / 1000000.0 / agg.nt_used, 6) AS att
      FROM agg,
           (SELECT * FROM arms WHERE t = 1) t1,
           (SELECT * FROM arms WHERE t = 0) t0
    """),
  )

  /** Per-segment A/B test with multiple-testing control — the
    * "which day-of-week did the treatment move" drill-down that
    * naive per-segment peeking gets wrong: a two-proportion z-test
    * per first-touch-dow segment (exact 2×2 counts, pooled-variance
    * z in a fixed op order, p through the shared A&S tail), then
    * Benjamini–Hochberg at α=0.05 across the 7 segments (rank by
    * (p, dow), keep rk ≤ k with the keep-all fallback — the
    * TsFeatures.bhKeep convention). Segment grain is 7; one user
    * rollup is the only data-scale pass.
    */
  val qAbBySegment: Q = Q(
    "q_ab_by_segment",
    (s, dir) => {
      import s.implicits._
      import graft.operators.TsFeatures
      val cells = Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("np"))
        .select((col("user_id") % 7).as("seg"),
          when(col("np") >= 14, 1L).otherwise(0L).as("conv"),
          arm(col("user_id")).as("g"))
        .groupBy(col("seg"))
        .agg(sum(when(col("g") === 1, 1L).otherwise(0L)).as("n1"),
          sum(when(col("g") === 1 && col("conv") === 1L, 1L).otherwise(0L)).as("x1"),
          sum(when(col("g") === 0, 1L).otherwise(0L)).as("n0"),
          sum(when(col("g") === 0 && col("conv") === 1L, 1L).otherwise(0L)).as("x0"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .sortBy(_._1)
        // a segment is testable only with both arms present and a
        // pooled rate strictly inside (0, 1) — mirrored in the oracle
        .filter { case (_, n1, x1, n0, x0) =>
          n1 > 0 && n0 > 0 && x1 + x0 > 0 && x1 + x0 < n1 + n0 }
      val stats = cells.map { case (seg, n1, x1, n0, x0) =>
        val pt = (x1 + x0).toDouble / (n1 + n0)
        val z = (x1.toDouble / n1 - x0.toDouble / n0) /
          math.sqrt(pt * (1 - pt) * (1.0 / n1 + 1.0 / n0))
        val p = TsFeatures.normTwoSidedP(math.abs(z))
        (seg, n1, x1, n0, x0, z, p)
      }
      val m = stats.length
      val ranked = stats.sortBy(t => (t._7, t._1)).zipWithIndex
        .map { case (t, i) => (t._1, i + 1) }.toMap
      val k = stats.map(t => (ranked(t._1), t._7))
        .filter { case (rk, p) => p <= rk * 0.05 / m }
        .map(_._1).reduceOption(_ max _).getOrElse(0)
      stats.map { case (seg, n1, x1, n0, x0, z, p) =>
        (seg, n1, x1, n0, x0, r6(z), r6(p),
          if (k == 0) true else ranked(seg) <= k)
      }.toSeq
        .toDF("seg", "n_treat", "conv_treat", "n_ctrl", "conv_ctrl",
          "z", "p", "kept")
    },
    Some(s"""
      WITH u AS (SELECT user_id,
               CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >= 14
                    THEN 1 ELSE 0 END AS conv,
               $armSql AS g
             FROM events GROUP BY user_id),
      seg AS (SELECT user_id % 7 AS seg,
               sum(CASE WHEN g = 1 THEN 1 ELSE 0 END)::BIGINT AS n1,
               sum(CASE WHEN g = 1 AND conv = 1 THEN 1 ELSE 0 END)::BIGINT AS x1,
               sum(CASE WHEN g = 0 THEN 1 ELSE 0 END)::BIGINT AS n0,
               sum(CASE WHEN g = 0 AND conv = 1 THEN 1 ELSE 0 END)::BIGINT AS x0
             FROM u GROUP BY 1),
      z AS (SELECT seg, n1, x1, n0, x0,
              (x1::DOUBLE / n1 - x0::DOUBLE / n0) /
                sqrt(((x1 + x0)::DOUBLE / (n1 + n0)) *
                  (1 - (x1 + x0)::DOUBLE / (n1 + n0)) *
                  (1.0 / n1 + 1.0 / n0)) AS z
            FROM seg
            WHERE n1 > 0 AND n0 > 0 AND x1 + x0 > 0 AND x1 + x0 < n1 + n0),
      az AS (SELECT *, abs(z) AS at FROM z),
      pp AS (SELECT seg, n1, x1, n0, x0, z,
               ${OracleExact.phiTailSql("at")} AS p
             FROM az),
      ranked AS (SELECT seg, p, row_number() OVER (ORDER BY p, seg) AS rk FROM pp),
      mm AS (SELECT count(*) AS m FROM pp),
      ks AS (SELECT coalesce(max(CASE WHEN p <= rk * 0.05 / mm.m THEN rk END), 0) AS k
             FROM ranked, mm)
      SELECT pp.seg, n1 AS n_treat, x1 AS conv_treat, n0 AS n_ctrl,
             x0 AS conv_ctrl, round(z, 6) AS z, round(pp.p, 6) AS p,
             CASE WHEN (SELECT k FROM ks) = 0 THEN true
                  ELSE ranked.rk <= (SELECT k FROM ks) END AS kept
      FROM pp JOIN ranked USING (seg)
    """),
  )

  val all: Seq[Q] = Seq(qKsTest, qCuped, qDiffInDiff, qSurvivalKm, qFkViolations,
    qLogregStep, qLogregTrain, qDecisionStump, qNaiveBayes, qAnova, qBootstrapCi, qAlsStep,
    qConformalInterval, qTrimmedMean, qAucBySegment, qParityReport,
    qMarkovEntropy, qTreeDepth2, qForestVote, qShapleyImportance, qPdp,
    qGainsCurve, qWoeIv, qSpearman, qAbPower, qDowUniformity,
    qOddsRatio, qBowleySkew, qLorenz, qChurnHazard, qMannWhitney, qRunsTest,
    qLjungBox, qCusumDrift, qLevene, qCalibration, qTheilSen, qPartialCorr,
    qStlDecompose, qChangepoint, qOutlierFences, qStratifiedAtt, qAbBySegment)
}
