package graft.queries
// (pivot/unpivot coverage lives at the bottom of this registry)

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Q, Tables}

/** Relational/engine layer: the query surface Polars gives the
  * reference (select/filter/group_by/agg/join/sort/window), expressed
  * as headline TPC-H-style plans. These are the bench drivers.
  */
object RelationalQueries {
  import OracleExact.{decSumSql, decSumExactSql, microAvgSql}

  /** Publish form for money sums whose magnitude can pass the
    * 2^53·1e-6 ≈ 9.0e9 wall at sf1 (q_agg/q_join_agg — the r15 sf1
    * gate find): above the wall the 1e-6 grid drops below one double
    * ulp and the two engines' round(·, 6) legitimately pick ADJACENT
    * doubles, so the only unambiguous publish is the exact
    * DECIMAL(38,6). But the DRIVER's hash rejects that decimal publish
    * on exactly these rows (r15 regression: values proven identical
    * inside DuckDB, hash red — a representation asymmetry in the
    * driver's Spark-parquet vs DuckDB fetch paths that the builder
    * cannot see or fix). So the publish form is env-switched:
    *  - default (driver runs, sf0.01/sf0.1 — magnitudes never cross
    *    the wall): the r14 driver-green DOUBLE view, round(decimal
    *    sum cast double, 6) — order-free and bit-identical below 9e9;
    *  - SPARK_GRAFT_EXACT_DECIMAL=1 (builder's own sf1 gate, where
    *    check.py hashes BOTH sides inside one DuckDB session): the
    *    raw exact decimal, correct at any magnitude.
    * Both arms mirror the identical formula in the oracle SQL.
    */
  private val exactDecimalPublish: Boolean =
    sys.env.get("SPARK_GRAFT_EXACT_DECIMAL").contains("1")
  private def moneySum(e: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import graft.operators.ExactAgg
    if (exactDecimalPublish) ExactAgg.decSumExact(e)
    else round(ExactAgg.decSum(e), 6)
  }
  private def moneySumSql(e: String): String =
    if (exactDecimalPublish) decSumExactSql(e)
    else s"round(${decSumSql(e)}, 6)"

  /** TPC-H Q1-style filtered group-agg. Scale notes: single scan,
    * partial (map-side) aggregation on 6 grouping values, filter and
    * 7-column projection pushed to the parquet scan.
    */
  val qAgg: Q = Q(
    "q_agg",
    (s, dir) => {
      import graft.operators.ExactAgg
      // sums/means ride exact decimal/micro arithmetic (ExactAgg): at
      // sf0.1+ the distributed double-sum order diverges from a
      // sequential engine in the low bits and can cross a 6-dp
      // rounding boundary; the money sums publish via moneySum (see
      // above) — double view for the driver, exact decimal at sf1.
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          moneySum(col("l_quantity")).as("sum_qty"),
          moneySum(col("l_extendedprice")).as("sum_base_price"),
          moneySum(col("l_extendedprice") * (lit(1) - col("l_discount")))
            .as("sum_disc_price"),
          round(ExactAgg.microAvg(col("l_quantity")), 6).as("avg_qty"),
          round(ExactAgg.microAvg(col("l_discount")), 6).as("avg_disc"),
          count(lit(1)).as("count_order"),
        )
    },
    Some(s"""
      SELECT l_returnflag, l_linestatus,
             ${moneySumSql("l_quantity")} AS sum_qty,
             ${moneySumSql("l_extendedprice")} AS sum_base_price,
             ${moneySumSql("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
             round(${microAvgSql("l_quantity")}, 6) AS avg_qty,
             round(${microAvgSql("l_discount")}, 6) AS avg_disc,
             count(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-01'
      GROUP BY l_returnflag, l_linestatus
    """),
  )

  /** Multi-way join + agg (Q5 flavor): revenue per nation. The dim
    * chain region->nation->customer/supplier is tiny at any SF and is
    * broadcast; only the orders<->lineitem join shuffles, on the join
    * key both sides already share.
    */
  val qJoinAgg: Q = Q(
    "q_join_agg",
    (s, dir) => {
      val li = Tables.lineitem(s, dir)
      val o  = Tables.orders(s, dir)
      val c  = Tables.customer(s, dir)
      val n  = Tables.nation(s, dir)
      val r  = Tables.region(s, dir)
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(
          // per-nation revenue passes 1e10 at sf1 where round(double,6)
          // is engine-ambiguous — publish via moneySum (env-switched)
          moneySum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
          count(lit(1)).as("n_items"),
        )
    },
    Some(s"""
      SELECT r_name, n_name,
             ${moneySumSql("l_extendedprice * (1 - l_discount)")} AS revenue,
             count(*) AS n_items
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation   ON c_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
      GROUP BY r_name, n_name
    """),
  )

  /** Partitioned window: per-customer order rank + running spend.
    * Partition key = o_custkey, so the sort is per-partition after one
    * hash shuffle — no global sort at any scale.
    */
  val qWindow: Q = Q(
    "q_window",
    (s, dir) => {
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
      Tables.orders(s, dir)
        .select(
          col("o_custkey"), col("o_orderkey"),
          row_number().over(w).as("order_seq"),
          // exact decimal frame sum (ExactAgg convention): engines
          // accumulate window frames in different orders (sequential
          // vs segment tree), so a rounded double cumsum can tie-flip
          sum(col("o_totalprice").cast("decimal(28,6)"))
            .over(w.rowsBetween(Window.unboundedPreceding, 0))
            .cast("double").as("running_spend"),
        )
    },
    Some("""
      SELECT o_custkey, o_orderkey,
             row_number() OVER w AS order_seq,
             (sum(o_totalprice::DECIMAL(28,6)) OVER (PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::DOUBLE
               AS running_spend
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """),
  )

  /** Top-k per group: 3 highest-value orders per priority class. */
  val qTopK: Q = Q(
    "q_topk",
    (s, dir) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, dir)
        .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"),
          row_number().over(w).as("rk"))
        .filter(col("rk") <= 3)
    },
    Some("""
      SELECT * FROM (
        SELECT o_orderpriority, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_orderpriority
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rk
        FROM orders) WHERE rk <= 3
    """),
  )

  /** Pivot (polars `pivot` / reference's wide encodings): events to one
    * row per user with a count column per event_type. The value set is
    * PASSED explicitly — at scale, never let pivot run its implicit
    * distinct-collect job over the key domain.
    */
  val qPivot: Q = Q(
    "q_pivot",
    (s, dir) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      Tables.events(s, dir)
        .groupBy(col("user_id"))
        .pivot("event_type", types)
        .agg(count(lit(1)))
        .na.fill(0, types)
    },
    Some("""
      SELECT user_id,
             sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS click,
             sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT AS error,
             sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS purchase,
             sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)::BIGINT AS signup,
             sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::BIGINT AS view
      FROM events GROUP BY user_id
    """),
  )

  /** Unpivot (polars `melt`): lineitem measure columns to long form —
    * a pure narrow projection+explode, no shuffle.
    */
  val qUnpivot: Q = Q(
    "q_unpivot",
    (s, dir) => Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"))
      .unpivot(
        ids = Array(col("l_orderkey"), col("l_linenumber")),
        values = Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
        variableColumnName = "metric", valueColumnName = "value")
      .select(col("l_orderkey"), col("l_linenumber"), col("metric"),
        round(col("value"), 6).as("value")),
    Some("""
      SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric,
             round(l_quantity, 6) AS value FROM lineitem
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'l_extendedprice',
             round(l_extendedprice, 6) FROM lineitem
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'l_discount',
             round(l_discount, 6) FROM lineitem
    """),
  )

  /** ROLLUP hierarchy totals (flag, status) -> (flag) -> grand total:
    * one shuffle, Spark expands grouping sets map-side.
    */
  val qRollup: Q = Q(
    "q_rollup",
    (s, dir) => Tables.lineitem(s, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 4).as("sum_qty")),
    Some("""
      SELECT l_returnflag, l_linestatus, count(*) AS n,
             round(sum(l_quantity), 4) AS sum_qty
      FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """),
  )

  /** CUBE grouping sets: all 2^k subtotal combinations in ONE shuffle
    * (Spark expands grouping sets map-side, same as ROLLUP) — the
    * other polars `group_by` totals shape a reporting pipeline asks
    * for.
    */
  val qCube: Q = Q(
    "q_cube",
    (s, dir) => Tables.lineitem(s, dir)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 4).as("sum_qty")),
    Some("""
      SELECT l_returnflag, l_linestatus, count(*) AS n,
             round(sum(l_quantity), 4) AS sum_qty
      FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """),
  )

  /** Time-based RANGE-frame sliding window: for every event, the
    * count/sum of the SAME user's events in the trailing hour — the
    * "activity in the last N minutes" feature a fraud/ranking pipeline
    * computes per interaction. RANGE frames bound by VALUE (here ns on
    * the event-time long), so irregular event spacing is handled
    * without resampling; the window shuffles once on user_id, never
    * globally. Frame sums ride exact decimals: a sliding frame is
    * re-aggregated in engine-specific order (Spark incremental vs
    * DuckDB segment tree), so double sums would drift in the low bits.
    */
  val qWindowRange: Q = Q(
    "q_window_range",
    (s, dir) => {
      // DuckDB reads the nanos timestamps at µs precision — truncate so
      // frame MEMBERSHIP (ts > t - 1h) decides identically on both engines
      val hourNs = 3600L * 1000 * 1000 * 1000
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ns"))
        .rangeBetween(-(hourNs - 1), 0)
      Tables.events(s, dir)
        .select(col("user_id"), expr("cast(ts as long) div 1000 * 1000").as("ts_ns"),
          col("value"))
        .select(col("user_id"), col("ts_ns"),
          count(lit(1)).over(w).as("n_1h"),
          // raw double → decimal(28,6) cast, the ExactAgg.decSum
          // convention: both engines quantize the IDENTICAL double the
          // same way, with no pre-round whose .5-boundary behavior
          // could diverge between engines
          sum(col("value").cast("decimal(28,6)")).over(w)
            .cast("double").as("sum_1h"))
    },
    Some("""
      SELECT user_id, epoch_ns(ts) AS ts_ns,
             count(*) OVER w AS n_1h,
             (sum(value::DECIMAL(28,6)) OVER w)::DOUBLE AS sum_1h
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts)
                   RANGE BETWEEN 3599999999999 PRECEDING AND CURRENT ROW)
    """),
  )

  /** BATCH sessionization (30-min gap) — the batch twin of
    * `stream_sessionize`, including the still-open final session per
    * user that streaming append mode cannot emit. Gap boundaries via
    * lag + running sum per user: one shuffle on user_id, per-series
    * window (never global), then the per-session aggregation.
    */
  val qSessionize: Q = Q(
    "q_sessionize",
    (s, dir) => {
      val gap = 30L * 60 * 1000 * 1000 * 1000
      // µs truncation for hash parity with DuckDB's timestamp reads
      val events = Tables.events(s, dir)
        .withColumn("ts", expr("ts div 1000 * 1000"))
      // the oracle-compared sum rides ExactAgg.decSum (order-free);
      // sessionizeBatch's default double sum remains for the
      // streaming-equivalence spec whose reference folds doubles
      graft.streaming.StreamOps.sessionizeBatch(events, gap, exactSum = true)
        .select(col("user_id"), col("start_ns"), col("end_ns"), col("n"),
          col("sum_v"))
    },
    Some(s"""
      WITH s AS (SELECT user_id, epoch_ns(ts) AS ts_ns, value FROM events),
      m AS (
        SELECT user_id, ts_ns, value,
               CASE WHEN ts_ns - lag(ts_ns) OVER (PARTITION BY user_id ORDER BY ts_ns)
                         > 1800000000000 THEN 1 ELSE 0 END AS new_sess
        FROM s),
      c AS (
        SELECT user_id, ts_ns, value,
               sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_ns
                                   ROWS UNBOUNDED PRECEDING) AS sess_id
        FROM m)
      SELECT user_id, min(ts_ns) AS start_ns, max(ts_ns) AS end_ns,
             count(*) AS n, ${OracleExact.decSumSql("value")} AS sum_v
      FROM c GROUP BY user_id, sess_id
    """),
  )

  /** Grouped user-function apply (the reference's `group_by().apply`
    * shape, [[graft.operators.GroupedApply]]): per-user imperative pass
    * over ts-sorted events emitting running count / running sum /
    * inter-event gap. The SAME result is window-expressible — which is
    * exactly what the oracle uses — but the query exercises the
    * imperative escape hatch: one shuffle, per-group sorted iterators,
    * per-group state only.
    */
  val qGroupedApply: Q = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    Q(
      "q_grouped_apply",
      (s, dir) => {
        // DuckDB reads the nanos timestamps at µs precision — truncate
        // for hash parity (ordering unchanged: ts gaps are ≫ 1 µs)
        val e = Tables.events(s, dir)
          .select(col("user_id"), expr("cast(ts as long) div 1000 * 1000").as("ts"),
            col("value"))
        graft.operators.GroupedApply(e, Seq("user_id"), Seq("ts"),
          StructType(Seq(
            StructField("user_id", LongType), StructField("ts", LongType),
            StructField("run_n", LongType), StructField("cum_v", DoubleType),
            StructField("gap_ns", LongType)))) { (key, it) =>
          var n = 0L
          // decSum-mirror integer micros (BigDecimal HALF_UP per term):
          // the running sum is then exact and order-independent, so the
          // imperative fold hashes equal to the SQL decimal window cumsum
          var cumMicros = 0L
          var prev = Long.MinValue
          it.map { r =>
            val ts = r.getLong(1)
            n += 1
            cumMicros += BigDecimal(r.getDouble(2)).setScale(6,
              BigDecimal.RoundingMode.HALF_UP).underlying.unscaledValue.longValueExact
            val gap: Any = if (prev == Long.MinValue) null else ts - prev
            prev = ts
            Row(key.getLong(0), ts, n, cumMicros / 1e6, gap)
          }
        }
      },
      Some("""
        SELECT user_id, epoch_ns(ts) AS ts,
               row_number() OVER w AS run_n,
               (sum(value::DECIMAL(28,6)) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING))::DOUBLE AS cum_v,
               epoch_ns(ts) - lag(epoch_ns(ts)) OVER w AS gap_ns
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
      """),
    )
  }

  /** Semi-structured JSON extraction (events.props is a JSON string —
    * the data-lake variant-column shape): `get_json_object` path
    * extraction stays inside codegen (no UDF, no full from_json parse
    * when one field is needed), aggregated per event type.
    */
  val qJsonExtract: Q = Q(
    "q_json_extract",
    (s, dir) => Tables.events(s, dir)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(count(col("k")).as("n"),
        sum(col("k")).as("sum_k"),
        round(avg(col("k")), 6).as("avg_k")),
    Some("""
      SELECT event_type,
             count(json_extract(props, '$.k')) AS n,
             sum(json_extract(props, '$.k')::BIGINT)::BIGINT AS sum_k,
             round(avg(json_extract(props, '$.k')::BIGINT), 6) AS avg_k
      FROM events GROUP BY event_type
    """),
  )

  /** Explicit GROUPING SETS through the SQL entry point (the
    * rollup/cube generalization): per-flag totals, per-status totals,
    * and the grand total in one pass — map-side grouping-set
    * expansion, one shuffle, with grouping() flags disambiguating
    * real NULLs from subtotal rows.
    */
  val qGroupingSets: Q = Q(
    "q_grouping_sets",
    (s, dir) => {
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_gs")
      s.sql("""
        SELECT l_returnflag, l_linestatus, count(*) AS n,
               round(sum(l_quantity), 4) AS sum_qty,
               grouping(l_returnflag) AS g_rf,
               grouping(l_linestatus) AS g_ls
        FROM lineitem_gs
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
      """)
    },
    Some("""
      SELECT l_returnflag, l_linestatus, count(*) AS n,
             round(sum(l_quantity), 4) AS sum_qty,
             grouping(l_returnflag) AS g_rf,
             grouping(l_linestatus) AS g_ls
      FROM lineitem
      GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """),
  )

  /** ntile quartile assignment per user over event values — the
    * "bucket each entity's interactions into quartiles" feature shape;
    * per-key window (one shuffle, no global sort), both engines define
    * ntile identically (larger leading buckets on uneven splits).
    */
  val qNtile: Q = Q(
    "q_ntile",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("value"), col("event_id"))
      Tables.events(s, dir).select(col("event_id"), col("user_id"),
        ntile(4).over(w).as("quartile"))
    },
    Some("""
      SELECT event_id, user_id,
             ntile(4) OVER (PARTITION BY user_id ORDER BY value, event_id)
               AS quartile
      FROM events
    """),
  )

  /** INTERSECT / EXCEPT set semantics in one query: market segments
    * present among both urgent-order customers and high-balance
    * customers, and those only in the first set — the set-algebra
    * surface (deduplicating set ops, hash-partitioned).
    */
  val qSetOps: Q = Q(
    "q_set_ops",
    (s, dir) => {
      val urgent = Tables.customer(s, dir)
        .join(Tables.orders(s, dir).where(col("o_orderpriority") === "1-URGENT")
            .select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_mktsegment"))
      val rich = Tables.customer(s, dir).where(col("c_acctbal") > 9000)
        .select(col("c_mktsegment"))
      urgent.intersect(rich).select(col("c_mktsegment"), lit("both").as("src"))
        .unionByName(
          urgent.except(rich).select(col("c_mktsegment"), lit("urgent_only").as("src")))
    },
    Some("""
      WITH urgent AS (
        SELECT c_mktsegment FROM customer
        WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                      AND o_orderpriority = '1-URGENT')),
      rich AS (SELECT c_mktsegment FROM customer WHERE c_acctbal > 9000)
      SELECT c_mktsegment, 'both' AS src
      FROM (SELECT c_mktsegment FROM urgent INTERSECT SELECT c_mktsegment FROM rich)
      UNION ALL
      SELECT c_mktsegment, 'urgent_only' AS src
      FROM (SELECT c_mktsegment FROM urgent EXCEPT SELECT c_mktsegment FROM rich)
    """),
  )

  /** CDC-style snapshot compaction: the LATEST event per user via
    * `max_by` over the (ts, event_id) order struct — ONE aggregation
    * with map-side partial combine, which at 100 TB beats the
    * row_number()-window formulation (full per-key sort, no partial
    * aggregation) that naive compaction jobs run. The oracle replays
    * the same pick with a DESC row_number.
    */
  val qLatestByKey: Q = Q(
    "q_latest_by_key",
    (s, dir) => Tables.events(s, dir)
      // µs truncation for hash parity with DuckDB's timestamp reads
      .select(col("user_id"), expr("cast(ts as long) div 1000 * 1000").as("ts_ns"),
        col("event_id"), col("event_type"), col("value"))
      .groupBy(col("user_id"))
      .agg(max_by(
        struct(col("ts_ns"), col("event_id"), col("event_type"), col("value")),
        struct(col("ts_ns"), col("event_id"))).as("s"))
      .select(col("user_id"), col("s.ts_ns").as("ts_ns"),
        col("s.event_id").as("event_id"), col("s.event_type").as("event_type"),
        round(col("s.value"), 6).as("value")),
    Some("""
      SELECT user_id, ts_ns, event_id, event_type, round(value, 6) AS value
      FROM (
        SELECT user_id, epoch_ns(ts) AS ts_ns, event_id, event_type, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY epoch_ns(ts) DESC, event_id DESC) AS rk
        FROM events)
      WHERE rk = 1
    """),
  )

  /** Left SEMI join: customers with at least one URGENT order —
    * existence check that never materializes order payload (the join
    * emits left columns only, right side reduced to its key; at scale
    * the semi join shuffles just the key column of the big side).
    */
  val qSemiJoin: Q = Q(
    "q_semi_join",
    (s, dir) => Tables.customer(s, dir)
      .join(Tables.orders(s, dir)
          .where(col("o_orderpriority") === "1-URGENT")
          .select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_mktsegment")),
    Some("""
      SELECT c_custkey, c_mktsegment
      FROM customer
      WHERE EXISTS (SELECT 1 FROM orders
                    WHERE o_custkey = c_custkey
                      AND o_orderpriority = '1-URGENT')
    """),
  )

  /** Left ANTI join: customers with NO urgent order — the
    * "never-converted users" / orphan-detection shape; same
    * key-only-shuffle property as the semi join.
    */
  val qAntiJoin: Q = Q(
    "q_anti_join",
    (s, dir) => Tables.customer(s, dir)
      .join(Tables.orders(s, dir)
          .where(col("o_orderpriority") === "1-URGENT")
          .select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_mktsegment")),
    Some("""
      SELECT c_custkey, c_mktsegment
      FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders
                        WHERE o_custkey = c_custkey
                          AND o_orderpriority = '1-URGENT')
    """),
  )

  /** SCD type-2 dimension build from a CDC event stream: collapse each
    * key's consecutive equal attribute values into validity intervals
    * (valid_from / valid_to / is_current) — the warehouse-standard
    * history table. Change detection (lag), the change-row filter, and
    * the interval window all key on user_id, so the whole build is ONE
    * hash Exchange with in-partition sorts; at 100 TB the plan scales
    * with keys, never with history length per key.
    */
  val qScd2: Q = Q(
    "q_scd2",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // µs truncation for hash parity with DuckDB's timestamp reads
      val e = Tables.events(s, dir)
        .withColumn("ts", expr("ts div 1000 * 1000"))
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      e.withColumn("prev", lag(col("event_type"), 1).over(w))
        .where(col("prev").isNull || col("prev") =!= col("event_type"))
        .select(col("user_id"),
          row_number().over(w).as("version"),
          col("event_type").as("attr"),
          col("ts").as("valid_from"),
          lead(col("ts"), 1).over(w).as("valid_to"),
          lead(col("ts"), 1).over(w).isNull.as("is_current"))
    },
    Some("""
      WITH s AS (SELECT user_id, epoch_ns(ts) AS ts, event_id, event_type
                 FROM events),
      m AS (SELECT user_id, ts, event_id, event_type,
                   lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     AS prev
            FROM s),
      f AS (SELECT * FROM m WHERE prev IS NULL OR prev <> event_type)
      SELECT user_id,
             row_number() OVER w AS version,
             event_type AS attr,
             ts AS valid_from,
             lead(ts) OVER w AS valid_to,
             lead(ts) OVER w IS NULL AS is_current
      FROM f
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """),
  )

  /** Incremental materialized-aggregate maintenance: a stored keyed
    * snapshot (events before a cutoff) merges with a new partition's
    * PARTIAL aggregates instead of recomputing from scratch — counts
    * merge by addition, sums by EXACT decimal addition (the partial
    * state stays decimal(28,6); only the merged result casts to
    * double, so merge order cannot drift from a full recompute), max
    * by max. The oracle IS the full recompute over all events —
    * passing proves snapshot+delta ≡ from-scratch, which is the whole
    * point of the operator: at 100 TB a daily partition merges into a
    * key-bucketed snapshot in O(delta + touched keys), never O(history).
    * The cutoff (min + 4/5 of the ts range) is exact integer-ns
    * arithmetic from a fit-boundary two-long collect.
    */
  val qAggIncremental: Q = Q(
    "q_agg_incremental",
    (s, dir) => {
      val e = Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("value"))
      val mm = e.agg(min(col("ts")), max(col("ts"))).head()
      val cut = mm.getLong(0) + (mm.getLong(1) - mm.getLong(0)) / 5 * 4
      def partial(f: org.apache.spark.sql.DataFrame) =
        f.groupBy(col("user_id")).agg(
          count(lit(1)).as("n"),
          sum(col("value").cast("decimal(28,6)")).as("d"),
          max(col("ts")).as("mx"))
      val snap = partial(e.where(col("ts") < cut))
      val delta = partial(e.where(col("ts") >= cut))
      snap.unionAll(delta).groupBy(col("user_id"))
        .agg(sum(col("n")).as("n"), sum(col("d")).as("d"),
          max(col("mx")).as("mx"))
        .select(col("user_id"), col("n"),
          col("d").cast("double").as("sum_v"),
          // µs truncation for hash parity with DuckDB timestamp reads
          expr("mx div 1000 * 1000").as("max_ts_ns"))
    },
    Some(s"""
      SELECT user_id, count(*) AS n,
             ${OracleExact.decSumSql("value")} AS sum_v,
             max(epoch_ns(ts)) // 1000 * 1000 AS max_ts_ns
      FROM events GROUP BY user_id
    """),
  )

  /** Deterministic weighted sampling without replacement (A-ES
    * exponential keys, [[graft.operators.Sampling.weightedSample]]):
    * top-5 probability-proportional-to-acctbal customers per nation.
    * md5 replaces the RNG so the oracle replays the exact draw.
    */
  val qWeightedSample: Q = Q(
    "q_weighted_sample",
    (s, dir) => graft.operators.Sampling.weightedSample(
      Tables.customer(s, dir).select(col("c_nationkey"), col("c_custkey"),
        (col("c_acctbal") + lit(1000.0)).as("w")),
      "c_nationkey", "c_custkey", "w", k = 5)
      .select(col("c_nationkey"), col("rk"), col("c_custkey"),
        round(col("w"), 6).as("w")),
    Some(s"""
      WITH h AS (
        SELECT c_nationkey, c_custkey, c_acctbal + 1000.0 AS w,
               round(-ln((${OracleExact.h16Sql("md5(c_custkey::VARCHAR)")} + 1.0) / 65537.0)
                     / (c_acctbal + 1000.0) * 1e6)::BIGINT AS key
        FROM customer),
      r AS (SELECT c_nationkey, c_custkey, w,
                   row_number() OVER (PARTITION BY c_nationkey ORDER BY key, c_custkey) AS rk
            FROM h)
      SELECT c_nationkey, rk, c_custkey, round(w, 6) AS w FROM r WHERE rk <= 5
    """),
  )

  /** Exact per-group quantiles (p50/p90/p99 of order totals per
    * priority) — the grouped twin of the scaler quantile fits:
    * `percentile` sorts within each group's partial state, exact and
    * engine-portable (linear interpolation = DuckDB `quantile_cont`,
    * the proven scale_kbins parity). The 100 TB path swaps in
    * `percentile_approx` (t-digest) or the keyed log-histogram sketch
    * (`q_quantile_sketch`), both mergeable with bounded state — this
    * row is the exact reference those approximations are judged
    * against.
    */
  val qGroupedQuantiles: Q = Q(
    "q_grouped_quantiles",
    (s, dir) => Tables.orders(s, dir)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        round(percentile(col("o_totalprice"), lit(0.5)), 6).as("p50"),
        round(percentile(col("o_totalprice"), lit(0.9)), 6).as("p90"),
        round(percentile(col("o_totalprice"), lit(0.99)), 6).as("p99")),
    Some("""
      SELECT o_orderpriority, count(*) AS n,
             round(quantile_cont(o_totalprice, 0.5), 6) AS p50,
             round(quantile_cont(o_totalprice, 0.9), 6) AS p90,
             round(quantile_cont(o_totalprice, 0.99), 6) AS p99
      FROM orders GROUP BY 1
    """),
  )

  /** Full outer join (completes the join-type surface next to
    * semi/anti/inner/left): per-user click vs error counts, users
    * appearing on either side, absent side coalesced to 0. Both
    * aggregates are map-side-combined; the outer join shuffles on the
    * shared key.
    */
  val qFullOuter: Q = Q(
    "q_full_outer",
    (s, dir) => {
      val e = Tables.events(s, dir)
      def side(tpe: String, as: String) = e.where(col("event_type") === tpe)
        .groupBy(col("user_id")).agg(count(lit(1)).as(as))
      val l = side("click", "n_clicks")
      val r = side("error", "n_errors")
      l.join(r, Seq("user_id"), "full_outer")
        .select(col("user_id"),
          coalesce(col("n_clicks"), lit(0L)).as("n_clicks"),
          coalesce(col("n_errors"), lit(0L)).as("n_errors"))
    },
    Some("""
      WITH c AS (SELECT user_id, count(*) AS n_clicks FROM events
                 WHERE event_type = 'click' GROUP BY 1),
      e AS (SELECT user_id, count(*) AS n_errors FROM events
            WHERE event_type = 'error' GROUP BY 1)
      SELECT coalesce(c.user_id, e.user_id) AS user_id,
             coalesce(c.n_clicks, 0) AS n_clicks,
             coalesce(e.n_errors, 0) AS n_errors
      FROM c FULL JOIN e ON c.user_id = e.user_id
    """),
  )

  /** `KeyValueGroupedDataset.cogroup` — the typed two-sided
    * per-key custom merge (the Dataset API's answer to "reduce two
    * keyed streams against each other without a join explosion"):
    * both sides shuffle once on the key, each key's two iterators
    * meet in one task. Here: per-user click/error counts + which kind
    * was seen last ((user, ts) is unique corpus-wide, so the max-ts
    * comparison is tie-free and the oracle replays it with a full
    * outer aggregate).
    */
  val qCogroup: Q = Q(
    "q_cogroup",
    (s, dir) => {
      import s.implicits._
      val e = Tables.events(s, dir)
      def side(tpe: String) = e.where(col("event_type") === tpe)
        .select(col("user_id").cast("long").as("user_id"),
          col("ts").cast("long").as("ts"))
        .as[(Long, Long)]
      val out = side("click").groupByKey(_._1)
        .cogroup(side("error").groupByKey(_._1)) { (uid, ls, rs) =>
          var nC = 0L; var mC = Long.MinValue
          ls.foreach { x => nC += 1; if (x._2 > mC) mC = x._2 }
          var nE = 0L; var mE = Long.MinValue
          rs.foreach { x => nE += 1; if (x._2 > mE) mE = x._2 }
          Iterator.single((uid, nC, nE, if (mC >= mE) "click" else "error"))
        }
      out.toDF("user_id", "n_clicks", "n_errors", "last_kind")
    },
    Some("""
      WITH c AS (SELECT user_id, count(*) AS n_clicks, max(epoch_ns(ts)) AS mc
                 FROM events WHERE event_type = 'click' GROUP BY 1),
      e AS (SELECT user_id, count(*) AS n_errors, max(epoch_ns(ts)) AS me
            FROM events WHERE event_type = 'error' GROUP BY 1)
      SELECT coalesce(c.user_id, e.user_id) AS user_id,
             coalesce(c.n_clicks, 0) AS n_clicks,
             coalesce(e.n_errors, 0) AS n_errors,
             CASE WHEN coalesce(c.mc, -9223372036854775808) >=
                       coalesce(e.me, -9223372036854775808)
                  THEN 'click' ELSE 'error' END AS last_kind
      FROM c FULL JOIN e ON c.user_id = e.user_id
    """),
  )

  /** Snapshot diff / dataset reconciliation (the regression check a
    * pipeline runs between two versions of a table): full outer join
    * on the key, row status = added / removed / changed (payload
    * comparison), unchanged rows dropped. The "new" snapshot is a
    * deterministic perturbation of orders: every %97 key deleted,
    * every %89 repriced, every %83 cloned to a fresh key.
    */
  val qSnapshotDiff: Q = Q(
    "q_snapshot_diff",
    (s, dir) => {
      val o = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      val newSnap = o.where(col("o_orderkey") % 97 =!= 0)
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 89 === 0, col("o_totalprice") + lit(1.5))
            .otherwise(col("o_totalprice")).as("o_totalprice"),
          col("o_orderstatus"))
        .unionAll(o.where(col("o_orderkey") % 83 === 0)
          .select((col("o_orderkey") + lit(1000000000L)).as("o_orderkey"),
            col("o_totalprice"), col("o_orderstatus")))
      val j = o.as("old").join(newSnap.as("nw"),
        col("old.o_orderkey") === col("nw.o_orderkey"), "full_outer")
      j.select(
          coalesce(col("old.o_orderkey"), col("nw.o_orderkey")).as("o_orderkey"),
          when(col("old.o_orderkey").isNull, lit("added"))
            .when(col("nw.o_orderkey").isNull, lit("removed"))
            .when(col("old.o_totalprice") =!= col("nw.o_totalprice") ||
              col("old.o_orderstatus") =!= col("nw.o_orderstatus"), lit("changed"))
            .otherwise(lit("same")).as("status"))
        .where(col("status") =!= "same")
    },
    Some("""
      WITH o AS (SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders),
      nw AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 89 = 0 THEN o_totalprice + 1.5
                    ELSE o_totalprice END AS o_totalprice,
               o_orderstatus
        FROM o WHERE o_orderkey % 97 != 0
        UNION ALL
        SELECT o_orderkey + 1000000000, o_totalprice, o_orderstatus
        FROM o WHERE o_orderkey % 83 = 0),
      j AS (
        SELECT coalesce(o.o_orderkey, nw.o_orderkey) AS o_orderkey,
               CASE WHEN o.o_orderkey IS NULL THEN 'added'
                    WHEN nw.o_orderkey IS NULL THEN 'removed'
                    WHEN o.o_totalprice != nw.o_totalprice
                      OR o.o_orderstatus != nw.o_orderstatus THEN 'changed'
                    ELSE 'same' END AS status
        FROM o FULL JOIN nw ON o.o_orderkey = nw.o_orderkey)
      SELECT o_orderkey, status FROM j WHERE status != 'same'
    """),
  )

  /** First-order Markov transition matrix over per-user event
    * sequences (the sequence-analytics rollup behind funnel/journey
    * features): lead() within the ts-ordered user partition pairs
    * each event with its successor, one groupBy counts transitions,
    * a window sum normalizes rows to probabilities. One hash
    * Exchange on the user for the lead, one on the (from, to) pair —
    * both map-side combined.
    */
  val qEventTransitions: Q = Q(
    "q_event_transitions",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
      val pairs = Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_type"))
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .where(col("next_type").isNotNull)
      val counts = pairs.groupBy(col("event_type"), col("next_type"))
        .agg(count(lit(1)).as("cnt"))
      val wf = Window.partitionBy(col("event_type"))
      counts.withColumn("prob",
          round(col("cnt") / sum(col("cnt")).over(wf), 6))
        .select(col("event_type"), col("next_type"), col("cnt"), col("prob"))
    },
    Some("""
      WITH p AS (
        SELECT event_type,
               lead(event_type) OVER (PARTITION BY user_id ORDER BY epoch_ns(ts))
                 AS next_type
        FROM events),
      c AS (SELECT event_type, next_type, count(*) AS cnt
            FROM p WHERE next_type IS NOT NULL GROUP BY 1, 2)
      SELECT event_type, next_type, cnt,
             round(cnt / sum(cnt) OVER (PARTITION BY event_type), 6) AS prob
      FROM c
    """),
  )

  /** Ordered per-user journey extraction (the first 10 events as a
    * ">"-joined path string — the sequence feature funnels train on):
    * collected in descending row number up to the first event (a frame
    * anchored at the partition start) and reversed, which is the
    * ts-ordered list; deterministic because (user, ts) is
    * corpus-unique; one hash Exchange on the user.
    */
  val qUserJourney: Q = Q(
    "q_user_journey",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
      Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_type"))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 10)
        .withColumn("journey", concat_ws(">", reverse(
          collect_list(col("event_type")).over(Window.partitionBy(col("user_id"))
            .orderBy(col("rn").desc).rowsBetween(Window.unboundedPreceding, Window.currentRow)))))
        .where(col("rn") === 1)
        .select(col("user_id"), col("journey"))
    },
    Some("""
      WITH r AS (
        SELECT user_id, event_type,
               row_number() OVER (PARTITION BY user_id ORDER BY epoch_ns(ts)) AS rn,
               epoch_ns(ts) AS tsn
        FROM events)
      SELECT user_id, string_agg(event_type, '>' ORDER BY tsn) AS journey
      FROM r WHERE rn <= 10 GROUP BY user_id
    """),
  )

  /** Ordered funnel analysis (view → click → purchase per user): each
    * step's timestamp is the earliest qualifying event STRICTLY AFTER
    * the previous step — the product-analytics conversion query. All
    * three step minima are conditional window aggregates chained over
    * the SAME user partition (each references the previous window's
    * column; `HashPartitioning(user)` satisfies every step), so the
    * whole funnel — including the final per-user dedup — rides ONE
    * hash Exchange; a join-back formulation would re-scan events per
    * step (the §13 lesson).
    */
  val qFunnel: Q = Q(
    "q_funnel",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val wU = Window.partitionBy(col("user_id"))
      Tables.events(s, dir).select(col("user_id"), col("ts"), col("event_type"))
        .withColumn("t1",
          min(when(col("event_type") === "view", col("ts"))).over(wU))
        .withColumn("t2",
          min(when(col("event_type") === "click" && col("ts") > col("t1"), col("ts"))).over(wU))
        .withColumn("t3",
          min(when(col("event_type") === "purchase" && col("ts") > col("t2"), col("ts"))).over(wU))
        .select(col("user_id"),
          expr("t1 div 1000").as("t1_us"),
          expr("t2 div 1000").as("t2_us"),
          expr("t3 div 1000").as("t3_us"),
          col("t3").isNotNull.cast("int").as("converted"))
        .distinct()
    },
    Some("""
      WITH w AS (SELECT user_id, epoch_ns(ts) AS tsn, event_type FROM events),
      a AS (SELECT user_id, min(CASE WHEN event_type = 'view' THEN tsn END) AS t1
            FROM w GROUP BY 1),
      b AS (SELECT w.user_id, a.t1,
                   min(CASE WHEN event_type = 'click' AND tsn > a.t1 THEN tsn END) AS t2
            FROM w JOIN a USING (user_id) GROUP BY w.user_id, a.t1),
      c AS (SELECT w.user_id, b.t1, b.t2,
                   min(CASE WHEN event_type = 'purchase' AND tsn > b.t2 THEN tsn END) AS t3
            FROM w JOIN b USING (user_id) GROUP BY w.user_id, b.t1, b.t2)
      SELECT user_id, t1 // 1000 AS t1_us, t2 // 1000 AS t2_us, t3 // 1000 AS t3_us,
             (t3 IS NOT NULL)::INT AS converted
      FROM c
    """),
  )

  /** Cohort retention matrix (the other classic product-analytics
    * rollup next to the funnel): users cohorted by the week of their
    * first event, counted per (cohort, week-offset) of activity.
    * Cohort via a min-window over the user partition, the per-user
    * activity dedup satisfied in place by the same hash(user), one
    * final rollup on the (cohort, offset) pair.
    */
  val qRetentionCohorts: Q = Q(
    "q_retention_cohorts",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val wkNs = 604800000000000L
      val wU = Window.partitionBy(col("user_id"))
      Tables.events(s, dir)
        .select(col("user_id"), expr(s"cast(ts as long) div $wkNs").as("wk"))
        .withColumn("wk0", min(col("wk")).over(wU))
        .select(col("user_id"), col("wk0"), (col("wk") - col("wk0")).as("off"))
        .distinct()
        .groupBy(col("wk0"), col("off"))
        .agg(count(lit(1)).as("n_users"))
        .select(col("wk0").as("cohort_wk"), col("off").as("week_offset"),
          col("n_users"))
    },
    Some("""
      WITH w AS (SELECT user_id, epoch_ns(ts) // 604800000000000 AS wk FROM events),
      m AS (SELECT user_id, wk, min(wk) OVER (PARTITION BY user_id) AS wk0 FROM w),
      d AS (SELECT DISTINCT user_id, wk0, wk - wk0 AS off FROM m)
      SELECT wk0 AS cohort_wk, off AS week_offset, count(*) AS n_users
      FROM d GROUP BY 1, 2
    """),
  )

  /** A/B lift report — the experiment-analysis rollup that completes
    * the product-analytics family (funnel, retention, transitions):
    * users md5-split into two arms, per-arm conversion (≥1 purchase),
    * pooled two-proportion z-test with the A&S 26.2.17 two-sided
    * p-value (`TsFeatures.normTwoSidedP` ↔ `OracleExact.phiTailSql`,
    * the proven mirror pair from the relevance batteries). Counts are
    * one distributed aggregate; the scalar z/p arithmetic runs
    * driver-side in the IDENTICAL op order the oracle spells out.
    */
  /** z-test tail shared with the streaming twin: (user_id, np) per
    * user → arms, conversion, pooled two-proportion z + A&S p.
    */
  private[queries] def abLiftFromCounts(perUserNp: DataFrame): DataFrame = {
    val s = perUserNp.sparkSession
    import s.implicits._
    import graft.operators.TsFeatures
    val u = perUserNp
      .select(when(col("np") >= 14, 1).otherwise(0).as("conv"),
        (conv(substring(md5(col("user_id").cast("string")), 1, 4), 16, 10)
          .cast("long") % 2).as("g"))
    val r = u.agg(
        sum(when(col("g") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("g") === 0, col("conv")).otherwise(0)).as("k_a"),
        sum(when(col("g") === 1, 1L).otherwise(0L)).as("n_b"),
        sum(when(col("g") === 1, col("conv")).otherwise(0)).as("k_b")).head()
      val (nA, kA, nB, kB) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      val ra = kA.toDouble / nA
      val rb = kB.toDouble / nB
      val pp = (kA + kB).toDouble / (nA + nB)
      val den = math.sqrt(pp * (1 - pp) * (1.0 / nA + 1.0 / nB))
      def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      // degenerate pooled rate (0 or 1): the test is undefined → null
      val (z6, p6) =
        if (den == 0) (None, None)
        else {
          val zs = (ra - rb) / den
          (Some(r6(zs)), Some(r6(TsFeatures.normTwoSidedP(math.abs(zs)))))
        }
      Seq((nA, kA, r6(ra), nB, kB, r6(rb), z6, p6))
        .toDF("n_a", "k_a", "rate_a", "n_b", "k_b", "rate_b", "z", "p")
  }

  val qAbLift: Q = Q(
    "q_ab_lift",
    (s, dir) =>
      // "high-intent" conversion: above-typical purchase count (every
      // user makes SOME purchase in the synthetic corpus — a has-any
      // flag would put both arms at rate 1.0 and the z-test at 0/0)
      abLiftFromCounts(
        Tables.events(s, dir)
          .groupBy(col("user_id"))
          .agg(sum(when(col("event_type") === "purchase", 1).otherwise(0))
            .as("np"))),
    Some(s"""
      WITH u AS (
        SELECT user_id,
               CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >= 14
                    THEN 1 ELSE 0 END AS conv,
               ${OracleExact.h16Sql("md5(user_id::VARCHAR)")} % 2 AS g
        FROM events GROUP BY user_id),
      a AS (SELECT
          sum(CASE WHEN g = 0 THEN 1 ELSE 0 END)::BIGINT AS n_a,
          sum(CASE WHEN g = 0 THEN conv ELSE 0 END)::BIGINT AS k_a,
          sum(CASE WHEN g = 1 THEN 1 ELSE 0 END)::BIGINT AS n_b,
          sum(CASE WHEN g = 1 THEN conv ELSE 0 END)::BIGINT AS k_b
        FROM u),
      zc AS (SELECT n_a, k_a, n_b, k_b,
               sqrt((k_a + k_b) / (n_a + n_b) * (1 - (k_a + k_b) / (n_a + n_b)) *
                    (1.0 / n_a + 1.0 / n_b)) AS den,
               k_a / n_a - k_b / n_b AS diff
             FROM a)
      SELECT n_a, k_a, round(k_a / n_a, 6) AS rate_a,
             n_b, k_b, round(k_b / n_b, 6) AS rate_b,
             CASE WHEN den = 0 THEN NULL ELSE round(diff / den, 6) END AS z,
             CASE WHEN den = 0 THEN NULL
                  ELSE round(${OracleExact.phiTailSql("abs(diff / den)")}, 6) END AS p
      FROM zc
    """),
  )

  /** RFM (recency / frequency / monetary) user segmentation — the
    * classic CRM rollup next to the funnel/retention/A-B family: one
    * purchase-filtered groupBy for the three raw stats (recency in
    * exact integer day arithmetic from a fit-boundary max-ts scalar,
    * monetary as exact cent sums), then exact tie-stable quintiles.
    * ntile(5) is REPRODUCED ARITHMETICALLY from distributed exact
    * ranks ([[graft.operators.Rank.withRowNumber]]: range shuffle +
    * per-partition offsets) via SQL's bucket rule — with n rows the
    * first n mod 5 buckets get ⌈n/5⌉ rows, the rest ⌊n/5⌋ — so the
    * plan never runs the three single-partition `Window.orderBy`
    * sorts of the user table the r9 verdict flagged; the total order
    * ((key, user_id), identical in both engines) and therefore every
    * bucket boundary replays exactly.
    */
  val qRfm: Q = Q(
    "q_rfm",
    (s, dir) => {
      val dayNs = 86400000000000L
      val ev = Tables.events(s, dir)
      val maxTs = ev.agg(max(expr("cast(ts as long)"))).head().getLong(0)
      val u = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), expr("cast(ts as long)").as("tsn"),
          round(col("value") * 100).cast("long").as("cents"))
        .groupBy(col("user_id"))
        .agg(max(col("tsn")).as("last_ts"), count(lit(1)).as("frequency"),
          sum(col("cents")).as("cents"))
        .select(col("user_id"),
          expr(s"($maxTs - last_ts) div $dayNs").as("recency_days"),
          col("frequency"), col("cents"))
        .localCheckpoint(eager = false) // one rollup feeds three rank passes
      val n = u.count()
      // SQL ntile(5) from the exact 1-based rank, by the bucket rule:
      // first n mod 5 buckets take ceil(n/5) rows, the rest floor(n/5)
      val (base, rem) = (n / 5, n % 5)
      val cut = rem * (base + 1)
      def score(keyName: String, sortDesc: Boolean, out: String): DataFrame = {
        val sort = if (sortDesc) col("__k").desc else col("__k").asc
        graft.operators.Rank
          .withRowNumber(u.select(col("user_id"), col(keyName).as("__k")),
            Seq(sort, col("user_id").asc), "__rk")
          .selectExpr("user_id",
            s"cast((case when __rk <= $cut then (__rk - 1) DIV ${base + 1} " +
              s"else $rem + (__rk - $cut - 1) DIV ${math.max(base, 1L)} end) " +
              s"+ 1 as long) as $out")
      }
      u.join(score("recency_days", sortDesc = true, "r_score"), Seq("user_id"))
        .join(score("frequency", sortDesc = false, "f_score"), Seq("user_id"))
        .join(score("cents", sortDesc = false, "m_score"), Seq("user_id"))
        .select(col("user_id"), col("recency_days"), col("frequency"),
          round(col("cents") / 100.0, 2).as("monetary"),
          col("r_score"), col("f_score"), col("m_score"),
          (col("r_score") * 100 + col("f_score") * 10 + col("m_score"))
            .as("rfm_cell"))
    },
    Some("""
      WITH mx AS (SELECT max(epoch_ns(ts)) AS mt FROM events),
      u AS (SELECT user_id,
              (mx.mt - max(epoch_ns(ts))) // 86400000000000 AS recency_days,
              count(*)::BIGINT AS frequency,
              sum(round(value * 100)::BIGINT)::BIGINT AS cents
            FROM events, mx WHERE event_type = 'purchase'
            GROUP BY user_id, mx.mt),
      s AS (SELECT user_id, recency_days, frequency, cents,
              ntile(5) OVER (ORDER BY recency_days DESC, user_id) AS r_score,
              ntile(5) OVER (ORDER BY frequency ASC, user_id) AS f_score,
              ntile(5) OVER (ORDER BY cents ASC, user_id) AS m_score
            FROM u)
      SELECT user_id, recency_days, frequency,
             round(cents / 100.0, 2) AS monetary,
             r_score::BIGINT AS r_score, f_score::BIGINT AS f_score,
             m_score::BIGINT AS m_score,
             (r_score * 100 + f_score * 10 + m_score)::BIGINT AS rfm_cell
      FROM s
    """),
  )

  /** Gini coefficient of revenue concentration across users — the
    * inequality metric a marketplace watches next to RFM (how much of
    * revenue the top users carry; 0 = uniform, →1 = winner-take-all):
    * per-user purchase cents (exact ints) from one rollup, then the
    * sorted-rank identity G = (2·Σ i·xᵢ)/(n·Σx) − (n+1)/n over the
    * USER-grain table. Ranks come from [[graft.operators.Rank.withRowNumber]]
    * — a range shuffle + per-partition offsets, NEVER a
    * single-partition window (the r9 verdict's q_gini scale-killer:
    * `Window.orderBy` with no partition key sorts every user on one
    * task — 10⁹ rows at 100 TB). Σi·x is tiebreak-independent (within
    * a cents tie-group the ranks are consecutive and the values
    * equal), so any total order extending cents-asc reproduces the
    * oracle's (cents, user_id) sum exactly; every term exact int64.
    */
  val qGini: Q = Q(
    "q_gini",
    (s, dir) => {
      val u = Tables.events(s, dir)
        .where(col("event_type") === "purchase")
        .groupBy(col("user_id"))
        .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
      val r = graft.operators.Rank
        .withRowNumber(u, Seq(col("cents").asc, col("user_id").asc), "i")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sx"),
          sum(col("i") * col("cents")).as("six")).head()
      val (n, sx, six) = (r.getLong(0), r.getLong(1), r.getLong(2))
      val gini = 2.0 * six / (n.toDouble * sx) - (n + 1).toDouble / n
      def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      import s.implicits._
      Seq((n, r6(sx / 100.0), r6(gini))).toDF("n_users", "total_revenue", "gini")
    },
    Some("""
      WITH u AS (SELECT user_id, sum(round(value * 100)::BIGINT)::BIGINT AS cents
                 FROM events WHERE event_type = 'purchase' GROUP BY 1),
      rk AS (SELECT cents, row_number() OVER (ORDER BY cents, user_id) AS i FROM u),
      a AS (SELECT count(*)::BIGINT AS n, sum(cents)::BIGINT AS sx,
                   sum(i * cents)::BIGINT AS six FROM rk)
      SELECT n AS n_users, round(sx / 100.0, 6) AS total_revenue,
             round(2.0 * six / (n::DOUBLE * sx) - (n + 1)::DOUBLE / n, 6) AS gini
      FROM a
    """),
  )

  /** Activity heatmap — the (day-of-week × hour) usage grid behind
    * every ops dashboard: day-of-week by PURE integer arithmetic
    * ((epoch_days + 4) % 7, 1970-01-01 being a Thursday) rather than
    * engine `dow()` conventions that disagree on week start; one
    * map-side-combined rollup over the 168-cell grid with exact
    * counts and the micro-exact mean value per cell.
    */
  val qActivityHeatmap: Q = Q(
    "q_activity_heatmap",
    (s, dir) => {
      import graft.operators.ExactAgg
      Tables.events(s, dir)
        .select(
          expr("(cast(ts as long) div 86400000000000 + 4) % 7").as("dow"),
          expr("(cast(ts as long) div 3600000000000) % 24").as("hour"),
          col("value"))
        .groupBy(col("dow"), col("hour"))
        .agg(count(lit(1)).as("n"),
          round(ExactAgg.microAvg(col("value")), 6).as("mean_v"))
    },
    Some(s"""
      SELECT (epoch_ns(ts) // 86400000000000 + 4) % 7 AS dow,
             (epoch_ns(ts) // 3600000000000) % 24 AS hour,
             count(*) AS n,
             round(${microAvgSql("value")}, 6) AS mean_v
      FROM events GROUP BY 1, 2
    """),
  )

  /** Growth accounting — the MAU-decomposition rollup (new /
    * retained / resurrected / churned per week) that explains WHY an
    * active-user count moved, next to the retention matrix's cohort
    * view: per-user distinct active weeks, lag over the user's week
    * sequence classifies each active week (first → new; prev = wk−1 →
    * retained; else resurrected), and churn charges wk+1 of every
    * active week not followed by wk+1. One hash(user) Exchange (the
    * distinct and the lag window share the key) + a bounded per-week
    * rollup of the four exact counts.
    */
  val qGrowthAccounting: Q = Q(
    "q_growth_accounting",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val wkNs = 604800000000000L
      val wU = Window.partitionBy(col("user_id")).orderBy(col("wk"))
      val uw = Tables.events(s, dir)
        .select(col("user_id"), expr(s"cast(ts as long) div $wkNs").as("wk"))
        .distinct()
        .withColumn("prev", lag(col("wk"), 1).over(wU))
        .withColumn("nxt", lead(col("wk"), 1).over(wU))
      val active = uw.select(col("wk"),
        when(col("prev").isNull, 1L).otherwise(0L).as("is_new"),
        when(col("prev") === col("wk") - 1, 1L).otherwise(0L).as("is_ret"),
        when(col("prev").isNotNull && col("prev") =!= col("wk") - 1, 1L)
          .otherwise(0L).as("is_res"))
        .groupBy(col("wk"))
        .agg(sum(col("is_new")).as("n_new"), sum(col("is_ret")).as("n_retained"),
          sum(col("is_res")).as("n_resurrected"))
      val churn = uw
        .where(col("nxt").isNull || col("nxt") =!= col("wk") + 1)
        .groupBy((col("wk") + 1).as("wk"))
        .agg(count(lit(1)).as("n_churned"))
      active.join(churn, Seq("wk"), "full_outer")
        .select(col("wk"),
          coalesce(col("n_new"), lit(0L)).as("n_new"),
          coalesce(col("n_retained"), lit(0L)).as("n_retained"),
          coalesce(col("n_resurrected"), lit(0L)).as("n_resurrected"),
          coalesce(col("n_churned"), lit(0L)).as("n_churned"))
    },
    Some("""
      WITH uw AS (SELECT DISTINCT user_id, epoch_ns(ts) // 604800000000000 AS wk
                  FROM events),
      m AS (SELECT user_id, wk,
              lag(wk) OVER w AS prev, lead(wk) OVER w AS nxt
            FROM uw WINDOW w AS (PARTITION BY user_id ORDER BY wk)),
      act AS (SELECT wk,
                sum(CASE WHEN prev IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_new,
                sum(CASE WHEN prev = wk - 1 THEN 1 ELSE 0 END)::BIGINT AS n_retained,
                sum(CASE WHEN prev IS NOT NULL AND prev <> wk - 1 THEN 1 ELSE 0 END)::BIGINT AS n_resurrected
              FROM m GROUP BY 1),
      ch AS (SELECT wk + 1 AS wk, count(*)::BIGINT AS n_churned
             FROM m WHERE nxt IS NULL OR nxt <> wk + 1 GROUP BY 1)
      SELECT coalesce(act.wk, ch.wk) AS wk,
             coalesce(n_new, 0)::BIGINT AS n_new,
             coalesce(n_retained, 0)::BIGINT AS n_retained,
             coalesce(n_resurrected, 0)::BIGINT AS n_resurrected,
             coalesce(n_churned, 0)::BIGINT AS n_churned
      FROM act FULL OUTER JOIN ch ON act.wk = ch.wk
    """),
  )

  /** Frequent event-type trigrams across user journeys — sequence
    * mining next to [[qEventTransitions]]' first-order matrix (which
    * 3-step paths actually recur, the input to funnel DISCOVERY
    * rather than funnel measurement): trigrams via two leads over the
    * user's ts order (one Exchange), support = distinct users per
    * trigram (a second bounded rollup — the pattern space is
    * |event_types|³), deterministic top-10 by (support, path).
    */
  val qSeqPatterns: Q = Q(
    "q_seq_patterns",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val wU = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("e2", lead(col("event_type"), 1).over(wU))
        .withColumn("e3", lead(col("event_type"), 2).over(wU))
        .where(col("e3").isNotNull)
        .select(col("user_id"),
          concat_ws(">", col("event_type"), col("e2"), col("e3")).as("path"))
        .groupBy(col("path"))
        .agg(countDistinct(col("user_id")).as("n_users"), count(lit(1)).as("n_occ"))
        .orderBy(col("n_users").desc, col("path")).limit(10)
    },
    Some("""
      WITH m AS (
        SELECT user_id, event_type,
               lead(event_type, 1) OVER w AS e2,
               lead(event_type, 2) OVER w AS e3
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id)),
      p AS (SELECT user_id, event_type || '>' || e2 || '>' || e3 AS path
            FROM m WHERE e3 IS NOT NULL),
      g AS (SELECT path, count(DISTINCT user_id)::BIGINT AS n_users,
                   count(*)::BIGINT AS n_occ
            FROM p GROUP BY 1)
      SELECT path, n_users, n_occ
      FROM g ORDER BY n_users DESC, path LIMIT 10
    """),
  )

  /** Market-basket association rules — part pairs co-purchased in the
    * same order (the item-item co-occurrence every recommender /
    * cross-sell analysis starts from, and the A-priori support-
    * confidence-lift vocabulary): pair candidates from the ORDER-key
    * self-equi-join only (pairs per order bounded by basket size —
    * never a catalog cross join), exact support counts, confidence
    * and lift as fixed-op-order ratios of exact int64 counts, top 20
    * by (support, pair) so the cut is deterministic. Scale: the pair
    * rollup shuffles on the bounded pair space; per-item counts are a
    * map-side-combined rollup broadcast back.
    */
  val qCopurchase: Q = Q(
    "q_copurchase",
    (s, dir) => {
      // lazy checkpoint: li is consumed FOUR times (the order-count
      // scalar below, item, and both self-join sides) — the count is
      // the materializing job, and the final plan then reads
      // executor-local blocks instead of re-planning the scan+distinct
      // three times
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
        .localCheckpoint(eager = false)
      // (r17 A/B: riding the order count into the final plan as a
      // 1-row broadcast cross join trips PlanGuardSpec's no-nested-loop
      // guard — kept as a bounded scalar collect)
      val nOrders = li.select(col("ok")).distinct().count()
      val item = li.groupBy(col("pk")).agg(count(lit(1)).as("n_item"))
      val pairs = li.as("a").join(li.as("b"),
          col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
        .groupBy(col("a.pk").as("p_a"), col("b.pk").as("p_b"))
        .agg(count(lit(1)).as("n_ab"))
      val top = pairs
        .orderBy(col("n_ab").desc, col("p_a"), col("p_b")).limit(20)
      top
        .join(item.select(col("pk").as("p_a"), col("n_item").as("n_a")), "p_a")
        .join(item.select(col("pk").as("p_b"), col("n_item").as("n_b")), "p_b")
        .select(col("p_a"), col("p_b"), col("n_ab"), col("n_a"), col("n_b"),
          round(col("n_ab") / col("n_a"), 6).as("conf_a_b"),
          round(col("n_ab") / col("n_b"), 6).as("conf_b_a"),
          round(col("n_ab") * lit(nOrders.toDouble) / (col("n_a") * col("n_b")), 6)
            .as("lift"))
    },
    Some("""
      WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      no AS (SELECT count(DISTINCT ok)::DOUBLE AS n FROM li),
      item AS (SELECT pk, count(*)::BIGINT AS n_item FROM li GROUP BY 1),
      pairs AS (
        SELECT a.pk AS p_a, b.pk AS p_b, count(*)::BIGINT AS n_ab
        FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        GROUP BY 1, 2),
      top AS (SELECT * FROM pairs ORDER BY n_ab DESC, p_a, p_b LIMIT 20)
      SELECT p_a, p_b, n_ab, ia.n_item AS n_a, ib.n_item AS n_b,
             round(n_ab / ia.n_item::DOUBLE, 6) AS conf_a_b,
             round(n_ab / ib.n_item::DOUBLE, 6) AS conf_b_a,
             round(n_ab * no.n / (ia.n_item * ib.n_item), 6) AS lift
      FROM top
      JOIN item ia ON top.p_a = ia.pk
      JOIN item ib ON top.p_b = ib.pk
      CROSS JOIN no
    """),
  )

  /** 2-D skyline (Pareto frontier) — the multi-criteria "best
    * trade-offs" query (here: orders not dominated on (earlier date,
    * higher price) — no other order is both at-least-as-early AND
    * at-least-as-expensive with one strict): TWO-LEVEL sort-based
    * algorithm, because a single global-order window is a
    * one-partition bottleneck at scale — dates bucket into fixed
    * 30-day ranges, the running strictly-earlier max decomposes into
    * (a) the max over all EARLIER BUCKETS (a bucket-count-bounded
    * prefix table, computed from the tiny per-bucket rollup and
    * joined back via broadcast) + (b) the within-bucket running max
    * (a window PARTITIONED by bucket — parallel); equal-on-both ties
    * are mutually non-dominating and all survive. No self-join, no n²
    * dominance test, no single-partition window.
    */
  val qSkyline: Q = Q(
    "q_skyline",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val bucketUs = 30L * 86400000000L
      val o = Tables.orders(s, dir).select(col("o_orderkey"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("d_us"),
        col("o_totalprice"))
        .withColumn("bkt", expr(s"d_us div $bucketUs"))
      // bucket-count-bounded prefix maxima (fit-state pattern): max
      // price over all strictly-earlier buckets, computed driver-side
      // from the tiny rollup and joined back as a broadcast dim
      val bmax = o.groupBy(col("bkt")).agg(max(col("o_totalprice")).as("m"))
        .orderBy(col("bkt")).collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
      var acc = Double.NegativeInfinity
      val prefix = bmax.map { case (b, m) =>
        val p = acc; acc = math.max(acc, m); (b, p)
      }.toSeq
      import s.implicits._
      val pref = broadcast(prefix.toDF("p_bkt", "m_before"))
      val wPrev = Window.partitionBy(col("bkt")).orderBy(col("d_us"))
        .rangeBetween(Window.unboundedPreceding, -1)
      val wSame = Window.partitionBy(col("d_us"))
      // x > −∞ is vacuously true, so the first bucket needs no case
      o.join(pref, col("bkt") === col("p_bkt"))
        .withColumn("m_prev", max(col("o_totalprice")).over(wPrev))
        .withColumn("m_same", max(col("o_totalprice")).over(wSame))
        .where(col("o_totalprice") > col("m_before") &&
          (col("m_prev").isNull || col("o_totalprice") > col("m_prev")) &&
          col("o_totalprice") === col("m_same"))
        .select(col("o_orderkey"), col("d_us"), col("o_totalprice"))
    },
    Some("""
      WITH o AS (SELECT o_orderkey, epoch_us(o_orderdate) AS d_us, o_totalprice
                 FROM orders),
      m AS (SELECT o_orderkey, d_us, o_totalprice,
              max(o_totalprice) OVER (ORDER BY d_us
                RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS m_prev,
              max(o_totalprice) OVER (PARTITION BY d_us) AS m_same
            FROM o)
      SELECT o_orderkey, d_us, o_totalprice
      FROM m
      WHERE (m_prev IS NULL OR o_totalprice > m_prev)
        AND o_totalprice = m_same
    """),
  )

  /** Last-touch revenue attribution — the marketing-analytics rollup
    * next to funnel/LTV (WHICH channel gets credit for a purchase):
    * each purchase credits its cents to the channel of the most recent
    * PRECEDING click within a 7-day lookback (older or absent → the
    * 'direct' bucket); channel is a deterministic derivation from the
    * event props (k % 4). The running last-click carry is ONE
    * `last(..., ignoreNulls)` window over the user's ts order — the
    * same single hash(user) Exchange the funnel rides — and the final
    * rollup is channel-bounded. Last-touch generalizes to first-touch
    * (min window) and position-weighted (both carries) on the same
    * shape.
    */
  val qAttribution: Q = Q(
    "q_attribution",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val lookbackNs = 7L * 86400000000000L
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("tsn"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val ch = concat(lit("ch"),
        (get_json_object(col("props"), "$.k").cast("long") % 4).cast("string"))
      val e = Tables.events(s, dir)
        .select(col("user_id"), expr("cast(ts as long)").as("tsn"), col("event_id"),
          col("event_type"), col("value"), ch.as("channel"))
        .withColumn("lc",
          last(when(col("event_type") === "click",
            struct(col("tsn").as("cts"), col("channel").as("cch"))), ignoreNulls = true)
            .over(w))
      e.where(col("event_type") === "purchase")
        .select(
          when(col("lc").isNotNull && col("lc.cts") >= col("tsn") - lookbackNs,
            col("lc.cch")).otherwise(lit("direct")).as("channel"),
          round(col("value") * 100).cast("long").as("cents"))
        .groupBy(col("channel"))
        .agg(count(lit(1)).as("n_purchases"),
          round(sum(col("cents")) / lit(100.0), 2).as("revenue"))
    },
    Some("""
      WITH e AS (
        SELECT user_id, epoch_ns(ts) AS tsn, event_id, event_type, value,
               'ch' || (json_extract_string(props, '$.k')::BIGINT % 4)::VARCHAR AS channel
        FROM events),
      c AS (
        SELECT user_id, tsn, event_type, value,
               last_value(CASE WHEN event_type = 'click' THEN tsn END IGNORE NULLS)
                 OVER w AS cts,
               last_value(CASE WHEN event_type = 'click' THEN channel END IGNORE NULLS)
                 OVER w AS cch
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY tsn, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      p AS (
        SELECT CASE WHEN cts IS NOT NULL AND cts >= tsn - 604800000000000
                    THEN cch ELSE 'direct' END AS channel,
               round(value * 100)::BIGINT AS cents
        FROM c WHERE event_type = 'purchase')
      SELECT channel, count(*)::BIGINT AS n_purchases,
             round(sum(cents) / 100.0, 2) AS revenue
      FROM p GROUP BY 1
    """),
  )

  /** Cohort lifetime-value matrix — [[qRetentionCohorts]]'s revenue
    * twin (WHO comes back is retention; what they're WORTH is LTV):
    * users cohorted by first-event week, purchase revenue in exact
    * cents per (cohort, week-offset), plus the running cumulative via
    * a cohort-partitioned window — the curve a growth team reads
    * payback periods from. Same one-Exchange shape as retention: the
    * cohort min-window and the rollup share hash(user), and the
    * cumulative window rides the bounded (cohort, offset) matrix.
    */
  val qCohortLtv: Q = Q(
    "q_cohort_ltv",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val wkNs = 604800000000000L
      val wU = Window.partitionBy(col("user_id"))
      val m = Tables.events(s, dir)
        .select(col("user_id"), expr(s"cast(ts as long) div $wkNs").as("wk"),
          when(col("event_type") === "purchase",
            round(col("value") * 100).cast("long")).otherwise(0L).as("cents"))
        .withColumn("wk0", min(col("wk")).over(wU))
        .groupBy(col("wk0").as("cohort_wk"), (col("wk") - col("wk0")).as("week_offset"))
        .agg(sum(col("cents")).as("cents"))
      val wC = Window.partitionBy(col("cohort_wk")).orderBy(col("week_offset"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      m.select(col("cohort_wk"), col("week_offset"),
        round(col("cents") / lit(100.0), 2).as("revenue"),
        round(sum(col("cents")).over(wC) / lit(100.0), 2).as("cum_revenue"))
    },
    Some("""
      WITH w AS (SELECT user_id, epoch_ns(ts) // 604800000000000 AS wk,
                        CASE WHEN event_type = 'purchase'
                             THEN round(value * 100)::BIGINT ELSE 0 END AS cents
                 FROM events),
      m AS (SELECT user_id, wk, cents, min(wk) OVER (PARTITION BY user_id) AS wk0 FROM w),
      g AS (SELECT wk0 AS cohort_wk, wk - wk0 AS week_offset,
                   sum(cents)::BIGINT AS cents
            FROM m GROUP BY 1, 2)
      SELECT cohort_wk, week_offset,
             round(cents / 100.0, 2) AS revenue,
             round(sum(cents) OVER (PARTITION BY cohort_wk ORDER BY week_offset
                                    ROWS UNBOUNDED PRECEDING) / 100.0, 2) AS cum_revenue
      FROM g
    """),
  )

  /** Sample-ratio-mismatch gate — the experiment-platform SANITY CHECK
    * that runs BEFORE `q_ab_lift`'s effect test (a biased split makes
    * the lift meaningless; SRM is the standard 'is randomization
    * broken' alarm): 1-dof chi-squared goodness-of-fit of the two
    * md5-arm sizes against the intended 50/50, p = P(χ²₁ > x) =
    * 2(1−Φ(√x)) — EXACTLY the shared A&S tail mirror, no new
    * approximation. One distributed aggregate (two exact counts);
    * flag fires at p < 0.001 (the industry-standard SRM alpha).
    */
  val qAbSrm: Q = Q(
    "q_ab_srm",
    (s, dir) => {
      import graft.operators.TsFeatures
      val r = Tables.events(s, dir)
        .select(col("user_id")).distinct()
        .select((conv(substring(md5(col("user_id").cast("string")), 1, 4), 16, 10)
          .cast("long") % 2).as("g"))
        .agg(sum(when(col("g") === 0, 1L).otherwise(0L)).as("n_a"),
          sum(when(col("g") === 1, 1L).otherwise(0L)).as("n_b")).head()
      val (nA, nB) = (r.getLong(0), r.getLong(1))
      val e = (nA + nB) / 2.0
      val chi2 = (nA - e) * (nA - e) / e + (nB - e) * (nB - e) / e
      val p = TsFeatures.normTwoSidedP(math.sqrt(chi2))
      def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      import s.implicits._
      Seq((nA, nB, r6(nA.toDouble / nB), r6(chi2), r6(p), if (p < 0.001) 1 else 0))
        .toDF("n_a", "n_b", "ratio", "chi2", "p", "srm_flag")
    },
    Some(s"""
      WITH u AS (SELECT DISTINCT user_id FROM events),
      g AS (SELECT ${OracleExact.h16Sql("md5(user_id::VARCHAR)")} % 2 AS g FROM u),
      c AS (SELECT sum(CASE WHEN g = 0 THEN 1 ELSE 0 END)::BIGINT AS n_a,
                   sum(CASE WHEN g = 1 THEN 1 ELSE 0 END)::BIGINT AS n_b
            FROM g),
      x AS (SELECT n_a, n_b, (n_a + n_b) / 2.0 AS e FROM c),
      k AS (SELECT n_a, n_b,
              (n_a - e) * (n_a - e) / e + (n_b - e) * (n_b - e) / e AS chi2
            FROM x)
      SELECT n_a, n_b, round(n_a::DOUBLE / n_b, 6) AS ratio,
             round(chi2, 6) AS chi2,
             round(${OracleExact.phiTailSql("sqrt(chi2)")}, 6) AS p,
             CASE WHEN ${OracleExact.phiTailSql("sqrt(chi2)")} < 0.001
                  THEN 1 ELSE 0 END::INT AS srm_flag
      FROM k
    """),
  )

  /** Conversion-latency report over the [[qFunnel]] frame — the
    * "funnel is healthy but HOW FAST does it move" companion: exact
    * whole-second latencies view→click and click→purchase per
    * converted user, summarized as counts + exact interpolated
    * p50/p90 (the proven `percentile` ↔ `quantile_cont` parity from
    * the grouped-quantiles row; the keyed log-histogram sketch is the
    * 100 TB swap-in). Same ONE-Exchange funnel window chain; the
    * summary is a single bounded aggregate.
    */
  val qFunnelTime: Q = Q(
    "q_funnel_time",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val wU = Window.partitionBy(col("user_id"))
      val f = Tables.events(s, dir).select(col("user_id"), col("ts"), col("event_type"))
        .withColumn("t1",
          min(when(col("event_type") === "view", col("ts"))).over(wU))
        .withColumn("t2",
          min(when(col("event_type") === "click" && col("ts") > col("t1"), col("ts"))).over(wU))
        .withColumn("t3",
          min(when(col("event_type") === "purchase" && col("ts") > col("t2"), col("ts"))).over(wU))
        .select(col("user_id"), expr("(t2 - t1) div 1000000000").as("d12"),
          expr("(t3 - t2) div 1000000000").as("d23"))
        .distinct()
      f.agg(
        count(col("d12")).as("n_click"),
        round(expr("percentile(d12, 0.5)"), 6).as("p50_view_click_s"),
        round(expr("percentile(d12, 0.9)"), 6).as("p90_view_click_s"),
        count(col("d23")).as("n_purchase"),
        round(expr("percentile(d23, 0.5)"), 6).as("p50_click_purchase_s"),
        round(expr("percentile(d23, 0.9)"), 6).as("p90_click_purchase_s"))
    },
    Some("""
      WITH w AS (SELECT user_id, epoch_ns(ts) AS tsn, event_type FROM events),
      a AS (SELECT user_id, min(CASE WHEN event_type = 'view' THEN tsn END) AS t1
            FROM w GROUP BY 1),
      b AS (SELECT w.user_id, a.t1,
                   min(CASE WHEN event_type = 'click' AND tsn > a.t1 THEN tsn END) AS t2
            FROM w JOIN a USING (user_id) GROUP BY w.user_id, a.t1),
      c AS (SELECT w.user_id, b.t1, b.t2,
                   min(CASE WHEN event_type = 'purchase' AND tsn > b.t2 THEN tsn END) AS t3
            FROM w JOIN b USING (user_id) GROUP BY w.user_id, b.t1, b.t2),
      d AS (SELECT user_id, (t2 - t1) // 1000000000 AS d12,
                   (t3 - t2) // 1000000000 AS d23
            FROM c)
      SELECT count(d12)::BIGINT AS n_click,
             round(quantile_cont(d12, 0.5), 6) AS p50_view_click_s,
             round(quantile_cont(d12, 0.9), 6) AS p90_view_click_s,
             count(d23)::BIGINT AS n_purchase,
             round(quantile_cont(d23, 0.5), 6) AS p50_click_purchase_s,
             round(quantile_cont(d23, 0.9), 6) AS p90_click_purchase_s
      FROM d
    """),
  )

  /** Join-cardinality / key-skew report — the planner-style "will this
    * join explode" audit run BEFORE a 100 TB join: per candidate key,
    * exact Σc² (the self-join row count a key-equality join would
    * produce), the hottest key's row count, and the max/mean skew
    * factor — all from one map-side-combined count rollup per key,
    * never materializing any join. Σc² accumulates in
    * decimal(38,0)/HUGEINT and reports as DOUBLE so the estimate
    * survives any corpus size.
    */
  val qJoinSizeEstimate: Q = Q(
    "q_join_size_estimate",
    (s, dir) => {
      def rep(kc: String): DataFrame =
        Tables.lineitem(s, dir)
          .groupBy(col(kc).as("k")).agg(count(lit(1)).as("c"))
          .agg(count(lit(1)).as("n_keys"), sum(col("c")).as("n_rows"),
            sum(col("c").cast("decimal(38,0)") * col("c")).as("sj"),
            max(col("c")).as("mx"))
          .select(lit(kc).as("join_key"), col("n_keys"), col("n_rows"),
            col("sj").cast("double").as("self_join_rows"),
            col("mx").as("max_key_rows"),
            round(col("mx").cast("double") * col("n_keys") / col("n_rows"), 6)
              .as("skew"))
      rep("l_orderkey").unionAll(rep("l_partkey")).unionAll(rep("l_suppkey"))
    },
    Some {
      def rep(kc: String): String =
        s"""SELECT '$kc' AS join_key, count(*)::BIGINT AS n_keys,
           sum(c)::BIGINT AS n_rows, sum(c::HUGEINT * c)::DOUBLE AS self_join_rows,
           max(c)::BIGINT AS max_key_rows,
           round(max(c)::DOUBLE * count(*) / sum(c), 6) AS skew
           FROM (SELECT $kc, count(*)::BIGINT AS c FROM lineitem GROUP BY 1)"""
      Seq(rep("l_orderkey"), rep("l_partkey"), rep("l_suppkey"))
        .mkString("\n UNION ALL \n")
    },
  )

  /** Incremental view maintenance of an aggregate: the base period
    * and the delta period each produce MERGEABLE partials (exact
    * count + exact micro-cents sum per key) and the refresh is a
    * partial-combine — the base is never rescanned. The oracle is
    * the FULL-table rollup, so the row proves partial ∪ partial =
    * full exactly (the property that makes nightly refreshes and
    * `stream_window`'s micro-batch folds sound). Exact int
    * arithmetic end to end; at 100 TB the partials are the
    * materialized view state and the delta is the day's ingest.
    */
  val qIvmAgg: Q = Q(
    "q_ivm_agg",
    (s, dir) => {
      val ev = Tables.events(s, dir)
      val mm = ev.agg(min(expr("cast(ts as long)")).as("mn"),
        max(expr("cast(ts as long)")).as("mx")).head()
      val mid = mm.getLong(0) + (mm.getLong(1) - mm.getLong(0)) / 2
      def partial(df: DataFrame): DataFrame =
        df.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(round(col("value") * lit(1e6)).cast("long")).as("sv"))
      val base = partial(ev.where(expr("cast(ts as long)") < lit(mid)))
      val delta = partial(ev.where(expr("cast(ts as long)") >= lit(mid)))
      base.unionAll(delta)
        .groupBy(col("event_type"))
        .agg(sum(col("n")).as("n"), sum(col("sv")).as("svm"))
        .select(col("event_type"), col("n"),
          round(col("svm") / lit(1e6), 6).as("sum_v"))
    },
    Some("""
      SELECT event_type, count(*)::BIGINT AS n,
             round(sum(round(value * 1000000)::BIGINT)::BIGINT / 1000000.0, 6) AS sum_v
      FROM events GROUP BY 1
    """),
  )

  /** Incremental JOIN-view maintenance: the four-term delta identity
    * (O_b ∪ ΔO) ⋈ (C_b ∪ ΔC) = O_b⋈C_b + ΔO⋈C_b + O_b⋈ΔC + ΔO⋈ΔC,
    * proved equal to the direct join by the oracle. Both inputs are
    * split deterministically (orderkey / custkey parity — the
    * "yesterday's snapshot vs today's ingest" shape); each term
    * aggregates revenue per nation in exact cents BEFORE the union,
    * so at 100 TB the maintained state is the per-nation partial of
    * each term (O(nations)), and a delta refresh touches only the
    * two Δ terms — never the base⋈base re-join. Companion to
    * q_ivm_agg (aggregate views) and q_snapshot_diff (CDC diffs).
    */
  val qIvmJoin: Q = Q(
    "q_ivm_join",
    (s, dir) => {
      val o = Tables.orders(s, dir).select(col("o_custkey").as("ck"),
        round(col("o_totalprice") * 100).cast("long").as("p"),
        col("o_orderkey"))
      val c = Tables.customer(s, dir).select(col("c_custkey").as("ck"),
        col("c_nationkey").as("nk"))
      val (ob, dOr) = (o.where(col("o_orderkey") % 2 === 0),
        o.where(col("o_orderkey") % 2 === 1))
      val (cb, dC) = (c.where(col("ck") % 2 === 0),
        c.where(col("ck") % 2 === 1))
      def term(l: DataFrame, r: DataFrame): DataFrame =
        l.join(r, "ck").groupBy(col("nk"))
          .agg(count(lit(1)).as("n"), sum(col("p")).as("sp"))
      term(ob, cb).unionAll(term(dOr, cb))
        .unionAll(term(ob, dC)).unionAll(term(dOr, dC))
        .groupBy(col("nk"))
        .agg(sum(col("n")).as("n_orders"), sum(col("sp")).as("spc"))
        .select(col("nk").as("nationkey"), col("n_orders"),
          round(col("spc") / lit(100.0), 6).as("revenue"))
    },
    Some("""
      SELECT c_nationkey AS nationkey, count(*)::BIGINT AS n_orders,
             round(sum(round(o_totalprice * 100)::BIGINT)::BIGINT / 100.0, 6)
               AS revenue
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY 1
    """),
  )

  /** Incremental view maintenance under DELETIONS — the retraction
    * half q_ivm_agg's insert-only delta lacks: the maintained per-type
    * (n, Σv) state absorbs a delete batch as SIGNED multiplicities
    * (count −1, value negated in exact micro units), and the result
    * must equal a full recompute WITHOUT the deleted rows — the GDPR
    * erasure / late-correction shape, where re-scanning 100 TB per
    * delete batch is not an option. Delete set = event_id ≡ 0 mod 13
    * (deterministic, every type touched).
    */
  val qIvmDelete: Q = Q(
    "q_ivm_delete",
    (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_type"), col("event_id"),
          round(col("value") * lit(1e6)).cast("long").as("vm"))
      def partial(df: DataFrame, sign: Int): DataFrame =
        df.groupBy(col("event_type"))
          .agg((count(lit(1)) * sign).as("n"),
            (sum(col("vm")) * sign).as("sv"))
      val snap = partial(ev, 1)
      val retract = partial(ev.where(col("event_id") % 13 === 0), -1)
      snap.unionAll(retract)
        .groupBy(col("event_type"))
        .agg(sum(col("n")).as("n"), sum(col("sv")).as("svm"))
        // a fully-retracted group must VANISH like the recompute's
        // (a recompute never sees an erased group at all)
        .where(col("n") > 0)
        .select(col("event_type"), col("n"),
          round(col("svm") / lit(1e6), 6).as("sum_v"))
    },
    Some("""
      SELECT event_type, count(*)::BIGINT AS n,
             round(sum(round(value * 1000000)::BIGINT)::BIGINT / 1000000.0, 6)
               AS sum_v
      FROM events WHERE event_id % 13 <> 0 GROUP BY 1
    """),
  )

  /** k-anonymity report over the customer quasi-identifiers
    * (nationkey, market segment) — the governance check run before any
    * data release, next to `q_subject_access`: every QI combination's
    * group size, its violation verdict against k = 10, and the
    * table-level anonymity (min group size) on every row. One
    * map-side-combined rollup; the QI grain is bounded (25 nations ×
    * 5 segments), so the report never shuffles row-grain data.
    */
  val qKAnonymity: Q = Q(
    "q_k_anonymity",
    (s, dir) => {
      val g = Tables.customer(s, dir)
        .groupBy(col("c_nationkey"), col("c_mktsegment"))
        .agg(count(lit(1)).as("group_size"))
      // table-level k from a one-value fit-boundary collect — never an
      // unpartitioned window (PlanGuardSpec forbids the global sort)
      val kMin = g.agg(min(col("group_size"))).head().getLong(0)
      g.select(col("c_nationkey"), col("c_mktsegment"), col("group_size"),
        (col("group_size") < 10).cast("int").as("violates_k10"),
        lit(kMin).as("anonymity_k"))
    },
    Some("""
      WITH g AS (
        SELECT c_nationkey, c_mktsegment, count(*)::BIGINT AS group_size
        FROM customer GROUP BY 1, 2)
      SELECT c_nationkey, c_mktsegment, group_size,
             (group_size < 10)::INT AS violates_k10,
             (SELECT min(group_size) FROM g)::BIGINT AS anonymity_k
      FROM g
    """),
  )

  val all: Seq[Q] = Seq(qAgg, qJoinAgg, qWindow, qTopK, qPivot, qUnpivot, qRollup,
    qCube, qGroupingSets, qWindowRange, qSessionize, qGroupedApply, qJsonExtract,
    qLatestByKey, qSemiJoin, qAntiJoin, qNtile, qSetOps, qScd2, qAggIncremental,
    qWeightedSample, qGroupedQuantiles, qFullOuter, qCogroup, qSnapshotDiff,
    qEventTransitions, qUserJourney, qFunnel, qRetentionCohorts, qAbLift, qRfm,
    qAbSrm, qFunnelTime, qCohortLtv, qAttribution, qSkyline, qCopurchase,
    qGrowthAccounting, qSeqPatterns, qActivityHeatmap, qGini,
    qJoinSizeEstimate, qIvmAgg, qIvmJoin, qIvmDelete, qKAnonymity)
}
