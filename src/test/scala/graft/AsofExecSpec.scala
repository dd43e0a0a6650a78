package graft

import org.apache.spark.sql.functions._
import graft.operators.AsofJoin
import graft.plans.{AsofExec, AsofJoinExec}

/** The native as-of join operator (custom LogicalPlan + Strategy +
  * SparkPlan): result equality with the composed union+window
  * operator, plan shape (the custom exec node + exactly two
  * exchanges), and the deterministic (key, ts)-tie payload pick.
  */
class AsofExecSpec extends SparkSpec {
  import spark.implicits._

  private def clicksErrors = {
    val e = Tables.events(spark, sf)
    (e.where(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id")),
      e.where(col("event_type") === "error")
        .select(col("user_id"), col("ts"), col("value")))
  }

  test("native asof equals the composed union+window operator") {
    val (clicks, errors) = clicksErrors
    val native = AsofExec.asof(clicks, errors, "user_id", "ts",
      Seq("event_id"), Seq("ts", "value"), prefix = "err_")
    val composed = AsofJoin.asof(clicks, errors, "user_id", "ts",
      Seq("event_id"), Seq("ts", "value"), prefix = "err_")
    assert(native.columns.toSeq === composed.columns.toSeq)
    assert(native.count() === clicks.count())
    assert(native.exceptAll(composed).isEmpty && composed.exceptAll(native).isEmpty)
  }

  test("plan carries AsofJoinExec and exactly two exchanges") {
    val (clicks, errors) = clicksErrors
    val native = AsofExec.asof(clicks, errors, "user_id", "ts",
      Seq("event_id"), Seq("ts", "value"), prefix = "err_")
    val plan = native.queryExecution.executedPlan.toString
    assert(plan.contains("AsofJoin"), plan)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges === 2, plan)
  }

  test("right rows tied on (key, ts) resolve to the greatest payload") {
    val left = Seq((1L, 100L, "a"), (1L, 50L, "b"), (2L, 10L, "c"))
      .toDF("k", "t", "lbl")
    val right = Seq((1L, 100L, 5.0), (1L, 100L, 9.0), (1L, 40L, 1.0),
      (3L, 5L, 7.0)).toDF("k", "t", "v")
    val out = AsofExec.asof(left, right, "k", "t",
      Seq("lbl"), Seq("t", "v"), prefix = "m_")
      .select(col("lbl"), col("m_t"), col("m_v"))
      .collect().map(r => (r.getString(0),
        if (r.isNullAt(1)) -1L else r.getLong(1),
        if (r.isNullAt(2)) -1.0 else r.getDouble(2))).toSet
    // lbl=a: ties at t=100 -> greatest payload (100, 9.0); lbl=b: only
    // t=40 precedes; lbl=c: key 2 has no right rows at all
    assert(out === Set(("a", 100L, 9.0), ("b", 40L, 1.0), ("c", -1L, -1.0)))
    // and the composed operator picks identically on the same fixture
    val composed = AsofJoin.asof(left, right, "k", "t",
      Seq("lbl"), Seq("t", "v"), prefix = "m_")
      .select(col("lbl"), col("m_t"), col("m_v"))
      .collect().map(r => (r.getString(0),
        if (r.isNullAt(1)) -1L else r.getLong(1),
        if (r.isNullAt(2)) -1.0 else r.getDouble(2))).toSet
    assert(composed === out)
  }

  test("native forward asof equals the composed forward operator") {
    val (clicks, errors) = clicksErrors
    val native = AsofExec.asofForward(clicks, errors, "user_id", "ts",
      Seq("event_id"), Seq("ts", "value"), prefix = "err_")
    val composed = AsofJoin.asofForward(clicks, errors, "user_id", "ts",
      Seq("event_id"), Seq("ts", "value"), prefix = "err_")
    assert(native.count() === clicks.count())
    assert(native.exceptAll(composed).isEmpty && composed.exceptAll(native).isEmpty)
  }

  test("forward ties on (key, ts) resolve to the greatest payload") {
    val left = Seq((1L, 100L, "a"), (1L, 150L, "b")).toDF("k", "t", "lbl")
    val right = Seq((1L, 100L, 5.0), (1L, 100L, 9.0), (1L, 120L, 1.0))
      .toDF("k", "t", "v")
    val native = AsofExec.asofForward(left, right, "k", "t",
      Seq("lbl"), Seq("t", "v"), prefix = "m_")
      .select(col("lbl"), col("m_t"), col("m_v"))
      .collect().map(r => (r.getString(0),
        if (r.isNullAt(1)) -1L else r.getLong(1),
        if (r.isNullAt(2)) -1.0 else r.getDouble(2))).toSet
    // lbl=a: ties at t=100 -> greatest payload; lbl=b: nothing at or
    // after 150 -> null
    assert(native === Set(("a", 100L, 9.0), ("b", -1L, -1.0)))
    val composed = AsofJoin.asofForward(left, right, "k", "t",
      Seq("lbl"), Seq("t", "v"), prefix = "m_")
      .select(col("lbl"), col("m_t"), col("m_v"))
      .collect().map(r => (r.getString(0),
        if (r.isNullAt(1)) -1L else r.getLong(1),
        if (r.isNullAt(2)) -1.0 else r.getDouble(2))).toSet
    assert(composed === native)
  }

  test("left rows before any right row get null payload") {
    val left = Seq((1L, 5L, "early"), (1L, 50L, "late")).toDF("k", "t", "lbl")
    val right = Seq((1L, 10L, 2.0)).toDF("k", "t", "v")
    val out = AsofExec.asof(left, right, "k", "t", Seq("lbl"), Seq("v"))
      .select(col("lbl"), col("asof_v")).collect()
      .map(r => (r.getString(0), if (r.isNullAt(1)) -1.0 else r.getDouble(1)))
      .toSet
    assert(out === Set(("early", -1.0), ("late", 2.0)))
  }

  test("null keys never match, matching the oracle's equi-join") {
    val left = Seq((Option(1L), 100L, "a"), (Option.empty[Long], 100L, "n1"),
      (Option.empty[Long], 200L, "n2")).toDF("k", "t", "lbl")
    val right = Seq((Option(1L), 50L, 5.0), (Option.empty[Long], 50L, 9.0))
      .toDF("k", "t", "v")
    val later = right.withColumn("t", col("t") + 100)
    def run(df: org.apache.spark.sql.DataFrame) =
      df.select(col("lbl"), col("asof_v")).collect()
        .map(r => (r.getString(0), if (r.isNullAt(1)) -1.0 else r.getDouble(1)))
        .toSet
    // null-keyed left rows must get null payload even though a
    // null-keyed right row at a matching ts exists on the right side —
    // natively and in the composed union+window forms
    for ((form, df) <- Seq(
      "native backward" -> AsofExec.asof(left, right, "k", "t", Seq("lbl"), Seq("v")),
      "native forward" -> AsofExec.asofForward(left, later, "k", "t", Seq("lbl"), Seq("v")),
      "composed backward" -> AsofJoin.asof(left, right, "k", "t", Seq("lbl"), Seq("v")),
      "composed forward" -> AsofJoin.asofForward(left, later, "k", "t", Seq("lbl"), Seq("v")),
      "composed nearest" -> AsofJoin.asofNearest(left, right, "k", "t", Seq("lbl"), Seq("v"))))
      assert(run(df) === Set(("a", 5.0), ("n1", -1.0), ("n2", -1.0)), form)
  }
}
