package graft

import graft.operators.TsFeatures
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** Exchange-count guards for the whole extract family. The single-
  * Exchange property is the extract design's load-bearing claim at
  * 100 TB — every calculator tier lands in the same shuffle — so each
  * member pins its shuffle budget here, the same way `TsSpec` pins
  * `ts_features_multi`'s.
  *
  * The relevance batteries finish on a driver-assembled ≤84-row frame
  * (their final plan shows zero Exchanges), so their guard instruments
  * the INTERNAL jobs instead: a [[QueryExecutionListener]] captures
  * every action the battery triggers and the spec pins both the worst
  * single job and the whole run. A regression that adds a shuffle —
  * re-aggregating per feature, losing the broadcast, recomputing the
  * unchecked-pointed feature matrix — pushes a count over its pinned
  * budget and fails here before a bench ever runs it.
  */
class ExtractPlanSpec extends SparkSpec {

  private def hashExchanges(plan: String): Int =
    "Exchange hashpartitioning".r.findAllIn(plan).size

  test("extract and windowed extract plan exactly one shuffle") {
    for (q <- Seq("ts_features_extract", "ts_features_windowed")) {
      val plan = SparkEntry.queries(q)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(hashExchanges(plan) == 1,
        s"$q must cost exactly one shuffle, got:\n$plan")
    }
  }

  test("relevance batteries stay inside their pinned shuffle budgets") {
    val captured = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int)]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit =
        captured.add((funcName, hashExchanges(qe.executedPlan.toString)))
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      // (query, max Exchanges in any single job, max across the run).
      // Measured at HEAD; a unit of slack would mask exactly the
      // one-extra-shuffle regression this spec exists to catch.
      val budgets = Seq(
        // feature localCheckpoint (2: the extract's one exchange, in
        // AQE's final and initial plan) + one
        // join+unpivot+groupBy correlation pass (4: label agg, SMJ
        // both sides, per-feature agg)
        ("ts_features_relevant", 4, 6),
        // per-user head (2) + grouped checkpoint (4) + MW ranks over
        // the checkpoint (2) + Fisher cells off the same checkpoint (0)
        ("ts_features_relevant_cls", 4, 8),
        // one GroupedApply pass: label join + unpivot + repartition(__f)
        ("ts_features_relevant_tau", 4, 4),
        // unpivot + groupBy(__f,__x) + rank window + per-feature agg,
        // all one uncheckpointed job
        ("ts_features_relevant_multi", 6, 6))
      for ((q, maxJob, maxTotal) <- budgets) {
        captured.clear()
        SparkEntry.queries(q)(spark, sf).count()
        // listener delivery is async; the trailing count() event is the
        // run's sentinel — wait for it (10 s ceiling)
        val deadline = System.nanoTime() + 10_000_000_000L
        import scala.jdk.CollectionConverters._
        while (!captured.asScala.exists(_._1 == "count") &&
               System.nanoTime() < deadline) Thread.sleep(100)
        val jobs = captured.asScala.toList
        assert(jobs.exists(_._1 == "count"), s"$q: listener never delivered")
        val worst = jobs.map(_._2).max
        val total = jobs.map(_._2).sum
        assert(worst <= maxJob && total <= maxTotal,
          s"$q shuffle budget exceeded: worst job $worst (max $maxJob), " +
            s"run total $total (max $maxTotal) — jobs: " +
            jobs.map { case (f, c) => s"$f=$c" }.mkString(", "))
      }
    } finally spark.listenerManager.unregister(listener)
  }

  /** Expression nodes of every operator of the plan. */
  private def expressionNodes(plan: LogicalPlan): Long =
    plan.collect { case p => p.expressions.map(_.collect { case e => e }.size).sum }
      .map(_.toLong).sum

  /** Physical operator names of a frame's executed plan, through AQE. */
  private def operators(df: org.apache.spark.sql.DataFrame): Set[String] =
    new AdaptiveSparkPlanHelper {}.collect(df.queryExecution.executedPlan) { case p => p.nodeName }
      .toSet

  test("extractMulti's analyzed plan stays inside its size budget") {
    // driver-side analysis and optimization walk every expression node
    // on every action, so the node count is the build cost's measure.
    // Budgets measured on the sorted per-series pass (457 and 1,153
    // nodes; the window + aggregate plan it replaced had
    // 4,764 and 14,068): one value column is the benchmark's shape,
    // three is ts_features_multi's.
    val e = Tables.events(spark, sf).select(col("user_id"), col("ts"),
      col("value").as("va"), (col("value") * lit(0.5) + lit(3.25)).as("vb"),
      abs(col("value")).as("vc"))
    def analyzed(valueCols: Seq[String]) =
      TsFeatures.extractMulti(e, "user_id", Seq("ts"), valueCols).queryExecution.analyzed
    val (one, three) = (analyzed(Seq("va")), analyzed(Seq("va", "vb", "vc")))
    val budgets = Seq((one, 1, 457L), (three, 3, 1153L))
    for ((plan, n, budget) <- budgets)
      assert(expressionNodes(plan) <= budget,
        s"$n value column(s): ${expressionNodes(plan)} analyzed expression nodes, budget $budget")
    // every value column adds only its own feature slots: the plan
    // grows less than linearly in the number of value columns
    assert(expressionNodes(three) < 3 * expressionNodes(one),
      s"three value columns: ${expressionNodes(three)} nodes, one: ${expressionNodes(one)}")
  }

  test("the extract family runs no window or aggregate operator") {
    // the features come from one sorted per-series pass: a Window or an
    // aggregate in the executed plan means the window + aggregate plan
    // (and its per-task code generation) is back
    val e = Tables.events(spark, sf).select(col("user_id"), col("ts"),
      col("value").as("va"), (col("value") * lit(0.5) + lit(3.25)).as("vb"),
      abs(col("value")).as("vc"))
    val frames = Seq(
      "extract" -> TsFeatures.extract(e, "user_id", Seq("ts"), "va"),
      "extractMulti(1)" -> TsFeatures.extractMulti(e, "user_id", Seq("ts"), Seq("va")),
      "extractMulti(3)" -> TsFeatures.extractMulti(e, "user_id", Seq("ts"), Seq("va", "vb", "vc")),
      "extractWindowed" -> TsFeatures.extractWindowed(e, "user_id", "ts", Seq("ts"), "va",
        604800000000000L))
    for ((name, df) <- frames) {
      val found = operators(df).intersect(Set("Window", "ObjectHashAggregate", "SortAggregate"))
      assert(found.isEmpty, s"$name plans ${found.mkString(", ")}:\n${df.queryExecution.executedPlan}")
    }
  }
}
