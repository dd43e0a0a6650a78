package graft

import graft.queries._

/** Shuffle budgets for the round-8 operator additions — the same
  * plan-shape discipline ExtractPlanSpec pins for the extract family:
  * an Exchange that appears here unplanned is a 100 TB regression
  * even while results stay green.
  */
class NewOpsPlanSpec extends SparkSpec {

  private def exchanges(q: Q): Int = {
    val plan = q.run(spark, sf).queryExecution.executedPlan.toString
    "Exchange (hash|range|Single)".r.findAllIn(plan).size
  }

  test("ts_anomaly plans exactly one Exchange (the series-key window)") {
    assert(exchanges(TsQueries.tsAnomaly) === 1)
  }

  test("ts_holt plans exactly one Exchange (the GroupedApply shuffle)") {
    assert(exchanges(TsQueries.tsHolt) === 1)
  }

  test("ts_hurst's window + three rollups all ride one hash(user) Exchange") {
    // every grouping key is a superset of user_id, so HashPartitioning
    // (user) satisfies each ClusteredDistribution — no re-shuffle
    assert(exchanges(TsQueries.tsHurst) === 1)
  }

  test("ts_acf sums, lead chain, and rollup share the series Exchange") {
    assert(exchanges(TsQueries.tsAcf) === 1)
  }

  test("q_user_journey plans exactly one Exchange (both windows share the user key)") {
    assert(exchanges(RelationalQueries.qUserJourney) === 1)
  }

  test("ts_decompose plans exactly two Exchanges (daily rollup, then one key chain for every window)") {
    assert(exchanges(TsQueries.tsDecompose) === 2)
  }

  test("q_interval_overlap stays within its 2-Exchange budget (one per exploded side)") {
    assert(exchanges(ScaleOpsQueries.qIntervalOverlap) <= 2)
  }

  test("q_event_transitions stays within its 3-Exchange budget (lead window, pair rollup, row-normalize window)") {
    assert(exchanges(RelationalQueries.qEventTransitions) <= 3)
  }

  test("q_pagerank_step plans exactly two hash Exchanges (src rollup, dst rollup)") {
    assert(exchanges(DedupQueries.qPagerankStep) === 2)
  }

  test("ts_outlier_mad plans one Exchange and one scan (window medians, no join-back)") {
    val plan = TsQueries.tsOutlierMad.run(spark, sf).queryExecution.executedPlan.toString
    assert("Exchange hash".r.findAllIn(plan).size === 1)
    assert("FileScan".r.findAllIn(plan).size === 1)
  }

  test("q_skyline and multimodal_batch_plan plan no single-partition window") {
    // the two-level decomposition exists to kill the global-order
    // bottleneck; a SinglePartition exchange reappearing means the
    // window lost its partition key
    for (q <- Seq(RelationalQueries.qSkyline, MultimodalQueries.multimodalBatchPlan)) {
      val plan = q.run(spark, sf).queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange SinglePartition"), q.name)
    }
  }

  test("multimodal_phash candidates come from the band equi-join only") {
    val plan = MultimodalQueries.multimodalPhash.run(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"))
    assert(!plan.contains("CartesianProduct"))
    assert(plan.contains("bit_count"))
  }

  test("q_recall_at_k plans exactly one nested loop (the deliberate brute-force side)") {
    // knn_bruteforce's bounded-broadcast scorer is the PlanGuardSpec
    // exemption; the eval join and the LSH side must not add another
    for (q <- Seq(DedupQueries.qRecallAtK, DedupQueries.qKnnClassify)) {
      val plan = q.run(spark, sf).queryExecution.executedPlan.toString
      assert("BroadcastNestedLoopJoin".r.findAllIn(plan).size === 1, q.name)
      assert(!plan.contains("CartesianProduct"), q.name)
    }
  }

  test("dedup_edit_distance candidates come from the blocking equi-join only") {
    val plan = DedupQueries.dedupEditDistance.run(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"))
    assert(!plan.contains("CartesianProduct"))
    assert(plan.contains("levenshtein"))
  }

  test("q_label_prop_step votes and argmax reuse the edge-rollup partitioning") {
    // one hash Exchange for the node rollup; the (node,lbl) count and
    // the max_by argmax aggregate on supersets of that key, so they
    // must not re-shuffle (the final nodes join may broadcast)
    assert(exchanges(DedupQueries.qLabelPropStep) <= 2)
  }

  test("q_isotonic's data-scale pass is the single bin rollup") {
    val plan = PipelineQueries.qIsotonic.run(spark, sf)
      .queryExecution.executedPlan.toString
    // the fitted 20-row result is driver state: no join, no window
    assert(!plan.contains("Join"))
  }

  test("banded matrix-profile pass keeps >1 partition once data exceeds the advisory size") {
    // at bench SFs AQE may coalesce the profile's one shuffle into a
    // single partition — fine there, but the 100 TB claim is that AQE
    // only coalesces BELOW the advisory size. Pin it: with the advisory
    // dropped under the fixture's shuffle bytes, the profile must
    // execute on >1 partition. Both knobs govern the coalesce floor:
    // advisory is the target, minPartitionSize (default 1m, via
    // parallelismFirst) the floor — at 100 TB the shuffle dwarfs both
    // defaults, so shrinking both under the fixture's bytes simulates
    // the data-outgrows-config case
    val keys = Seq("spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    keys.foreach(k => spark.conf.set(k, "65536"))
    try {
      val prof = graft.operators.TsFeatures.matrixProfile(
        Tables.events(spark, "/root/testdata/sf0.01")
          .select(org.apache.spark.sql.functions.col("user_id"),
            org.apache.spark.sql.functions.col("ts"),
            org.apache.spark.sql.functions.col("value")),
        "user_id", Seq("ts"), "value")
      assert(prof.rdd.getNumPartitions > 1,
        s"banded pass coalesced to ${prof.rdd.getNumPartitions} partition(s)")
    } finally prev.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("ts_matrix_profile_motif rides the single profile Exchange trunk") {
    val plan = TsQueries.tsMatrixProfileMotif.run(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
    // the per-series kernel's one shuffle, nothing after it
    assert("Exchange (hash|range|Single)".r.findAllIn(plan).size == 1, plan)
  }

  test("q_mad keeps the groupBy shape (low group cardinality: window medians lose)") {
    val plan = PipelineQueries.qMad.run(spark, sf).queryExecution.executedPlan.toString
    // two grouped percentile passes + a broadcast back; the window
    // variant was 2.6x slower at sf0.1 because all 600k rows ride the
    // 3-partition window aggregation and a distinct (see scaladoc)
    assert("Exchange hash".r.findAllIn(plan).size <= 2)
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }
}
