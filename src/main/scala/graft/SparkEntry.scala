package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §2/§6.
  * Every implemented operator registers a [[Q]] here; the driver runs
  * `queries` through Verify at sf0.01 and compares with `oracleSql`
  * in DuckDB.
  */
object SparkEntry {

  private def registry: Seq[Q] =
    RelationalQueries.all ++ NumPrepQueries.all ++ CatPrepQueries.all ++
      PipelineQueries.all ++ TsQueries.all ++ DedupQueries.all ++
      TextQueries.all ++ MultimodalQueries.all ++ StreamingQueries.all ++
      SourceQueries.all ++ ScaleOpsQueries.all ++ StatsQueries.all ++
      MetricsQueries.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    RelationalQueries.qJoinAgg.run(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(sql => q.name -> sql.trim)).toMap

  /** Bench-only entries: scale paths whose output depends on an
    * approximation sketch (no deterministic oracle possible). Bench
    * times queries ++ benchQueries; Verify dumps `queries` only, so
    * these never produce a weaker rows-only correctness row.
    */
  def benchQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "scale_kbins_approx" -> (NumPrepQueries.kbinsApprox(_, _)),
    "text_pack_ffd" -> (TextQueries.packFFD(_, _)),
    "stream_sessionize_rocksdb" -> (StreamingQueries.sessionizeRocksDB(_, _)),
    // the bucketed-table write cost, timed under its own name so
    // q_bucketed_join's min-of-two-runs measures the join alone
    // (alphabetical bench order runs this before the join row)
    "bucketed_tables_write" -> ((s, dir) => {
      ScaleOpsQueries.writeBucketedTables(s, dir)
      s.table("g_lineitem_b").limit(1)
    }),
    // the standing MinHash band-index build cost, timed under its own
    // name so dedup_incremental's min-of-two-runs measures the nightly
    // PROBE alone (alphabetical bench order runs this first and the
    // probe rows reuse the index it leaves behind) — same split as
    // bucketed_tables_write / q_bucketed_join
    "band_index_write" -> (DedupQueries.bandIndexWriteBench(_, _)),
    // hot-key (~5% of events on one user) stream-stream interval
    // join: the state-partitioning-under-skew measurement (SURVEY §7.13)
    "stream_interval_join_skew" -> (StreamingQueries.intervalJoinSkew(_, _)),
    // streaming state observability: the engine's own per-operator
    // state accounting for three representative stateful shapes —
    // metrics, not table data, so no DuckDB oracle exists; the bounds
    // are pinned in StreamingSpec (SURVEY row 422)
    "stream_state_report" -> (StreamingQueries.stateReport(_, _)),
    // the same skew fixture through the time-slice-salted join — the
    // mitigation's measured twin (SURVEY §12)
    "stream_interval_join_skew_salted" ->
      (StreamingQueries.intervalJoinSkewSalted(_, _)),
    // the corpus-adaptive twins of the two quadratic-parameter ANN
    // rows (VERDICT r14 #1): same fixtures, (tables, bits) / nShards
    // derived from the corpus count — the linear-at-any-SF configs;
    // the fixed-parameter fixtures stay oracled for exact replay
    "dedup_embedding_scaled" -> (DedupQueries.dedupEmbeddingScaled(_, _)),
    "knn_hnsw_scaled" -> (DedupQueries.knnHnswScaled(_, _)),
    // serving-time shard routing (the IVF nProbe analog on the shard
    // graph): recall@5 vs brute-force truth per routed fraction —
    // the 100 TB serving cost/recall trade, measured (VERDICT r15 #7)
    "knn_hnsw_routed" -> (DedupQueries.knnHnswRouted(_, _)),
    // one giant near-dup component (40% of a 10^5-node graph) through
    // the DISTRIBUTED CC loop — the hot-component shuffle measurement
    // (r6 VERDICT #8); output is a 3-field summary, no oracle needed
    "dedup_clusters_skew" -> (DedupQueries.clustersSkew(_, _)),
    // LZ76 phrase counting is sequential per series — no SQL-window
    // oracle exists; spec covers semantics (TsSpec hand-checked)
    "ts_lempel_ziv" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      graft.operators.TsFeatures.lempelZiv(
        graft.Tables.events(s, dir).select(col("user_id"), col("ts"), col("value")),
        "user_id", Seq("ts"), "value")
    }),
    // the remaining former tsfresh skips (SURVEY §3), sequential-per-
    // series GroupedApply folds — bench + spec coverage (TsAdvancedSpec
    // pins each against closed forms / naive replays). ts_cwt, ts_pacf,
    // ts_friedrich, and ts_matrix_profile moved to TsQueries (oracled)
    // in r10 and ts_adf in r12; ts_cwt, ts_pacf, ts_adf and the three
    // ts_matrix_profile rows now call the single per-series calculators
    // (cwt, pacf, adf, matrixProfile and its motif and FLUSS forms)
    "ts_cwt_peaks" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      graft.operators.TsFeatures.numberCwtPeaks(
        graft.Tables.events(s, dir).select(col("user_id"), col("ts"), col("value")),
        "user_id", Seq("ts"), "value")
    }),
  )
}
