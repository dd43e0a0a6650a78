package graft.python

import java.{util => ju}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.prep._

/** Java-typed façade for the PySpark wrapper (`python/graft/`).
  *
  * py4j calls static forwarders on this object from Python; every
  * signature here uses ONLY types py4j round-trips cleanly (String,
  * primitives, java.util collections, DataFrame, and opaque object
  * handles) — the Scala-native surface (case-class configs, sealed
  * ADTs, Seq/Option) stays on [[graft.prep.Preprocessor]] where Scala
  * callers use it directly. The Python package never re-implements
  * semantics: each wrapper method is one hop into the same code the
  * Scala API and the driver's correctness protocol exercise, so the
  * two surfaces cannot drift.
  *
  * Reference parity: the string enums accepted here are the reference
  * `Preprocessor.__init__` literals (preprocessor.py:109-122 —
  * scaling ∈ none|normalize|standardize|quantile, num_fill_null ∈
  * none|interpolate|forward|backward|min|max|mean|zero|one or a
  * number, ml_task ∈ classification|regression, unseen_labels ∈
  * ignore|error), plus graft's additive knobs (quantile_uniform,
  * kbins via n_bins, series_key, quantile_fit, max_categories).
  */
object PyBridge {

  // ------------------------------------------------------------ registry

  /** Sorted oracled query names (the driver-correctness surface). */
  def queryNames(): ju.List[String] =
    SparkEntry.queries.keys.toSeq.sorted.asJava

  /** Sorted bench-only query names (sketch/sequential rows, no oracle). */
  def benchQueryNames(): ju.List[String] =
    SparkEntry.benchQueries.keys.toSeq.sorted.asJava

  /** Run a registered query against the parquet tables under `sfDir`. */
  def runQuery(spark: SparkSession, name: String, sfDir: String): DataFrame =
    SparkEntry.queries.get(name)
      .orElse(SparkEntry.benchQueries.get(name))
      .getOrElse(throw new IllegalArgumentException(
        s"unknown graft query: $name"))(spark, sfDir)

  /** The DuckDB-runnable oracle SQL for `name` ("" for bench-only). */
  def oracleSql(name: String): String =
    SparkEntry.oracleSql.getOrElse(name, "")

  /** Register every graft SQL function on a live session — the
    * runtime twin of `spark.sql.extensions=graft.functions.GraftExtensions`
    * for sessions built without the config (optimizer rules and the
    * as-of planner strategy still need the extensions route).
    */
  def registerFunctions(spark: SparkSession): Unit =
    graft.functions.GraftFunctions.register(spark)

  // -------------------------------------------------------- preprocessor

  private def parseScaling(scaling: String, nBins: Int): Scaling =
    if (nBins > 0) Scaling.KBins(nBins)
    else scaling match {
      case null | "" | "none" => Scaling.None_
      case "normalize"        => Scaling.Normalize
      case "standardize"      => Scaling.Standardize
      case "quantile"         => Scaling.Quantile(normal = true)
      case "quantile_uniform" => Scaling.Quantile(normal = false)
      case other => throw new IllegalArgumentException(
        s"Invalid value for scaling: $other")
    }

  private def parseFill(s: String): FillStrategy =
    s match {
      case null | "" | "none" => FillStrategy.None_
      case "mean"             => FillStrategy.Mean
      case "min"              => FillStrategy.Min
      case "max"              => FillStrategy.Max
      case "zero"             => FillStrategy.Zero
      case "one"              => FillStrategy.One
      case "forward"          => FillStrategy.Forward
      case "backward"         => FillStrategy.Backward
      case "interpolate"      => FillStrategy.Interpolate
      case num =>
        val v = try num.toDouble catch { case _: NumberFormatException =>
          throw new IllegalArgumentException(
            s"Invalid value for num_fill_null: $num")
        }
        FillStrategy.Value(v)
    }

  private def parseQuantileFit(s: String): QuantileFitMode = s match {
    case null | "" | "exact" => QuantileFitMode.Exact
    case "sketch"            => QuantileFitMode.Sketch
    case "tdigest"           => QuantileFitMode.TDigest
    case other => throw new IllegalArgumentException(
      s"Invalid value for quantile_fit: $other")
  }

  /** Fit a [[PrepModel]] — the reference `Preprocessor.__init__` knobs
    * as py4j-friendly scalars; null/"" means "not set".
    */
  def fit(df: DataFrame,
          catLabelsThreshold: Double,
          excludedCols: ju.List[String],
          timeId: String,
          seriesKey: String,
          missingValuesThreshold: Double,
          nBins: Int,
          scaling: String,
          numFillNull: String,
          unseenLabels: String,
          mlTask: String,
          targetColumn: String,
          maxCategories: Int,
          quantileFit: String): PrepModel = {
    val task = mlTask match {
      case null | ""        => None
      case "classification" => Some(MlTask.Classification)
      case "regression"     => Some(MlTask.Regression)
      case other => throw new IllegalArgumentException(
        s"Invalid value for ml_task: $other")
    }
    def opt(s: String): Option[String] = Option(s).filter(_.nonEmpty)
    Preprocessor.fit(df, PrepConfig(
      catLabelsThreshold = catLabelsThreshold,
      excludedCols = excludedCols.asScala.toSeq,
      timeId = opt(timeId),
      seriesKey = opt(seriesKey),
      missingValuesThreshold = missingValuesThreshold,
      scaling = parseScaling(scaling, nBins),
      numFillNull = parseFill(numFillNull),
      mlTask = task,
      targetColumn = opt(targetColumn),
      maxCategories = maxCategories,
      quantileFit = parseQuantileFit(quantileFit),
      unseenLabels = if (unseenLabels == null || unseenLabels.isEmpty) "ignore"
                     else unseenLabels))
  }

  def transform(model: PrepModel, df: DataFrame): DataFrame =
    model.transform(df)

  def inverseTransform(model: PrepModel, df: DataFrame): DataFrame =
    model.inverseTransform(df)

  def numericalFeatures(model: PrepModel): ju.List[String] =
    model.getNumericalFeatures.asJava

  def categoricalFeatures(model: PrepModel): ju.List[String] =
    model.getCategoricalFeatures.asJava

  def datetimeFeatures(model: PrepModel): ju.List[String] =
    model.datetimeFeatures.asJava

  def booleanFeatures(model: PrepModel): ju.List[String] =
    model.booleanFeatures.asJava

  def encodedColumns(model: PrepModel): ju.List[String] =
    model.encodedColumns.asJava

  /** (numerical sizes, per-categorical category counts) as two lists. */
  def numericalFeatureSizes(model: PrepModel): ju.List[Integer] =
    model.getFeaturesSizes._1.map(Int.box).asJava

  def categoricalFeatureSizes(model: PrepModel): ju.List[Integer] =
    model.getFeaturesSizes._2.map(Int.box).asJava

  /** column -> human-readable drop reason (feature selection). */
  def droppedColumns(model: PrepModel): ju.Map[String, String] =
    model.dropped.asJava

  // ------------------------------------------------- operator entry points
  // The flagship operators a Python pipeline calls directly (outside
  // the fixture-bound query registry): near-dup pair generation, ANN
  // top-k, sentence-level boilerplate removal, URL dedup, and the
  // per-series feature matrix. Same one-hop rule as everything above.

  /** MinHash→LSH near-dup pairs ([[graft.operators.Dedup.minhashPairs]]):
    * (id_a, id_b, jaccard ≥ threshold), banded candidates only.
    */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
                   shingleK: Int, numPerms: Int, numBands: Int,
                   threshold: Double, seed: Long): DataFrame =
    graft.operators.Dedup.minhashPairs(df, idCol, textCol, shingleK,
      numPerms, numBands, threshold, seed)

  /** Exact cosine top-k ([[graft.operators.Ann.bruteForceTopK]]). */
  def knnBruteForce(corpus: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, k: Int): DataFrame =
    graft.operators.Ann.bruteForceTopK(corpus, queries, idCol, vecCol, k)

  /** Cross-corpus sentence dedup with document reconstruction
    * ([[graft.operators.Dedup.sentenceDedup]]).
    */
  def sentenceDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    graft.operators.Dedup.sentenceDedup(df, idCol, textCol)

  /** URL-canonicalizing keep-first dedup ([[graft.operators.Urls.dedupByUrl]]). */
  def dedupByUrl(docs: DataFrame, idCol: String, urlCol: String): DataFrame =
    graft.operators.Urls.dedupByUrl(docs, idCol, urlCol)

  /** Per-series tsfresh-style feature matrix
    * ([[graft.operators.TsFeatures.extract]]).
    */
  def tsFeatures(df: DataFrame, seriesKey: String, timeCol: String,
                 valueCol: String): DataFrame =
    graft.operators.TsFeatures.extract(df, seriesKey, Seq(timeCol), valueCol)

  /** VersionedV2 retention vacuum ([[graft.sources.VersionedV2.vacuum]])
    * as a py4j-friendly map.
    */
  def vacuumVersioned(path: String, keepVersions: Int,
                      reclaimDeadClaims: Boolean): ju.Map[String, Long] = {
    val r = graft.sources.VersionedV2.vacuum(path, keepVersions,
      reclaimDeadClaims)
    Map("deleted_versions" -> r.deletedVersions.toLong,
      "deleted_files" -> r.deletedFiles.toLong,
      "reclaimed_claims" -> r.reclaimedClaims.toLong,
      "retained_files" -> r.retainedFiles.toLong).asJava
  }

  /** Current committed version of a VersionedV2 table (0 = empty). */
  def versionedLatest(path: String): Int =
    graft.sources.VersionedV2.latestVersion(path)

  /** Row-level copy-on-write DELETE by explicit id list — the GDPR
    * erasure shape ([[graft.sources.VersionedV2.delete]]; a Scala
    * caller can pass any predicate, py4j gets the concrete id set).
    */
  def deleteVersionedIds(path: String,
                         ids: ju.List[java.lang.Number]): ju.Map[String, Long] = {
    val set = ids.asScala.map(_.longValue()).toSet
    val r = graft.sources.VersionedV2.delete(path, set.contains)
    Map("version" -> r.version.toLong,
      "rewritten_files" -> r.rewrittenFiles.toLong,
      "carried_files" -> r.carriedFiles.toLong,
      "deleted_rows" -> r.deletedRows,
      "kept_rows" -> r.keptRows).asJava
  }

  /** ADD-COLUMN schema evolution
    * ([[graft.sources.VersionedV2.evolveSchema]]); returns the
    * metadata-only version it published.
    */
  def evolveVersioned(path: String, name: String, typeName: String): Int =
    graft.sources.VersionedV2.evolveSchema(path, name, typeName)

  /** Connected components over a pair table
    * ([[graft.operators.Dedup.connectedComponents]]) — the cluster
    * step after any pair generator: (id, component min-id).
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int): DataFrame =
    graft.operators.Dedup.connectedComponents(pairs, maxIter)

  /** PII scan ([[graft.operators.Pii.scan]]): per-document match
    * counts by category plus the redacted text.
    */
  def piiScan(df: DataFrame, textCol: String): DataFrame =
    graft.operators.Pii.scan(df, textCol)

  /** IVF ANN top-k ([[graft.operators.Ann.ivfTopK]]): md5-sampled
    * coarse cells, nProbe cells scored per query.
    */
  def knnIvf(corpus: DataFrame, queries: DataFrame, idCol: String,
             vecCol: String, k: Int, nCells: Int, nProbe: Int): DataFrame =
    graft.operators.Ann.ivfTopK(corpus, queries, idCol, vecCol, k,
      nCells, nProbe)

  /** Reference `extract_ts_features(data, y, time, column_id)`
    * (preprocessor.py:558-638): per-series tsfresh-style matrix
    * filtered to the BH-relevant features, all features when none
    * survive.
    */
  def extractTsFeatures(df: DataFrame, labels: DataFrame, columnId: String,
                        timeCol: String, valueCol: String,
                        labelCol: String, alpha: Double): DataFrame =
    Preprocessor.extractTsFeatures(df, labels, columnId, timeCol, valueCol,
      labelCol, alpha)

  // ---- r16 additions (VERDICT r15 #8: expose the r15/r16 operators)

  /** Corpus-adaptive LSH embedding near-dup pairs: (tables, bits)
    * from [[graft.operators.Ann.autoLshParams]] — the linear-at-any-
    * corpus-size configuration — then the bucketed pair generation of
    * [[graft.operators.Ann.lshCosinePairs]].
    */
  def embeddingPairsAuto(df: DataFrame, idCol: String, vecCol: String,
                         threshold: Double, simGrade: Double): DataFrame = {
    val (tables, bits) = graft.operators.Ann.autoLshParams(
      df.count(), simGrade = simGrade)
    graft.operators.Ann.lshCosinePairs(df, idCol, vecCol,
      threshold = threshold, tables = tables, bits = bits)
  }

  /** Corpus-adaptive shard-graph ANN top-k: nShards from
    * [[graft.operators.Ann.autoShards]] (linear build), optional
    * serving-time routing to the best `routeShards` shards per query
    * (0 = search all shards — see `knn_hnsw_routed`'s recall report
    * for the trade).
    */
  def knnHnswAuto(corpus: DataFrame, queries: DataFrame, idCol: String,
                  vecCol: String, k: Int, routeShards: Int): DataFrame = {
    val nShards = graft.operators.Ann.autoShards(corpus.count())
    val edges = graft.operators.Ann.hnswBuild(corpus, idCol, vecCol,
      m = 8, degreeCap = 16, nShards = nShards, levelMod = 8)
    graft.operators.Ann.hnswSearch(corpus, queries, edges, idCol, vecCol,
      k, beamWidth = 16, hops1 = 2, hops0 = 6,
      nEntry = math.max(16, 4 * nShards), nShards = nShards,
      routeShards = routeShards)
  }

  /** ADF with AIC lag selection at maxLag 1 plus the MacKinnon
    * regression-surface p-value: (key, adf_stat, adf_p, adf_lag,
    * adf_nobs) — [[graft.operators.TsFeatures.adfAutolagDistributed]].
    */
  def adfAutolag(df: DataFrame, seriesKey: String, timeCol: String,
                 valueCol: String): DataFrame =
    graft.operators.TsFeatures.adfAutolagDistributed(
      df, seriesKey, Seq(timeCol), valueCol)

  /** Motif/discord locations over the banded matrix profile:
    * (key, motif_idx, motif_dist, discord_idx, discord_dist).
    */
  def matrixProfileMotif(df: DataFrame, seriesKey: String, timeCol: String,
                         valueCol: String, window: Int, band: Int): DataFrame =
    graft.operators.TsFeatures.matrixProfileIndices(
      df, seriesKey, Seq(timeCol), valueCol, window, band)

  /** FLUSS regime segmentation over the banded matrix profile:
    * (key, regime_idx, cac_min, n_win).
    */
  def matrixProfileFluss(df: DataFrame, seriesKey: String, timeCol: String,
                         valueCol: String, window: Int, band: Int): DataFrame =
    graft.operators.TsFeatures.matrixProfileFluss(
      df, seriesKey, Seq(timeCol), valueCol, window, band)
}
