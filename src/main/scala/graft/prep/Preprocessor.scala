package graft.prep

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Scaling strategies (reference: preprocessor.py SCALING_STRATEGIES). */
sealed trait Scaling
object Scaling {
  case object None_       extends Scaling
  case object Normalize   extends Scaling
  case object Standardize extends Scaling
  /** sklearn QuantileTransformer(output_distribution="normal") analog
    * (numerical_transformer.py:39); `nQuantiles` bounds the fitted grid.
    */
  final case class Quantile(nQuantiles: Int = 101, normal: Boolean = true) extends Scaling
  final case class KBins(nBins: Int) extends Scaling
}

sealed trait MlTask
object MlTask {
  case object Classification extends MlTask
  case object Regression     extends MlTask
}

/** Fit/transform configuration (reference: preprocessor.py:109-162
  * `Preprocessor.__init__` parameters).
  *
  * `seriesKey`/`timeId` drive the order-dependent fill strategies
  * (forward/backward/interpolate, [[NumericalTransformer.OrderedFills]]):
  * `orderedFill` needs `timeId` to order each series, and `fit` rejects
  * it without one. The window should be partitioned by `seriesKey` —
  * one hash shuffle, per-series sort — never a global single-partition
  * sort (SURVEY §4).
  */
final case class PrepConfig(
    catLabelsThreshold: Double = 0.02,
    excludedCols: Seq[String] = Nil,
    timeId: Option[String] = None,
    seriesKey: Option[String] = None,
    /** Columns whose null share EXCEEDS this are dropped. The
      * reference validates the parameter but never applies it
      * (preprocessor.py:126-127); graft applies the documented
      * semantics. Default 0.999 keeps everything but all-null columns.
      */
    missingValuesThreshold: Double = 0.999,
    scaling: Scaling = Scaling.None_,
    numFillNull: FillStrategy = FillStrategy.Mean,
    orderedFill: Option[String] = None, // "forward" | "backward" | "interpolate"; needs timeId
    mlTask: Option[MlTask] = None,
    targetColumn: Option[String] = None,
    maxCategories: Int = 1024,
    /** Quantile-boundary fit path: `Exact` below scale (matches the
      * sort-based oracle bit-for-bit), [[QuantileFitMode.Sketch]] as
      * the documented 100 TB default (mergeable, bounded-state, and
      * still oracle-replayable — see [[QuantileFitMode]]).
      */
    quantileFit: QuantileFitMode = QuantileFitMode.Exact,
    /** "ignore": unseen labels one-hot to all zeros; "error": the job
      * fails on an unseen label (preprocessor.py unseen_labels).
      */
    unseenLabels: String = "ignore",
)

/** The fitted preprocessing model: a handful of driver-side doubles,
  * bounded category registries, and per-column scalers. `transform`
  * and `inverseTransform` are each ONE `select` of pure column
  * expressions — narrow, whole-stage-codegen, zero shuffle — except
  * that `transform` takes ONE per-series window (one hash shuffle on
  * `seriesKey`, O(n) sorted scans) when an ordered fill is configured
  * or there are two or more datetime features. A single datetime
  * feature is interpolated in its own order, which changes no value,
  * so it takes no window. `inverseTransform` never windows; over a
  * transform output it inherits that output's plan.
  */
final class PrepModel(
    val config: PrepConfig,
    val schema: StructType,
    val numericalFeatures: Seq[String],
    val categoricalFeatures: Seq[String],
    val datetimeFeatures: Seq[String],
    val booleanFeatures: Seq[String],
    val dropped: Map[String, String],
    val catModels: Map[String, CatColModel],
    val numStats: Map[String, NumColStats],
    val scalers: Map[String, Scaler],        // numerical + datetime epoch
    val datetimeFormats: Map[String, String], // string cols parsed at fit
    val targetClasses: Option[Seq[String]],
    val targetRange: Option[(Double, Double)],
) {
  import Preprocessor._

  private def originalOrder(cols: Seq[String]): Seq[String] =
    schema.fieldNames.toSeq.filter(cols.contains)

  /** Kept non-categorical columns (schema order), matching the
    * reference's `num_cols + encoded` output layout
    * (categorical_transformer.py:45,70).
    */
  private def keptPlain: Seq[String] =
    schema.fieldNames.toSeq.filterNot(dropped.contains)
      .filterNot(categoricalFeatures.contains)

  private def numExpr(c: String): Column = {
    val cleaned = NumericalTransformer.replaceInf(col(c).cast(DoubleType))
    val filled  = fillExpr(cleaned, c)
    scalers.get(c).map(_.transform(filled)).getOrElse(filled)
  }

  private def fillExpr(cleaned: Column, c: String): Column =
    config.orderedFill match {
      case Some(kind) =>
        NumericalTransformer.OrderedFills(kind)(cleaned, NumericalTransformer.seriesWindow(
          config.seriesKey.toSeq.map(col), config.timeId.toSeq.map(col)))
      case None =>
        (config.numFillNull, config.scaling) match {
          // reference sentinel behavior for fill="none"
          // (numerical_transformer.py:80-96): normalize/quantile use
          // min-0.01, standardize uses mean-3*std-0.01.
          case (FillStrategy.None_, Scaling.Normalize | _: Scaling.Quantile) =>
            coalesce(cleaned, lit(numStats(c).min - 0.01))
          case (FillStrategy.None_, Scaling.Standardize) =>
            coalesce(cleaned, lit(numStats(c).mean - 3 * numStats(c).std - 0.01))
          case (FillStrategy.None_, _) => cleaned
          case (st, _) => NumericalTransformer.fill(cleaned, st, numStats(c))
        }
    }

  private def rawEpoch(c: String): Column = DatetimeTransformer.epoch(c, datetimeFormats.get(c))

  private def datetimeExpr(c: String): Column = {
    // Null interpolation after epoch conversion, rows ordered by the
    // FIRST datetime feature (reference: datetime_transformer.py:99-101
    // sorts by datetime_features[0], then `.interpolate()` each column).
    // The first feature interpolated in its own order is itself (the
    // identity rule), so only the second and later ones take a window.
    // It partitions by seriesKey when configured — REQUIRED at scale;
    // without one it is a single global sorted partition, matching the
    // reference's single-node semantics.
    val epoch = rawEpoch(c)
    val w = NumericalTransformer.seriesWindow(
      config.seriesKey.toSeq.map(col),
      Seq(rawEpoch(originalOrder(datetimeFeatures).head)))
    val interp = NumericalTransformer.interpolate(epoch, w)
    scalers.get(c).map(_.transform(interp)).getOrElse(interp)
  }

  /** Transform: datetime -> scaled epoch; numerical -> inf-clean, fill,
    * scale; boolean -> int; categorical -> shrink + one-hot dummies.
    * Output layout: kept non-categorical columns in schema order, then
    * dummy blocks per categorical column (reference transform output).
    */
  def transform(df: DataFrame): DataFrame = {
    val plain = keptPlain.map {
      case c if config.excludedCols.contains(c) && !config.targetColumn.contains(c) =>
        col(c)
      case c if config.targetColumn.contains(c) => targetExpr(c)
      case c if datetimeFeatures.contains(c)    => datetimeExpr(c).as(c)
      case c if numericalFeatures.contains(c)   => numExpr(c).as(c)
      case c if booleanFeatures.contains(c)     => col(c).cast(IntegerType).as(c)
      case c                                    => col(c)
    }
    val dummies = originalOrder(categoricalFeatures).flatMap { c =>
      if (config.unseenLabels == "error") CategoricalTransformer.oneHotStrict(c, catModels(c))
      else CategoricalTransformer.oneHot(c, catModels(c))
    }
    df.select(plain ++ dummies: _*)
  }

  private def targetExpr(c: String): Column = (config.mlTask, targetClasses, targetRange) match {
    case (Some(MlTask.Classification), Some(classes), _) =>
      CategoricalTransformer.labelEncode(col(c).cast(StringType), classes).as(c)
    case (Some(MlTask.Regression), _, Some((lo, hi))) =>
      ((col(c) - lit(lo)) / lit(hi - lo)).as(c)
    case _ => col(c)
  }

  private def targetInverse(c: String): Column = (config.mlTask, targetClasses, targetRange) match {
    case (Some(MlTask.Classification), Some(classes), _) =>
      CategoricalTransformer.labelDecode(col(c), classes).as(c)
    case (Some(MlTask.Regression), _, Some((lo, hi))) =>
      (col(c) * lit(hi - lo) + lit(lo)).as(c)
    case _ => col(c)
  }

  /** Inverse: unscale numerics/datetime, reconstruct categoricals from
    * dummies (argmax), "None"->null, cast back to the original schema
    * (preprocessor.py:464-556). Dropped columns are gone, as in the
    * reference.
    */
  def inverseTransform(df: DataFrame): DataFrame = {
    val outCols = schema.fields.toSeq
      .filterNot(f => dropped.contains(f.name))
      .map { f =>
        val c = f.name
        val expr: Column =
          if (config.excludedCols.contains(c) && !config.targetColumn.contains(c)) col(c)
          else if (config.targetColumn.contains(c)) targetInverse(c)
          else if (datetimeFeatures.contains(c)) {
            val epoch = scalers.get(c).map(_.inverse(col(c))).getOrElse(col(c))
            datetimeFormats.get(c) match {
              case Some(fmt) => DatetimeTransformer.formatBack(epoch, fmt)
              case None      => DatetimeTransformer.fromEpochSeconds(epoch)
            }
          } else if (numericalFeatures.contains(c)) {
            val unscaled = scalers.get(c).map(_.inverse(col(c))).getOrElse(col(c))
            sentinelToNull(unscaled, c)
          } else if (booleanFeatures.contains(c)) col(c).cast(BooleanType)
          else if (categoricalFeatures.contains(c))
            CategoricalTransformer.noneToNull(
              CategoricalTransformer.inverseOneHot(c, catModels(c)))
          else col(c)
        // float -> integral casts truncate; round first so 13.999999…
        // (inverse-scaling noise) restores as 14, not 13
        val casted = f.dataType match {
          case ByteType | ShortType | IntegerType | LongType =>
            round(expr.cast(DoubleType)).cast(f.dataType)
          case dt => expr.cast(dt)
        }
        casted.as(c)
      }
    df.select(outCols: _*)
  }

  /** fill="none" sentinel back to null (numerical_transformer.py:241-269). */
  private def sentinelToNull(unscaled: Column, c: String): Column =
    (config.numFillNull, config.scaling) match {
      // 1e-6 slack: scale∘unscale float noise must not hide the sentinel
      case (FillStrategy.None_, Scaling.Normalize | _: Scaling.Quantile) =>
        when(unscaled <= lit(numStats(c).min - 0.01 + 1e-6), lit(null)).otherwise(unscaled)
      case (FillStrategy.None_, Scaling.Standardize) =>
        when(unscaled <= lit(numStats(c).mean - 3 * numStats(c).std - 0.01 + 1e-6), lit(null))
          .otherwise(unscaled)
      case _ => unscaled
    }

  /** (numerical sizes, per-categorical dummy counts)
    * (preprocessor.py:640-659 `get_features_sizes`).
    */
  def getFeaturesSizes: (Seq[Int], Seq[Int]) = {
    val numSizes = if (numericalFeatures.nonEmpty) Seq(numericalFeatures.size) else Nil
    val catSizes = originalOrder(categoricalFeatures).map(c => catModels(c).categories.size)
    (numSizes, catSizes)
  }

  def getNumericalFeatures: Seq[String]   = numericalFeatures
  def getCategoricalFeatures: Seq[String] = categoricalFeatures
  def encodedColumns: Seq[String] =
    keptPlain ++ originalOrder(categoricalFeatures).flatMap(c =>
      catModels(c).categories.map(v => s"${c}_$v"))
}

/** Orchestrator (reference: preprocessor.py `Preprocessor`): fit infers
  * feature types, detects string datetimes, runs feature selection,
  * fits numerical stats + scalers + bounded category registries and the
  * optional target encoder — two full scans regardless of column count
  * (plus the Sketch and label-encoder passes when configured), each
  * collecting O(columns) driver state. No unbounded collects.
  */
object Preprocessor {

  /** Reference: preprocessor.py:558-638 `extract_ts_features(data, y,
    * time, column_id)` — extract the tsfresh-style feature matrix per
    * series, keep the features significantly associated with `y`
    * (per-feature test + Benjamini–Hochberg inside
    * [[graft.operators.TsFeatures.featureRelevance]]), and fall back to
    * ALL features when none survive (the reference's extract_features
    * fallback). Returns the filtered per-series feature matrix, series
    * key first.
    *
    * `labels` must carry (columnId, labelCol) one row per series.
    */
  def extractTsFeatures(df: DataFrame, labels: DataFrame, columnId: String,
                        timeCol: String, valueCol: String,
                        labelCol: String = "y", alpha: Double = 0.05): DataFrame = {
    // per-series matrix: tiny rows, expensive plan — materialize once
    // for the relevance pass AND the final projection
    val feats = graft.operators.TsFeatures
      .extract(df, columnId, Seq(timeCol), valueCol)
      .localCheckpoint(eager = false)
    val rel = graft.operators.TsFeatures
      .featureRelevance(feats, labels, columnId, labelCol, alpha)
    val kept = rel.where(org.apache.spark.sql.functions.col("kept"))
      .select("feature").collect().map(_.getString(0)).toSeq
    val ordered = feats.columns.filter(c => c != columnId && kept.contains(c)).toSeq
    feats.select((columnId +: ordered).map(org.apache.spark.sql.functions.col): _*)
  }

  /** Fits the model. The job plan, fixed by the schema:
    *   1. one shuffle-free probe per string column
    *      ([[DatetimeTransformer.detectFormat]], a top-level limit);
    *   2. one global stats aggregate over all features
    *      ([[NumericalTransformer.scan]]; two jobs under AQE);
    *   3. one value-count aggregate over the categorical columns
    *      ([[CategoricalTransformer.countStats]]; three jobs under AQE,
    *      none without categorical columns), which also builds the bloom
    *      filters when `unseenLabels = "error"`;
    *   4. only when configured: the Sketch bucket-count job
    *      (`quantileFit = Sketch` with Quantile/KBins scaling) and the
    *      label-encoder distinct (Classification target).
    * Otherwise steps 2 and 3 are the only full scans; the model is a
    * handful of doubles, the bounded keep sets and the blooms.
    */
  def fit(df: DataFrame, config: PrepConfig = PrepConfig()): PrepModel = {
    require(config.catLabelsThreshold >= 0 && config.catLabelsThreshold <= 1,
      "Invalid value for cat_labels_threshold")
    require(config.missingValuesThreshold >= 0 && config.missingValuesThreshold <= 1,
      "Invalid value for missing_values_threshold")
    require(Set("ignore", "error").contains(config.unseenLabels),
      "Invalid value for unseen_labels (expected \"ignore\" or \"error\")")
    config.targetColumn.foreach(t => require(df.columns.contains(t),
      "The target column is not present in the dataset"))
    config.excludedCols.foreach(c => require(df.columns.contains(c),
      s"The excluded column $c is not present in the dataset"))
    config.orderedFill.foreach { kind =>
      require(NumericalTransformer.OrderedFills.contains(kind),
        s"Invalid value for orderedFill: $kind (expected one of " +
          NumericalTransformer.OrderedFills.keys.toSeq.sorted.mkString(", ") + ")")
      require(config.timeId.exists(df.columns.contains),
        s"orderedFill = $kind needs a timeId column of the dataset to order the rows by")
    }

    val schema = df.schema
    // target column is excluded from feature processing (preprocessor.py:168-169)
    val excluded = (config.excludedCols ++ config.targetColumn).toSet

    val types = FeatureTypes.infer(schema, excluded).toMap
    var numerical   = schema.fieldNames.toSeq.filter(c => types.get(c).contains(FeatureTypes.Numerical))
    var categorical = schema.fieldNames.toSeq.filter(c => types.get(c).contains(FeatureTypes.Categorical))
    var datetime    = schema.fieldNames.toSeq.filter(c => types.get(c).contains(FeatureTypes.Datetime))
    val boolean     = schema.fieldNames.toSeq.filter(c => types.get(c).contains(FeatureTypes.Boolean_))

    // 1. Probes: string columns that parse as datetimes move over
    // (datetime_transformer.py:57-80) — one shuffle-free job each.
    val datetimeFormats = categorical.flatMap { c =>
      DatetimeTransformer.detectFormat(df, c).map(c -> _)
    }.toMap
    categorical = categorical.filterNot(datetimeFormats.contains)
    datetime = datetime ++ datetimeFormats.keys.toSeq.sorted

    // 2. ONE global aggregate: row count, per-feature non-null counts
    // (missing-share drop), stats of every numerical and datetime-epoch
    // column (scaling + the selector's single-value check) and the
    // regression target's range. Stats of columns dropped below are
    // computed and discarded: each aggregate reads one column only.
    val quantileProbs = config.scaling match {
      case Scaling.Quantile(n, _) => (0 until n).map(i => i.toDouble / (n - 1))
      case Scaling.KBins(n)       => (1 until n).map(i => i.toDouble / n)
      case _                      => Nil
    }
    val featureCols = numerical ++ categorical ++ datetime ++ boolean
    val statInputs = numerical.map(c => c -> col(c)) ++
      datetime.map(c => c -> DatetimeTransformer.epoch(c, datetimeFormats.get(c)))
    val regressionTarget = config.targetColumn.filter(_ => config.mlTask.contains(MlTask.Regression))
    val scan = NumericalTransformer.scan(df, featureCols, statInputs, quantileProbs,
      config.quantileFit, regressionTarget.toSeq.flatMap(t =>
        Seq(min(col(t)).cast(DoubleType), max(col(t)).cast(DoubleType))))
    val total = scan.total.toDouble
    val missingDropped: Map[String, String] =
      if (total == 0) Map.empty
      else featureCols.flatMap { c =>
        val nullShare = 1.0 - scan.nonNull(c) / total
        if (nullShare > config.missingValuesThreshold)
          Some(c -> f"missing share > ${config.missingValuesThreshold}")
        else None
      }.toMap
    numerical   = numerical.filterNot(missingDropped.contains)
    categorical = categorical.filterNot(missingDropped.contains)
    datetime    = datetime.filterNot(missingDropped.contains)
    val booleanKept = boolean.filterNot(missingDropped.contains)
    val keptInputs = statInputs.filterNot { case (c, _) => missingDropped.contains(c) }
    val numStats = NumericalTransformer.sketched(df,
      keptInputs.map { case (c, _) => c -> scan.stats(c) }.toMap, keptInputs,
      quantileProbs, config.quantileFit)

    // 3. ONE value-count aggregate for the categorical columns, then
    // the single-value, dominant and rare-label decisions.
    val selection = FeatureSelector.select(numerical, numStats, categorical,
      CategoricalTransformer.countStats(df, categorical, total, config.catLabelsThreshold,
        buildBloom = config.unseenLabels == "error"),
      total, config.maxCategories)
    numerical   = numerical.filterNot(selection.dropped.contains)
    categorical = categorical.filterNot(selection.dropped.contains)
    val statCols = numerical ++ datetime

    val scalers: Map[String, Scaler] = config.scaling match {
      case Scaling.None_ => Map.empty
      case Scaling.Normalize =>
        statCols.map(c => c -> MinMaxScaler(numStats(c).min, numStats(c).max)).toMap
      case Scaling.Standardize =>
        statCols.map(c => c -> StandardScaler(numStats(c).mean, numStats(c).std)).toMap
      case Scaling.Quantile(_, normal) =>
        // datetime columns scale min-max under quantile in the reference
        // (datetime_transformer.py:86-88)
        numerical.map(c => c -> QuantileGridScaler(numStats(c).quantiles.toIndexedSeq, normal)).toMap ++
          datetime.map(c => c -> MinMaxScaler(numStats(c).min, numStats(c).max)).toMap
      case Scaling.KBins(_) =>
        numerical.map(c => c -> KBinsScaler(numStats(c).quantiles)).toMap ++
          datetime.map(c => c -> MinMaxScaler(numStats(c).min, numStats(c).max)).toMap
    }

    // Target encoder (preprocessor.py:184-194).
    val (targetClasses, targetRange) = (config.mlTask, config.targetColumn) match {
      case (Some(MlTask.Classification), Some(t)) =>
        (Some(CategoricalTransformer.fitLabelEncoder(df, t)), None)
      case (Some(MlTask.Regression), Some(_)) =>
        (None, Some((scan.extra.getDouble(0), scan.extra.getDouble(1))))
      case _ => (None, None)
    }

    new PrepModel(config, schema, numerical, categorical, datetime, booleanKept,
      missingDropped ++ selection.dropped, selection.catModels, numStats, scalers,
      datetimeFormats, targetClasses, targetRange)
  }
}
