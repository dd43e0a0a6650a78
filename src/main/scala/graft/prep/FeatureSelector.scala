package graft.prep

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Feature selection (reference: preprocessor.py:260-339
  * `_feature_selection`):
  *   1. drop columns with a single distinct value (num + cat);
  *   2. drop categorical columns whose top label covers >= 98% of rows;
  *   3. rare labels (share < threshold) -> "other" (via
  *      [[CategoricalTransformer.shrink]]).
  *
  * Scale design: decisions come from two aggregates and nothing
  * unbounded is collected. Standalone `fit` runs one global aggregate
  * (row count + numerical min/max, [[NumericalTransformer.scan]]: two
  * jobs) and one value-count aggregate for all categorical columns
  * ([[CategoricalTransformer.countStats]]: three jobs, the bloom
  * filters riding along when asked for). `Preprocessor.fit` feeds
  * [[select]] from its own two passes instead.
  */
final case class SelectionModel(
    dropped: Map[String, String],            // column -> reason
    catModels: Map[String, CatColModel],     // post-drop shrink models
) {
  def keptOf(cols: Seq[String]): Seq[String] = cols.filterNot(dropped.contains)
}

object FeatureSelector {
  val DominantShare = 0.98

  def fit(
      df: DataFrame,
      numericalCols: Seq[String],
      categoricalCols: Seq[String],
      catLabelsThreshold: Double,
      maxCategories: Int = 1024,
      buildBloom: Boolean = false,
  ): SelectionModel = {
    val scan = NumericalTransformer.scan(df, Nil, numericalCols.map(c => c -> col(c)))
    val total = scan.total.toDouble
    select(numericalCols, scan.stats, categoricalCols,
      CategoricalTransformer.countStats(df, categoricalCols, total, catLabelsThreshold, buildBloom),
      total, maxCategories)
  }

  /** The drop decisions and the kept categorical columns' models from
    * the fit's aggregates: numerical single value = min == max (or all
    * null); categorical single value = at most one distinct label, then
    * dominant = the top label covers >= 98% of `total` rows.
    */
  private[prep] def select(
      numericalCols: Seq[String],
      numStats: Map[String, NumColStats],
      categoricalCols: Seq[String],
      catStats: Map[String, CategoricalTransformer.CatStats],
      total: Double,
      maxCategories: Int,
  ): SelectionModel = {
    val catDropped = categoricalCols.flatMap(c => catStats.get(c).collect {
      case s if s.nDistinct <= 1                => c -> "single value"
      case s if s.maxCnt >= total * DominantShare => c -> "dominant label >= 98%"
    })
    val numDropped = numericalCols.collect {
      case c if numStats(c).min.isNaN || numStats(c).min == numStats(c).max => c -> "single value"
    }
    val dropped = (catDropped ++ numDropped).toMap
    SelectionModel(dropped, categoricalCols.filterNot(dropped.contains).map(c =>
      c -> CategoricalTransformer.model(c, catStats.get(c), maxCategories)).toMap)
  }
}
