package graft.prep

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Fitted state for one categorical column.
  * @param keep       labels with share >= threshold (the bounded set!)
  * @param hasRare    whether any label fell below the threshold ("other" exists)
  * @param hasNone    whether nulls/empties were seen ("None" exists)
  * @param categories post-shrink one-hot registry, sorted — the dummy
  *                   column order (categorical_transformer.py:15-18)
  */
final case class CatColModel(
    keep: Seq[String],
    hasRare: Boolean,
    hasNone: Boolean,
    /** Serialized bloom filter over ALL fit-time labels (built only
      * when strict unseen-label checking is requested): bounded bytes
      * regardless of the rare tail's cardinality; no false negatives
      * for inserted labels, so fit-time labels never false-raise.
      */
    bloom: Option[Array[Byte]] = None,
) {
  def categories: Seq[String] =
    (keep ++ (if (hasRare) Seq("other") else Nil) ++ (if (hasNone) Seq("None") else Nil))
      .distinct.sorted
}

/** Categorical feature handling (reference: utils/categorical_transformer.py
  * + preprocessor.py:_shrink_labels).
  *
  * Scale design: fit collects only the KEEP set — labels at share >=
  * threshold, hence at most 1/threshold of them (<=50 at the default
  * 2%) — never the rare tail, which at 100 TB could be billions of
  * distinct strings. Shrink is then `isin(keep)` against a broadcast
  * literal set; one-hot is a when-chain over the bounded registry.
  * Everything stays in whole-stage codegen.
  */
object CategoricalTransformer {

  /** ""/" " -> null -> "None" (preprocessor.py:246-252). */
  def cleanNulls(c: Column): Column =
    when(c.isNull || c === "" || c === " ", lit("None")).otherwise(c)

  /** Labels below threshold -> "other" (only when >2 distinct labels,
    * preprocessor.py:313-316). Keep-set formulation: anything not in
    * the bounded keep set shrinks.
    */
  def shrink(c: Column, m: CatColModel): Column =
    if (!m.hasRare) cleanNulls(c)
    else {
      val cleaned = cleanNulls(c)
      when(cleaned.isin((m.keep :+ "None"): _*), cleaned).otherwise(lit("other"))
    }

  /** Value counts for ALL categorical columns in one shuffle:
    * explode a colName->value map, then a single groupBy. Returns
    * (feature, value, cnt). At any SF this is one pass + one shuffle
    * whose key space is bounded per column by its cardinality.
    */
  def valueCounts(df: DataFrame, cols: Seq[String]): DataFrame = {
    val kvs = cols.flatMap(c => Seq(lit(c), col(c).cast("string")))
    df.select(explode(map(kvs: _*)).as(Seq("feature", "value")))
      .groupBy("feature", "value").agg(count(lit(1)).as("cnt"))
  }

  /** Fit rare-label models for all columns. Job plan: ONE
    * [[countStats]] aggregate (three jobs under AQE; the bloom filters
    * ride in it when `buildBloom`) and no row-count job: the aggregate
    * counts the rows itself. Only labels at share >= threshold are ever
    * collected.
    */
  def fit(
      df: DataFrame,
      cols: Seq[String],
      threshold: Double,
      maxCategories: Int = 1024,
      buildBloom: Boolean = false,
      bloomItems: Long = 1000000L,
      bloomBits: Long = 8388608L,
  ): Map[String, CatColModel] =
    if (cols.isEmpty) Map.empty
    else {
      val stats = countStats(df, cols, threshold, buildBloom, bloomItems, bloomBits)
      cols.map(c => c -> model(c, stats.get(c), maxCategories)).toMap
    }

  /** What one column's value counts tell the fit: distinct labels
    * (null and "" count as labels), the top label's count, labels
    * below the threshold, None rows, the sorted keep set, and the bloom
    * filter over every non-None label when one was asked for.
    */
  private[prep] final case class CatStats(nDistinct: Long, maxCnt: Long, nRare: Long, nNone: Long,
                                          keep: Seq[String], bloom: Option[Array[Byte]])

  /** ONE per-feature aggregate over [[valueCounts]] for all `cols` (two
    * shuffles, one collect, no cache): every [[CatStats]] field, the
    * keep set as a filtered `collect_list` and the bloom filter as a
    * filtered aggregate. A label is rare when its count is below
    * `threshold` × the row count. The row count is computed in the same
    * pass, as the per-feature window sum of the (feature, value) counts:
    * every input row adds one entry per feature. Unlike a partial
    * aggregate, that window shuffles all of a feature's count rows,
    * O(distinct labels) of them, into the feature's final task. Columns
    * with no rows are absent from the result.
    */
  private[prep] def countStats(
      df: DataFrame,
      cols: Seq[String],
      threshold: Double,
      buildBloom: Boolean = false,
      bloomItems: Long = 1000000L,
      bloomBits: Long = 8388608L,
  ): Map[String, CatStats] =
    if (cols.isEmpty) Map.empty
    else {
      val value = col("value")
      val total = sum(col("cnt")).over(Window.partitionBy("feature")).cast("double")
      val rare = col("cnt") < lit(threshold) * col("total")
      val isNone = value.isNull || value === "" || value === " "
      val aggs = Seq(
        count(lit(1)),
        max(col("cnt")),
        sum(when(rare, 1L).otherwise(0L)),
        sum(when(isNone, col("cnt")).otherwise(0L)),
        collect_list(when(!rare, value)),
      ) ++ (if (!buildBloom) Nil else Seq(org.apache.spark.sql.graft.ColumnBridge
        .bloomFilterAgg(when(!isNone, value), bloomItems, bloomBits)))
      valueCounts(df, cols).withColumn("total", total)
        .groupBy("feature").agg(aggs.head, aggs.tail: _*).collect()
        .map { r =>
          r.getString(0) -> CatStats(r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
            r.getSeq[String](5).filter(v => v.nonEmpty && v != " ").sorted,
            if (buildBloom) Option(r.getAs[Array[Byte]](6)) else None)
        }.toMap
    }

  /** The fitted model of one column from its [[CatStats]] (absent:
    * no rows), guarded by `maxCategories`. Rare labels shrink only
    * when the column has more than 2 distinct labels.
    */
  private[prep] def model(c: String, stats: Option[CatStats], maxCategories: Int): CatColModel = {
    val s = stats.getOrElse(CatStats(0L, 0L, 0L, 0L, Nil, None))
    require(s.keep.size <= maxCategories,
      s"column $c keeps ${s.keep.size} categories > maxCategories=$maxCategories")
    CatColModel(s.keep, hasRare = s.nRare > 0 && s.nDistinct > 2, hasNone = s.nNone > 0,
      bloom = s.bloom)
  }

  /** Dummy columns `col_value` over the fit-time registry; unseen
    * labels get all-zeros (categorical_transformer.py:53-68,
    * unseen_labels="ignore").
    */
  def oneHot(colName: String, m: CatColModel): Seq[Column] = {
    val c = shrink(col(colName), m)
    m.categories.map(v => when(c === lit(v), 1).otherwise(0).as(s"${colName}_$v"))
  }

  /** `unseen_labels="error"` (preprocessor.py:73-75): like [[oneHot]],
    * but a label never seen at fit fails the job via in-plan
    * `raise_error` — no extra validation pass. "Seen" is the fit-time
    * bloom filter (covers the rare tail the bounded keep set cannot),
    * so fit-time rare labels do NOT raise even though they encode as
    * "other"/all-zeros. The guard rides on EVERY dummy so column
    * pruning cannot silently drop the check.
    */
  def oneHotStrict(colName: String, m: CatColModel): Seq[Column] = {
    val raw = col(colName)
    val isNone = raw.isNull || raw === "" || raw === " "
    val unseen = m.bloom match {
      case Some(bytes) =>
        (isNone && lit(!m.hasNone)) ||
          (!isNone && !org.apache.spark.sql.graft.ColumnBridge.bloomMightContain(bytes, raw))
      case None =>
        // without the bloom the rare tail is unknowable, so a keep-set
        // test would raise on labels legitimately SEEN at fit —
        // violating the reference's unseen_labels="error" contract
        // (fit-time labels never error). Fail at wiring time instead:
        // fit with buildBloom=true (Preprocessor does when
        // unseenLabels == "error").
        throw new IllegalStateException(
          s"oneHotStrict($colName) requires the fit-time bloom filter: " +
            """fit with buildBloom=true (unseenLabels="error") so """ +
            "fit-time rare labels never raise")
    }
    oneHot(colName, m).zip(m.categories).map { case (dummy, cat) =>
      when(unseen, raise_error(concat(
        lit(s"unseen label in $colName: "), coalesce(raw, lit("null")))).cast("int"))
        .otherwise(dummy).as(s"${colName}_$cat")
    }
  }

  /** Reconstruct the category from its dummy columns
    * (categorical_transformer.py:72-118): the last dummy equal to 1
    * wins, matching the reference's fold.
    */
  def inverseOneHot(colName: String, m: CatColModel): Column =
    m.categories.foldLeft(lit(null).cast("string")) { (acc, v) =>
      when(col(s"${colName}_$v") === 1, lit(v)).otherwise(acc)
    }.as(colName)

  /** "None" sentinel back to null (preprocessor.py:540-547). */
  def noneToNull(c: Column): Column =
    when(c === "None", lit(null)).otherwise(c)

  /** Smoothed target-mean encoding: category -> (n*catMean +
    * k*globalMean)/(n + k). Fit is ONE aggregation collecting a
    * bounded category->double map; transform is a literal-map lookup
    * (broadcast inside the expression, no join). Unseen categories
    * fall back to the global mean.
    */
  final case class TargetMeanModel(means: Map[String, Double], globalMean: Double) {
    def encode(c: Column): Column = {
      val m = map(means.toSeq.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
      coalesce(element_at(m, c.cast("string")), lit(globalMean))
    }
  }

  /** Frequency encoding: category → its relative frequency in the fit
    * data (count/total). Unseen categories — and null categories, which
    * are excluded from the frequency map but counted in the total —
    * encode 0 at transform time. Same bounded-collect/literal-map shape
    * as the other encoders — no join at transform.
    */
  final case class FrequencyModel(freqs: Map[String, Double]) {
    def encode(c: Column): Column = {
      val m = map(freqs.toSeq.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
      coalesce(element_at(m, c.cast("string")), lit(0.0))
    }
  }

  def fitFrequencyEncoder(df: DataFrame, catCol: String,
                          maxCategories: Int = 1024): FrequencyModel = {
    val rows = df.groupBy(col(catCol).cast("string").as("k"))
      .agg(count(lit(1)).as("n"))
      .limit(maxCategories + 1).collect()
    require(rows.length <= maxCategories,
      s"column $catCol exceeds maxCategories=$maxCategories")
    val total = rows.map(_.getLong(1)).sum.toDouble
    FrequencyModel(rows.filter(!_.isNullAt(0))
      .map(r => r.getString(0) -> r.getLong(1) / total).toMap)
  }

  def fitTargetMeanEncoder(
      df: DataFrame, catCol: String, targetCol: String,
      smoothing: Double = 10.0, maxCategories: Int = 1024): TargetMeanModel = {
    val rows = df.groupBy(col(catCol).cast("string").as("k"))
      .agg(avg(col(targetCol)).as("m"), count(col(targetCol)).as("n"))
      .limit(maxCategories + 1).collect()
    require(rows.length <= maxCategories,
      s"column $catCol exceeds maxCategories=$maxCategories")
    val gRow = df.agg(avg(col(targetCol))).head()
    val g = if (gRow.isNullAt(0)) 0.0 else gRow.getDouble(0)
    val means = rows.filter(!_.isNullAt(0)).map { r =>
      val (m, n) = (r.getDouble(1), r.getLong(2))
      r.getString(0) -> (n * m + smoothing * g) / (n + smoothing)
    }.toMap
    TargetMeanModel(means, g)
  }

  /** sklearn-LabelEncoder analog: sorted distinct -> 0..k-1
    * (preprocessor.py:184-188). Bounded distinct collect; the mapping
    * rides into the plan as a literal map (no join).
    */
  def fitLabelEncoder(df: DataFrame, colName: String, maxCategories: Int = 100000): Seq[String] = {
    val classes = df.select(col(colName).cast("string")).na.drop()
      .distinct().limit(maxCategories + 1).collect().map(_.getString(0)).sorted.toSeq
    require(classes.size <= maxCategories,
      s"label column $colName exceeds maxCategories=$maxCategories")
    classes
  }

  def labelEncode(c: Column, classes: Seq[String]): Column = {
    val m = map(classes.zipWithIndex.flatMap { case (v, i) => Seq(lit(v), lit(i)) }: _*)
    element_at(m, c)
  }

  def labelDecode(c: Column, classes: Seq[String]): Column = {
    val m = map(classes.zipWithIndex.flatMap { case (v, i) => Seq(lit(i), lit(v)) }: _*)
    element_at(m, c.cast("int"))
  }
}
