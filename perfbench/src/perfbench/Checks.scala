package perfbench

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.prep.PrepModel

/** Output checks. Each returns human-readable failures (empty = pass) and
  * is computed with plain Spark or driver code, never with the graft call
  * under test.
  */
object Checks {

  /** Numerics round-trip within this relative error (plus 1e-9 absolute, for zeros). */
  val RelTol = 1e-6

  private def near(out: Double, in: Double): Boolean =
    math.abs(out - in) <= RelTol * math.abs(in) + 1e-9

  /** Dummy-column blocks of the model's categorical features, in output order. */
  private def blocks(model: PrepModel): Seq[Seq[String]] =
    model.getCategoricalFeatures.map(c => model.catModels(c).categories.map(v => s"${c}_$v"))

  /** Spark-side prep checks over full frames: encoded column list, one-hot
    * blocks summing to 1 per row, and inverse(transform(x)) restoring every
    * non-null input cell (joined back on the lineitem key).
    */
  def prepFrames(model: PrepModel, input: DataFrame, transformed: DataFrame,
                 restored: DataFrame): Seq[String] = {
    val fails = Seq.newBuilder[String]
    if (transformed.columns.toSeq != model.encodedColumns)
      fails += s"transform columns ${transformed.columns.mkString(",")} != encodedColumns"
    val badBlocks = blocks(model).map(b => b.map(col).reduce(_ + _) =!= 1)
    if (badBlocks.nonEmpty) {
      val n = transformed.where(badBlocks.reduce(_ || _)).count()
      if (n > 0) fails += s"$n rows with a one-hot block not summing to 1"
    }
    if (restored.columns.toSeq != input.columns.toSeq)
      fails += s"inverse columns ${restored.columns.mkString(",")} != input columns"
    else {
      val key = Workloads.lineitemKey
      val j = input.as("i").join(restored.as("o"), key.map(k => col(s"i.$k") === col(s"o.$k"))
        .reduce(_ && _), "left")
      val value = input.schema.fields.filterNot(f => key.contains(f.name)).map { f =>
        val (i, o) = (col(s"i.${f.name}"), col(s"o.${f.name}"))
        val ok = f.dataType match {
          case DoubleType | FloatType => abs(o - i) <= abs(i) * RelTol + 1e-9
          case _                      => o === i
        }
        sum(when(i.isNotNull && !coalesce(ok, lit(false)), 1L).otherwise(0L)).as(f.name)
      }
      val row = j.agg(count(lit(1)).as("__n"),
        sum(when(col(s"o.${key.head}").isNull, 1L).otherwise(0L)).as("__missing") +: value: _*)
        .head()
      val inRows = input.count()
      if (row.getLong(0) != inRows) fails += s"join produced ${row.getLong(0)} rows for $inRows inputs"
      if (row.getLong(1) != 0) fails += s"${row.getLong(1)} input rows missing from the inverse output"
      value.indices.foreach { k =>
        val bad = row.getLong(k + 2)
        if (bad != 0) fails += s"${input.columns.filterNot(key.contains)(k)}: $bad cells not restored"
      }
    }
    fails.result()
  }

  /** Driver-side round trip for one served batch: every non-null request
    * cell comes back (numerics within RelTol, everything else exact).
    */
  def prepRows(schema: StructType, request: Seq[Row], response: Array[Row]): Seq[String] = {
    val key = Workloads.lineitemKey.map(schema.fieldIndex)
    def k(r: Row) = key.map(r.get)
    val byKey = response.map(r => k(r) -> r).toMap
    if (response.length != request.size || byKey.size != request.size)
      return Seq(s"response has ${response.length} rows (${byKey.size} keys) for ${request.size}")
    val bad = for {
      in <- request
      out = byKey.get(k(in))
      (f, c) <- schema.fields.zipWithIndex
      if !in.isNullAt(c)
      if out.isEmpty || out.get.isNullAt(c) || !(f.dataType match {
        case DoubleType => near(out.get.getDouble(c), in.getDouble(c))
        case _          => out.get.get(c) == in.get(c)
      })
    } yield f.name
    if (bad.isEmpty) Nil
    else bad.groupBy(identity).map { case (c, xs) => s"$c: ${xs.size} cells not restored" }.toSeq
  }

  /** Driver-side transform checks for one served batch. */
  def encodedRows(model: PrepModel, columns: Seq[String], rows: Array[Row]): Seq[String] = {
    val colFail =
      if (columns != model.encodedColumns) Seq("transform columns != encodedColumns") else Nil
    val idx = blocks(model).map(_.map(columns.indexOf))
    val badRows = rows.count(r => idx.exists(b => b.map(i => r.getAs[Number](i).intValue).sum != 1))
    colFail ++ (if (badRows > 0) Seq(s"$badRows rows with a one-hot block not summing to 1") else Nil)
  }

  /** Shape of the feature matrix (one row per series, the key plus 82
    * features), location features equal to a plain groupBy over the input,
    * and one relevance row per feature with the label-driven mean kept.
    */
  def tsFeatures(features: DataFrame, relevance: Array[Row], events: DataFrame,
                 series: Int): Seq[String] = {
    val fails = Seq.newBuilder[String]
    if (features.columns.length != 83)
      fails += s"feature matrix has ${features.columns.length} columns, expected 83"
    val plain = events.groupBy(col("user_id")).agg(count(lit(1)).as("n"), avg("va").as("mean_v"),
      min("va").as("min_v"), max("va").as("max_v"))
    val j = features.join(plain, "user_id")
    val feats = Seq("mean_v", "min_v", "max_v", "n")
    val row = j.agg(count(lit(1)), feats.map(f =>
      max(abs(col(s"va_$f") - plain(f)) / (abs(plain(f)) + 1e-9))): _*).head()
    if (row.getLong(0) != series) fails += s"feature matrix joins ${row.getLong(0)} series, expected $series"
    feats.zipWithIndex.foreach { case (f, k) =>
      val err = row.getDouble(k + 1)
      if (!(err <= RelTol)) fails += s"va_$f differs from a plain groupBy (relative error $err)"
    }
    if (relevance.length != features.columns.length - 1)
      fails += s"relevance has ${relevance.length} rows for ${features.columns.length - 1} features"
    if (!relevance.exists(r => r.getString(0) == "va_mean_v" && r.getBoolean(3)))
      fails += "va_mean_v (driven by the label) was not kept by featureRelevance"
    fails.result()
  }

  /** Survivor count against the generator's ground truth, each survivor
    * packed exactly once, and no bin over capacity unless it holds one
    * oversized document.
    */
  def curation(filtered: DataFrame, survivors: DataFrame, packed: DataFrame, capacity: Long,
               expectedKept: Long, expectedSurvivors: Long): Seq[String] = {
    val fails = Seq.newBuilder[String]
    val kept = filtered.count()
    if (kept != expectedKept) fails += s"quality filter kept $kept documents, expected $expectedKept"
    val nSurv = survivors.count()
    if (nSurv != expectedSurvivors) fails += s"$nSurv survivors, expected $expectedSurvivors"
    val p = packed.agg(count(lit(1)), countDistinct(col("doc_id"))).head()
    if (p.getLong(0) != nSurv || p.getLong(1) != nSurv)
      fails += s"packed ${p.getLong(0)} rows / ${p.getLong(1)} distinct docs for $nSurv survivors"
    val missing = survivors.select("doc_id").except(packed.select("doc_id")).count()
    if (missing != 0) fails += s"$missing survivors not packed"
    val over = packed.groupBy("shard", "pack_id").agg(sum("tokens").as("fill"), count(lit(1)).as("n"))
      .where(col("fill") > capacity && col("n") > 1).count()
    if (over != 0) fails += s"$over bins over capacity $capacity"
    fails.result()
  }

  /** Expression nodes in the analyzed plan (every node of every operator's expressions). */
  def expressionCount(df: DataFrame): Long =
    df.queryExecution.analyzed.collect { case p => p.expressions.map(_.collect { case e => e }.size).sum }
      .map(_.toLong).sum
}
