package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** As-of join: each left row picks the most recent right row (by
  * `tsCol`) at or before its own timestamp, within the same key.
  * Right rows sharing (key, ts) resolve to the GREATEST payload struct
  * in both directions — a deterministic rule an external oracle can
  * replay (DuckDB's native ASOF JOIN picks ties arbitrarily, so oracle
  * fixtures must keep right (key, ts) unique or pre-dedup to max).
  *
  * Spark has no native as-of join; the naive formulation is a range
  * join (per-key cross product + filter + window) that explodes on
  * dense keys. This is the union+window formulation instead: tag both
  * sides, ONE hash shuffle + per-key sort over the union, carry the
  * last-seen right payload forward, keep the left rows. Cost is
  * O(|L|+|R|) shuffled once — the same shape at any scale.
  */
object AsofJoin {

  /** @param leftCols  left columns to carry through
    * @param rightCols right payload columns, emitted with `prefix`
    *                  (null when no right row precedes the left row)
    */
  def asof(
      left: DataFrame, right: DataFrame,
      keyCol: String, tsCol: String,
      leftCols: Seq[String], rightCols: Seq[String],
      prefix: String = "asof_"): DataFrame = {

    val lTagged = left.select(
      col(keyCol), col(tsCol).as("__ts"), lit(1).as("__src"),
      struct(leftCols.map(col): _*).as("__l"))
    val rTagged = right.select(
      col(keyCol), col(tsCol).as("__ts"), lit(0).as("__src"),
      struct(rightCols.map(col): _*).as("__r"))
    // right rows (__src=0) sort before left rows at equal ts -> the
    // "at or before" semantics are inclusive; the payload struct is the
    // final tiebreaker so right rows SHARING (key, ts) resolve
    // deterministically (greatest payload wins — last() in sort order)
    // instead of by partition layout
    val w = SeriesWindow(Seq(col(keyCol)), Seq(col("__ts"), col("__src"), col("__r")))
    lTagged.unionByName(rTagged, allowMissingColumns = true)
      .withColumn("__match", w.lastAtOrBefore(col("__r")))
      .where(col("__src") === 1)
      .select(
        col(keyCol) +: col("__ts").as(tsCol) +:
          (leftCols.map(c => col(s"__l.$c").as(c)) ++
            rightCols.map(c => col(s"__match.$c").as(s"$prefix$c"))): _*)
  }

  /** NEAREST as-of (pandas merge_asof direction="nearest"): each left
    * row picks whichever of its backward/forward matches is closer in
    * `tsCol`; exact ties resolve BACKWARD (deterministic, replayable).
    * One union, ONE hash shuffle, three in-partition sorts (the
    * backward window, the forward window and its O(n) mirror share the
    * partition key, so Spark plans more Sorts, never a second
    * Exchange). Distances compare
    * in the timestamp's integer domain — no double round-off.
    *
    * Equal-timestamp right rows are visible to the BACKWARD scan only;
    * that cannot change the result — an equal-ts match has distance 0
    * and backward wins distance-0 ties by definition.
    */
  def asofNearest(
      left: DataFrame, right: DataFrame,
      keyCol: String, tsCol: String,
      leftCols: Seq[String], rightCols: Seq[String],
      prefix: String = "asof_"): DataFrame = {

    val lTagged = left.select(
      col(keyCol), col(tsCol).as("__ts"), lit(1).as("__src"),
      struct(leftCols.map(col): _*).as("__l"))
    val rTagged = right.select(
      col(keyCol), col(tsCol).as("__ts"), lit(0).as("__src"),
      struct(rightCols.map(col): _*).as("__r"))
    val hit = when(col("__src") === 0,
      struct(col("__ts").as("t"), col("__r").as("p")))
    val wB = SeriesWindow(Seq(col(keyCol)), Seq(col("__ts"), col("__src"), col("__r")))
    val wF = SeriesWindow(Seq(col(keyCol)), Seq(col("__ts"), col("__src"), col("__r").desc))
    lTagged.unionByName(rTagged, allowMissingColumns = true)
      .withColumn("__b", wB.lastAtOrBefore(hit))
      .withColumn("__f", wF.firstAtOrAfter(hit))
      .where(col("__src") === 1)
      .withColumn("__n",
        when(col("__f").isNull, col("__b"))
          .when(col("__b").isNull, col("__f"))
          .when(col("__f.t") - col("__ts") < col("__ts") - col("__b.t"),
            col("__f"))
          .otherwise(col("__b")))
      .select(
        col(keyCol) +: col("__ts").as(tsCol) +:
          (leftCols.map(c => col(s"__l.$c").as(c)) ++
            rightCols.map(c => col(s"__n.p.$c").as(s"$prefix$c"))): _*)
  }

  /** Forward as-of: each left row picks the EARLIEST right row at or
    * after its timestamp — the first non-null payload at or after the
    * row ([[SeriesWindow.firstAtOrAfter]], an O(n) mirrored frame; left
    * rows sort before right rows at equal ts so "at or after" stays
    * inclusive). Same single-shuffle cost shape as [[asof]], one more
    * in-partition sort.
    */
  def asofForward(
      left: DataFrame, right: DataFrame,
      keyCol: String, tsCol: String,
      leftCols: Seq[String], rightCols: Seq[String],
      prefix: String = "asof_"): DataFrame = {

    val lTagged = left.select(
      col(keyCol), col(tsCol).as("__ts"), lit(0).as("__src"),
      struct(leftCols.map(col): _*).as("__l"))
    val rTagged = right.select(
      col(keyCol), col(tsCol).as("__ts"), lit(1).as("__src"),
      struct(rightCols.map(col): _*).as("__r"))
    // __r DESCENDING so ties on (key, ts) resolve to the GREATEST
    // payload here too (first() in sort order) — same deterministic
    // pick as the backward direction
    val w = SeriesWindow(Seq(col(keyCol)), Seq(col("__ts"), col("__src"), col("__r").desc))
    lTagged.unionByName(rTagged, allowMissingColumns = true)
      .withColumn("__match", w.firstAtOrAfter(col("__r")))
      .where(col("__src") === 0)
      .select(
        col(keyCol) +: col("__ts").as(tsCol) +:
          (leftCols.map(c => col(s"__l.$c").as(c)) ++
            rightCols.map(c => col(s"__match.$c").as(s"$prefix$c"))): _*)
  }
}
