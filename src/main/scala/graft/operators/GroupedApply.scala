package graft.operators

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Grouped user-function apply — the `groupby().apply(fn)` escape hatch
  * dataframe libraries expose (pandas `applyInPandas`, polars
  * `group_by().map_groups`) for per-group logic that column
  * expressions genuinely cannot state.
  *
  * Scale contract: ONE hash shuffle on the key columns, then each
  * group's rows stream through `fn` on a single executor —
  * per-GROUP memory, never per-partition or global. Rows within a
  * group arrive SORTED by `sortCols` (secondary sort inside the
  * executor, no extra shuffle), which is what per-series imperative
  * logic almost always needs. Prefer column expressions / window
  * functions wherever they can express the computation — they
  * whole-stage-codegen and avoid Row boxing; this operator is the
  * LAST resort the SURVEY §2 preference order describes, provided as
  * a first-class API because the reference's users reach for
  * `apply` constantly.
  */
object GroupedApply {

  /** @param fn (key row, iterator of group rows sorted by `sortCols`) →
    *           output rows conforming to `outSchema`
    */
  def apply(df: DataFrame, keyCols: Seq[String], sortCols: Seq[String],
            outSchema: StructType)(
      fn: (Row, Iterator[Row]) => Iterator[Row]): DataFrame = {
    require(keyCols.nonEmpty, "grouped apply needs at least one key column")
    val spark = df.sparkSession
    val inSchema = df.schema
    val sortIdx = sortCols.map(inSchema.fieldIndex)
    val keySchema = StructType(keyCols.map(c => inSchema(inSchema.fieldIndex(c))))
    val keyEnc: Encoder[Row] = Encoders.row(keySchema)
    val rowEnc: Encoder[Row] = Encoders.row(inSchema)
    val outEnc: Encoder[Row] = Encoders.row(outSchema)
    // grouping by the key columns shuffles once on them, with no
    // appended key column to serialize (as groupByKey would need); the
    // sort inside the group is a per-executor sort of one group's rows
    // (bounded by group size)
    df.groupBy(keyCols.map(col): _*).as[Row, Row](keyEnc, rowEnc)
      .flatMapSortedGroups(sortIdx.map(i => col(inSchema(i).name)): _*) {
        (key, it) => fn(key, it)
      }(outEnc)
      .toDF(outSchema.fieldNames.toIndexedSeq: _*)
  }
}
