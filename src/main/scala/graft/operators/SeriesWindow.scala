package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** A window kept as its partition and order columns (a `WindowSpec`
  * does not expose its order), with the two ordered scans every fill
  * and as-of match is built from.
  *
  * Both scans run in O(n) per partition. Spark evaluates a frame that
  * starts at the partition start incrementally, row by row; a frame that
  * runs to the partition END is re-aggregated for every row, O(n²)
  * (Leis et al., VLDB 2015). So "first non-null at or after" is never a
  * following frame here: it is "last non-null at or before" over the
  * MIRRORED order — the partition ordered by this window's
  * `row_number()`, descending. That order is total, so tied rows
  * reverse exactly and the result equals the following-frame `first`,
  * ties included. The mirrored window keeps the partitioning: Spark adds
  * one sort, never an exchange.
  */
final case class SeriesWindow(partition: Seq[Column], order: Seq[Column]) {

  /** The partition in `order`, with Spark's default frame. */
  def spec: WindowSpec = Window.partitionBy(partition: _*).orderBy(order: _*)

  /** The partition in reverse `order`, ties reversed too. */
  private def mirrored: WindowSpec =
    Window.partitionBy(partition: _*).orderBy(row_number().over(spec).desc)

  private def upToCurrent(w: WindowSpec): WindowSpec =
    w.rowsBetween(Window.unboundedPreceding, Window.currentRow)

  /** Last non-null value of `c` at or before the current row. */
  def lastAtOrBefore(c: Column): Column = last(c, ignoreNulls = true).over(upToCurrent(spec))

  /** First non-null value of `c` at or after the current row. */
  def firstAtOrAfter(c: Column): Column = last(c, ignoreNulls = true).over(upToCurrent(mirrored))

  /** `x` at the current row, read in the mirrored pass. An ascending
    * term combined with [[firstAtOrAfter]] must come this way: Spark may
    * otherwise evaluate it in a second ascending pass after another
    * window's sort, and that pass can order tied rows differently from
    * the one that numbered them for the mirror.
    */
  def inMirroredPass(x: Column): Column = last(x).over(upToCurrent(mirrored))

  /** True when the rows sort by `c` first, ascending with nulls first:
    * every null of `c` then leads its partition, so a fill that leaves
    * leading nulls null (forward fill, interpolation) changes no value.
    */
  def ascendingBy(c: Column): Boolean = order.headOption.exists(o => o == c || o == c.asc)
}
