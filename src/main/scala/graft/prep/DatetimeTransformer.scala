package graft.prep

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Datetime feature handling (reference: utils/datetime_transformer.py).
  * Datetimes become epoch SECONDS as double (reference divides the
  * microsecond timestamp by 1e6, datetime_transformer.py:51), get
  * scaled like any numerical column, and invert back to timestamps /
  * the original string format.
  *
  * String-format inference samples `sampleRows` rows to the driver —
  * a metadata-sized probe (reference samples 100, :65) — after which
  * parsing is a pure `to_timestamp` expression at any scale.
  */
object DatetimeTransformer {

  /** Candidate formats, most-specific first (datetime_transformer.py:23-36),
    * in Spark's DateTimeFormatter syntax.
    */
  val Formats: Seq[String] = Seq(
    "yyyy-MM-dd HH:mm:ss.SSSSSS",
    "yyyy-MM-dd HH:mm:ss",
    "yyyy-MM-dd'T'HH:mm:ss.SSSSSS",
    "yyyy-MM-dd'T'HH:mm:ss",
    "yyyy-MM-dd HH:mm",
    "yyyy-MM-dd",
    "dd/MM/yyyy",
    "yyyy-MM",
    "yyyy",
    "HH:mm:ss",
    "HH:mm",
  )

  /** Timestamp/date column -> epoch seconds (double). */
  def toEpochSeconds(c: Column): Column = c.cast(TimestampType).cast(DoubleType)

  /** A datetime feature as epoch seconds: string columns parse with
    * their detected format first.
    */
  def epoch(colName: String, fmt: Option[String]): Column =
    toEpochSeconds(fmt.map(parse(col(colName), _)).getOrElse(col(colName)))

  /** Epoch seconds -> timestamp. */
  def fromEpochSeconds(c: Column): Column = timestamp_seconds(c)

  /** Epoch seconds -> the original string format. */
  def formatBack(c: Column, fmt: String): Column = date_format(timestamp_seconds(c), fmt)

  /** Pick the first format that parses every sampled value
    * (datetime_transformer.py:37-55). The sample is the first
    * `sampleRows` non-null values in partition order (the reference's
    * `drop_nulls().head(100)`), fetched by a top-level limit: one
    * shuffle-free job when the first partition holds that many. All
    * formats are then tried in one projection over a local relation,
    * which Spark evaluates on the driver without a job. Returns None
    * when the column is all null or does not look like datetimes.
    */
  def detectFormat(df: DataFrame, colName: String, sampleRows: Int = 100): Option[String] = {
    val sample = df.select(col(colName)).na.drop().limit(sampleRows)
    val rows = sample.collect()
    if (rows.isEmpty) None
    else {
      val local = df.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), sample.schema)
      val parsed = local.select(Formats.map(f => try_to_timestamp(col(colName), lit(f)).isNotNull): _*)
        .collect()
      Formats.indices.find(i => parsed.forall(_.getBoolean(i))).map(Formats)
    }
  }

  /** Parse a string column with a detected format into a timestamp. */
  def parse(c: Column, fmt: String): Column = try_to_timestamp(c, lit(fmt))
}
