package graft.prep

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Datetime feature handling (reference: utils/datetime_transformer.py).
  * Datetimes become epoch SECONDS as double (reference divides the
  * microsecond timestamp by 1e6, datetime_transformer.py:51), get
  * scaled like any numerical column, and invert back to timestamps /
  * the original string format.
  *
  * String-format inference samples `sampleRows` values per column to
  * the driver — a metadata-sized probe (reference samples 100, :65),
  * one for all string columns — after which
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
    * (datetime_transformer.py:37-55); [[detectFormats]] for one column.
    * Returns None when the column is all null or does not look like
    * datetimes.
    */
  def detectFormat(df: DataFrame, colName: String, sampleRows: Int = 100): Option[String] =
    detectFormats(df, Seq(colName), sampleRows).get(colName)

  /** [[detectFormat]] for all `cols` with one probe. Each column's sample
    * is its first `sampleRows` non-null values in partition order (the
    * reference's `drop_nulls().head(100)`). They are fetched by one
    * top-level limit over the rows where any of `cols` is non-null: one
    * shuffle-free job when the first partition holds enough rows. The
    * limit starts at 2 × `sampleRows` and widens ×4 while rows remain
    * and some column has fewer than `sampleRows` non-null values; a
    * widened limit reads only those columns, over the rows where one of
    * them is non-null, so a sparse column does not pull every column's
    * rows to the driver. Every (column, format) test then runs in one
    * projection over a local relation, which Spark evaluates on the
    * driver without a job. Columns that are all null, or that no format
    * parses, are absent.
    */
  def detectFormats(df: DataFrame, cols: Seq[String], sampleRows: Int = 100): Map[String, String] =
    if (cols.isEmpty) Map.empty
    else {
      val names = cols.distinct
      def take(short: Seq[String], limit: Int): Map[String, Seq[Any]] = {
        val rows = df.select(short.map(col): _*).where(short.map(col(_).isNotNull).reduce(_ || _))
          .limit(limit).collect()
        val got = short.zipWithIndex.map { case (c, i) =>
          c -> rows.iterator.filterNot(_.isNullAt(i)).map(_.get(i)).take(sampleRows).toVector
        }.toMap
        val still = short.filter(got(_).size < sampleRows)
        if (still.isEmpty || rows.length < limit) got
        else got ++ take(still, math.min(limit * 4L, Int.MaxValue).toInt)
      }
      val samples = take(names, 2 * sampleRows)
      val sampled = names.filter(samples(_).nonEmpty)
      // one row per sample position; a column's cells past its sample are null
      val rows = (0 until sampled.map(samples(_).size).foldLeft(0)(math.max)).map(k =>
        Row.fromSeq(sampled.map(c => samples(c).lift(k).orNull)))
      val schema = StructType(df.select(sampled.map(col): _*).schema.map(_.copy(nullable = true)))
      val tests = for (c <- sampled; f <- Formats)
        yield col(c).isNull || try_to_timestamp(col(c), lit(f)).isNotNull
      val parsed = df.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .select(tests: _*).collect()
      sampled.zipWithIndex.flatMap { case (c, i) =>
        Formats.indices.find(j => parsed.forall(_.getBoolean(i * Formats.size + j)))
          .map(j => c -> Formats(j))
      }.toMap
    }

  /** Parse a string column with a detected format into a timestamp. */
  def parse(c: Column, fmt: String): Column = try_to_timestamp(c, lit(fmt))
}
