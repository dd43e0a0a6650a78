package graft

import org.apache.spark.sql.{DataFrame, Row}

/** The ordered fills' transform outputs do not depend on how the shuffle
  * lays out the series: forward, backward and interpolating fills, and
  * the interpolation of a second datetime feature, re-run with one and
  * with seven shuffle partitions and with adaptive execution off, equal
  * the default session's output bit for bit.
  */
class PrepInvarianceSpec extends SparkSpec {
  import OrderedFillPlanSpec.{fit, frame}

  private val settings = Seq(
    "one shuffle partition" -> Map("spark.sql.shuffle.partitions" -> "1"),
    "seven shuffle partitions" -> Map("spark.sql.shuffle.partitions" -> "7"),
    "adaptive execution off" -> Map("spark.sql.adaptive.enabled" -> "false"))

  /** (label, drop d2?, ordered fill) */
  private val cases = Seq(
    ("forward fill", true, Some("forward")),
    ("backward fill", true, Some("backward")),
    ("interpolation", true, Some("interpolate")),
    ("two-datetime interpolation", false, None))

  /** Rows by (sk, t), doubles as raw bits, so -0.0, NaN and the last ulp count. */
  private def encode(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map { r: Row =>
      r.toSeq.map {
        case d: Double => java.lang.Double.doubleToRawLongBits(d)
        case v         => v
      }
    }.sortBy(r => (r.head.toString, r(1).asInstanceOf[Long]))

  for ((label, oneDatetime, fill) <- cases)
    test(s"$label transform output is the same under any shuffle layout") {
      def input(session: org.apache.spark.sql.SparkSession) = {
        val df = frame(session)
        if (oneDatetime) df.drop("d2") else df
      }
      val model = fit(input(spark), fill)
      val want = encode(model.transform(input(spark)))
      for ((setting, conf) <- settings) {
        val session = spark.newSession()
        conf.foreach { case (k, v) => session.conf.set(k, v) }
        val got = encode(model.transform(input(session)))
        val diffs = got.zip(want).filter { case (g, w) => g != w }
        assert(got.length == want.length && diffs.isEmpty,
          s"$label under $setting: ${diffs.size} rows differ:\n" + diffs.take(10).mkString("\n"))
      }
    }
}
