package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session + tiny-SF helpers for all specs. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sf: String = "/root/testdata/sf0.001"
}

object SparkSpec {
  val cores = 4
  lazy val session: SparkSession = GraftSession.getOrCreate(cores)

  /** Settings that change how shuffles lay out rows; the invariance specs
    * re-run their fixtures in a new session under each.
    */
  val layouts: Seq[(String, Map[String, String])] = Seq(
    "one shuffle partition" -> Map("spark.sql.shuffle.partitions" -> "1"),
    "seven shuffle partitions" -> Map("spark.sql.shuffle.partitions" -> "7"),
    "adaptive execution off" -> Map("spark.sql.adaptive.enabled" -> "false"))

  /** A new session of the shared context with `conf` set. */
  def sessionWith(conf: Map[String, String]): SparkSession = {
    val s = session.newSession()
    conf.foreach { case (k, v) => s.conf.set(k, v) }
    s
  }
}
