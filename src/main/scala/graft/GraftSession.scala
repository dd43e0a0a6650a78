package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft JVM builds its SparkSession: every driver
  * (Bench, Verify, Profile, Explain, Show) and the test session call
  * [[getOrCreate]]. The contract is what every oracle hash depends on —
  * `local[cores]` with as many shuffle partitions, a UTC session time
  * zone, parquet nanosecond timestamps read as longs, and no UI.
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS` when set, otherwise the machine's core count. */
  private def defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Builds the session, or returns the active one, and sets the log
    * level to WARN. `extra` conf pairs are applied after the contract.
    */
  def getOrCreate(cores: Int = defaultCores,
                  extra: Map[String, String] = Map.empty): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    val spark = extra.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
