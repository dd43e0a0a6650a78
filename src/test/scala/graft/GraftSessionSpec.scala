package graft

/** The session contract every oracle hash depends on, read back from
  * the shared test session that [[GraftSession]] builds. */
class GraftSessionSpec extends SparkSpec {
  test("the factory's session carries the engine-wide contract") {
    assert(spark.sparkContext.master === s"local[${SparkSpec.cores}]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") === SparkSpec.cores.toString)
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") === "false")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
  }
}
