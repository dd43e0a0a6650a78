package graft

/** Print a registered query's (bounded) result — the builder's
  * look-at-the-output device for bench-only rows whose OUTPUT is the
  * measurement (recall reports, skew summaries, state reports): Bench
  * times them but only counts rows, and Verify dumps oracled queries
  * only. Caps at 200 rows — every report-shaped row is far smaller.
  *
  * usage: runMain graft.Show <query> [sfDir]
  */
object Show {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Show <query> [sfDir]")
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = GraftSession.getOrCreate()
    val reg = SparkEntry.queries ++ SparkEntry.benchQueries
    val fn = reg.getOrElse(name,
      throw new IllegalArgumentException(s"unknown query: $name"))
    fn(spark, sfDir).show(200, truncate = false)
    spark.stop()
  }
}
