package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional trailing args restrict the dump to named queries (the
    // oracle json is still written in full — it is cheap)
    val (sfDir, outDir, only) = (args(0), args(1), args.drop(2).toSet)
    // RocksDB state store (SPARK_GRAFT_ROCKSDB=1): off-heap streaming
    // state — the setting a long-running 100 TB streaming job uses
    val spark = GraftSession.getOrCreate(extra =
      if (sys.env.get("SPARK_GRAFT_ROCKSDB").contains("1"))
        Map("spark.sql.streaming.stateStore.providerClass" ->
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      else Map.empty)
    new java.io.File(outDir).mkdirs()
    import scala.jdk.CollectionConverters._
    def gcMillis(): Long = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    // count per-query failures and report them on STDOUT: r7 proved the
    // stderr-only path lets broken queries silently vanish from the
    // correctness file (24 rows disappeared with no loud signal)
    var failed = List.empty[String]
    var dumped = 0
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      // per-query start marker on stderr: a big-SF sweep that wedges in
      // one query should name it without a jstack safari
      System.err.println(s"[verify] running $name")
      val t0 = System.nanoTime()
      val gc0 = gcMillis()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        dumped += 1
        val sec = (System.nanoTime() - t0) / 1e9
        if (sec > 30) System.err.println(
          f"[verify] $name took $sec%.1f s (gc +${(gcMillis() - gc0) / 1e3}%.1f s)")
      } catch { case e: Throwable =>
        failed ::= name
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // long-sweep hygiene (SURVEY §12l: late heavy rows degraded up to
      // 75x vs fresh sessions inside the single-JVM 380-query sweep):
      // drop every RDD still pinned in the BlockManager. Queries
      // localCheckpoint liberally (loop inputs, graphs, beams) and
      // nothing unpersists them until the query's DataFrame is garbage
      // collected — 380 queries of leaked checkpoint blocks fill storage
      // memory and push the old gen into collection storms. Safe at
      // query boundaries: nothing references a prior query's lineage.
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    println(s"[verify] dumped $dumped / failed ${failed.size}" +
      (if (failed.nonEmpty) failed.sorted.mkString(" [", ", ", "]") else ""))
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // full registry key list (oracled + bench-only) for the
    // SURVEY↔registry consistency guard in tools/check.py — every key
    // here must have a SURVEY §2 row (r8/r9 orphan-recurrence close)
    val keys = (SparkEntry.queries.keySet ++ SparkEntry.benchQueries.keySet)
      .toSeq.sorted.map(q).mkString("[", ",", "]")
    Files.writeString(Paths.get(s"$outDir/registry_keys.json"), keys)
    spark.stop()
  }
}
