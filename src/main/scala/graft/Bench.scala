package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reg = SparkEntry.queries ++ SparkEntry.benchQueries
    // warm the session (scan machinery, codegen, JIT — and the
    // Structured Streaming stack, its first start costs ~2s) so no
    // timed query is charged for JVM startup
    def warm(s: SparkSession): Unit = {
      try SparkEntry.entry(s).count() catch { case _: Throwable => () }
      try SparkEntry.queries("stream_window")(s, "/root/testdata/sf0.001").count()
      catch { case _: Throwable => () }
    }
    // min of two runs per query: JIT/GC noise in the shared JVM swings
    // single measurements by ~25%. A failed run records an explicit -1
    // marker, NEVER its time-to-exception: r7 silently turned 27 broken
    // queries into 0.05-0.16s "timings" that read as improvements and
    // corrupted the round-over-round map.
    def minOf2(s: SparkSession, name: String, tag: String): Double = {
      val times = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        try { reg(name)(s, sfDir).count(); (System.nanoTime() - t0) / 1e9 }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $tag$name FAILED: ${e.getMessage}")
          -1.0
        }
      }
      if (times.exists(_ < 0)) -1.0 else times.min
    }
    val spark = GraftSession.getOrCreate()
    warm(spark)
    // Per-query GC-time deltas (across both runs) are recorded so a
    // slow outlier can be attributed to collector pressure instead of
    // guessed at (round-4 noise cluster).
    import scala.jdk.CollectionConverters._
    def gcMillis(): Long = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    // local iteration aid: SPARK_GRAFT_BENCH_ONLY=a,b,c times just those
    // rows (the round bench never sets it, so the full map is unaffected)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val results = reg.keys.filter(n => only.forall(_.contains(n)))
      .toSeq.sorted.map { name =>
      val gc0 = gcMillis()
      val t = minOf2(spark, name, "")
      (name, t, (gcMillis() - gc0) / 1e3)
    }
    // Re-run the worst-N rows in a FRESH session, recorded SEPARATELY:
    // driver-tail sessions keep producing phantom 3-5x outliers on
    // individual rows (same code, same day — r12: stream_mann_whitney
    // 6.2s driver vs 1.3s clean) that cost an adjudication cycle every
    // round. A fresh-session floor measured IN the same bench run
    // retires the noise at the source — but folding the rerun min into
    // the headline numbers would give ONLY the slowest rows a second
    // low-pressure chance (asymmetric methodology, breaks
    // round-over-round comparability), so the headline "queries"/
    // "value" stay on the uniform min-of-2 and the floors ride the
    // full-detail file's "reruns"/"queries_floored" maps for
    // adjudication. Rerun failures are benign: the first-pass time
    // stands and the reruns map records the -1.
    val rerunN = sys.env.getOrElse("SPARK_GRAFT_RERUN_N", "8").toInt
    // Outlier self-adjudication (VERDICT r17 #7): any row measuring
    // >3x its BASELINE_MEASURED_ALL spark_sec ALSO joins the
    // fresh-session rerun set, so driver-session phantom slowdowns
    // (r17: dedup_minhash 9.04s driver vs 0.9s everywhere else) close
    // themselves inside the artifact instead of costing an
    // adjudication cycle. ADDITIONS ONLY: the extra rows ride the same
    // full-detail "reruns"/"queries_floored" maps; the stdout headline
    // and the uniform min-of-2 "queries"/"value" are untouched.
    val baselineSpark: Map[String, Double] = try {
      val p = java.nio.file.Paths.get("BASELINE_MEASURED_ALL.json")
      if (java.nio.file.Files.exists(p)) {
        val txt = java.nio.file.Files.readString(p)
        val re = """"([A-Za-z0-9_]+)"\s*:\s*\{[^{}]*"spark_sec"\s*:\s*([0-9.Ee+-]+)""".r
        re.findAllMatchIn(txt).map(m => m.group(1) -> m.group(2).toDouble).toMap
      } else Map.empty
    } catch { case _: Throwable => Map.empty }
    val outliers = results.filter { case (n, t, _) =>
      t >= 0 && baselineSpark.get(n).exists(b => b > 0 && t > 3 * b)
    }.map(_._1)
    val worst = (results.filter(_._2 >= 0).sortBy(-_._2).take(rerunN).map(_._1)
      ++ outliers).distinct
    val reruns: Map[String, Double] = if (worst.isEmpty) Map.empty else {
      spark.sparkContext.setLogLevel("OFF")
      spark.stop()
      val s2 = GraftSession.getOrCreate()
      warm(s2)
      worst.map(name => name -> minOf2(s2, name, "rerun ")).toMap
    }
    val rerunsJson = reruns.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + BigDecimal(v)
        .setScale(3, BigDecimal.RoundingMode.HALF_UP) }
      .mkString("{", ",", "}")
    // floored = min(uniform, fresh-session rerun) — adjudication view
    // only, never the headline (see methodology note above)
    val floored = results.map { case (name, t, g) =>
      reruns.get(name) match {
        case Some(r) if r >= 0 && t >= 0 => (name, math.min(t, r), g)
        case _ => (name, t, g)
      }
    }
    val failed = results.filter(_._2 < 0).map(_._1)
    // The driver keeps only the TAIL (~2.25KB) of sbt's output; sbt's own
    // trailing [success] lines eat ~100B of that. With 89+ queries even a
    // 3dp full map (~2.4KB) loses its head and the parse fails (rounds
    // 1-3: parsed=null). The stdout line therefore carries a HEADLINE
    // subset — one representative per operator family plus every query
    // over 1s — and the full per-query map goes to bench_out.json.
    def fmt(v: Double, dp: Int): String = BigDecimal(v)
      .setScale(dp, BigDecimal.RoundingMode.HALF_UP).toString
    val headline = Set(
      "q_agg", "q_join_agg", "q_window", "q_topk",
      "prep_pipeline", "scale_quantile_normal",
      "dedup_exact", "dedup_minhash", "dedup_pipeline",
      "knn_bruteforce", "knn_lsh", "knn_ivf",
      "text_pipeline", "text_tokens",
      "ts_features_extract", "ts_features_multi", "ts_resample",
      "multimodal_frames",
      "stream_window", "stream_sessionize", "stream_interval_join",
      "q_kmeans_step")
    // headline set + AT MOST the 10 slowest other queries: the stdout
    // line must stay under the driver's ~2.25KB tail no matter how
    // many queries regress or how large the SF is
    val slowExtra = results.filter { case (k, v, _) => !headline(k) && v >= 1.0 }
      .sortBy(-_._2).take(10).map(_._1).toSet
    val shown = results.filter { case (k, _, _) => headline(k) || slowExtra(k) }
    val qs = shown.map { case (k, v, _) => "\"" + k + "\":" + fmt(v, 2) }
      .mkString("{", ",", "}")
    // total sums SUCCESSFUL rows only (failures would subtract)
    val total = results.map(_._2).filter(_ >= 0).sum
    // the stdout failed list is capped so the headline line never
    // outgrows the driver's ~2.25KB tail; the file carries the full list
    val failedJson = failed.map("\"" + _ + "\"")
    val failedHead = (if (failed.size > 8)
      failedJson.take(8) :+ "\"...\"" else failedJson).mkString("[", ",", "]")
    val line = s"""{"metric":"total","value":${fmt(total, 2)},"unit":"sec","n_queries":${results.size},"n_failed":${failed.size},"failed":$failedHead,"queries":$qs,"sf":"$sfDir"}"""
    // full-detail maps (every query, 3dp, + per-query GC seconds) for
    // local round-over-round diffs and noise attribution
    val fullQs = results.map { case (k, v, _) => "\"" + k + "\":" + fmt(v, 3) }
      .mkString("{", ",", "}")
    val flooredQs = floored.map { case (k, v, _) => "\"" + k + "\":" + fmt(v, 3) }
      .mkString("{", ",", "}")
    val gcQs = results.map { case (k, _, g) => "\"" + k + "\":" + fmt(g, 3) }
      .mkString("{", ",", "}")
    val fullLine = s"""{"metric":"total","value":${fmt(total, 3)},"unit":"sec","n_queries":${results.size},"n_failed":${failed.size},"failed":${failedJson.mkString("[", ",", "]")},"queries":$fullQs,"queries_floored":$flooredQs,"gc":$gcQs,"reruns":$rerunsJson,"sf":"$sfDir"}"""
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), fullLine + "\n")
    // async shutdown noise (state-store maintenance threads WARN with a
    // stack trace AFTER stop()) would land after the JSON line and push
    // it out of the driver's tail — silence the logger before stopping
    SparkSession.getDefaultSession.foreach { s =>
      s.sparkContext.setLogLevel("OFF")
      s.stop()
    }
    // LAST line of program output so it sits at the very end of the tail
    println(line)
  }
}
