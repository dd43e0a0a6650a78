package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Benchmark driver: one workload per JVM.
  *
  * Setup (counted in setup_s from JVM start): session, seeded inputs and
  * a fixed number of warm-up operations (the first one also runs the
  * sink guard). Then timed operations for `--seconds`, output
  * checks, and the report. With `--trace 1` the listeners and spans are
  * attached on every other operation; the per-layer metrics are medians
  * over the traced ones and the overhead is traced minus untraced.
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean)

  /** Longest warm-up after the first operation, in seconds. */
  val WarmUpCapS = 15.0

  /** End-to-end metrics in the result line; batch_p50_ms and batch_p95_ms
    * (request latency on prep_serve) are printed in the report only.
    */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "pipeline_s" -> "s", "rows_per_s" -> "rows/s", "heap_mb" -> "MB")

  /** Graft calls the workloads time, as `<layer>.<call>` span names. */
  val Calls: Seq[String] = Seq(
    "prep.fit", "prep.transform_build", "prep.transform_sink", "prep.inverse_build",
    "prep.inverse_sink", "ts.extract_build", "ts.extract_sink", "ts.relevance",
    "curate.quality", "curate.exact", "curate.minhash", "curate.cc", "curate.pack")

  val PerLayer: Seq[(String, String)] =
    Calls.map(c => s"${c}_s" -> "s") ++ Seq(
      "prep.fit_jobs" -> "count", "ts.analyzed_nodes" -> "count",
      "curate.pairs" -> "count", "curate.survivors" -> "count",
      "graft.self_s" -> "s",
      "catalyst.analysis_s" -> "s", "catalyst.optimization_s" -> "s", "catalyst.planning_s" -> "s",
      "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
      "spark.driver_gap_s" -> "s", "spark.task_run_s" -> "s", "spark.task_cpu_s" -> "s",
      "spark.task_busy_ratio" -> "ratio", "spark.shuffle_read_mb" -> "MB",
      "spark.shuffle_write_mb" -> "MB", "spark.spill_mb" -> "MB", "spark.storage_mb" -> "MB",
      "spark.tasks_failed" -> "count", "spark.jobs_failed" -> "count", "jvm.gc_s" -> "s",
      "trace.overhead_s" -> "s")

  def main(argv: Array[String]): Unit = {
    val code =
      try {
        if (argv.contains("--self-test")) SelfTest.run() else run(parse(argv))
      } catch {
        case NonFatal(e) =>
          System.err.println(s"perfbench: ${e.getClass.getSimpleName}: ${e.getMessage}")
          e.printStackTrace()
          1
      }
    System.out.flush()
    sys.exit(code)
  }

  private def parse(argv: Array[String]): Opts = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Workloads.names.contains(w), s"unknown workload $w (one of ${Workloads.names.mkString(", ")})")
    val o = Opts(w, need("seed").toLong, need("seconds").toDouble, need("trace") == "1")
    require(o.seconds > 0, "--seconds must be positive")
    o
  }

  def session(): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val scratch = sys.props.getOrElse("perfbench.scratch", ".bench_build/run")
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$scratch/local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else s(math.max(0, math.ceil(p * s.size).toInt - 1))
  }

  private def run(o: Opts): Int = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session()
    val cores = spark.sparkContext.defaultParallelism
    val trace = new Trace(spark)
    if (o.trace) trace.enable()
    val wl = Workloads(o.workload, spark, trace, o.seed, Sizes.full)
    val serving = wl.opName == "request"
    val ops = if (serving) "requests" else "passes"
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    trace("setup") { wl.setup() }
    val inputsS = (System.currentTimeMillis() - jvmStartMs) / 1e3 - sessionS
    // first operation: the sink guard watches every action it runs
    val ran = SinkGuard.capture(spark)(trace("warmup") { wl.op() })(wl.sinks)
    val guard = SinkGuard.inspect(wl.sinks, ran)
    val guardFails = SinkGuard.violations(guard)
    require(guardFails.isEmpty, s"sink guard: ${guardFails.mkString("; ")}")
    // a fixed number of warm-up operations, so that every run starts timing
    // at the same point of the JIT and codegen warm-up curve; the time cap
    // bounds set-up on a slow machine
    val warmStart = System.nanoTime()
    var warmOps = 1
    trace("warmup") {
      while (warmOps < wl.warmUpOps && (System.nanoTime() - warmStart) / 1e9 < WarmUpCapS) {
        wl.op(); warmOps += 1
      }
    }
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    // timed operations
    val times, tracedTimes, plainTimes = mutable.ArrayBuffer.empty[Double]
    val perOp = mutable.ArrayBuffer.empty[Map[String, Double]]
    val failures = mutable.ArrayBuffer.empty[String]
    var failed = 0
    var checked = 0
    val minOps = if (serving) 20 else if (o.trace) 6 else 3
    val start = System.nanoTime()
    var i = 0
    // the loop measures `seconds` of operation time; checks run between operations
    while (times.sum < o.seconds || i < minOps) {
      val traced = o.trace && i % 2 == 0
      if (traced) trace.enable()
      val gc0 = gcSeconds()
      val t0 = System.nanoTime()
      val span0 = trace.spans.size
      val ok =
        try { trace("op") { wl.op() }; true }
        catch { case NonFatal(e) => failures += s"op $i: $e"; false }
      val dt = (System.nanoTime() - t0) / 1e9
      val gc = gcSeconds() - gc0
      if (traced) {
        trace.disable()
        val opSpan = trace.spans.drop(span0).find(_.name == "op")
        opSpan.foreach(s => perOp += Layers.perOp(trace, s, cores, gc, Layers.storageMb(spark)))
      }
      times += dt
      (if (traced) tracedTimes else plainTimes) += dt
      if (!ok) failed += 1
      else wl.check(i).foreach { fs =>
        checked += 1
        if (fs.nonEmpty) { failed += 1; failures ++= fs.map(f => s"op $i: $f") }
      }
      i += 1
    }
    val loopS = (System.nanoTime() - start) / 1e9
    val counts = if (o.trace) wl.counts() else Map.empty[String, Double]
    if (o.trace) trace.write(java.nio.file.Paths.get(
      sys.props.getOrElse("perfbench.scratch", ".bench_build/run"), s"trace-${o.workload}-${o.seed}.jsonl"))

    // heap in use after a full GC, once the workload's frames are dropped
    wl.release()
    spark.catalog.clearCache()
    System.gc(); Thread.sleep(300); System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

    val n = times.size
    val p50 = median(times.toSeq)
    val e2e = Map(
      "setup_s" -> setupS,
      "pipeline_s" -> p50,
      "rows_per_s" -> wl.rowsPerOp / p50,
      "batch_p50_ms" -> p50 * 1e3,
      "batch_p95_ms" -> percentile(times.toSeq, 0.95) * 1e3,
      "heap_mb" -> heapMb)
    val unitOf = (EndToEnd ++ PerLayer).toMap

    val out = new StringBuilder
    def line(s: String) = out ++= s ++= "\n"
    line(s"perfbench ${o.workload}: seed=${o.seed} cores=$cores seconds=${o.seconds} trace=${if (o.trace) 1 else 0}")
    line(f"  ${"setup_s"}%-24s ${setupS}%12.4f s    (session ${sessionS}%.2f, inputs ${inputsS}%.2f, $warmOps warm-up $ops ${setupS - sessionS - inputsS}%.2f)")
    line(f"  ${"pipeline_s"}%-24s ${p50}%12.4f s    median of $n $ops")
    line(f"  ${"rows_per_s"}%-24s ${e2e("rows_per_s")}%12.1f rows/s (${wl.rowsPerOp} rows per ${wl.opName} / median)")
    line("  op times: " + times.map(t => f"$t%.3f").mkString(" "))
    line(f"  ${"batch_p50_ms"}%-24s ${e2e("batch_p50_ms")}%12.3f ms   median of $n")
    line(f"  ${"batch_p95_ms"}%-24s ${e2e("batch_p95_ms")}%12.3f ms   nearest rank of $n (${n - math.ceil(0.95 * n).toInt} beyond)")
    line(f"  ${"failed_ratio"}%-24s ${failed.toDouble / n}%12.4f      $failed of $n failed; $checked checked")
    line(f"  ${"heap_mb"}%-24s ${heapMb}%12.1f MB   after full GC at exit")
    line(f"  loop ${loopS}%.2f s; guard: " + guard.map { case (want, _, cnt) =>
      s"sink keeps $want; count() would keep $cnt" }.mkString(" | "))
    failures.take(20).foreach(f => line(s"  FAILED $f"))

    val metrics: Seq[(String, Double)] =
      if (!o.trace) EndToEnd.map { case (k, _) => k -> e2e(k) }
      else {
        val med = PerLayer.map(_._1).map(k => k -> median(perOp.flatMap(_.get(k)).toSeq)).toMap
        // a call made only during setup (the serving model's fit) is reported from setup
        val setupCalls = Layers.setupCalls(trace)
        val overhead = median(tracedTimes.toSeq) - median(plainTimes.toSeq)
        val all = med ++ setupCalls.filter { case (k, _) => med.getOrElse(k, 0.0) == 0.0 } ++ counts +
          ("trace.overhead_s" -> overhead)
        line(s"  per-layer (median of ${perOp.size} traced $ops; overhead " +
          f"${overhead}%.4f s = traced ${median(tracedTimes.toSeq)}%.4f - untraced ${median(plainTimes.toSeq)}%.4f):")
        PerLayer.foreach { case (k, u) => line(f"    $k%-28s ${all.getOrElse(k, 0.0)}%14.4f $u") }
        perOp.flatMap(_.keys).filter(_.startsWith("self.")).distinct.sorted.foreach { k =>
          line(f"    $k%-28s ${median(perOp.flatMap(_.get(k)).toSeq)}%14.4f s (self time)")
        }
        PerLayer.map { case (k, _) => k -> all.getOrElse(k, 0.0) }
      }
    print(out)
    val json = metrics.map { case (k, v) => s""""$k": {"value": ${num(v)}, "unit": "${unitOf(k)}"}""" }
    println(s"""{"correct": ${failed == 0}, "attempted": $n, "failed": $failed, "metrics": {${json.mkString(", ")}}}""")
    System.out.flush()
    spark.stop()
    0
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v).replace("E", "e")
}
