package perfbench

import org.apache.spark.sql.Row

/** The benchmark's own tests, on small inputs: every workload's sink runs
  * every expression of the frame it sinks (and `count()` would not, where
  * it can prune), every output check passes, and a corrupted output fails.
  */
object SelfTest {
  def run(): Int = {
    val spark = Main.session()
    val trace = new Trace(spark)
    var failures = 0
    def expect(name: String, ok: Boolean, detail: => String = ""): Unit = {
      println(s"${if (ok) "ok  " else "FAIL"} $name${if (ok) "" else s": $detail"}")
      if (!ok) failures += 1
    }
    for (w <- Workloads.names) {
      val wl = Workloads(w, spark, trace, 7L, Sizes.small)
      wl.setup()
      val ran = SinkGuard.capture(spark)(wl.op())(wl.sinks)
      val g = SinkGuard.inspect(wl.sinks, ran)
      val violations = SinkGuard.violations(g)
      expect(s"$w: the sink runs every expression", violations.isEmpty, violations.mkString("; "))
      if (w == "prep_bulk" || w == "ts_features")
        expect(s"$w: the guard rejects a count() sink", g.exists { case (want, _, cnt) =>
          !cnt.covers(want) }, g.mkString("; "))
      val fs = wl.check(0).getOrElse(Seq("not checked"))
      expect(s"$w: output checks pass", fs.isEmpty, fs.mkString("; "))
      wl.release()
    }
    val batch = Inputs.lineitem(spark, 7L, 400L, 10, 1).collect().toSeq
    val schema = Inputs.lineitem(spark, 7L, 1L, 10, 1).schema
    val q = schema.fieldIndex("l_quantity")
    val corrupted = batch.map { r =>
      if (r.isNullAt(q) || r.getLong(0) != 3L) r
      else Row.fromSeq(r.toSeq.updated(q, r.getDouble(q) * (1 + 1e-5)))
    }
    expect("round-trip check passes on an exact copy", Checks.prepRows(schema, batch, batch.toArray).isEmpty)
    expect("round-trip check fails on a 1e-5 relative error",
      Checks.prepRows(schema, batch, corrupted.toArray).nonEmpty)
    spark.stop()
    println(if (failures == 0) "self-test passed" else s"self-test: $failures failed")
    if (failures == 0) 0 else 1
  }
}
