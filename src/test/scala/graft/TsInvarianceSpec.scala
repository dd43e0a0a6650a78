package graft

/** The extract family's output does not depend on how the shuffle lays
  * out the series: the [[TsGoldenSpec]] frames, re-run with one and with
  * seven shuffle partitions and with adaptive execution off, still match
  * `graft/ts_golden.tsv` bit for bit.
  */
class TsInvarianceSpec extends SparkSpec {

  private val settings = Seq(
    "one shuffle partition" -> Map("spark.sql.shuffle.partitions" -> "1"),
    "seven shuffle partitions" -> Map("spark.sql.shuffle.partitions" -> "7"),
    "adaptive execution off" -> Map("spark.sql.adaptive.enabled" -> "false"))

  for ((label, conf) <- settings)
    test(s"the extract family matches the golden cells with $label") {
      val session = spark.newSession()
      conf.foreach { case (k, v) => session.conf.set(k, v) }
      val golden = TsGoldenSpec.load()
      for ((name, df) <- TsGoldenSpec.frames(session)) {
        val (expCols, expRows) = golden(name)
        assert(df.columns.toSeq == expCols, s"$name: output columns changed")
        val got = TsGoldenSpec.encode(df)
        val diffs = for {
          (g, e) <- got.zip(expRows)
          (c, (gc, ec)) <- expCols.zip(g.zip(e)) if gc != ec
        } yield s"$name ${g.head} $c: expected ${TsGoldenSpec.show(ec)}, got ${TsGoldenSpec.show(gc)}"
        assert(got.length == expRows.length && diffs.isEmpty,
          s"$name under $label: ${got.length} rows (expected ${expRows.length}), " +
            s"${diffs.size} cells differ:\n" + diffs.take(40).mkString("\n"))
      }
    }
}
