package graft

import graft.operators.TsFeatures
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Every output cell of the extract family, pinned bit for bit.
  *
  * `extract`, `extractMulti` (two value columns) and `extractWindowed`
  * run over one small fixture; each cell is compared as its raw double
  * bits (integers and strings by value) against
  * `graft/ts_golden.tsv`. The fixture covers null values, 1-, 2- and
  * 3-row series, a constant series, zeros (Benford's null first digit),
  * tied maxima and minima, and pre-epoch timestamps (floor bucketing).
  * A plan rewrite of the extract family must leave every cell here
  * unchanged: the calculators' operations and their order are the
  * contract, not just their values to 6 dp.
  */
class TsGoldenSpec extends SparkSpec {

  test("extract, extractMulti and extractWindowed match the golden cells bit for bit") {
    val golden = TsGoldenSpec.load()
    val frames = TsGoldenSpec.frames(spark)
    assert(golden.keySet == frames.map(_._1).toSet)
    for ((name, df) <- frames) {
      val (expCols, expRows) = golden(name)
      assert(df.columns.toSeq == expCols, s"$name: output columns changed")
      val got = TsGoldenSpec.encode(df)
      assert(got.length == expRows.length, s"$name: row count changed")
      val diffs = for {
        (g, e) <- got.zip(expRows)
        (c, (gc, ec)) <- expCols.zip(g.zip(e)) if gc != ec
      } yield s"$name ${g.head} $c: expected ${TsGoldenSpec.show(ec)}, got ${TsGoldenSpec.show(gc)}"
      assert(diffs.isEmpty, s"${diffs.size} cells differ:\n" + diffs.take(40).mkString("\n"))
    }
  }
}

object TsGoldenSpec {

  val Resource = "/graft/ts_golden.tsv"

  /** (key, t, v, w): t is the order column; `ts` nanos derive from t. */
  private def fixtureRows: Seq[(String, Long, Option[Double], Option[Double])] = {
    def r4(x: Double) = math.round(x * 1e4) / 1e4
    // 30 points with real structure, two nulls, two zeros, a tied
    // maximum (9.5) and a tied minimum (-7.25)
    val long = (0 until 30).map { i =>
      val v = i match {
        case 3 | 17  => None
        case 10 | 12 => Some(0.0)
        case 5 | 22  => Some(9.5)
        case 8 | 25  => Some(-7.25)
        case _       => Some(r4(math.sin(i * 0.9) * 4 + (i % 7) * 0.37 - 1.3))
      }
      val w = if (i % 11 == 4) None else Some(r4(math.cos(i * 0.35) * 120.0 + i * 0.5))
      ("e_long", i.toLong, v, w)
    }
    Seq(
      ("a_one", 0L, Some(2.5), Some(-3.0)),
      ("b_two", 0L, Some(3.0), None),
      ("b_two", 1L, Some(-1.25), Some(-0.5)),
      ("c_three", 0L, Some(1.0), Some(7.0)),
      ("c_three", 1L, Some(4.0), Some(7.0)),
      ("c_three", 2L, Some(1.0), Some(6.5)),
    ) ++ (0 until 6).map(i => ("d_const", i.toLong, Some(2.0), Some(i * 0.25))) ++
      long ++ Seq(
      ("f_nulls", 0L, Some(1.5), Some(0.003)),
      ("f_nulls", 1L, None, Some(0.0)),
      ("f_nulls", 2L, Some(0.0), Some(-0.02)),
      ("f_nulls", 3L, None, Some(0.0)),
      ("f_nulls", 4L, Some(-2.0), Some(0.1)),
    )
  }

  def fixture(spark: SparkSession): DataFrame = {
    val schema = StructType(Seq(
      StructField("sk", StringType), StructField("t", LongType),
      StructField("ts", LongType),
      StructField("v", DoubleType), StructField("w", DoubleType)))
    val rows = fixtureRows.map { case (k, t, v, w) =>
      // ts = (t - 5) s in nanos: the first five events are pre-epoch
      Row(k, t, (t - 5) * 1000000000L, v.map(Double.box).orNull, w.map(Double.box).orNull)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
  }

  /** The pinned frames, by name. */
  def frames(spark: SparkSession): Seq[(String, DataFrame)] = {
    val df = fixture(spark)
    Seq(
      "extract" -> TsFeatures.extract(df, "sk", Seq("t"), "v"),
      "extract_multi" -> TsFeatures.extractMulti(df, "sk", Seq("t"), Seq("v", "w")),
      "extract_windowed" -> TsFeatures.extractWindowed(df, "sk", "ts", Seq("t"), "v",
        10L * 1000000000L))
  }

  /** Rows sorted by their leading key cells, each cell as a string:
    * doubles as their raw bits in hex, other values as `Type:value`.
    */
  def encode(df: DataFrame): Seq[Seq[String]] =
    df.collect().toSeq.map(_.toSeq.map(cell)).sortBy(_.take(2).mkString("\t"))

  private def cell(x: Any): String = x match {
    case null      => "null"
    case d: Double => "d:" + java.lang.Long.toHexString(java.lang.Double.doubleToRawLongBits(d))
    case o         => s"${o.getClass.getSimpleName}:$o"
  }

  /** A cell for a failure message: doubles decoded next to their bits. */
  def show(c: String): String =
    if (c.startsWith("d:"))
      s"${java.lang.Double.longBitsToDouble(java.lang.Long.parseUnsignedLong(c.drop(2), 16))} ($c)"
    else c

  /** name -> (columns, rows) from the golden resource: a `#name` line
    * with the tab-separated columns, then one line per row.
    */
  def load(): Map[String, (Seq[String], Seq[Seq[String]])] = {
    val src = scala.io.Source.fromInputStream(getClass.getResourceAsStream(Resource), "UTF-8")
    val lines = try src.getLines().toList finally src.close()
    val blocks = lines.foldLeft(List.empty[(String, Seq[String], List[Seq[String]])]) {
      case (acc, l) if l.startsWith("#") =>
        val parts = l.drop(1).split("\t", -1).toSeq
        (parts.head, parts.tail, Nil) :: acc
      case ((n, cols, rows) :: rest, l) if l.nonEmpty =>
        (n, cols, l.split("\t", -1).toSeq :: rows) :: rest
      case (acc, _) => acc
    }
    blocks.map { case (n, cols, rows) => n -> (cols, rows.reverse) }.toMap
  }

  /** The resource's text for the given frames (how the file was made). */
  def render(frames: Seq[(String, DataFrame)]): String =
    frames.map { case (name, df) =>
      (s"#$name" +: df.columns.toSeq).mkString("\t") + "\n" +
        encode(df).map(_.mkString("\t") + "\n").mkString
    }.mkString
}
