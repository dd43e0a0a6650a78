package graft

import java.security.MessageDigest
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.prep._

/** Fit fixtures whose fitted models are pinned field by field. */
object PrepGoldenFixtures {

  /** 400 rows over 3 partitions; every value is a pure function of `id`.
    *   - `v`: doubles with nulls and one +inf; `w`: small ints;
    *   - `konst` and `one`: single-value drops; `dom`: 99% one label;
    *   - `dead`: all null; `sparse`: 60% null (dropped at threshold 0.5);
    *   - `cat`: four frequent labels, two rare ones, nulls and "";
    *   - `ds`: `yyyy-MM-dd` strings; `ts`: timestamps with nulls;
    *   - `yc` / `yr`: classification / regression targets.
    */
  def frame(spark: SparkSession): DataFrame = {
    val id = col("id")
    val labels = array(lit("a"), lit("b"), lit("c"), lit("d"))
    spark.range(0, 400, 1, 3).select(
      id,
      when(id % 17 === 3, lit(null)).when(id === 5, lit(Double.PositiveInfinity))
        .otherwise(pmod(id * 37, lit(101)) * 0.25 - 3.0).as("v"),
      pmod(id * 7, lit(23)).cast("int").as("w"),
      lit(7.0).as("konst"),
      when(id % 50 === 7, lit(null)).when(id % 50 === 8, lit(""))
        .when(id === 11, lit("r1")).when(id === 12, lit("r2"))
        .otherwise(element_at(labels, (pmod(id, lit(4)) + 1).cast("int"))).as("cat"),
      when(id % 100 === 1, lit("x")).otherwise(lit("dom")).as("dom"),
      lit("same").as("one"),
      lit(null).cast("double").as("dead"),
      when(pmod(id, lit(5)) < 3, lit(null)).otherwise(id * 0.5).as("sparse"),
      date_format(date_add(lit("2020-01-01").cast("date"), (id * 3).cast("int")), "yyyy-MM-dd")
        .as("ds"),
      when(id % 13 === 0, lit(null)).otherwise(timestamp_seconds(lit(1600000000L) + id * 3600))
        .as("ts"),
      (pmod(id, lit(3)) === 0).as("flag"),
      concat(lit("cls"), pmod(id, lit(3)).cast("string")).as("yc"),
      (id * 1.5 + 2).as("yr"))
  }

  val cases: Seq[(String, PrepConfig)] = Seq(
    "quantile_exact_classification" -> PrepConfig(excludedCols = Seq("id"),
      scaling = Scaling.Quantile(11), unseenLabels = UnseenLabels.Error,
      mlTask = Some(MlTask.Classification), targetColumn = Some("yc")),
    "quantile_sketch_regression" -> PrepConfig(excludedCols = Seq("id"),
      scaling = Scaling.Quantile(11, normal = false), quantileFit = QuantileFitMode.Sketch,
      missingValuesThreshold = 0.5,
      mlTask = Some(MlTask.Regression), targetColumn = Some("yr")),
    "kbins_threshold5" -> PrepConfig(excludedCols = Seq("id"),
      scaling = Scaling.KBins(5), catLabelsThreshold = 0.05),
    "standardize_strict_sparse" -> PrepConfig(excludedCols = Seq("id"),
      scaling = Scaling.Standardize, numFillNull = FillStrategy.None_,
      missingValuesThreshold = 0.5, unseenLabels = UnseenLabels.Error),
  )

  /** Every fitted field as one line each; doubles in their exact
    * shortest decimal form, bloom filters as length + SHA-256.
    */
  def render(m: PrepModel): Seq[String] = {
    def d(x: Double) = java.lang.Double.toString(x)
    def ds(xs: Seq[Double]) = xs.map(d).mkString("[", ",", "]")
    def sha(b: Array[Byte]) =
      MessageDigest.getInstance("SHA-256").digest(b).map("%02x".format(_)).mkString
    def scaler(s: Scaler) = s match {
      case MinMaxScaler(lo, hi)          => s"minmax ${d(lo)} ${d(hi)}"
      case StandardScaler(mu, sd)        => s"standard ${d(mu)} ${d(sd)}"
      case QuantileGridScaler(g, normal) => s"grid ${ds(g)} normal=$normal"
      case KBinsScaler(b)                => s"kbins ${ds(b)}"
      case other                         => other.toString
    }
    Seq(
      s"numerical=${m.numericalFeatures.mkString(",")}",
      s"categorical=${m.categoricalFeatures.mkString(",")}",
      s"datetime=${m.datetimeFeatures.mkString(",")}",
      s"boolean=${m.booleanFeatures.mkString(",")}",
      s"dropped=${m.dropped.toSeq.sorted.map { case (c, r) => s"$c:$r" }.mkString(";")}",
      s"formats=${m.datetimeFormats.toSeq.sorted.map { case (c, f) => s"$c:$f" }.mkString(";")}",
      s"targetClasses=${m.targetClasses.fold("-")(_.mkString(","))}",
      s"targetRange=${m.targetRange.fold("-") { case (lo, hi) => s"${d(lo)},${d(hi)}" }}",
    ) ++ m.catModels.toSeq.sortBy(_._1).map { case (c, k) =>
      s"cat.$c=keep[${k.keep.mkString(",")}] rare=${k.hasRare} none=${k.hasNone} " +
        s"bloom=${k.bloom.fold("-")(b => s"${b.length}:${sha(b)}")}"
    } ++ m.numStats.toSeq.sortBy(_._1).map { case (c, s) =>
      s"stats.$c=${d(s.min)} ${d(s.max)} ${d(s.mean)} ${d(s.std)} q${ds(s.quantiles)}"
    } ++ m.scalers.toSeq.sortBy(_._1).map { case (c, s) => s"scaler.$c=${scaler(s)}" }
  }
}

/** Every field of the fitted model on [[PrepGoldenFixtures]], pinned to
  * the values the multi-pass fit produced before the fit became three
  * actions (probe, global aggregate, value-count aggregate).
  */
class PrepGoldenSpec extends SparkSpec {

  private val expected: Map[String, Seq[String]] = Map(
    "quantile_exact_classification" -> Seq(
      "numerical=v,w,sparse,yr",
      "categorical=cat",
      "datetime=ts,ds",
      "boolean=flag",
      "dropped=dead:missing share > 0.999;dom:dominant label >= 98%;konst:single value;one:single value",
      "formats=ds:yyyy-MM-dd",
      "targetClasses=cls0,cls1,cls2",
      "targetRange=-",
      "cat.cat=keep[a,b,c,d] rare=true none=true bloom=1048592:de47528445decbd882c438163e7b6063e97bcea25a6b849433ed2f534f48d23c",
      "stats.ds=1.5778368E9 1.6812576E9 1.6295472E9 2.9967226898730554E7 q[1.5778368E9,1.58817888E9,1.59852096E9,1.60886304E9,1.61920512E9,1.6295472E9,1.63988928E9,1.65023136E9,1.66057344E9,1.67091552E9,1.6812576E9]",
      "stats.konst=7.0 7.0 7.0 0.0 q[7.0,7.0,7.0,7.0,7.0,7.0,7.0,7.0,7.0,7.0,7.0]",
      "stats.sparse=1.5 199.5 100.5 57.91231715263534 q[1.5,21.3,41.1,60.89999999999999,80.7,100.5,120.29999999999998,140.1,159.9,179.7,199.5]",
      "stats.ts=1.6000036E9 1.6014364E9 1.6007195609756098E9 415981.5320353865 q[1.6000036E9,1.60014688E9,1.60029016E9,1.60043344E9,1.60057672E9,1.60072E9,1.60086328E9,1.60100656E9,1.60114984E9,1.60129312E9,1.6014364E9]",
      "stats.v=-3.0 22.0 9.497333333333334 7.304286400583351 q[-3.0,-0.6500000000000004,1.9499999999999993,4.5,7.0,9.5,12.0,14.5,17.0,19.5,22.0]",
      "stats.w=0.0 22.0 10.98 6.644544750194957 q[0.0,2.0,4.0,6.0,9.0,11.0,13.0,16.0,18.0,20.0,22.0]",
      "stats.yr=2.0 600.5 301.25 173.42145196024626 q[2.0,61.85000000000001,121.70000000000002,181.54999999999998,241.40000000000003,301.25,361.09999999999997,420.94999999999993,480.80000000000007,540.6500000000001,600.5]",
      "scaler.ds=minmax 1.5778368E9 1.6812576E9",
      "scaler.sparse=grid [1.5,21.3,41.1,60.89999999999999,80.7,100.5,120.29999999999998,140.1,159.9,179.7,199.5] normal=true",
      "scaler.ts=minmax 1.6000036E9 1.6014364E9",
      "scaler.v=grid [-3.0,-0.6500000000000004,1.9499999999999993,4.5,7.0,9.5,12.0,14.5,17.0,19.5,22.0] normal=true",
      "scaler.w=grid [0.0,2.0,4.0,6.0,9.0,11.0,13.0,16.0,18.0,20.0,22.0] normal=true",
      "scaler.yr=grid [2.0,61.85000000000001,121.70000000000002,181.54999999999998,241.40000000000003,301.25,361.09999999999997,420.94999999999993,480.80000000000007,540.6500000000001,600.5] normal=true",
    ),
    "quantile_sketch_regression" -> Seq(
      "numerical=v,w",
      "categorical=cat,yc",
      "datetime=ts,ds",
      "boolean=flag",
      "dropped=dead:missing share > 0.5;dom:dominant label >= 98%;konst:single value;one:single value;sparse:missing share > 0.5",
      "formats=ds:yyyy-MM-dd",
      "targetClasses=-",
      "targetRange=2.0,600.5",
      "cat.cat=keep[a,b,c,d] rare=true none=true bloom=-",
      "cat.yc=keep[cls0,cls1,cls2] rare=false none=false bloom=-",
      "stats.ds=1.5778368E9 1.6812576E9 1.6295472E9 2.9967226898730554E7 q[1.6213338416540499E9,1.6213338416540499E9,1.6213338416540499E9,1.6213338416540499E9,1.6213338416540499E9,1.6213338416540499E9,1.6213338416540499E9,1.6213338416540499E9,1.6213338416540499E9,1.6213338416540499E9,1.6213338416540499E9]",
      "stats.konst=7.0 7.0 7.0 0.0 q[7.055861472916946,7.055861472916946,7.055861472916946,7.055861472916946,7.055861472916946,7.055861472916946,7.055861472916946,7.055861472916946,7.055861472916946,7.055861472916946,7.055861472916946]",
      "stats.ts=1.6000036E9 1.6014364E9 1.6007195609756098E9 415981.5320353865 q[1.6213338416540499E9,1.6213338416540499E9,1.6213338416540499E9,1.6213338416540499E9,1.6213338416540499E9,1.6213338416540499E9,1.6213338416540499E9,1.6213338416540499E9,1.6213338416540499E9,1.6213338416540499E9,1.6213338416540499E9]",
      "stats.v=-3.0 22.0 9.497333333333334 7.304286400583351 q[-2.992374046230249,-0.7163505554061549,1.6891171380665115,4.381134841085708,7.055861472916946,9.391351620452458,12.499889006822224,15.124865698254895,16.637352268080384,20.13119624437727,22.144315868814992]",
      "stats.w=0.0 22.0 10.98 6.644544750194957 q[0.0,2.0438317370604793,3.9828498555324616,5.831290473485079,9.391351620452458,11.363535460747478,12.499889006822224,16.637352268080384,18.30108749488842,20.13119624437727,22.144315868814992]",
      "scaler.ds=minmax 1.5778368E9 1.6812576E9",
      "scaler.ts=minmax 1.6000036E9 1.6014364E9",
      "scaler.v=grid [-2.992374046230249,-0.7163505554061549,1.6891171380665115,4.381134841085708,7.055861472916946,9.391351620452458,12.499889006822224,15.124865698254895,16.637352268080384,20.13119624437727,22.144315868814992] normal=false",
      "scaler.w=grid [0.0,2.0438317370604793,3.9828498555324616,5.831290473485079,9.391351620452458,11.363535460747478,12.499889006822224,16.637352268080384,18.30108749488842,20.13119624437727,22.144315868814992] normal=false",
    ),
    "kbins_threshold5" -> Seq(
      "numerical=v,w,sparse,yr",
      "categorical=cat,yc",
      "datetime=ts,ds",
      "boolean=flag",
      "dropped=dead:missing share > 0.999;dom:dominant label >= 98%;konst:single value;one:single value",
      "formats=ds:yyyy-MM-dd",
      "targetClasses=-",
      "targetRange=-",
      "cat.cat=keep[a,b,c,d] rare=true none=true bloom=-",
      "cat.yc=keep[cls0,cls1,cls2] rare=false none=false bloom=-",
      "stats.ds=1.5778368E9 1.6812576E9 1.6295472E9 2.9967226898730554E7 q[1.59852096E9,1.61920512E9,1.63988928E9,1.66057344E9]",
      "stats.konst=7.0 7.0 7.0 0.0 q[7.0,7.0,7.0,7.0]",
      "stats.sparse=1.5 199.5 100.5 57.91231715263534 q[41.1,80.7,120.29999999999998,159.9]",
      "stats.ts=1.6000036E9 1.6014364E9 1.6007195609756098E9 415981.5320353865 q[1.60029016E9,1.60057672E9,1.60086328E9,1.60114984E9]",
      "stats.v=-3.0 22.0 9.497333333333334 7.304286400583351 q[1.9499999999999993,7.0,12.0,17.0]",
      "stats.w=0.0 22.0 10.98 6.644544750194957 q[4.0,9.0,13.0,18.0]",
      "stats.yr=2.0 600.5 301.25 173.42145196024626 q[121.70000000000002,241.40000000000003,361.09999999999997,480.80000000000007]",
      "scaler.ds=minmax 1.5778368E9 1.6812576E9",
      "scaler.sparse=kbins [41.1,80.7,120.29999999999998,159.9]",
      "scaler.ts=minmax 1.6000036E9 1.6014364E9",
      "scaler.v=kbins [1.9499999999999993,7.0,12.0,17.0]",
      "scaler.w=kbins [4.0,9.0,13.0,18.0]",
      "scaler.yr=kbins [121.70000000000002,241.40000000000003,361.09999999999997,480.80000000000007]",
    ),
    "standardize_strict_sparse" -> Seq(
      "numerical=v,w,yr",
      "categorical=cat,yc",
      "datetime=ts,ds",
      "boolean=flag",
      "dropped=dead:missing share > 0.5;dom:dominant label >= 98%;konst:single value;one:single value;sparse:missing share > 0.5",
      "formats=ds:yyyy-MM-dd",
      "targetClasses=-",
      "targetRange=-",
      "cat.cat=keep[a,b,c,d] rare=true none=true bloom=1048592:de47528445decbd882c438163e7b6063e97bcea25a6b849433ed2f534f48d23c",
      "cat.yc=keep[cls0,cls1,cls2] rare=false none=false bloom=1048592:0a4995594ba838168494254e455a9e7a4893f4e9d1074eba71d5df71d90f27fa",
      "stats.ds=1.5778368E9 1.6812576E9 1.6295472E9 2.9967226898730554E7 q[]",
      "stats.konst=7.0 7.0 7.0 0.0 q[]",
      "stats.ts=1.6000036E9 1.6014364E9 1.6007195609756098E9 415981.5320353865 q[]",
      "stats.v=-3.0 22.0 9.497333333333334 7.304286400583351 q[]",
      "stats.w=0.0 22.0 10.98 6.644544750194957 q[]",
      "stats.yr=2.0 600.5 301.25 173.42145196024626 q[]",
      "scaler.ds=standard 1.6295472E9 2.9967226898730554E7",
      "scaler.ts=standard 1.6007195609756098E9 415981.5320353865",
      "scaler.v=standard 9.497333333333334 7.304286400583351",
      "scaler.w=standard 10.98 6.644544750194957",
      "scaler.yr=standard 301.25 173.42145196024626",
    ),
  )

  private def check(session: SparkSession, name: String, cfg: PrepConfig, clue: String): Unit = {
    val df = PrepGoldenFixtures.frame(session)
    val m = Preprocessor.fit(df, cfg)
    assert(m.config == cfg && m.schema == df.schema)
    val got = PrepGoldenFixtures.render(m)
    val want = expected(name)
    got.zipAll(want, "<missing>", "<missing>").foreach { case (g, w) => assert(g == w, clue) }
  }

  PrepGoldenFixtures.cases.foreach { case (name, cfg) =>
    test(s"golden model: $name") {
      check(spark, name, cfg, name)
    }
  }

  // The fit's aggregates run at the same time and count rows in-pass;
  // neither may make the model depend on the shuffle layout.
  for ((label, conf) <- SparkSpec.layouts)
    test(s"golden models are the same with $label") {
      val session = SparkSpec.sessionWith(conf)
      for ((name, cfg) <- PrepGoldenFixtures.cases) check(session, name, cfg, s"$name under $label")
    }
}
