package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Dedup, Packing, TextAnalysis, TsFeatures}
import graft.prep.{PrepConfig, PrepModel, Preprocessor, Scaling}

/** Input sizes. `full` keeps the sf0.1 tables' per-series shapes (600
  * lineitem rows per supplier, ~67 events per series) at a size one run
  * can repeat several times; the self-test uses `small`.
  */
final case class Sizes(lineitemRows: Long, suppliers: Int, events: Long, series: Int,
                       docs: (Int, Int, Int, Int), serveRows: Int, serveBatches: Int)

object Sizes {
  val full = Sizes(9600L, 16, 1200L, 18, (900, 50, 80, 40), 1000, 64)
  val small = Sizes(12000L, 20, 3000L, 45, (600, 40, 50, 30), 200, 4)
}

/** One benchmark workload: inputs built in [[setup]], one timed operation
  * ([[op]]: a pipeline pass, or one served request), and output checks.
  */
abstract class Workload(val spark: SparkSession, val trace: Trace, val seed: Long,
                        val sizes: Sizes) {
  def name: String
  /** "pass" or "request". */
  def opName: String = "pass"
  /** Input rows one operation consumes. */
  def rowsPerOp: Long
  /** Operations run before timing starts; calibrated on pass-time curves,
    * which flatten after JIT and codegen warm-up.
    */
  def warmUpOps: Int = 10
  /** Builds the seeded inputs (and anything else the operation needs). */
  def setup(): Unit
  def op(): Unit
  /** Checks the outputs of the last operation; returns the failures, or
    * None when operation `i` is not checked.
    */
  def check(i: Int): Option[Seq[String]]
  /** The frames the last operation sank and how, for the sink guard. */
  def sinks: Seq[DataFrame]
  /** Per-layer work counts, computed outside any timed span. */
  def counts(): Map[String, Double] = Map.empty
  /** Drops every frame so that the final heap measurement sees only what the engine retains. */
  def release(): Unit

  protected val cores: Int = spark.sparkContext.defaultParallelism
  protected def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

object Workloads {
  val names: Seq[String] = Seq("prep_bulk", "ts_features", "curation", "ts_curation", "prep_serve")

  def apply(name: String, spark: SparkSession, trace: Trace, seed: Long, sizes: Sizes): Workload =
    name match {
      case "prep_bulk"   => new PrepBulk(spark, trace, seed, sizes)
      case "ts_features" => new TsFeaturesWorkload(spark, trace, seed, sizes)
      case "curation"    => new Curation(spark, trace, seed, sizes)
      case "ts_curation" => new TsCuration(spark, trace, seed, sizes)
      case "prep_serve"  => new PrepServe(spark, trace, seed, sizes)
    }

  /** The reference configuration: per-series windows on l_suppkey, standard scaling. */
  val prepConfig: PrepConfig = PrepConfig(seriesKey = Some("l_suppkey"), scaling = Scaling.Standardize)
  val lineitemKey: Seq[String] = Seq("l_orderkey", "l_linenumber")
}

/** Preprocessor.fit → transform → inverseTransform over lineitem; both outputs sunk. */
final class PrepBulk(spark: SparkSession, trace: Trace, seed: Long, sizes: Sizes)
    extends Workload(spark, trace, seed, sizes) {
  val name = "prep_bulk"
  def rowsPerOp: Long = sizes.lineitemRows
  private var input: DataFrame = _
  private var model: PrepModel = _
  private var transformed, restored: DataFrame = _

  def setup(): Unit = {
    input = Inputs.lineitem(spark, seed, sizes.lineitemRows, sizes.suppliers, cores).cache()
    input.count()
  }

  def op(): Unit = {
    model = trace("prep.fit") { Preprocessor.fit(input, Workloads.prepConfig) }
    transformed = trace("prep.transform_build") { model.transform(input) }
    trace("prep.transform_sink") { noop(transformed) }
    restored = trace("prep.inverse_build") { model.inverseTransform(transformed) }
    trace("prep.inverse_sink") { noop(restored) }
  }

  def check(i: Int): Option[Seq[String]] =
    if (i > 0) None else Some(Checks.prepFrames(model, input, transformed, restored))

  def sinks: Seq[DataFrame] = Seq(transformed, restored)
  def release(): Unit = { input.unpersist(); input = null; transformed = null; restored = null }
}

/** TsFeatures.extractMulti (full feature matrix sunk), then featureRelevance. */
final class TsFeaturesWorkload(spark: SparkSession, trace: Trace, seed: Long, sizes: Sizes)
    extends Workload(spark, trace, seed, sizes) {
  val name = "ts_features"
  override def warmUpOps: Int = 6
  def rowsPerOp: Long = sizes.events
  private val valueCols = Seq("va")
  private var raw, events, labels, features: DataFrame = _
  private var relevance: Array[Row] = _

  def setup(): Unit = {
    raw = Inputs.events(spark, seed, sizes.events, sizes.series, cores).cache()
    raw.count()
    events = raw.select(col("user_id"), col("ts"), col("value").as("va"))
    labels = raw.select("user_id", "y").distinct().cache()
    labels.count()
  }

  def op(): Unit = {
    features = trace("ts.extract_build") {
      TsFeatures.extractMulti(events, "user_id", Seq("ts"), valueCols)
    }
    trace("ts.extract_sink") { noop(features) }
    relevance = trace("ts.relevance") {
      TsFeatures.featureRelevance(features, labels, "user_id", "y").collect()
    }
  }

  def check(i: Int): Option[Seq[String]] =
    if (i > 0) None
    else Some(Checks.tsFeatures(features, relevance, events, sizes.series))

  def sinks: Seq[DataFrame] = Seq(features)

  override def counts(): Map[String, Double] = Map(
    "ts.analyzed_nodes" -> Checks.expressionCount(features).toDouble)

  def release(): Unit = { raw = null; events = null; labels = null; features = null; relevance = null }
}

/** quality filter → Dedup.exact → minhashPairs → connectedComponents → packFFD → sink. */
final class Curation(spark: SparkSession, trace: Trace, seed: Long, sizes: Sizes)
    extends Workload(spark, trace, seed, sizes) {
  val name = "curation"
  override def warmUpOps: Int = 14
  val capacity = 512L
  private val (nBase, nJunk, nExact, nNear) = sizes.docs
  def rowsPerOp: Long = (nBase + nJunk + nExact + nNear).toLong
  private var docs, filtered, pairs, survivors, packed: DataFrame = _
  private var expectedKept, expectedSurvivors: Long = 0L

  def setup(): Unit = {
    val all = Inputs.documents(spark, seed, nBase, nJunk, nExact, nNear, cores).cache()
    docs = all.select("doc_id", "text")
    // ground truth from the generator's labels, computed on the driver without graft
    val kept = all.where(col("kind") =!= "junk").select("text").collect().map(_.getString(0))
    expectedKept = kept.length.toLong
    expectedSurvivors = kept.map(_.toLowerCase.split("\\s+").filter(_.nonEmpty).mkString(" "))
      .distinct.length.toLong - nNear
  }

  private def quality(text: Column): Column =
    TextAnalysis.wsTokens(text) >= 20 && TextAnalysis.alphaRatio(text) >= 0.6 &&
      TextAnalysis.stopwordRatio(text) < 0.6 &&
      TextAnalysis.meanWordLen(text).between(2.0, 12.0)

  def op(): Unit = {
    filtered = trace("curate.quality") { docs.where(quality(col("text"))).localCheckpoint() }
    val unique = trace("curate.exact") {
      Dedup.exact(filtered, "doc_id", Dedup.normalizeText(col("text")))
        .join(filtered, "doc_id").select("doc_id", "text").localCheckpoint()
    }
    pairs = trace("curate.minhash") { Dedup.minhashPairs(unique, "doc_id", "text").localCheckpoint() }
    val merged = trace("curate.cc") {
      Dedup.connectedComponents(pairs).where(col("canonical") =!= col("id"))
    }
    survivors = unique.join(merged, unique("doc_id") === merged("id"), "left_anti")
    packed = trace("curate.pack") {
      val p = Packing.packFFD(survivors.select(col("doc_id"),
        pmod(col("doc_id"), lit(32L)).as("shard"),
        TextAnalysis.wsTokens(col("text")).cast("long").as("tokens")),
        "doc_id", "tokens", "shard", capacity)
      noop(p)
      p
    }
  }

  def check(i: Int): Option[Seq[String]] =
    if (i > 0) None
    else Some(Checks.curation(filtered, survivors, packed, capacity, expectedKept, expectedSurvivors))

  def sinks: Seq[DataFrame] = Seq(packed)

  override def counts(): Map[String, Double] = Map(
    "curate.pairs" -> pairs.count().toDouble,
    "curate.survivors" -> survivors.count().toDouble)

  def release(): Unit = { docs = null; filtered = null; pairs = null; survivors = null; packed = null }
}

/** ts_features then curation as one operation: the two driver-bound
  * pipelines (plan building, the per-job floor) in one run, so that two
  * workloads cover every layer within the per-run time of the automated
  * protocol.
  */
final class TsCuration(spark: SparkSession, trace: Trace, seed: Long, sizes: Sizes)
    extends Workload(spark, trace, seed, sizes) {
  val name = "ts_curation"
  override def warmUpOps: Int = 5
  private val ts = new TsFeaturesWorkload(spark, trace, seed, sizes)
  private val curation = new Curation(spark, trace, seed, sizes)
  def rowsPerOp: Long = ts.rowsPerOp + curation.rowsPerOp
  def setup(): Unit = { ts.setup(); curation.setup() }
  def op(): Unit = { ts.op(); curation.op() }
  def check(i: Int): Option[Seq[String]] =
    (ts.check(i) ++ curation.check(i)).reduceOption(_ ++ _)
  def sinks: Seq[DataFrame] = ts.sinks ++ curation.sinks
  override def counts(): Map[String, Double] = ts.counts() ++ curation.counts()
  def release(): Unit = { ts.release(); curation.release() }
}

/** A model fitted at setup serves a closed loop of one client: each request
  * is a seeded batch of lineitem rows through transform → inverseTransform,
  * collected back to the client; the next request goes when it returns.
  */
final class PrepServe(spark: SparkSession, trace: Trace, seed: Long, sizes: Sizes)
    extends Workload(spark, trace, seed, sizes) {
  val name = "prep_serve"
  override def opName: String = "request"
  override def warmUpOps: Int = 60
  def rowsPerOp: Long = sizes.serveRows.toLong
  private var model: PrepModel = _
  private var schema: StructType = _
  private var batches: IndexedSeq[java.util.List[Row]] = _
  private var next = 0
  private var request: java.util.List[Row] = _
  private var transformed, restored: DataFrame = _
  private var response: Array[Row] = _

  def setup(): Unit = {
    val input = Inputs.lineitem(spark, seed, sizes.lineitemRows, sizes.suppliers, cores).cache()
    input.count()
    model = trace("prep.fit") { Preprocessor.fit(input, Workloads.prepConfig) }
    schema = input.schema
    // batches: runs of consecutive rows starting at seeded offsets
    val rows = input.orderBy(Workloads.lineitemKey.map(col): _*).collect()
    val rnd = new scala.util.Random(seed)
    batches = IndexedSeq.fill(sizes.serveBatches) {
      val start = rnd.nextInt(rows.length - sizes.serveRows + 1)
      rows.slice(start, start + sizes.serveRows).toSeq.asJava
    }
    input.unpersist()
  }

  def op(): Unit = {
    request = batches(next % batches.size)
    next += 1
    val df = spark.createDataFrame(request, schema)
    transformed = trace("prep.transform_build") { model.transform(df) }
    restored = trace("prep.inverse_build") { model.inverseTransform(transformed) }
    response = trace("prep.inverse_sink") { restored.collect() }
  }

  /** Every response is checked on the client; every 16th request also
    * collects the transform output to check the one-hot blocks.
    */
  def check(i: Int): Option[Seq[String]] = {
    val roundTrip = Checks.prepRows(schema, request.asScala.toSeq, response)
    val encoded =
      if (i % 16 != 0) Nil
      else Checks.encodedRows(model, transformed.columns.toSeq, transformed.collect())
    Some(roundTrip ++ encoded)
  }

  def sinks: Seq[DataFrame] = Seq(restored)
  def release(): Unit = { batches = null; request = null; transformed = null; restored = null; response = null }
}
