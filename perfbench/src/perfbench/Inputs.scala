package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded synthetic inputs shaped like the sf0.1 test tables (lineitem,
  * events, documents). Every value is a pure function of (seed, row id),
  * so the same seed gives the same rows under any partitioning. The
  * library only ever sees the frames built here.
  */
object Inputs {

  /** Uniform double in [0, 1) drawn from (seed, `id` column, salt). */
  def uniform(seed: Long, salt: Int, id: Column = col("id")): Column =
    xxhash64(id, lit(seed), lit(salt)).bitwiseAND(lit((1L << 53) - 1)).cast("double") /
      lit(9007199254740992.0)

  /** Share of injected nulls per nullable lineitem column. */
  val NullShare = 0.02

  /** lineitem: 4 doubles, 4 integer keys, 2 low-cardinality strings and
    * a timestamp; (l_orderkey, l_linenumber) is unique and never null, and
    * l_suppkey takes `suppliers` values.
    * Seeded nulls land in the doubles, the strings and the timestamp so
    * that fill and interpolation take their null paths.
    */
  def lineitem(spark: SparkSession, seed: Long, rows: Long, suppliers: Int, parts: Int): DataFrame = {
    def u(salt: Int) = uniform(seed, salt)
    def nullable(c: Column, salt: Int) = when(u(100 + salt) < NullShare, lit(null)).otherwise(c)
    val qty = (floor(u(3) * 50) + 1).cast("double")
    spark.range(0, rows, 1, parts).select(
      floor(col("id") / 4).as("l_orderkey"),
      floor(u(1) * 20000).as("l_partkey"),
      floor(u(2) * suppliers).as("l_suppkey"),
      (pmod(col("id"), lit(4)) + 1).cast("int").as("l_linenumber"),
      nullable(qty, 3).as("l_quantity"),
      nullable(round(qty * (lit(900.0) + u(4) * 1100), 2), 4).as("l_extendedprice"),
      nullable(floor(u(5) * 11) / 100, 5).as("l_discount"),
      nullable(floor(u(6) * 9) / 100, 6).as("l_tax"),
      nullable(element_at(array(lit("A"), lit("N"), lit("R")),
        (floor(u(7) * 3) + 1).cast("int")), 7).as("l_returnflag"),
      nullable(when(u(8) < 0.5, lit("O")).otherwise(lit("F")), 8).as("l_linestatus"),
      nullable(date_add(lit("1992-01-02").cast("date"), floor(u(9) * 2500).cast("int"))
        .cast("timestamp"), 9).as("l_shipdate"))
  }

  /** events: `series` series of `rows / series` events each, `ts` in Long
    * nanoseconds strictly increasing within a series, and a per-series
    * 0/1 label `y` that shifts the series level (so relevance has signal).
    */
  def events(spark: SparkSession, seed: Long, rows: Long, series: Int, parts: Int): DataFrame = {
    val k = floor(col("id") / series)
    val user = pmod(col("id"), lit(series.toLong))
    val y = xxhash64(user, lit(seed), lit(7)).bitwiseAND(lit(1L))
    spark.range(0, rows, 1, parts).select(
      user.as("user_id"),
      (lit(1704067200000000000L) +
        (k * 600 + floor(uniform(seed, 1) * 590)) * lit(1000000000L)).as("ts"),
      round(lit(40.0) + y * 20 + (uniform(seed, 2) - 0.5) * 50 + sin(k / 5.0) * 10, 4).as("value"),
      y.as("y"))
  }

  val Vocabulary: Seq[String] = Seq(
    "the", "a", "of", "to", "in", "and", "is", "it", "for", "an",
    "spark", "column", "table", "query", "batch", "stream", "window", "join",
    "filter", "group", "merge", "scan", "sort", "hash", "order", "value",
    "vector", "index", "shard", "plan", "stage", "task", "cluster", "driver",
    "executor", "memory", "shuffle", "partition", "record", "schema", "field",
    "string", "number", "date", "time", "series", "feature", "model", "label",
    "token", "document", "corpus", "text", "word", "sentence", "quality",
    "signal", "noise", "sample", "metric", "latency", "throughput", "result",
    "output")

  private val Symbols = Seq("###", "$$", "%%%", "1999", "42", "--", "@@", "&&", "++", "0x1f")

  /** Space-joined words `words[pmod(xxhash64(id, j, seed, salt), |words|)]`
    * for j = 1..n, where `id` and `n` name integer columns in scope.
    */
  private def randomText(words: Seq[String], id: String, n: String, seed: Long, salt: Int): Column = {
    val vocab = words.map(w => s"'$w'").mkString("array(", ",", ")")
    expr(s"concat_ws(' ', transform(sequence(1, $n), j -> element_at($vocab, " +
      s"cast(pmod(xxhash64($id, j, ${seed}L, $salt), ${words.size}) as int) + 1)))")
  }

  /** Corpus with known structure. Columns: doc_id, text, kind, where kind is
    *  - `base`: 30-99 random vocabulary words, all distinct;
    *  - `junk`: fails the quality filter (too short, or symbol words);
    *  - `exact`: a base text re-cased and re-spaced (same normalized text);
    *  - `near`: a base text plus one appended word (3-shingle Jaccard >= 0.8),
    *    each from a different base document.
    * Copies regenerate their source's text from its id, so no join is needed.
    */
  def documents(spark: SparkSession, seed: Long, nBase: Int, nJunk: Int, nExact: Int,
                nNear: Int, parts: Int): DataFrame = {
    def u(salt: Int) = uniform(seed, salt)
    def baseText(id: String) =
      randomText(Vocabulary, id, s"cast(floor(${id}_u * 70) + 30 as int)", seed, 1)
    // src: the base document a copy is made from (exact copies pick any;
    // near copies take base docs nBase / nNear apart, so none twice)
    val offset = math.abs(seed * 7919L) % nBase
    val (junk0, exact0, near0) = (nBase, nBase + nJunk, nBase + nJunk + nExact)
    val src = when(col("id") < junk0, col("id"))
      .when(col("id") >= near0, pmod((col("id") - near0) * (nBase / nNear) + offset, lit(nBase.toLong)))
      .when(col("id") >= exact0, floor(u(4) * nBase))
    val ids = spark.range(0, near0 + nNear, 1, parts).select(col("id"), src.as("src"),
      (floor(u(3) * 10) + 5).cast("int").as("short"), (floor(u(3) * 40) + 30).cast("int").as("long"),
      u(2).as("r"), u(5).as("r2"), u(6).as("r3"))
      .withColumn("src_u", uniform(seed, 1, col("src")))
    val text = baseText("src")
    ids.select(col("id").as("doc_id"),
      when(col("id") < junk0, text)
        .when(col("id") < exact0, when(col("r") < 0.5, randomText(Vocabulary, "id", "short", seed, 2))
          .otherwise(randomText(Symbols, "id", "long", seed, 3)))
        .when(col("id") < near0,
          regexp_replace(when(col("r2") < 0.5, upper(text)).otherwise(initcap(text)), " ", "  "))
        .otherwise(concat_ws(" ", text, element_at(typedLit(Vocabulary),
          (floor(col("r3") * Vocabulary.size) + 1).cast("int")))).as("text"),
      when(col("id") < junk0, lit("base")).when(col("id") < exact0, lit("junk"))
        .when(col("id") < near0, lit("exact")).otherwise(lit("near")).as("kind"))
  }
}
