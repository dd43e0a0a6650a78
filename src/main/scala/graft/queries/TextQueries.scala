package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.operators.{FreqSketch, TextAnalysis}

/** Text-analysis coverage (SURVEY §2.3 rows 37-40) over documents. */
object TextQueries {

  // ---------------------------------------------------------------- §2.3/37
  val textTokens: Q = Q(
    "text_tokens",
    (s, dir) => Tables.documents(s, dir).select(
      col("doc_id"),
      TextAnalysis.wsTokens(col("text")).as("ws_tokens"),
      TextAnalysis.regexTokens(col("text")).as("regex_tokens"),
      TextAnalysis.charEstimateTokens(col("text")).as("est_tokens"),
    ),
    Some("""
      SELECT doc_id,
             len(regexp_extract_all(trim(text), '\S+')) AS ws_tokens,
             len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
               AS regex_tokens,
             ceil(length(text) / 4.0)::BIGINT AS est_tokens
      FROM documents
    """),
  )

  // ---------------------------------------------------------------- §2.3/38
  val textQuality: Q = Q(
    "text_quality",
    (s, dir) => Tables.documents(s, dir).select(
      col("doc_id"),
      length(col("text")).as("n_chars"),
      round(TextAnalysis.punctRatio(col("text")), 6).as("punct_ratio"),
      round(TextAnalysis.stopwordRatio(col("text")), 6).as("stopword_ratio"),
      round(TextAnalysis.meanWordLen(col("text")), 6).as("mean_word_len"),
      round(TextAnalysis.alphaRatio(col("text")), 6).as("alpha_ratio"),
    ),
    Some(s"""
      WITH w AS (
        SELECT doc_id, text, regexp_extract_all(trim(text), '\\S+') AS words
        FROM documents)
      SELECT doc_id,
             length(text) AS n_chars,
             round(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]'))::DOUBLE /
                   greatest(length(text), 1), 6) AS punct_ratio,
             round(len(list_filter(list_transform(words, x -> lower(x)),
                   x -> list_contains(${TextAnalysis.Stopwords.map(w => s"'$w'").mkString("[", ",", "]")}, x)))::DOUBLE /
                   greatest(len(words), 1), 6) AS stopword_ratio,
             round(list_sum(list_transform(words, x -> length(x)))::DOUBLE /
                   greatest(len(words), 1), 6) AS mean_word_len,
             round(len(regexp_extract_all(text, '[A-Za-z]'))::DOUBLE /
                   greatest(length(text), 1), 6) AS alpha_ratio
      FROM w
    """),
  )

  // ---------------------------------------------------------------- §2.3/39
  val textLangid: Q = Q(
    "text_langid",
    (s, dir) => {
      val lid = TextAnalysis.langId(col("text"))
      Tables.documents(s, dir).select(
        col("doc_id"),
        lid.getField("lang").as("lang_pred"),
        round(lid.getField("score"), 6).as("score"),
      )
    },
    Some {
      val scoreSql = TextAnalysis.LangMarkers.map { case (lang, markers) =>
        s"len(list_filter(words, x -> list_contains(${markers.map(m => s"'$m'").mkString("[", ",", "]")}, x)))::DOUBLE / greatest(len(words), 1) AS s_$lang"
      }.mkString(",\n               ")
      val langs = TextAnalysis.LangMarkers.map(_._1)
      val best = s"greatest(${langs.map(l => s"s_$l").mkString(", ")})"
      // first language in code order wins ties, same as the Spark fold
      val pick = langs.reverse.foldLeft(s"'${langs.last}'") { (acc, l) =>
        s"CASE WHEN s_$l = $best THEN '$l' ELSE $acc END"
      }
      s"""
      WITH w AS (
        SELECT doc_id,
               list_transform(regexp_extract_all(trim(text), '\\S+'), x -> lower(x))
                 AS words
        FROM documents),
      sc AS (
        SELECT doc_id,
               $scoreSql
        FROM w)
      SELECT doc_id, $pick AS lang_pred, round($best, 6) AS score FROM sc
      """
    },
  )

  // ---------------------------------------------------------------- §2.3/40
  val textFingerprint: Q = Q(
    "text_fingerprint",
    (s, dir) => Tables.documents(s, dir)
      .select(col("doc_id"), col("text"))
      // winnowing is the per-row hot spot; spread beyond the single
      // row-group input partition
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(
        col("doc_id"),
        md5(col("text")).as("fp"),
        TextAnalysis.winnowCount(col("text"), k = 5, w = 4).as("n_winnow"),
      ),
    Some("""
      WITH d AS (SELECT doc_id, text, length(text) AS L FROM documents),
      pos AS (
        SELECT doc_id, L - 4 AS g, t.i AS i, md5(text[t.i:t.i+4]) AS gh
        FROM d, unnest(range(1, greatest(L - 3, 2))) AS t(i)
        WHERE L >= 5),
      win AS (
        SELECT doc_id, g, i,
               min(gh) OVER (PARTITION BY doc_id ORDER BY i
                 ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin
        FROM pos),
      nw AS (
        SELECT doc_id, count(DISTINCT wmin) AS n_winnow
        FROM win WHERE i <= greatest(g - 3, 1)
        GROUP BY doc_id)
      SELECT d.doc_id, md5(d.text) AS fp,
             coalesce(nw.n_winnow, 0) AS n_winnow
      FROM d LEFT JOIN nw USING (doc_id)
    """),
    // the r15 list-lambda form (md5 grams + window mins built by
    // per-index LIST SLICES of a captured list) was O(len²) copies per
    // document and blew the sf1 oracle cap on 15 MB of text; this
    // row-per-gram form computes the IDENTICAL grams (same text[i:i+4]
    // expression), window minima (frame = the same 4 grams), and
    // distinct count — 1.4 s at sf1 vs >600 s
  )

  // --------------------------------------------------------------- §2.3/41b
  /** hex-nibble value of char `pos` (1-based SQL expr) of column h. */
  private def hv(pos: String) =
    s"(strpos('0123456789abcdef', substr(h, $pos, 1)) - 1)"

  /** The COMPOSED text-curation pipeline a training-data run actually
    * executes, as ONE registered query: language-ID filter (keep
    * predicted English) → quality filter (alpha ratio ≥ 0.8, ≥ 25
    * whitespace tokens) → exact dedup on normalized text → SimHash
    * near-dup connected-components survivor → (doc_id, ws_tokens)
    * keep-list. Near-dup and exact copies are injected so every stage
    * provably removes something. Each stage inherits its scale shape
    * from its operator (narrow filters; one groupBy; banded self-join,
    * never all-pairs; checkpointed CC). The oracle replays every stage
    * — including the md5 SimHash — in one recursive SQL.
    */
  val textPipeline: Q = Q(
    "text_pipeline",
    (s, dir) => {
      import graft.operators.Dedup
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val corpus = d
        .unionAll(d.where(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 100000).as("doc_id"), col("text")))
        .unionAll(d.where(col("doc_id") % 20 === 0)
          .select((col("doc_id") + 200000).as("doc_id"),
            concat(col("text"), lit(" tail marker words")).as("text")))
      val lid = TextAnalysis.langId(col("text"))
      // materialize the curated subset ONCE: three downstream consumers
      // (exact-dedup groupBy, survivor join, simhash stage) would each
      // re-run the language-ID and quality expressions over the whole
      // corpus otherwise — at 100 TB the filtered corpus is the thing
      // you persist before dedup, not recompute per stage
      val kept = corpus
        .withColumn("lang_pred", lid.getField("lang"))
        .withColumn("alpha_ratio", TextAnalysis.alphaRatio(col("text")))
        .withColumn("ws_tokens", TextAnalysis.wsTokens(col("text")))
        .where(col("lang_pred") === "en" &&
          col("alpha_ratio") >= 0.8 && col("ws_tokens") >= 25)
        .select(col("doc_id"), col("text"), col("ws_tokens"))
        .localCheckpoint(eager = false) // materialized by the first consumer
      val surv = Dedup.exact(
        kept.select(col("doc_id"), Dedup.normalizeText(col("text")).as("ntext")),
        "doc_id", col("ntext")).select("doc_id")
      val sd = kept.join(surv, "doc_id")
      val pairs = Dedup.simhashPairs(sd.select(col("doc_id"), col("text")),
        "doc_id", "text", maxHamming = 3).select("id_a", "id_b")
      val canon = Dedup.connectedComponents(pairs)
      sd.select(col("doc_id"), col("ws_tokens"))
        .join(canon, col("doc_id") === col("id"), "left")
        .where(col("canonical").isNull || col("canonical") === col("doc_id"))
        .select(col("doc_id"), col("ws_tokens"))
    },
    Some {
      val scoreSql = TextAnalysis.LangMarkers.map { case (lang, markers) =>
        s"len(list_filter(words, x -> list_contains(${markers.map(m => s"'$m'").mkString("[", ",", "]")}, x)))::DOUBLE / greatest(len(words), 1) AS s_$lang"
      }.mkString(",\n               ")
      val langs = TextAnalysis.LangMarkers.map(_._1)
      val best = s"greatest(${langs.map(l => s"s_$l").mkString(", ")})"
      val pick = langs.reverse.foldLeft(s"'${langs.last}'") { (acc, l) =>
        s"CASE WHEN s_$l = $best THEN '$l' ELSE $acc END"
      }
      s"""
      WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0
        UNION ALL
        SELECT doc_id + 200000, text || ' tail marker words'
        FROM documents WHERE doc_id % 20 = 0),
      w0 AS (
        SELECT doc_id, text,
               list_transform(regexp_extract_all(trim(text), '\\S+'), x -> lower(x))
                 AS words,
               len(regexp_extract_all(trim(text), '\\S+')) AS ws_tokens,
               len(regexp_extract_all(text, '[A-Za-z]'))::DOUBLE /
                 greatest(length(text), 1) AS alpha_ratio
        FROM corpus),
      sc0 AS (
        SELECT doc_id,
               $scoreSql
        FROM w0),
      kept AS MATERIALIZED (
        SELECT w0.doc_id, w0.text, w0.ws_tokens
        FROM w0 JOIN sc0 USING (doc_id)
        WHERE $pick = 'en' AND w0.alpha_ratio >= 0.8 AND w0.ws_tokens >= 25),
      surv AS (
        SELECT min(doc_id) AS doc_id FROM kept
        GROUP BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))),
      sd AS MATERIALIZED (
        SELECT k.doc_id, k.text, k.ws_tokens FROM kept k JOIN surv USING (doc_id)),
      tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM sd),
      tw AS (SELECT doc_id, md5(w) AS h FROM tok WHERE w <> ''),
      cnt AS (SELECT doc_id, count(*) AS n FROM tw GROUP BY 1),
      tb AS (
        SELECT doc_id, b.b AS band,
               ((${hv("4*b.b+1")}*16 + ${hv("4*b.b+2")})*16 + ${hv("4*b.b+3")})*16
                 + ${hv("4*b.b+4")} AS v16
        FROM tw, range(4) b(b)),
      bits AS (
        SELECT doc_id, band, r.r AS bit, sum((v16 >> r.r) & 1) AS ones
        FROM tb, range(16) r(r) GROUP BY 1, 2, 3),
      sig AS (
        SELECT bits.doc_id, band,
               sum(CASE WHEN 2*ones >= cnt.n THEN (1::BIGINT << bit) ELSE 0 END) AS bv
        FROM bits JOIN cnt ON bits.doc_id = cnt.doc_id GROUP BY 1, 2),
      sigs AS (
        SELECT doc_id,
               max(CASE WHEN band = 0 THEN bv END) AS band0,
               max(CASE WHEN band = 1 THEN bv END) AS band1,
               max(CASE WHEN band = 2 THEN bv END) AS band2,
               max(CASE WHEN band = 3 THEN bv END) AS band3
        FROM sig GROUP BY 1),
      cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM sig a JOIN sig b
          ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id),
      p AS MATERIALIZED (
        SELECT id_a, id_b
        FROM cand JOIN sigs x ON id_a = x.doc_id JOIN sigs y ON id_b = y.doc_id
        WHERE bit_count(xor(x.band0, y.band0)) + bit_count(xor(x.band1, y.band1))
            + bit_count(xor(x.band2, y.band2)) + bit_count(xor(x.band3, y.band3)) <= 3),
      ${DedupQueries.closureSql()}
      SELECT sd.doc_id, sd.ws_tokens
      FROM sd LEFT JOIN canon ON sd.doc_id = canon.id
      WHERE canon.canonical IS NULL OR canon.canonical = sd.doc_id
      """
    },
  )

  // --------------------------------------------------------------- §2.3/41c
  /** Deterministic train/val/test split (98/1/1) by md5 hash bucket of
    * the doc id — the scale-correct split: no RNG state, no shuffle,
    * reproducible on any engine/cluster layout, stable under
    * re-partitioning (unlike `sample()`); a narrow projection.
    */
  val textHashSplit: Q = Q(
    "text_hash_split",
    (s, dir) => {
      val b = pmod(conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long"), lit(100))
      Tables.documents(s, dir).select(
        col("doc_id"),
        when(b < 98, "train").when(b < 99, "val").otherwise("test").as("split"))
    },
    Some(s"""
      SELECT doc_id,
             CASE WHEN h16 % 100 < 98 THEN 'train'
                  WHEN h16 % 100 < 99 THEN 'val'
                  ELSE 'test' END AS split
      FROM (
        SELECT doc_id,
               ${OracleExact.h16Sql("hx")} AS h16
        FROM (SELECT doc_id, md5(doc_id::VARCHAR) AS hx FROM documents))
    """),
  )

  /** Token-budget sequence packing: shard by hash (32-way parallelism),
    * order within the shard, assign each doc to the pack its RUNNING
    * token count lands in (512-token bins). The per-shard window is the
    * packing loop a sequential packer runs, parallel across shards —
    * the standard "pack documents into context windows" pre-training
    * step, with zero driver state.
    */
  val textPack: Q = Q(
    "text_pack",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val t = Tables.documents(s, dir).select(
        col("doc_id"),
        pmod(col("doc_id"), lit(32)).as("shard"),
        TextAnalysis.wsTokens(col("text")).cast("long").as("tokens"))
      val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      t.withColumn("cum", sum(col("tokens")).over(w))
        .select(col("doc_id"), col("shard"), col("tokens"),
          expr("(cum - tokens) div 512").as("pack_id"))
    },
    Some("""
      SELECT doc_id, doc_id % 32 AS shard,
             len(regexp_extract_all(trim(text), '\S+')) AS tokens,
             (sum(len(regexp_extract_all(trim(text), '\S+')))
                OVER (PARTITION BY doc_id % 32 ORDER BY doc_id
                      ROWS UNBOUNDED PRECEDING)
              - len(regexp_extract_all(trim(text), '\S+')))::BIGINT // 512 AS pack_id
      FROM documents
    """),
  )

  /** Global vocabulary top-k: word counts + deterministic top-100
    * (count desc, word asc). Spark plans orderBy+limit as
    * TakeOrderedAndProject — per-partition partial top-k, no global
    * sort, driver receives k rows.
    */
  val textVocab: Q = Q(
    "text_vocab",
    (s, dir) => Tables.documents(s, dir)
      .select(explode(split(lower(col("text")), " ", -1)).as("w"))
      .where(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("w"))
      .limit(100),
    Some("""
      SELECT w, count(*) AS n
      FROM (SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents)
      WHERE w <> ''
      GROUP BY w ORDER BY n DESC, w LIMIT 100
    """),
  )

  /** Deterministic class balancing ([[graft.operators.Sampling
    * .balanceClasses]]): every language downsampled to the minority
    * language's count by md5-hash rank — the balanced-multilingual-
    * corpus step, reproducible under any partitioning. The oracle
    * replays the hash ranks exactly.
    */
  val textBalance: Q = Q(
    "text_balance",
    (s, dir) => graft.operators.Sampling.balanceClasses(
      Tables.documents(s, dir).select(col("doc_id"), col("lang")),
      "lang", "doc_id"),
    Some(s"""
      WITH h AS (
        SELECT doc_id, lang,
               ${OracleExact.h16Sql("hx")} AS h16
        FROM (SELECT doc_id, lang, md5(doc_id::VARCHAR) AS hx FROM documents)),
      m AS (SELECT min(n) AS m FROM (SELECT count(*) AS n FROM documents GROUP BY lang)),
      r AS (
        SELECT doc_id, lang,
               row_number() OVER (PARTITION BY lang ORDER BY h16, doc_id) AS rk
        FROM h)
      SELECT doc_id, lang FROM r, m WHERE rk <= m.m
    """),
  )

  /** Deterministic mixture sampling to TARGET language proportions
    * ([[graft.operators.Sampling.mixtureSample]]) — the data-mixture
    * curation draw (40% en / 20% zh / 20% es / 10% de / 10% fr over a
    * 60%-of-corpus budget): per-class quotas are pure int64 rational
    * arithmetic off one fit-boundary count, membership is
    * md5-hash-rank, and the oracle replays quota and rank exactly.
    */
  val textMixtureSample: Q = Q(
    "text_mixture_sample",
    (s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("lang"))
      val total = d.count() * 6 / 10
      graft.operators.Sampling.mixtureSample(d, "lang", "doc_id",
        Seq("en" -> 4L, "zh" -> 2L, "es" -> 2L, "de" -> 1L, "fr" -> 1L),
        den = 10L, total = total)
    },
    Some(s"""
      WITH t AS (SELECT count(*) * 6 // 10 AS total FROM documents),
      h AS (
        SELECT doc_id, lang, ${OracleExact.h16Sql("hx")} AS h16
        FROM (SELECT doc_id, lang, md5(doc_id::VARCHAR) AS hx FROM documents)),
      k AS (
        SELECT 'en' AS lang, total * 4 // 10 AS k FROM t
        UNION ALL SELECT 'zh', total * 2 // 10 FROM t
        UNION ALL SELECT 'es', total * 2 // 10 FROM t
        UNION ALL SELECT 'de', total * 1 // 10 FROM t
        UNION ALL SELECT 'fr', total * 1 // 10 FROM t),
      r AS (
        SELECT doc_id, lang,
               row_number() OVER (PARTITION BY lang ORDER BY h16, doc_id) AS rk
        FROM h)
      SELECT r.doc_id, r.lang FROM r JOIN k USING (lang) WHERE rk <= k.k
    """),
  )

  /** Stratified 5-fold split ([[graft.operators.Sampling
    * .stratifiedKFold]]): every language contributes an equal (±1)
    * share to each fold by hash-rank round-robin — the deterministic
    * cross-validation counterpart of `text_hash_split`. The oracle
    * replays the per-class rank arithmetic.
    */
  val textKfold: Q = Q(
    "text_kfold",
    (s, dir) => graft.operators.Sampling.stratifiedKFold(
      Tables.documents(s, dir).select(col("doc_id"), col("lang")),
      "lang", "doc_id", k = 5),
    Some(s"""
      WITH h AS (
        SELECT doc_id, lang,
               ${OracleExact.h16Sql("hx")} AS h16
        FROM (SELECT doc_id, lang, md5(doc_id::VARCHAR) AS hx FROM documents))
      SELECT doc_id, lang,
             (row_number() OVER (PARTITION BY lang ORDER BY h16, doc_id) - 1) % 5
               AS fold
      FROM h
    """),
  )

  /** Hash-threshold class balancing ([[graft.operators.Sampling
    * .balanceClassesThreshold]]) — the no-sort scale path: keep iff
    * h16 < ⌊65536·m/n_class⌋; approximate per-class size, exact
    * deterministic membership the oracle replays.
    */
  val textBalanceThreshold: Q = Q(
    "text_balance_threshold",
    (s, dir) => graft.operators.Sampling.balanceClassesThreshold(
      Tables.documents(s, dir).select(col("doc_id"), col("lang")),
      "lang", "doc_id"),
    Some(s"""
      WITH n AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
      m AS (SELECT min(n) AS m FROM n),
      h AS (
        SELECT doc_id, lang, ${OracleExact.h16Sql("hx")} AS h16
        FROM (SELECT doc_id, lang, md5(doc_id::VARCHAR) AS hx FROM documents))
      SELECT h.doc_id, h.lang
      FROM h JOIN n USING (lang) CROSS JOIN m
      WHERE h16 < (65536 * m.m) // n.n
    """),
  )

  /** First-fit-decreasing packing over the same shard/token layout as
    * `text_pack` ([[graft.operators.Packing.packFFD]]). Bench + spec
    * coverage: the assignment depends on per-shard bin state, so it is
    * not SQL-window expressible (no DuckDB oracle); PackingSpec
    * asserts FFD waste ≤ running-sum waste on this same corpus.
    */
  def packFFD(s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val t = Tables.documents(s, dir).select(
      col("doc_id"),
      pmod(col("doc_id"), lit(32)).as("shard"),
      TextAnalysis.wsTokens(col("text")).cast("long").as("tokens"))
    graft.operators.Packing.packFFD(t, "doc_id", "tokens", "shard", capacity = 512L)
  }

  /** Count-min heavy hitters: the bounded-state answer to "how often
    * does each of these tokens appear in a 100 TB corpus" — a 4×512
    * md5-hashed counter grid built in one pass (map-side combine
    * collapses every partition to ≤ 2048 cells), probed for the top-20
    * exact words so the row carries the estimate NEXT TO its ground
    * truth (overcount ≥ 0 is the CM guarantee). The oracle replays the
    * md5 grid and the min-over-rows estimate exactly.
    */
  val heavyHitters: Q = {
    val (depth, width) = (4, 512)
    val jsSql = s"(SELECT CAST(unnest([${(0 until depth).mkString(",")}]) AS INT) AS j)"
    def bSql(w: String) =
      s"(${OracleExact.h16Sql(s"md5(j::VARCHAR || ':' || $w)")} % $width)"
    Q(
      "q_heavy_hitters",
      (s, dir) => {
        val toks = Tables.documents(s, dir)
          .select(explode(split(lower(col("text")), " ", -1)).as("w"))
          .where(col("w") =!= "")
        val grid = FreqSketch.countMinGrid(toks, "w", depth, width)
        val top = toks.groupBy("w").agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("w")).limit(20)
        FreqSketch.estimate(grid, top.select("w"), "w", depth, width)
          .join(top, "w")
          .select(col("w"), col("n"), col("est"),
            (col("est") - col("n")).as("overcount"))
      },
      Some(s"""
        WITH toks AS (
          SELECT w FROM (SELECT unnest(string_split(lower(text), ' ')) AS w
                         FROM documents) WHERE w <> ''),
        cells AS (SELECT j, ${bSql("w")} AS b FROM $jsSql CROSS JOIN toks),
        grid AS (SELECT j, b, count(*) AS cnt FROM cells GROUP BY j, b),
        top AS (SELECT w, count(*) AS n FROM toks GROUP BY w
                ORDER BY n DESC, w LIMIT 20),
        probes AS (SELECT t.w, t.n, j, ${bSql("t.w")} AS b
                   FROM top t CROSS JOIN $jsSql),
        est AS (SELECT p.w, p.n, min(g.cnt) AS est
                FROM probes p JOIN grid g USING (j, b) GROUP BY p.w, p.n)
        SELECT w, n, est, est - n AS overcount FROM est
      """),
    )
  }

  /** CM-smoothed bigram surprisal scoring — the KenLM-shaped quality
    * signal at BOUNDED state: unigram and bigram counts live in
    * count-min grids (never a vocabulary-sized table), and each doc
    * scores mean −ln P̂(w₂|w₁) = mean(ln estU(w₁) − ln estB(w₁w₂))
    * over its bigram occurrences. Both grids build in one pass each
    * (map-side combine to ≤ depth·width cells); estimates attach via
    * distinct-token probe frames + hash joins, never per-occurrence
    * grid probes. CM overestimation can make individual surprisals
    * negative — the MEAN over a doc is the quality signal, exactly how
    * sketch-backed LM filters are run. The md5 grids + integer-micro
    * mean make the whole score DuckDB-replayable.
    */
  val textSurprisal: Q = {
    val (depth, wU, wB) = (4, 2048, 8192)
    val jsSql = s"(SELECT CAST(unnest([${(0 until depth).mkString(",")}]) AS INT) AS j)"
    def bSql(w: String, width: Int) =
      s"(${OracleExact.h16Sql(s"md5(j::VARCHAR || ':' || $w)")} % $width)"
    Q(
      "text_surprisal",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
          .select(col("doc_id"), lower(col("text")).as("t"))
        // (r17 A/B: a doc_id repartition here — the text_repetition
        // fix — measured 1.9→3.4 s SLOWER: both sketch builds re-read
        // the exchange and the grids' map-side combine already
        // collapses the scan stage; reverted)
        // RAW whitespace tokens (no empty filter) so unigram prefixes
        // align with bigram adjacency on both engines
        val toks = docs.select(explode(split(col("t"), " ", -1)).as("w"))
        val gU = FreqSketch.countMinGrid(toks, "w", depth, wU)
        // one materialization of the occurrence frontier (3 consumers,
        // all inside the one final action — lazy fills the cache there)
        val bgOcc = docs.select(col("doc_id"),
            explode(graft.functions.GraftFunctions.wordNgrams(col("t"), 2)).as("bg"))
          .localCheckpoint(eager = false)
        val gB = FreqSketch.countMinGrid(bgOcc.select("bg"), "bg", depth, wB)
        val bgEst = FreqSketch.estimate(gB, bgOcc.select("bg").distinct(),
          "bg", depth, wB).withColumnRenamed("est", "est_b")
        val w1Est = FreqSketch.estimate(gU,
            bgOcc.select(substring_index(col("bg"), " ", 1).as("w")).distinct(),
            "w", depth, wU).withColumnRenamed("est", "est_u")
        bgOcc.join(bgEst, "bg")
          .withColumn("w", substring_index(col("bg"), " ", 1))
          .join(w1Est, "w")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_bigrams"),
            graft.operators.ExactAgg.microAvg(
              log(col("est_u")) - log(col("est_b"))).as("surprisal"))
      },
      Some(s"""
        WITH d AS (SELECT doc_id, lower(text) AS t FROM documents),
        words AS (SELECT doc_id, string_split(t, ' ') AS ws FROM d),
        toks AS (SELECT unnest(ws) AS w FROM words),
        gu AS (SELECT j, ${bSql("w", wU)} AS b, count(*) AS cnt
               FROM $jsSql CROSS JOIN toks GROUP BY 1, 2),
        bgocc AS (SELECT doc_id,
                    unnest(CASE WHEN len(ws) < 2 THEN []::VARCHAR[]
                      ELSE list_transform(range(1, len(ws)),
                           i -> ws[i] || ' ' || ws[i+1]) END) AS bg
                  FROM words),
        gb AS (SELECT j, ${bSql("bg", wB)} AS b, count(*) AS cnt
               FROM $jsSql CROSS JOIN bgocc GROUP BY 1, 2),
        bge AS (SELECT bg, min(cnt) AS est_b
                FROM (SELECT bg, j, ${bSql("bg", wB)} AS b
                      FROM (SELECT DISTINCT bg FROM bgocc) CROSS JOIN $jsSql) p
                JOIN gb USING (j, b) GROUP BY bg),
        w1e AS (SELECT w, min(cnt) AS est_u
                FROM (SELECT w, j, ${bSql("w", wU)} AS b
                      FROM (SELECT DISTINCT split_part(bg, ' ', 1) AS w
                            FROM bgocc) CROSS JOIN $jsSql) p
                JOIN gu USING (j, b) GROUP BY w),
        sc AS (SELECT o.doc_id, ln(est_u) - ln(est_b) AS s
               FROM bgocc o JOIN bge USING (bg)
               JOIN w1e ON split_part(o.bg, ' ', 1) = w1e.w)
        SELECT doc_id, count(*) AS n_bigrams,
               ${OracleExact.microAvgSql("s")} AS surprisal
        FROM sc GROUP BY doc_id
      """),
    )
  }

  /** Eval-set decontamination (the GPT-3/PaLM n-gram procedure): a
    * train doc is contaminated when ≥ 30% of its distinct word
    * 3-grams appear anywhere in the held-out benchmark ("src0" plays
    * the eval set; five eval texts are re-planted into the train
    * corpus with a prefix so both detector and oracle see true
    * positives next to the corpus's natural cross-source near-dups).
    * Scale shape: the eval dictionary is DISTINCT shingles of the
    * eval set — tiny next to a 100 TB train corpus — so the hit test
    * is a broadcast semi-join against the exploded train shingles and
    * the per-doc aggregate keys on doc_id; the train side is never
    * shuffled on shingle text. Shingles ride the codegen
    * [[graft.functions.GraftFunctions.wordShingles]] expression.
    */
  val textDecontaminate: Q = Q(
    "text_decontaminate",
    (s, dir) => {
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), lower(col("text")).as("t"), col("source"))
      val evalDocs = d.where(col("source") === "src0")
      val train = d.where(col("source") =!= "src0")
        .unionAll(evalDocs.where(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 200000).as("doc_id"),
            concat(lit("planted prefix marker words "), col("t")).as("t"),
            lit("planted").as("source")))
      val evalDict = evalDocs
        .select(explode(graft.functions.GraftFunctions.wordShingles(col("t"), 3))
          .as("s")).distinct()
      val trainSh = train.select(col("doc_id"),
        explode(graft.functions.GraftFunctions.wordShingles(col("t"), 3)).as("s"))
      trainSh
        .join(broadcast(evalDict.withColumn("hit", lit(1))), Seq("s"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_ngrams"), count(col("hit")).as("n_hits"))
        .withColumn("ratio", round(col("n_hits").cast("double") / col("n_ngrams"), 6))
        .where(col("n_hits") * lit(10) >= col("n_ngrams") * lit(3))
        .select(col("doc_id"), col("n_ngrams"), col("n_hits"), col("ratio"))
    },
    Some("""
      WITH d AS (SELECT doc_id, lower(text) AS t, source FROM documents),
      train AS (
        SELECT doc_id, t FROM d WHERE source <> 'src0'
        UNION ALL
        SELECT doc_id + 200000, 'planted prefix marker words ' || t
        FROM d WHERE source = 'src0' AND doc_id % 5 = 0),
      tw AS (SELECT doc_id, string_split(t, ' ') AS ws FROM train),
      tsh AS (SELECT doc_id, s
              FROM tw, unnest(list_distinct(CASE WHEN len(ws) < 3
                THEN []::VARCHAR[]
                ELSE list_transform(range(1, len(ws) - 1),
                     i -> array_to_string(ws[i:i+2], ' ')) END)) AS u(s)),
      ew AS (SELECT string_split(t, ' ') AS ws FROM d WHERE source = 'src0'),
      edict AS (SELECT DISTINCT s
                FROM ew, unnest(list_distinct(CASE WHEN len(ws) < 3
                  THEN []::VARCHAR[]
                  ELSE list_transform(range(1, len(ws) - 1),
                       i -> array_to_string(ws[i:i+2], ' ')) END)) AS u(s)),
      agg AS (
        SELECT doc_id, count(*) AS n_ngrams,
               count(CASE WHEN e.s IS NOT NULL THEN 1 END) AS n_hits
        FROM tsh LEFT JOIN edict e USING (s)
        GROUP BY doc_id)
      SELECT doc_id, n_ngrams, n_hits,
             round(n_hits::DOUBLE / n_ngrams, 6) AS ratio
      FROM agg WHERE n_hits * 10 >= n_ngrams * 3
    """),
  )

  /** Smooth-idf TF-IDF top-5 terms per document
    * ([[graft.operators.Retrieval.tfidfTopK]]): sklearn
    * TfidfVectorizer(smooth_idf=True, norm=None) weighting under the
    * text_vocab tokenization; no per-doc normalization, so every score
    * is a product of engine-identical inputs — no double sums anywhere.
    */
  val textTfidf: Q = Q(
    "text_tfidf",
    (s, dir) => graft.operators.Retrieval.tfidfTopK(
      Tables.documents(s, dir).select(col("doc_id"), col("text")),
      "doc_id", "text", k = 5)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        round(col("tfidf"), 6).as("tfidf")),
    Some("""
      WITH tok AS (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
        FROM documents),
      tf AS (SELECT doc_id, term, count(*) AS tf
             FROM tok WHERE term <> '' GROUP BY 1, 2),
      df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      n AS (SELECT count(*) AS n FROM documents),
      sc AS (
        SELECT tf.doc_id, tf.term, tf.tf, df.df,
               tf.tf * (ln((n.n + 1.0) / (df.df + 1)) + 1.0) AS tfidf,
               row_number() OVER (PARTITION BY tf.doc_id
                 ORDER BY tf.tf * (ln((n.n + 1.0) / (df.df + 1)) + 1.0) DESC,
                          tf.term) AS rk
        FROM tf JOIN df USING (term) CROSS JOIN n)
      SELECT doc_id, term, tf, df, round(tfidf, 6) AS tfidf
      FROM sc WHERE rk <= 5
    """),
  )

  /** BM25 relevance of every document against a fixed 3-term query
    * ([[graft.operators.Retrieval.bm25]], Lucene idf form, k1 = 1.2,
    * b = 0.75). Per-term contributions micro-quantize before the
    * per-doc sum so the distributed aggregation is order-free and the
    * oracle replays it exactly; constants are interpolated from the
    * SAME Scala doubles the Spark plan uses.
    */
  private val bm25K1 = 1.2
  private val bm25B = 0.75
  private val bm25Terms = Seq("spark", "table", "hash")

  /** Shared BM25 CTE chain (tok/tf/dl/st/df/sc with per-term micro
    * scores) — single source of truth for the q_bm25 and
    * q_rrf_fusion oracles so the weighting formula cannot drift.
    */
  private def bm25CtesSql: String = {
    val termList = bm25Terms.map(t => s"'$t'").mkString("(", ", ", ")")
    s"""tok AS (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
        FROM documents),
      tf AS (SELECT doc_id, term, count(*) AS tf
             FROM tok WHERE term <> '' GROUP BY 1, 2),
      dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
      st AS (SELECT sum(dl)::DOUBLE / count(*) AS avgdl,
                    count(*)::DOUBLE AS n FROM dl),
      df AS (SELECT term, count(*) AS df FROM tf
             WHERE term IN $termList GROUP BY term),
      sc AS (
        SELECT tf.doc_id,
               round(ln(1.0 + (st.n - df.df + 0.5) / (df.df + 0.5)) *
                     (tf.tf * ${bm25K1 + 1}) /
                     (tf.tf + $bm25K1 * (${1 - bm25B} + $bm25B * dl.dl / st.avgdl))
                     * 1e6)::BIGINT AS micro
        FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN st)"""
  }

  val qBm25: Q = Q(
    "q_bm25",
    (s, dir) => graft.operators.Retrieval.bm25(
      Tables.documents(s, dir).select(col("doc_id"), col("text")),
      "doc_id", "text", bm25Terms, bm25K1, bm25B)
      .select(col("doc_id"), col("n_matched"),
        round(col("score"), 6).as("score")),
    Some(s"""
      WITH $bm25CtesSql
      SELECT doc_id, count(*) AS n_matched,
             round(sum(micro) / 1e6, 6) AS score
      FROM sc GROUP BY doc_id
    """),
  )

  /** Reciprocal-rank fusion of a sparse (BM25) and a dense (cosine)
    * ranking — the hybrid-retrieval merge every RAG/curation stack
    * runs (Cormack et al.'s RRF: score(d) = Σ_lists 1/(60+rank_d),
    * robust to incomparable score scales). Sparse side: the shared
    * BM25 query over documents, ranked by the exact integer micro
    * score; dense side: cosine vs doc 0's embedding with the FIXED
    * query vector interpolated as literals (the fit-scalar pattern —
    * a one-vector broadcast join would be a nested loop; a narrow
    * constant-folded expression is the plan you want, and the
    * IVF/LSH/PQ rows are the scale paths for multi-query batches),
    * ranked by the engine-identical cosine double. A doc missing from
    * one list contributes only the other's reciprocal (full outer
    * merge) — partial embedding coverage is the normal case. Scale:
    * both rankings are top-100 per query; the fused frame is
    * O(queries × 200), so the global top-10 window is bounded state,
    * and a multi-query run partitions every window by query id.
    */
  val qRrfFusion: Q = Q(
    "q_rrf_fusion",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      // orderBy+limit plans TakeOrderedAndProject (distributed partial
      // top-k) — the rank window then sorts only the k surviving rows,
      // never the corpus (r9-verdict q_gini-class fix; same total
      // order, so the kept set and ranks are unchanged)
      val sparse = graft.operators.Retrieval.bm25(
        docs, "doc_id", "text", bm25Terms, bm25K1, bm25B)
        .orderBy(col("score").desc, col("doc_id")).limit(100)
        .select(col("doc_id"), row_number()
          .over(Window.orderBy(col("score").desc, col("doc_id")))
          .cast("long").as("r_sparse"))
      val e = Tables.embeddings(s, dir)
      val qv = e.where(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
      val dense = e.where(col("vec_id") =!= 0)
        .select(col("vec_id").as("doc_id"),
          graft.operators.Ann.cosine(array(qv.map(lit): _*),
            col("embedding").cast("array<double>")).as("cosine"))
        .orderBy(col("cosine").desc, col("doc_id")).limit(100)
        .select(col("doc_id"), row_number()
          .over(Window.orderBy(col("cosine").desc, col("doc_id")))
          .cast("long").as("r_dense"))
      val fused = sparse.join(dense, Seq("doc_id"), "full_outer")
        .select(col("doc_id"), col("r_sparse"), col("r_dense"),
          (coalesce(lit(1.0) / (lit(60L) + col("r_sparse")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60L) + col("r_dense")), lit(0.0))).as("rrf"))
      // fused is ≤200 rows by construction (full outer of two top-100
      // lists) — the rank window rides that bounded set
      fused
        .select(col("doc_id"), col("r_sparse"), col("r_dense"), col("rrf"),
          row_number().over(Window.orderBy(col("rrf").desc, col("doc_id")))
            .cast("long").as("fused_rank"))
        .where(col("fused_rank") <= 10)
        .select(col("doc_id"), col("r_sparse"), col("r_dense"),
          round(col("rrf"), 6).as("rrf_score"), col("fused_rank"))
    },
    Some(s"""
      WITH $bm25CtesSql,
      bm AS (SELECT doc_id, sum(micro) AS ms FROM sc GROUP BY doc_id),
      spr AS (
        SELECT doc_id, row_number() OVER (ORDER BY ms DESC, doc_id) AS r_sparse
        FROM bm QUALIFY r_sparse <= 100),
      ev AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      en AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM ev),
      den0 AS (
        SELECT c.vec_id AS doc_id,
               list_dot_product(q.v, c.v) / (q.nrm * c.nrm) AS cosine
        FROM en q JOIN en c ON q.vec_id = 0 AND c.vec_id != q.vec_id),
      den AS (
        SELECT doc_id, row_number() OVER (ORDER BY cosine DESC, doc_id) AS r_dense
        FROM den0 QUALIFY r_dense <= 100),
      fused AS (
        SELECT coalesce(spr.doc_id, den.doc_id) AS doc_id,
               spr.r_sparse, den.r_dense,
               coalesce(1.0 / (60 + spr.r_sparse), 0.0) +
               coalesce(1.0 / (60 + den.r_dense), 0.0) AS rrf
        FROM spr FULL OUTER JOIN den ON spr.doc_id = den.doc_id)
      SELECT doc_id, r_sparse, r_dense, round(rrf, 6) AS rrf_score,
             row_number() OVER (ORDER BY rrf DESC, doc_id) AS fused_rank
      FROM fused QUALIFY fused_rank <= 10
    """),
  )

  /** Deterministic PII-injection fixture (shared by the batch and
    * streaming scrub rows, the datetime_interpolate pattern — the raw
    * synthetic docs are PII-free): one email / phone / IPv4 /
    * SSN-shaped id per doc-id residue class appended to the text.
    * Works identically on a streaming frame — pure expressions.
    */
  private[queries] def piiEnrich(d: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
      val did = col("doc_id").cast("string")
      d.select(col("doc_id"), concat(
        col("text"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" contact user"), did, lit("@example.com")))
          .otherwise(lit("")),
        when(col("doc_id") % 5 === 0,
          concat(lit(" call 555-"),
            lpad((col("doc_id") % 1000).cast("string"), 3, "0"), lit("-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
          .otherwise(lit("")),
        when(col("doc_id") % 7 === 0,
          concat(lit(" from 10."), (col("doc_id") % 256).cast("string"),
            lit(".0."), (col("doc_id") % 250).cast("string")))
          .otherwise(lit("")),
        when(col("doc_id") % 11 === 0,
          concat(lit(" id "),
            lpad((col("doc_id") % 1000).cast("string"), 3, "0"), lit("-"),
            lpad((col("doc_id") % 100).cast("string"), 2, "0"), lit("-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
          .otherwise(lit(""))).as("t"))
  }

  /** PII detect + redact ([[graft.operators.Pii]]) over the enriched
    * fixture: per-class counts + fixed-order redaction, pure regex
    * column expressions in the RE2 ∩ Java common subset.
    */
  val textPii: Q = Q(
    "text_pii",
    (s, dir) => graft.operators.Pii.scan(
      piiEnrich(Tables.documents(s, dir).select(col("doc_id"), col("text"))), "t")
      .select(col("doc_id"), col("n_email"), col("n_phone"),
        col("n_ip"), col("n_ssn"), col("redacted")),
    Some("""
      WITH e AS (
        SELECT doc_id, text
          || CASE WHEN doc_id % 3 = 0 THEN ' contact user'
               || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END
          || CASE WHEN doc_id % 5 = 0 THEN ' call 555-'
               || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-'
               || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
          || CASE WHEN doc_id % 7 = 0 THEN ' from 10.'
               || CAST(doc_id % 256 AS VARCHAR) || '.0.'
               || CAST(doc_id % 250 AS VARCHAR) ELSE '' END
          || CASE WHEN doc_id % 11 = 0 THEN ' id '
               || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-'
               || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || '-'
               || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
          AS t
        FROM documents)
      SELECT doc_id,
             len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
             len(regexp_extract_all(t, '\b\d{3}-\d{3}-\d{4}\b')) AS n_phone,
             len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ip,
             len(regexp_extract_all(t, '\b\d{3}-\d{2}-\d{4}\b')) AS n_ssn,
             regexp_replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(t,
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
                   '\b\d{3}-\d{3}-\d{4}\b', '[PHONE]', 'g'),
                 '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g'),
               '\b\d{3}-\d{2}-\d{4}\b', '[SSN]', 'g') AS redacted
      FROM e
    """),
  )

  /** Deterministic repetition fixture: every doc_id % 5 == 3 gets its
    * first 8 words appended TWICE, planting duplicated 1..8-grams —
    * the synthetic corpus has zero within-doc duplicate 5-grams (swept
    * at sf0.01), so without the fixture the Gopher dup signals would be
    * degenerately all-zero (same convention as the [[piiEnrich]] and
    * datetime_interpolate residue-class fixtures).
    */
  private def repetitionEnrich(d: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val head8 = array_join(slice(split(col("text"), " ", -1), 1, 8), " ")
    d.select(col("doc_id"),
      when(col("doc_id") % 5 === 3,
        concat_ws(" ", col("text"), head8, head8)).otherwise(col("text")).as("t"))
  }

  /** Gopher-style within-document repetition signals over word n-grams
    * (Rae et al. 2021 §A1.1 analog, adapted to the single-line corpus:
    * no line/paragraph structure exists, so every signal rides word
    * n-grams): for n = 1..4 the fraction of characters covered by the
    * MOST COMMON n-gram (ties: highest char length — composite key
    * cnt*1e6+len, identical in both engines), for n = 5..10 the
    * fraction of characters covered by n-grams occurring more than
    * once. All ten n values ride ONE explode (tagged structs) and one
    * (doc, n, gram) map-side-combined groupBy; the two follow-up
    * aggregations are doc-keyed and tiny. Zero driver state, no RNG —
    * the shape a 100 TB quality-filter pass needs.
    */
  val textRepetition: Q = Q(
    "text_repetition",
    (s, dir) => {
      val d = repetitionEnrich(
        Tables.documents(s, dir).select(col("doc_id"), col("text")))
        .select(col("doc_id"), col("t"),
          greatest(length(col("t")), lit(1)).cast("long").as("n_chars"))
        // spread the 10-way n-gram expansion (the minhashPairs
        // discipline: single-row-group parquet pins the scan, and this
        // is the operator's compute-dense stage)
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      val tagged = d.select(col("doc_id"), col("n_chars"),
        explode(concat((1 to 10).map(n =>
          transform(graft.functions.GraftFunctions.wordNgrams(col("t"), n),
            g => struct(lit(n).as("n"), g.as("gram")))): _*)).as("x"))
      val counts = tagged
        .groupBy(col("doc_id"), col("n_chars"),
          col("x.n").as("n"), col("x.gram").as("gram"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("clen", length(col("gram")).cast("long"))
      val perN = counts.groupBy(col("doc_id"), col("n_chars"), col("n")).agg(
        max_by(col("cnt") * col("clen"),
          col("cnt") * lit(1000000L) + col("clen")).as("topchars"),
        sum(when(col("cnt") > 1, col("cnt") * col("clen")).otherwise(lit(0L)))
          .as("dupchars"))
      val aggs =
        (1 to 4).map(n => round(
          coalesce(sum(when(col("n") === n, col("topchars"))), lit(0L))
            .cast("double") / col("n_chars"), 6).as(s"top${n}_frac")) ++
        (5 to 10).map(n => round(
          coalesce(sum(when(col("n") === n, col("dupchars"))), lit(0L))
            .cast("double") / col("n_chars"), 6).as(s"dup${n}_frac"))
      perN.groupBy(col("doc_id"), col("n_chars"))
        .agg(aggs.head, aggs.tail: _*)
        .select(col("doc_id") +: ((1 to 4).map(n => col(s"top${n}_frac")) ++
          (5 to 10).map(n => col(s"dup${n}_frac"))): _*)
    },
    Some("""
      WITH e AS (
        SELECT doc_id,
               CASE WHEN doc_id % 5 = 3 THEN text || ' '
                 || array_to_string(string_split(text, ' ')[1:8], ' ') || ' '
                 || array_to_string(string_split(text, ' ')[1:8], ' ')
               ELSE text END AS t
        FROM documents),
      d AS (
        SELECT doc_id, greatest(length(t), 1) AS n_chars,
               string_split(t, ' ') AS ws
        FROM e),
      g AS (
        SELECT doc_id, n_chars, nn.n AS n,
               array_to_string(ws[u.i:u.i+nn.n-1], ' ') AS gram
        FROM d,
             unnest([1,2,3,4,5,6,7,8,9,10]) AS nn(n),
             unnest(CASE WHEN len(ws) < nn.n THEN []::BIGINT[]
                    ELSE range(1, len(ws)-nn.n+2) END) AS u(i)),
      c AS (
        SELECT doc_id, n_chars, n, gram, count(*) AS cnt,
               length(gram) AS clen
        FROM g GROUP BY ALL),
      p AS (
        SELECT doc_id, n_chars, n,
               max_by(cnt*clen, cnt*1000000+clen) AS topchars,
               sum(CASE WHEN cnt > 1 THEN cnt*clen ELSE 0 END) AS dupchars
        FROM c GROUP BY 1, 2, 3)
      SELECT doc_id,
             round(coalesce(sum(CASE WHEN n=1 THEN topchars END),0)::DOUBLE / n_chars, 6) AS top1_frac,
             round(coalesce(sum(CASE WHEN n=2 THEN topchars END),0)::DOUBLE / n_chars, 6) AS top2_frac,
             round(coalesce(sum(CASE WHEN n=3 THEN topchars END),0)::DOUBLE / n_chars, 6) AS top3_frac,
             round(coalesce(sum(CASE WHEN n=4 THEN topchars END),0)::DOUBLE / n_chars, 6) AS top4_frac,
             round(coalesce(sum(CASE WHEN n=5 THEN dupchars END),0)::DOUBLE / n_chars, 6) AS dup5_frac,
             round(coalesce(sum(CASE WHEN n=6 THEN dupchars END),0)::DOUBLE / n_chars, 6) AS dup6_frac,
             round(coalesce(sum(CASE WHEN n=7 THEN dupchars END),0)::DOUBLE / n_chars, 6) AS dup7_frac,
             round(coalesce(sum(CASE WHEN n=8 THEN dupchars END),0)::DOUBLE / n_chars, 6) AS dup8_frac,
             round(coalesce(sum(CASE WHEN n=9 THEN dupchars END),0)::DOUBLE / n_chars, 6) AS dup9_frac,
             round(coalesce(sum(CASE WHEN n=10 THEN dupchars END),0)::DOUBLE / n_chars, 6) AS dup10_frac
      FROM p GROUP BY doc_id, n_chars
    """),
  )

  /** Cross-document duplicated-SPAN detection (the substring-level
    * dedup signal of Lee et al. 2021, approximated at fixed span
    * length): every 8-word span occurrence is checked against the set
    * of spans appearing in MORE THAN ONE distinct document; per doc the
    * query reports span count, duplicated-span count, and coverage
    * fraction. The duplicated-span dictionary is built with one
    * (gram)-keyed groupBy and FILTERED to nd > 1 before flowing back —
    * at 100 TB the dictionary side is the duplicated tail only, joined
    * hash-on-gram (balanced key), never all-pairs. Docs shorter than 8
    * words report 0 spans via the left join from documents.
    */
  val textDedupSpans: Q = Q(
    "text_dedup_spans",
    (s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val grams = d.select(col("doc_id"),
        explode(graft.functions.GraftFunctions.wordNgrams(col("text"), 8))
          .as("g"))
      val shared = grams.groupBy(col("g"))
        .agg(countDistinct(col("doc_id")).as("nd"))
        .where(col("nd") > 1)
        .select(col("g"), lit(1).as("hit"))
      val perDoc = grams.join(shared, Seq("g"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_spans"), count(col("hit")).as("dup_spans"))
      d.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_spans"), lit(0L)).as("n_spans"),
          coalesce(col("dup_spans"), lit(0L)).as("dup_spans"),
          round(coalesce(col("dup_spans").cast("double") / col("n_spans"),
            lit(0.0)), 6).as("dup_frac"))
    },
    Some("""
      WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      gr AS (
        SELECT doc_id, array_to_string(ws[u.i:u.i+7], ' ') AS g
        FROM d, unnest(CASE WHEN len(ws) < 8 THEN []::BIGINT[]
                       ELSE range(1, len(ws)-6) END) AS u(i)),
      sh AS (
        SELECT g FROM (SELECT g, count(DISTINCT doc_id) AS nd
                       FROM gr GROUP BY g) WHERE nd > 1),
      p AS (
        SELECT gr.doc_id, count(*) AS n_spans, count(sh.g) AS dup_spans
        FROM gr LEFT JOIN sh ON gr.g = sh.g GROUP BY 1)
      SELECT d0.doc_id,
             coalesce(p.n_spans, 0) AS n_spans,
             coalesce(p.dup_spans, 0) AS dup_spans,
             round(coalesce(p.dup_spans::DOUBLE / p.n_spans, 0), 6) AS dup_frac
      FROM (SELECT doc_id FROM documents) d0 LEFT JOIN p USING (doc_id)
    """),
  )

  /** PMI-scored collocation mining: top-20 bigrams by pointwise mutual
    * information ln(P(w1w2) / (P(w1)·P(w2))) with a min-count-5 floor —
    * the corpus-analysis primitive behind phrase detection
    * (word2vec-style phrase merging). Totals T (tokens) and B (bigram
    * occurrences) are fit-boundary scalars (two 1-row aggregates, the
    * bm25 N/avgdl convention); the PMI ratio multiplies in the
    * identical left-associated order on both engines, so the single ln
    * call rides engine-identical doubles (1-ulp ln drift survives 6-dp
    * rounding — the tfidf convention). The final top-20 plans as
    * TakeOrderedAndProject over (rounded pmi desc, bigram): per-
    * partition partial top-k, no global sort. At 100 TB the integer
    * products (c12·T²) exceed int64 — the ln-difference form
    * (ln c12 + 2 ln T − ln B − ln c1 − ln c2) is the documented scale
    * variant; the ratio form is kept here because it is exact in the
    * test domain and keeps the oracle to ONE transcendental call.
    */
  val textPmi: Q = Q(
    "text_pmi",
    (s, dir) => {
      val d = Tables.documents(s, dir).select(lower(col("text")).as("t"))
      val uni = d.select(explode(split(col("t"), " ", -1)).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("c"))
      val bi = d.select(
          explode(graft.functions.GraftFunctions.wordNgrams(col("t"), 2)).as("g"))
        .groupBy(col("g")).agg(count(lit(1)).as("c12"))
      // ONE action for both totals, without rebuilding either rollup:
      // the token total is the sum of per-doc split sizes and the
      // bigram total the sum of per-doc shingle-array sizes (explode
      // emits one row per element; null text explodes to zero rows),
      // so T and B come from a single scan of d instead of two full
      // rollup rebuilds (§1.2 fewer actions, one scan saved)
      val tot = d.agg(
        sum(when(col("t").isNotNull, size(split(col("t"), " ", -1)))
          .otherwise(lit(0)).cast("long")).as("tt"),
        sum(when(col("t").isNotNull,
          size(graft.functions.GraftFunctions.wordNgrams(col("t"), 2)))
          .otherwise(lit(0)).cast("long")).as("bb")).head()
      val (tt, bb) = (tot.getLong(0), tot.getLong(1))
      bi.where(col("c12") >= 5)
        .withColumn("w1", element_at(split(col("g"), " ", -1), 1))
        .withColumn("w2", element_at(split(col("g"), " ", -1), 2))
        .join(uni.select(col("w").as("w1"), col("c").as("c1")), Seq("w1"))
        .join(uni.select(col("w").as("w2"), col("c").as("c2")), Seq("w2"))
        .withColumn("pmi", round(log(
          (col("c12").cast("double") * lit(tt.toDouble) * lit(tt.toDouble)) /
            (lit(bb.toDouble) * col("c1") * col("c2"))), 6))
        .orderBy(col("pmi").desc, col("g"))
        .limit(20)
        .select(col("w1"), col("w2"), col("c12"), col("pmi"))
    },
    Some("""
      WITH d AS (SELECT lower(text) AS t FROM documents),
      w AS (SELECT unnest(string_split(t, ' ')) AS w FROM d),
      uni AS (SELECT w, count(*) AS c FROM w GROUP BY w),
      sp AS (SELECT string_split(t, ' ') AS ws FROM d),
      bi AS (
        SELECT array_to_string(ws[u.i:u.i+1], ' ') AS g
        FROM sp, unnest(CASE WHEN len(ws) < 2 THEN []::BIGINT[]
                        ELSE range(1, len(ws)) END) AS u(i)),
      bic AS (SELECT g, count(*) AS c12 FROM bi GROUP BY g),
      tt AS (SELECT sum(c) AS t FROM uni),
      bb AS (SELECT sum(c12) AS b FROM bic),
      sc AS (
        SELECT string_split(g, ' ')[1] AS w1, string_split(g, ' ')[2] AS w2,
               g, c12
        FROM bic WHERE c12 >= 5),
      j AS (
        SELECT sc.w1, sc.w2, sc.g, sc.c12, u1.c AS c1, u2.c AS c2
        FROM sc JOIN uni u1 ON sc.w1 = u1.w JOIN uni u2 ON sc.w2 = u2.w),
      p AS (
        SELECT w1, w2, g, c12,
               round(ln((c12::DOUBLE * (SELECT t FROM tt) * (SELECT t FROM tt)) /
                        ((SELECT b FROM bb)::DOUBLE * c1 * c2)), 6) AS pmi
        FROM j)
      SELECT w1, w2, c12, pmi
      FROM p ORDER BY pmi DESC, g LIMIT 20
    """),
  )

  /** URL-injection fixture (the piiEnrich pattern — the synthetic
    * docs are URL-free): a blocklisted spam domain on doc_id%4==0 and
    * a benign domain on doc_id%6==0, so some docs carry both, some
    * one, most none.
    */
  private[queries] def urlEnrich(d: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    d.select(col("doc_id"), concat(
      col("text"),
      when(col("doc_id") % 4 === 0,
        concat(lit(" see https://spam"), (col("doc_id") % 50).cast("string"),
          lit(".example.net/page"), col("doc_id").cast("string")))
        .otherwise(lit("")),
      when(col("doc_id") % 6 === 0,
        concat(lit(" via http://ok"), (col("doc_id") % 30).cast("string"),
          lit(".example.org/item")))
        .otherwise(lit(""))).as("t"))

  /** URL/domain blocklist filtering ([[graft.operators.Urls]]) over
    * the enriched fixture: the blocklist is the 50 spam domains as a
    * broadcast dimension — the C4/RefinedWeb curation stage shape.
    */
  val textUrlFilter: Q = Q(
    "text_url_filter",
    (s, dir) => {
      import s.implicits._
      val blocklist = (0 until 50).map(i => s"spam$i.example.net")
        .toDF("domain")
      graft.operators.Urls.filterByBlocklist(
        urlEnrich(Tables.documents(s, dir).select(col("doc_id"), col("text"))),
        "doc_id", "t", blocklist)
    },
    Some("""
      WITH e AS (
        SELECT doc_id, text
          || CASE WHEN doc_id % 4 = 0 THEN ' see https://spam'
               || CAST(doc_id % 50 AS VARCHAR) || '.example.net/page'
               || CAST(doc_id AS VARCHAR) ELSE '' END
          || CASE WHEN doc_id % 6 = 0 THEN ' via http://ok'
               || CAST(doc_id % 30 AS VARCHAR) || '.example.org/item' ELSE '' END
          AS t
        FROM documents),
      u AS (SELECT doc_id, unnest(regexp_extract_all(t, 'https?://[a-z0-9.-]+[a-z0-9/._-]*')) AS url
            FROM e),
      d AS (SELECT doc_id, regexp_extract(url, 'https?://([a-z0-9.-]+)', 1) AS domain
            FROM u),
      g AS (SELECT doc_id, count(*) AS n_urls,
                   sum(CASE WHEN domain LIKE 'spam%.example.net' THEN 1 ELSE 0 END)::BIGINT AS n_blocked
            FROM d GROUP BY 1)
      SELECT e.doc_id, coalesce(g.n_urls, 0) AS n_urls,
             coalesce(g.n_blocked, 0) AS n_blocked,
             (coalesce(g.n_blocked, 0) = 0)::INT AS keep
      FROM e LEFT JOIN g USING (doc_id)
    """),
  )

  /** URL-keyed keep-first dedup ([[graft.operators.Urls.dedupByUrl]])
    * — the crawl stage BEFORE content dedup: each doc carries a
    * synthetic crawl URL whose scheme / www / tracking-param /
    * trailing-slash variants collide onto a canonical key
    * (`site{id%7}.example.com/p/{id%13}`), and the keep-first
    * groupBy collapses re-crawls of the same page. The oracle replays
    * the four-step canonicalization regex chain.
    */
  /** Synthetic crawl-URL fixture SHARED by `text_url_dedup` and its
    * streaming twin (one definition per engine, so the batch and
    * stream rows can never silently test different keys): scheme /
    * www / tracking-param / fragment variants over the small
    * `site{id%7}.example.com/p/{id%13}` canonical space.
    */
  private[queries] def crawlUrl(docId: org.apache.spark.sql.Column) =
    concat(
      when(docId % 2 === 0, lit("https://")).otherwise(lit("HTTP://www.")),
      lit("Site"), docId % 7, lit(".example.com/p/"), docId % 13,
      when(docId % 3 === 0, lit("/?utm_source=feed&ref=x"))
        .when(docId % 5 === 0, lit("#section-2"))
        .otherwise(lit("")))

  /** The fixture's DuckDB twin (a `u(doc_id, url)` CTE body). */
  private[queries] val crawlUrlSql = """
        SELECT doc_id,
               (CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'HTTP://www.' END)
               || 'Site' || CAST(doc_id % 7 AS VARCHAR) || '.example.com/p/'
               || CAST(doc_id % 13 AS VARCHAR)
               || (CASE WHEN doc_id % 3 = 0 THEN '/?utm_source=feed&ref=x'
                        WHEN doc_id % 5 = 0 THEN '#section-2'
                        ELSE '' END) AS url
        FROM documents"""

  /** DuckDB twin of [[graft.operators.Urls.canonicalUrl]]'s four-step
    * chain — one definition, referenced by both URL-dedup oracles.
    */
  private[queries] def canonicalUrlSql(url: String): String =
    s"""regexp_replace(
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(lower($url), '^https?://', ''),
                     '^www\\.', ''),
                   '[?#].*$$', ''),
                 '/$$', '')"""

  val textUrlDedup: Q = Q(
    "text_url_dedup",
    (s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"))
        .withColumn("url", crawlUrl(col("doc_id")))
      graft.operators.Urls.dedupByUrl(d, "doc_id", "url")
    },
    Some(s"""
      WITH u AS ($crawlUrlSql),
      c AS (
        SELECT doc_id, ${canonicalUrlSql("url")} AS canonical_url
        FROM u)
      SELECT min(doc_id) AS doc_id, canonical_url,
             count(*) AS n_variants
      FROM c GROUP BY canonical_url
    """),
  )

  /** Cross-corpus sentence dedup with document reconstruction
    * ([[graft.operators.Dedup.sentenceDedup]]) — the Dolma-style
    * boilerplate-removal stage: the fixture builds sentence-structured
    * docs (per-lang intro ∪ unique body ∪ corpus-wide newsletter
    * boilerplate ∪ per-site footer, plus verbatim re-crawls of every
    * 10th doc at +100000), so shared sentences survive only at their
    * first (doc, pos) occurrence and the re-crawls clean to empty.
    * The oracle replays the split, the first-occurrence min-struct
    * winner selection, and the ordered reassembly.
    */
  val textParagraphDedup: Q = Q(
    "text_paragraph_dedup",
    (s, dir) => {
      val e = Tables.documents(s, dir).select(col("doc_id"), concat(
        lit("intro for "), col("lang"),
        lit(". body "), substring(col("text"), 1, 80),
        lit(". subscribe to our newsletter today. visit site"),
        col("doc_id") % 7).as("text"))
      val corpus = e.unionAll(e.where(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 100000).as("doc_id"), col("text")))
      graft.operators.Dedup.sentenceDedup(corpus, "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
    },
    Some("""
      WITH e AS (
        SELECT doc_id,
               'intro for ' || lang || '. body ' || substr(text, 1, 80)
               || '. subscribe to our newsletter today. visit site'
               || CAST(doc_id % 7 AS VARCHAR) AS text
        FROM documents),
      c AS (SELECT doc_id, text FROM e
            UNION ALL
            SELECT doc_id + 100000, text FROM e WHERE doc_id % 10 = 0),
      w AS (SELECT doc_id, string_split(text, '. ') AS ws FROM c),
      p AS (SELECT doc_id, pos, ws[pos] AS s
            FROM w, unnest(range(1, len(ws) + 1)) AS t(pos)),
      r AS (SELECT doc_id, pos, s,
                   row_number() OVER (PARTITION BY s ORDER BY doc_id, pos) AS rk
            FROM p),
      k AS (SELECT doc_id, count(*) AS n_kept,
                   string_agg(s, '. ' ORDER BY pos) AS cleaned
            FROM r WHERE rk = 1 GROUP BY doc_id),
      t AS (SELECT doc_id, count(*) AS n_sents FROM p GROUP BY doc_id)
      SELECT t.doc_id, t.n_sents,
             coalesce(k.n_kept, 0) AS n_kept,
             coalesce(k.cleaned, '') AS cleaned
      FROM t LEFT JOIN k USING (doc_id)
    """),
  )

  /** nDCG@10 of the BM25 ranking — the GRADED retrieval-quality eval
    * next to `q_recall_at_k`'s set-overlap (nDCG rewards putting the
    * most-relevant docs highest, not just finding them): relevance
    * grade = n_matched query terms (1..3, a deterministic judgment the
    * oracle replays), DCG/IDCG terms (2^rel − 1)/log₂(rank+1)
    * micro-quantized before their order-free sums, IDCG from the exact
    * grade histogram (tie order between equal grades cannot change
    * it), nDCG a pure ratio of the two micro int64 totals. Scale: the
    * ranking is the shared BM25 chain; top-10 is TakeOrdered (bounded
    * driver state), the grade histogram is a 3-row rollup.
    */
  val qNdcg: Q = Q(
    "q_ndcg",
    (s, dir) => {
      // lazy checkpoint: the scored frame is read by two collects (the
      // top-10 ranking and the grade histogram) — without it the whole
      // bm25 scoring pipeline re-ran per collect (§1.2)
      val bm = graft.operators.Retrieval.bm25(
        Tables.documents(s, dir).select(col("doc_id"), col("text")),
        "doc_id", "text", bm25Terms, bm25K1, bm25B)
        .localCheckpoint(eager = false)
      val top = bm.orderBy(col("score").desc, col("doc_id")).limit(10)
        .select(col("n_matched")).collect().map(_.getLong(0))
      val grades = bm.groupBy(col("n_matched")).agg(count(lit(1)).as("c"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val nJudged = grades.map(_._2).sum
      def term(rel: Long, rank: Int): Long =
        math.round((math.pow(2, rel) - 1) / (math.log(rank + 1) / math.log(2.0)) * 1e6)
      val dcg = top.zipWithIndex.map { case (rel, i) => term(rel, i + 1) }.sum
      val ideal = grades.sortBy(-_._1).flatMap { case (g, c) =>
        Seq.fill(math.min(c, 10L).toInt)(g)
      }.take(10)
      val idcg = ideal.zipWithIndex.map { case (rel, i) => term(rel, i + 1) }.sum
      def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      import s.implicits._
      Seq((nJudged, r6(dcg / 1e6), r6(idcg / 1e6), r6(dcg.toDouble / idcg)))
        .toDF("n_judged", "dcg", "idcg", "ndcg")
    },
    Some(s"""
      WITH $bm25CtesSql,
      agg AS (SELECT doc_id, count(*)::BIGINT AS n_matched, sum(micro)::BIGINT AS ms
              FROM sc GROUP BY doc_id),
      ranked AS (SELECT n_matched,
                   row_number() OVER (ORDER BY ms DESC, doc_id) AS rank
                 FROM agg),
      dcg AS (SELECT sum(round((pow(2, n_matched) - 1) / (ln(rank + 1) / ln(2.0)) * 1e6)::BIGINT)::BIGINT AS m
              FROM ranked WHERE rank <= 10),
      ideal AS (SELECT n_matched,
                  row_number() OVER (ORDER BY n_matched DESC, doc_id) AS rank
                FROM agg),
      idcg AS (SELECT sum(round((pow(2, n_matched) - 1) / (ln(rank + 1) / ln(2.0)) * 1e6)::BIGINT)::BIGINT AS m
               FROM ideal WHERE rank <= 10)
      SELECT (SELECT count(*) FROM agg)::BIGINT AS n_judged,
             round((SELECT m FROM dcg) / 1e6, 6) AS dcg,
             round((SELECT m FROM idcg) / 1e6, 6) AS idcg,
             round((SELECT m FROM dcg)::DOUBLE / (SELECT m FROM idcg), 6) AS ndcg
    """),
  )

  /** Zipf-law fit over the token frequency distribution — the
    * corpus-level QUALITY diagnostic next to the per-doc scores
    * (natural text follows rank-frequency slope ≈ −1; machine-generated
    * or boilerplate-heavy corpora bend it, which is how corpus-mix
    * drift shows up before any model metric moves): token counts from
    * one map-side-combined rollup, deterministic (count desc, term)
    * ranking over the top 500, OLS of ln(freq) on ln(rank) with every
    * per-rank product micro-quantized before the order-free integer
    * sums — the fit is a pure function of exact int64 totals. The
    * only data-scale pass is the token rollup; the rank table is
    * k-bounded fit state.
    */
  val textZipf: Q = Q(
    "text_zipf",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val k = 500
      val ranked = Tables.documents(s, dir)
        .select(explode(split(lower(col("text")), " ", -1)).as("w"))
        .where(col("w") =!= "")
        .groupBy(col("w")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("w")).limit(k)
        .select(row_number().over(Window.orderBy(col("n").desc, col("w"))).as("r"),
          col("n"))
        .collect() // k-bounded fit state
      def m(x: Double) = math.round(x * 1e6)
      val terms = ranked.map { row =>
        val (lr, lf) = (math.log(row.getInt(0).toDouble), math.log(row.getLong(1).toDouble))
        (m(lr), m(lf), m(lr * lf), m(lr * lr))
      }
      val n = terms.length.toDouble
      val (sx, sy, sxy, sxx) = (terms.map(_._1).sum / 1e6, terms.map(_._2).sum / 1e6,
        terms.map(_._3).sum / 1e6, terms.map(_._4).sum / 1e6)
      val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
      val intercept = (sy - slope * sx) / n
      def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      import s.implicits._
      Seq((terms.length.toLong, r6(slope), r6(intercept)))
        .toDF("n_terms", "zipf_slope", "zipf_intercept")
    },
    Some("""
      WITH toks AS (
        SELECT w FROM (SELECT unnest(string_split(lower(text), ' ')) AS w
                       FROM documents) t WHERE w <> ''),
      freq AS (SELECT w, count(*)::BIGINT AS n FROM toks GROUP BY w
               ORDER BY n DESC, w LIMIT 500),
      rk AS (SELECT row_number() OVER (ORDER BY n DESC, w) AS r, n FROM freq),
      t AS (SELECT round(ln(r::DOUBLE) * 1e6)::BIGINT AS mx,
                   round(ln(n::DOUBLE) * 1e6)::BIGINT AS my,
                   round(ln(r::DOUBLE) * ln(n::DOUBLE) * 1e6)::BIGINT AS mxy,
                   round(ln(r::DOUBLE) * ln(r::DOUBLE) * 1e6)::BIGINT AS mxx
            FROM rk),
      a AS (SELECT count(*)::DOUBLE AS n, sum(mx)::BIGINT / 1e6 AS sx,
                   sum(my)::BIGINT / 1e6 AS sy, sum(mxy)::BIGINT / 1e6 AS sxy,
                   sum(mxx)::BIGINT / 1e6 AS sxx
            FROM t),
      b AS (SELECT n, sx, sy,
              (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope
            FROM a)
      SELECT n::BIGINT AS n_terms, round(slope, 6) AS zipf_slope,
             round((sy - slope * sx) / n, 6) AS zipf_intercept
      FROM b
    """),
  )

  /** One BPE-training step — the tokenizer-construction primitive
    * every LLM pipeline runs upstream of `text_tokens`: adjacent
    * character-pair frequencies over the corpus, counted on the
    * DISTINCT-WORD vocabulary weighted by word frequency (the scale
    * trick — pair work is Σ|w| over the vocab, not over the corpus),
    * deterministic top-10 merge candidates by (count, pair). The full
    * BPE loop applies the winning merge and re-counts — iterable from
    * checkpointed vocab tables exactly like the CC/k-means loops; one
    * step carries the whole shuffle story (vocab rollup + bounded
    * per-word pair explode + pair rollup, all map-side combined).
    */
  val textBpeStep: Q = Q(
    "text_bpe_step",
    (s, dir) => {
      val vocab = Tables.documents(s, dir)
        .select(explode(split(lower(col("text")), " ", -1)).as("w"))
        .where(col("w") =!= "")
        .groupBy(col("w")).agg(count(lit(1)).as("c"))
      vocab
        .where(length(col("w")) >= 2)
        .select(col("w"), col("c"),
          explode(sequence(lit(1), length(col("w")) - 1)).as("i"))
        .select(col("c"),
          concat(expr("substr(w, i, 1)"), expr("substr(w, i + 1, 1)")).as("pair"))
        .groupBy(col("pair")).agg(sum(col("c")).as("n"))
        .orderBy(col("n").desc, col("pair")).limit(10)
    },
    Some("""
      WITH toks AS (
        SELECT w FROM (SELECT unnest(string_split(lower(text), ' ')) AS w
                       FROM documents) t WHERE w <> ''),
      vocab AS (SELECT w, count(*)::BIGINT AS c FROM toks GROUP BY w),
      pairs AS (
        SELECT substr(w, i.i, 1) || substr(w, i.i + 1, 1) AS pair, c
        FROM vocab, unnest(generate_series(1, strlen(w) - 1)) AS i(i)
        WHERE strlen(w) >= 2),
      g AS (SELECT pair, sum(c)::BIGINT AS n FROM pairs GROUP BY 1)
      SELECT pair, n FROM g ORDER BY n DESC, pair LIMIT 10
    """),
  )

  /** DuckDB replay of the whole [[textBpeTrain]] loop: 5 unrolled
    * merge rounds, each = pair rollup over the frequency-weighted
    * symbol vocabulary → deterministic argmax (count desc, pair asc)
    * → greedy left-to-right merge as ONE literal `replace` over the
    * separator-framed word (both engines' `replace` scans left to
    * right and never rematches inside a replacement — exactly BPE's
    * greedy merge order). All counts are exact int64, so there is
    * nothing to quantize: the chained oracle is bit-free.
    */
  private def bpeTrainOracleSql(steps: Int): String = {
    val S = "chr(31)"
    val sb = new StringBuilder
    sb ++= s"""
      WITH toks AS (
        SELECT w FROM (SELECT unnest(string_split(lower(text), ' ')) AS w
                       FROM documents) t
        WHERE w <> '' AND NOT contains(w, $S)),
      f AS (SELECT w, count(*)::BIGINT AS c FROM toks GROUP BY w),
      v0 AS (SELECT $S || array_to_string(string_split(w, ''), $S||$S) || $S
                    AS w, c FROM f)"""
    for (k <- 1 to steps) {
      sb ++= s""",
      p$k AS (SELECT syms[i.i] AS a, syms[i.i + 1] AS b, sum(c)::BIGINT AS n
              FROM (SELECT string_split(trim(w, $S), $S||$S) AS syms, c
                    FROM v${k - 1}) t,
                   unnest(generate_series(1, len(syms) - 1)) AS i(i)
              GROUP BY 1, 2),
      m$k AS (SELECT a, b, n FROM p$k ORDER BY n DESC, a, b LIMIT 1),
      v$k AS (SELECT replace(v.w, $S||m.a||$S||$S||m.b||$S,
                             $S||m.a||m.b||$S) AS w, v.c
              FROM v${k - 1} v, m$k m)"""
    }
    sb ++= (1 to steps).map(k =>
      s"\n      SELECT $k AS step, a, b, n FROM m$k")
      .mkString("", "\n      UNION ALL", "\n")
    sb.toString
  }

  /** The full BPE TRAINING loop (`text_bpe_train`) — `text_bpe_step`
    * iterated to a 5-merge table with the chained-oracle discipline
    * the kmeans/pagerank/logreg loops proved (SURVEY rows 420/421/428):
    * every carried value is exact int64, every argmax tie-breaks on
    * (count desc, pair asc), and DuckDB replays ALL rounds, so one
    * wrong merge anywhere breaks the hash.
    *
    * Representation is the scale trick: words live as separator-framed
    * symbol strings (`<S>h<S><S>i<S><S>s<S>`, S = U+001F)
    * on the DISTINCT-WORD vocabulary weighted by frequency — merge
    * work per round is one literal `replace` over Σ|w| vocab chars
    * (left-to-right non-overlapping = greedy BPE), never a corpus
    * pass; pair counting explodes bounded adjacent zips with map-side
    * combine; the per-round argmax is a bounded LIMIT-1 collect (the
    * fit-boundary grain); the vocab localCheckpoints each round so the
    * loop input materializes once (the 065fc5d lesson).
    */
  /** The loop body, shared with TextSpec's hand-checked fixture:
    * `words` is the frequency-weighted vocabulary (w string, c long).
    * Returns the merge table (step, a, b, n).
    */
  private[graft] def bpeTrain(s: SparkSession, words: DataFrame,
                              steps: Int): DataFrame = {
      import s.implicits._
      val SEP = "\u001f" // unit separator: frames each symbol as <S>sym<S>
      var vocab = words
        .where(!col("w").contains(SEP))
        .select(concat(lit(SEP), concat_ws(SEP + SEP, split(col("w"), "")),
          lit(SEP)).as("w"), col("c"))
        .localCheckpoint(eager = false)
      val merges = Seq.newBuilder[(Int, String, String, Long)]
      var step = 1
      var exhausted = false
      while (step <= steps && !exhausted) {
        val top = vocab
          .select(col("c"),
            split(trim(col("w"), SEP), SEP + SEP).as("syms"))
          .where(size(col("syms")) >= 2)
          .select(col("c"), explode(zip_with(
            slice(col("syms"), lit(1), size(col("syms")) - 1),
            slice(col("syms"), lit(2), size(col("syms")) - 1),
            (a, b) => struct(a.as("a"), b.as("b")))).as("p"))
          .groupBy(col("p.a").as("a"), col("p.b").as("b"))
          .agg(sum(col("c")).as("n"))
          .orderBy(col("n").desc, col("a"), col("b"))
          .limit(1).collect().headOption
        top match {
          case None =>
            // degenerate corpus: every word merged to a single symbol
            // before `steps` rounds — stop gracefully (advisory r14)
            exhausted = true
          case Some(row) =>
            val (a, b, n) = (row.getString(0), row.getString(1), row.getLong(2))
            merges += ((step, a, b, n))
            vocab = vocab
              .select(replace(col("w"), lit(SEP + a + SEP + SEP + b + SEP),
                lit(SEP + a + b + SEP)).as("w"), col("c"))
              .localCheckpoint(eager = false)
            step += 1
        }
      }
      merges.result().toDF("step", "a", "b", "n")
  }

  val textBpeTrain: Q = Q(
    "text_bpe_train",
    (s, dir) => bpeTrain(s,
      Tables.documents(s, dir)
        .select(explode(split(lower(col("text")), " ", -1)).as("w"))
        .where(col("w") =!= "")
        .groupBy(col("w")).agg(count(lit(1)).as("c")),
      steps = 5),
    Some(bpeTrainOracleSql(5)),
  )

  /** Per-source duplication report — the dedup OBSERVABILITY rollup a
    * curation pipeline publishes per ingest source (which feeds are
    * mostly boilerplate, which are worth recrawling): exact text
    * checksum distinct counts per source, dup rate = 1 − distinct/n
    * as a fixed-op-order ratio of exact counts; one map-side-combined
    * rollup. The md5 path is the same content hash the exact-dedup
    * keeper pass uses — the report and the dedup agree by
    * construction.
    */
  val qDupRateBySource: Q = Q(
    "q_dup_rate_by_source",
    (s, dir) => {
      Tables.documents(s, dir)
        .select(col("source"), md5(col("text")).as("h"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("h")).as("n_distinct"))
        .select(col("source"), col("n_docs"), col("n_distinct"),
          round(lit(1.0) - col("n_distinct") / col("n_docs"), 6).as("dup_rate"))
    },
    Some("""
      SELECT source, count(*)::BIGINT AS n_docs,
             count(DISTINCT md5(text))::BIGINT AS n_distinct,
             round(1.0 - count(DISTINCT md5(text)) / count(*)::DOUBLE, 6) AS dup_rate
      FROM documents GROUP BY 1
    """),
  )

  /** Cluster topic labeling (BERTopic's c-TF-IDF): embedding k-means
    * cells labeled by their most DISTINCTIVE terms — the step that
    * turns an unsupervised clustering into something a human can
    * audit, composing the ANN/k-means machinery with the text rollups
    * (documents join embeddings on the shared id): deterministic
    * md5-sampled centroids + the codegen TopCells assignment (the
    * q_kmeans_step path), per-(cell, term) counts, and score =
    * tf_{c,t} · ln(1 + A/f_t) with A = mean tokens per cluster —
    * every input an exact integer, the log ratio fixed-op-order;
    * deterministic top-5 per cell. Scale: two map-side-combined
    * rollups + a bounded per-cell window; the centroid model is
    * O(cells·d) broadcast literals.
    */
  val textClusterTopics: Q = Q(
    "text_cluster_topics",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = Tables.embeddings(s, dir)
      val c = e.select(col("vec_id").as("id"),
        col("embedding").cast("array<double>").as("cv"))
      val centroids = graft.operators.Ann.sampleCentroids(c, "id", "cv", nCells = 8)
      val assigned = e.select(col("vec_id"),
        element_at(graft.functions.GraftFunctions.topCells(
          col("embedding").cast("array<double>"), centroids, 1), 1)
          .getField("cell").as("cell"))
      val toks = Tables.documents(s, dir)
        .join(assigned, col("doc_id") === col("vec_id"))
        .select(col("cell"), explode(split(lower(col("text")), " ", -1)).as("w"))
        .where(col("w") =!= "")
      val tf = toks.groupBy(col("cell"), col("w")).agg(count(lit(1)).as("tf"))
      val ft = toks.groupBy(col("w")).agg(count(lit(1)).as("f"))
      val a = toks.count().toDouble / 8
      val scored = tf.join(ft, "w")
        .select(col("cell"), col("w"),
          (col("tf") * log(lit(1.0) + lit(a) / col("f"))).as("score"))
      val wC = Window.partitionBy(col("cell"))
        .orderBy(col("score").desc, col("w"))
      scored.withColumn("rk", row_number().over(wC))
        .where(col("rk") <= 5)
        .select(col("cell"), col("rk"), col("w").as("term"),
          round(col("score"), 6).as("score"))
    },
    Some(s"""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      sel AS (SELECT vec_id, v, ${OracleExact.h16Sql("md5(vec_id::VARCHAR)")} AS h16 FROM e),
      cent AS (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v AS cv
        FROM sel
        WHERE h16 % greatest(1, (SELECT count(*) FROM e) // 8) = 0
        ORDER BY vec_id LIMIT 8),
      cc AS (SELECT cell, cv, sqrt(list_dot_product(cv, cv)) AS cnrm FROM cent),
      n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
      scores AS (
        SELECT n.vec_id, cc.cell,
               list_dot_product(n.v, cc.cv) / (n.nrm * cc.cnrm) AS s
        FROM n CROSS JOIN cc),
      assigned AS (
        SELECT vec_id, cell FROM (
          SELECT vec_id, cell,
                 row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell DESC) AS rn
          FROM scores) z WHERE rn = 1),
      toks AS (
        SELECT a.cell, t.w
        FROM documents d JOIN assigned a ON d.doc_id = a.vec_id,
             unnest(string_split(lower(d.text), ' ')) AS t(w)
        WHERE t.w <> ''),
      tf AS (SELECT cell, w, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2),
      ft AS (SELECT w, count(*)::BIGINT AS f FROM toks GROUP BY 1),
      aa AS (SELECT count(*)::DOUBLE / 8 AS a FROM toks),
      sc AS (SELECT tf.cell, tf.w,
                    tf.tf * ln(1.0 + aa.a / ft.f) AS score
             FROM tf JOIN ft USING (w) CROSS JOIN aa),
      rk AS (SELECT cell, w, score,
                    row_number() OVER (PARTITION BY cell ORDER BY score DESC, w) AS rk
             FROM sc)
      SELECT cell, rk, w AS term, round(score, 6) AS score
      FROM rk WHERE rk <= 5
    """),
  )

  /** LIX readability index (Björnsson 1968, public) — the
    * syllable-free readability score (words/sentences +
    * 100·longwords/words) a corpus-quality filter can compute from
    * pure counting: words by the corpus tokenization convention,
    * sentences by terminal-punctuation character count (translate
    * diff — identical semantics in both engines, clamped ≥1),
    * long words = tokens of ≥7 chars. Narrow one-pass projection,
    * no shuffle.
    */
  val textLix: Q = Q(
    "text_lix",
    (s, dir) => Tables.documents(s, dir)
      .select(col("doc_id"), col("text"),
        split(lower(col("text")), " ", -1).as("ws"))
      .select(col("doc_id"),
        size(col("ws")).cast("long").as("n_words"),
        greatest(length(col("text")) - length(translate(col("text"), ".!?", "")),
          lit(1)).cast("long").as("n_sentences"),
        size(filter(col("ws"), w => length(w) >= 7)).cast("long").as("n_long"))
      .select(col("doc_id"), col("n_words"), col("n_sentences"), col("n_long"),
        round(col("n_words").cast("double") / col("n_sentences")
          + lit(100.0) * col("n_long") / col("n_words"), 6).as("lix")),
    Some("""
      WITH c AS (SELECT doc_id,
               len(string_split(lower(text), ' '))::BIGINT AS n_words,
               greatest(length(text) - length(translate(text, '.!?', '')), 1)::BIGINT AS n_sentences,
               len(list_filter(string_split(lower(text), ' '),
                 w -> length(w) >= 7))::BIGINT AS n_long
             FROM documents)
      SELECT doc_id, n_words, n_sentences, n_long,
             round(n_words::DOUBLE / n_sentences + 100.0 * n_long / n_words, 6) AS lix
      FROM c
    """),
  )

  /** Interpolated Kneser–Ney bigram probabilities (Kneser & Ney 1995,
    * fixed discount D=0.75) — the LM-smoothing step a from-scratch
    * n-gram pipeline runs after the surprisal counts: continuation
    * probability from distinct-left-context counts, discounted MLE
    * plus back-off mass, reported next to raw MLE for the top-20
    * bigrams. Everything derives from four map-side-combined count
    * rollups (bigram, left-total, distinct-followers, distinct-
    * predecessors) joined on their token keys; the probability is a
    * fixed-order double over exact counts. Top-k via TakeOrdered —
    * no global sort materialized.
    */
  val textKneserNey: Q = Q(
    "text_kneser_ney",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      val bi = Tables.documents(s, dir)
        .select(col("doc_id"), posexplode(split(lower(col("text")), " ", -1))
          .as(Seq("pos", "w")))
        .withColumn("w2", lead(col("w"), 1).over(w))
        .where(col("w2").isNotNull)
        .groupBy(col("w").as("w1"), col("w2"))
        .agg(count(lit(1)).as("c12"))
        .localCheckpoint(eager = false)
      val left = bi.groupBy(col("w1"))
        .agg(sum(col("c12")).as("c1"), count(lit(1)).as("n1f"))
      val right = bi.groupBy(col("w2")).agg(count(lit(1)).as("n1b"))
      val nTypes = bi.count()
      val pkn = (greatest(col("c12").cast("double") - lit(0.75), lit(0.0)) / col("c1"))
        .plus((lit(0.75) * col("n1f") / col("c1")) *
          (col("n1b").cast("double") / lit(nTypes)))
      bi.join(left, Seq("w1")).join(right, Seq("w2"))
        .select(col("w1"), col("w2"), col("c12"),
          round(col("c12").cast("double") / col("c1"), 6).as("p_mle"),
          round(pkn, 6).as("p_kn"))
        .orderBy(col("c12").desc, col("w1"), col("w2"))
        .limit(20)
    },
    Some("""
      WITH t AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w,
               generate_subscripts(string_split(lower(text), ' '), 1) AS pos
             FROM documents),
      pr AS (SELECT doc_id, w, lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
             FROM t),
      bi AS (SELECT w AS w1, w2, count(*)::BIGINT AS c12
             FROM pr WHERE w2 IS NOT NULL GROUP BY 1, 2),
      lft AS (SELECT w1, sum(c12)::BIGINT AS c1, count(*)::BIGINT AS n1f
              FROM bi GROUP BY 1),
      rgt AS (SELECT w2, count(*)::BIGINT AS n1b FROM bi GROUP BY 1),
      nt AS (SELECT count(*)::BIGINT AS n FROM bi)
      SELECT w1, w2, c12,
             round(c12::DOUBLE / c1, 6) AS p_mle,
             round(greatest(c12::DOUBLE - 0.75, 0.0) / c1
               + (0.75 * n1f / c1) * (n1b::DOUBLE / nt.n), 6) AS p_kn
      FROM bi JOIN lft USING (w1) JOIN rgt USING (w2), nt
      ORDER BY c12 DESC, w1, w2 LIMIT 20
    """),
  )


  /** DSIR-style importance-resampled data selection (Xie et al. 2023,
    * public: Data Selection via Importance Resampling) — rank every
    * document by its log importance weight under a target
    * distribution (here the 'en' slice) vs the raw corpus, and keep
    * the top 10%: per-token log p_target/p_raw ratios (Laplace
    * smoothed) micro-quantize so each doc's weight is an order-free
    * int sum; the selection threshold τ comes from the weight-grain
    * cumulative rollup (the §14 counting pattern — no global doc
    * sort), and quota ties at τ resolve by doc_id over the bounded
    * tie group. Output: every doc with its weight and selected flag.
    */
  lazy val textDsirSelect: Q = Q(
    "text_dsir_select",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          explode(split(lower(col("text")), " ", -1)).as("w"))
        .localCheckpoint(eager = false)
      val counts = toks.groupBy(col("w"))
        .agg(count(lit(1)).as("cr"),
          sum(when(col("lang") === "en", 1L).otherwise(0L)).as("ct"))
        .localCheckpoint(eager = false)
      val tot = counts.agg(sum(col("cr")).as("nr"), sum(col("ct")).as("nt"),
        count(lit(1)).as("v")).head()
      val (nr, nt, vocab) = (tot.getLong(0), tot.getLong(1), tot.getLong(2))
      val term = round(log(((col("ct") + 1).cast("double") / lit(nt + vocab)) /
        ((col("cr") + 1).cast("double") / lit(nr + vocab))) * lit(1e6)).cast("long")
      val docW = toks.join(counts, Seq("w"))
        .groupBy(col("doc_id")).agg(sum(term).as("lw"))
        .localCheckpoint(eager = false)
      // ONE action for nDocs + tau + nAbove: the doc total rides the
      // same single-partition window pass as the cumulative counts
      // (full-frame sum), the top-decile rank k is a per-row integer
      // expr of n, the threshold row is the largest lw whose cum
      // reaches k, and the strictly-above count is that row's
      // cum − c — replaces three scalar actions (§1.2 fewer actions;
      // same rank arithmetic)
      val wDesc = Window.orderBy(col("lw").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAllD = Window.partitionBy() // the whole-table total needs no order
      val sel = docW.groupBy(col("lw")).agg(count(lit(1)).as("c"))
        .withColumn("cum", sum(col("c")).over(wDesc))
        .withColumn("n", sum(col("c")).over(wAllD))
        .where(col("cum") >= expr("(n + 9) div 10"))
        .orderBy(col("lw").desc).limit(1).head()
      val (tau, nDocs) = (sel.getLong(0), sel.getLong(3))
      val k = (nDocs + 9) / 10
      val nAbove = sel.getLong(2) - sel.getLong(1)
      val quota = k - nAbove
      // tie ranks via the distributed row-number device (range shuffle
      // + offsets) — the tie group is usually tiny, but an all-equal-
      // weight corpus would make an unpartitioned window sort every doc
      val tie = graft.operators.Rank.withRowNumber(
        docW.where(col("lw") === tau).select(col("doc_id")),
        Seq(col("doc_id").asc), "rn")
      docW.join(tie, Seq("doc_id"), "left")
        .select(col("doc_id"), round(col("lw") / lit(1e6), 6).as("log_weight"),
          when(col("lw") > tau, 1L)
            .when(col("lw") === tau && col("rn") <= quota, 1L)
            .otherwise(0L).as("selected"))
    },
    Some("""
      WITH toks AS (SELECT doc_id, lang, unnest(string_split(lower(text), ' ')) AS w
                    FROM documents),
      counts AS (SELECT w, count(*)::BIGINT AS cr,
                   sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS ct
                 FROM toks GROUP BY 1),
      tot AS (SELECT sum(cr)::BIGINT AS nr, sum(ct)::BIGINT AS nt,
                count(*)::BIGINT AS v FROM counts),
      dw AS (SELECT doc_id,
               sum(round(ln(((ct + 1)::DOUBLE / (nt + v)) /
                 ((cr + 1)::DOUBLE / (nr + v))) * 1000000)::BIGINT)::BIGINT AS lw
             FROM toks JOIN counts USING (w), tot GROUP BY doc_id),
      nd AS (SELECT count(*)::BIGINT AS n FROM dw),
      kk AS (SELECT (n + 9) // 10 AS k FROM nd),
      roll AS (SELECT lw, count(*)::BIGINT AS c FROM dw GROUP BY 1),
      thr AS (SELECT max(lw) AS tau
              FROM (SELECT lw, sum(c) OVER (ORDER BY lw DESC ROWS BETWEEN
                      UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM roll), kk
              WHERE cum >= kk.k),
      na AS (SELECT count(*)::BIGINT AS nabove FROM dw, thr WHERE lw > tau),
      tie AS (SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS rn
              FROM dw, thr WHERE lw = tau)
      SELECT d.doc_id, round(d.lw / 1000000.0, 6) AS log_weight,
             (CASE WHEN d.lw > thr.tau THEN 1
                   WHEN d.lw = thr.tau AND tie.rn <= kk.k - na.nabove THEN 1
                   ELSE 0 END)::BIGINT AS selected
      FROM dw d LEFT JOIN tie ON d.doc_id = tie.doc_id, thr, kk, na
    """),
  )

  /** Good–Turing frequency smoothing over the corpus vocabulary — the
    * "how much probability mass belongs to unseen words" estimate
    * (Katz backoff's core quantity, and the coverage answer to "is
    * this corpus big enough"): count-of-counts N_r over the word
    * rollup (a VALUE-grain aggregate — distinct r values are
    * O(√tokens), never row-scale), adjusted count r* = (r+1)·N_{r+1}
    * /N_r for r ≤ 9, unseen mass p₀ = N₁/N. One word rollup, one
    * count-of-counts rollup, one tiny self-join on r+1.
    */
  val qGoodTuring: Q = Q(
    "q_good_turing",
    (s, dir) => {
      val ff = Tables.documents(s, dir)
        .select(explode(split(lower(col("text")), " ", -1)).as("w"))
        .where(col("w") =!= "")
        .groupBy(col("w")).agg(count(lit(1)).as("r"))
        .groupBy(col("r")).agg(count(lit(1)).as("n_r"))
        .localCheckpoint() // reused three times below (totals, n1, join)
      // ONE action for the token total and the hapax count (the
      // conditional sum computes the same filtered aggregate; 0 when
      // the corpus has no singletons) — §1.2 fewer actions
      val tn = ff.agg(sum(col("r") * col("n_r")),
        coalesce(sum(when(col("r") === 1, col("n_r"))), lit(0L))).head()
      val (tot, n1) = (tn.getLong(0), tn.getLong(1))
      // the 9 SMALLEST observed counts (not r<=9): GT adjusts the low
      // tail wherever it sits, and a corpus with no rare words still
      // produces a report
      val low = ff.orderBy(col("r")).limit(9)
      low.as("a")
        .join(ff.as("b"), col("b.r") === col("a.r") + 1, "left")
        .select(col("a.r").as("r"), col("a.n_r").as("n_r"),
          round((col("a.r") + 1) * col("b.n_r").cast("double") / col("a.n_r"), 6)
            .as("r_star"),
          round(lit(n1.toDouble / tot), 6).as("p_unseen"))
    },
    Some("""
      WITH w AS (SELECT w, count(*)::BIGINT AS r
                 FROM (SELECT unnest(string_split(lower(text), ' ')) AS w
                       FROM documents)
                 WHERE w <> '' GROUP BY w),
      ff AS (SELECT r, count(*)::BIGINT AS n_r FROM w GROUP BY r),
      t AS (SELECT sum(r * n_r)::BIGINT AS total FROM ff),
      n1 AS (SELECT coalesce(sum(n_r), 0)::BIGINT AS n1 FROM ff WHERE r = 1),
      low AS (SELECT r, n_r FROM ff ORDER BY r LIMIT 9)
      SELECT a.r, a.n_r,
             round((a.r + 1) * b.n_r::DOUBLE / a.n_r, 6) AS r_star,
             round((SELECT n1 FROM n1)::DOUBLE / (SELECT total FROM t), 6) AS p_unseen
      FROM low a LEFT JOIN ff b ON b.r = a.r + 1
    """),
  )

  val all: Seq[Q] = Seq(textTokens, textQuality, textLangid, textFingerprint,
    textPipeline, textHashSplit, textPack, textVocab, textBalance, textKfold,
    textBalanceThreshold, heavyHitters, textSurprisal, textDecontaminate,
    textTfidf, qBm25, qRrfFusion, textPii, textRepetition, textDedupSpans,
    textPmi, textUrlFilter, qNdcg, textZipf, textClusterTopics, qDupRateBySource,
    textBpeStep, textBpeTrain, textLix, textKneserNey, textDsirSelect,
    qGoodTuring, textMixtureSample, textUrlDedup, textParagraphDedup)
}
