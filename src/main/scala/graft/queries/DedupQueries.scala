package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.operators.{Ann, Dedup}
import StatsQueries.r6

/** Deduplication + similarity coverage (SURVEY §2.3 rows 29-36).
  * TESTDATA documents are all-distinct, so every dedup query injects
  * duplicates deterministically (copies at doc_id+100000) in BOTH the
  * Spark plan and the oracle SQL.
  */
object DedupQueries {

  /** documents ∪ exact copies of every 10th doc. */
  private def dupedDocs(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    d.unionAll(d.where(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 100000).as("doc_id"), col("text")))
  }

  private val dupedDocsSql =
    """SELECT doc_id, text FROM documents
       UNION ALL
       SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0"""

  /** documents ∪ case/whitespace variants of every 10th doc. */
  private def messyDocs(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    d.unionAll(d.where(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 100000).as("doc_id"),
        concat(lit("  "), upper(col("text")), lit("  ")).as("text")))
  }

  private val messyDocsSql =
    """SELECT doc_id, text FROM documents
       UNION ALL
       SELECT doc_id + 100000, '  ' || upper(text) || '  ' FROM documents WHERE doc_id % 10 = 0"""

  /** documents ∪ near-dup copies (3 words appended) of every 10th doc. */
  private def nearDupDocs(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    d.unionAll(d.where(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 100000).as("doc_id"),
        concat(col("text"), lit(" tail marker words")).as("text")))
  }

  private val nearDupDocsSql =
    """SELECT doc_id, text FROM documents
       UNION ALL
       SELECT doc_id + 100000, text || ' tail marker words' FROM documents WHERE doc_id % 10 = 0"""

  // ---------------------------------------------------------------- §2.3/29
  val dedupExact: Q = Q(
    "dedup_exact",
    (s, dir) => Dedup.exact(dupedDocs(s, dir), "doc_id", col("text")),
    Some(s"""
      SELECT min(doc_id) AS doc_id, md5(text) AS content_hash
      FROM ($dupedDocsSql) GROUP BY md5(text)
    """),
  )

  // ---------------------------------------------------------------- §2.3/30
  val dedupExactNorm: Q = Q(
    "dedup_exact_norm",
    (s, dir) => Dedup.exact(messyDocs(s, dir), "doc_id",
      Dedup.normalizeText(col("text"))),
    Some(s"""
      SELECT min(doc_id) AS doc_id,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS content_hash
      FROM ($messyDocsSql) GROUP BY 2
    """),
  )

  /** Exact-Jaccard SQL over word 3-gram shingle sets — the oracle for
    * the MinHash+LSH path (candidate recall is ~1 at J >= 0.9 with
    * 128 perms / 32 bands).
    *
    * r16: candidate generation uses PREFIX FILTERING (PPJoin's device,
    * Xiao et al. 2008) instead of the all-pairs shingle self-join that
    * blew the sf1 oracle cap (>1000 s — VERDICT r15 #3): order each
    * doc's shingles by global (document-frequency, shingle) ascending
    * — rarest first — and keep the prefix of size n − ⌈t·n⌉ + 1. Any
    * pair with J ≥ t has overlap ≥ ⌈t·max(|A|,|B|)⌉, and two sets
    * whose prefixes (in one global order) are disjoint have overlap
    * ≤ ⌈t·|A|⌉ − 1, so prefix-sharing candidates are a SUPERSET of
    * the qualifying pairs; the exact intersection count then verifies
    * each candidate, making the result set provably identical while
    * candidates track the true near-match density (the FastSS analog
    * for Jaccard). sf1: 36.6 s vs >1030 s; hash-identical to the
    * all-pairs form at sf0.01/sf0.1 under both 0.8 and 0.5 thresholds.
    */
  private[queries] def exactJaccardSql(corpusSql: String, k: Int, threshold: Double) = s"""
    WITH corpus AS ($corpusSql),
    words AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM corpus),
    sh AS (
      SELECT doc_id, s
      FROM words,
           unnest(list_distinct(CASE WHEN len(ws) < $k THEN []::VARCHAR[]
             ELSE list_transform(range(1, len(ws) - ${k - 2}),
                  i -> array_to_string(ws[i:i+${k - 1}], ' ')) END)) AS t(s)),
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    sfq AS (SELECT s, count(*) AS df FROM sh GROUP BY 1),
    ranked AS (
      SELECT sh.doc_id, sh.s,
             row_number() OVER (PARTITION BY sh.doc_id ORDER BY sfq.df, sh.s) AS rk
      FROM sh JOIN sfq USING (s)),
    pre AS (
      SELECT r.doc_id, r.s FROM ranked r JOIN sz ON r.doc_id = sz.doc_id
      -- FP guard on the prefix bound (ADVICE r16): when t*n is
      -- mathematically integral but the double product rounds a hair
      -- HIGH, a bare ceil would shrink the prefix below the PPJoin
      -- lemma's bound and silently drop qualifying pairs; the -1e-9
      -- slack can only LENGTHEN the prefix (always safe)
      WHERE r.rk <= sz.n - ceil($threshold * sz.n - 1e-9)::BIGINT + 1),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM pre a JOIN pre b ON a.s = b.s AND a.doc_id < b.doc_id),
    pairs AS (
      SELECT c.id_a, c.id_b, count(*) AS inter
      FROM cand c
      JOIN sh a ON a.doc_id = c.id_a
      JOIN sh b ON b.doc_id = c.id_b AND b.s = a.s
      GROUP BY 1, 2)
    SELECT id_a, id_b,
           round(inter::DOUBLE / (sa.n + sb.n - inter), 6) AS jaccard
    FROM pairs
    JOIN sz sa ON id_a = sa.doc_id
    JOIN sz sb ON id_b = sb.doc_id
    WHERE inter::DOUBLE / (sa.n + sb.n - inter) >= $threshold
  """

  /** Non-recursive connected-components closure over an already-bound
    * pairs CTE `p(id_a, id_b, …)` — replaces the recursive `reach`
    * CTE, whose row count is Σ component² (every node × every
    * reachable node) and whose sf1 replay blew the 300 s oracle cap
    * (VERDICT r15 #3). Bounded hop+jump min-label propagation: each
    * round hops (lab := min(lab, min over neighbors' lab)) then jumps
    * (lab := lab(lab) — labels are always node ids, so the lookup is
    * total), which at least doubles the propagated radius per round;
    * `rounds` = 8 is exact for any component of diameter ≤ 2^8. The
    * near-dup corpora here are replica cliques plus tail variants
    * (diameter ≤ 3); a deeper pathological chain would surface as a
    * hash MISMATCH against the engine's converged pointer-doubling,
    * never a silent wrong-pass. MATERIALIZED pins each level to one
    * evaluation — DuckDB otherwise re-inlines multi-referenced CTEs
    * into every level and the whole pairs subtree re-runs per round
    * (the sf0.01 replay alone exhausted the fd limit on parquet
    * scans). Emits `edges`, `nodes`, `l0..lN`, and
    * `canon(id, canonical)`; hash-identical to the recursive form at
    * sf0.01/sf0.1 (and 5× faster even there).
    */
  private[queries] def closureSql(rounds: Int = 8): String = {
    val steps = (0 until rounds).map { n =>
      s"""h${n + 1} AS (
        SELECT id, min(lab) AS lab FROM (
          SELECT id, lab FROM l$n
          UNION ALL
          SELECT e.a AS id, l.lab FROM edges e JOIN l$n l ON l.id = e.b)
        GROUP BY id),
      l${n + 1} AS MATERIALIZED (
        SELECT h.id, m.lab AS lab
        FROM h${n + 1} h JOIN h${n + 1} m ON m.id = h.lab)"""
    }.mkString(",\n      ")
    s"""edges AS MATERIALIZED (
        SELECT id_a AS a, id_b AS b FROM p
        UNION ALL SELECT id_b, id_a FROM p),
      nodes AS (SELECT DISTINCT a AS id FROM edges),
      l0 AS (SELECT id, id AS lab FROM nodes),
      $steps,
      canon AS (SELECT id, lab AS canonical FROM l$rounds)"""
  }

  // ---------------------------------------------------------------- §2.3/31
  val dedupMinhash: Q = Q(
    "dedup_minhash",
    (s, dir) => Dedup.minhashPairs(nearDupDocs(s, dir), "doc_id", "text",
      shingleK = 3, numPerms = 128, numBands = 32, threshold = 0.8)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard")),
    Some(exactJaccardSql(nearDupDocsSql, 3, 0.8)),
  )

  // ---------------------------------------------------------------- §2.3/32
  val dedupNgramJaccard: Q = Q(
    "dedup_ngram_jaccard",
    (s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"), col("lang"))
      val dup = d.unionAll(d.where(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(col("text"), lit(" tail marker words")).as("text"), col("lang")))
      Dedup.ngramJaccardPairs(dup, "doc_id", "text",
        blockCols = Seq("lang"), shingleK = 3, threshold = 0.5)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
    },
    Some("""
      WITH corpus AS (
        SELECT doc_id, text, lang FROM documents
        UNION ALL
        SELECT doc_id + 100000, text || ' tail marker words', lang
        FROM documents WHERE doc_id % 10 = 0),
      words AS (SELECT doc_id, lang, string_split(text, ' ') AS ws FROM corpus),
      sh AS (
        SELECT doc_id, lang, s
        FROM words,
             unnest(list_distinct(CASE WHEN len(ws) < 3 THEN []::VARCHAR[]
               ELSE list_transform(range(1, len(ws) - 1),
                    i -> array_to_string(ws[i:i+2], ' ')) END)) AS t(s)),
      sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        FROM sh a JOIN sh b ON a.s = b.s AND a.lang = b.lang AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
      SELECT id_a, id_b,
             round(inter::DOUBLE / (sa.n + sb.n - inter), 6) AS jaccard
      FROM pairs
      JOIN sz sa ON id_a = sa.doc_id
      JOIN sz sb ON id_b = sb.doc_id
      WHERE inter::DOUBLE / (sa.n + sb.n - inter) >= 0.5
    """),
  )

  /** Asymmetric n-gram containment ([[Dedup.ngramContainmentPairs]]):
    * wrapper docs embed a full copy of a smaller doc between header
    * and footer boilerplate — containment of the original in the
    * wrapper is ~1.0 while symmetric Jaccard shrinks with the size
    * ratio, which is exactly the quote-farm/boilerplate-wrapper case
    * Jaccard under-scores.
    */
  val dedupContainment: Q = Q(
    "dedup_containment",
    (s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"), col("lang"))
      val dup = d.unionAll(d.where(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(lit("wrapper header words before the quoted body "), col("text"),
            lit(" trailing boilerplate footer words")).as("text"), col("lang")))
      Dedup.ngramContainmentPairs(dup, "doc_id", "text",
        blockCols = Seq("lang"), shingleK = 3, threshold = 0.9)
        .select(col("id_a"), col("id_b"),
          round(col("contain_a"), 6).as("contain_a"),
          round(col("contain_b"), 6).as("contain_b"))
    },
    Some("""
      WITH corpus AS (
        SELECT doc_id, text, lang FROM documents
        UNION ALL
        SELECT doc_id + 100000,
               'wrapper header words before the quoted body ' || text ||
               ' trailing boilerplate footer words', lang
        FROM documents WHERE doc_id % 10 = 0),
      words AS (SELECT doc_id, lang, string_split(text, ' ') AS ws FROM corpus),
      sh AS (
        SELECT doc_id, lang, s
        FROM words,
             unnest(list_distinct(CASE WHEN len(ws) < 3 THEN []::VARCHAR[]
               ELSE list_transform(range(1, len(ws) - 1),
                    i -> array_to_string(ws[i:i+2], ' ')) END)) AS t(s)),
      sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        FROM sh a JOIN sh b ON a.s = b.s AND a.lang = b.lang AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
      SELECT id_a, id_b,
             round(inter::DOUBLE / sa.n, 6) AS contain_a,
             round(inter::DOUBLE / sb.n, 6) AS contain_b
      FROM pairs
      JOIN sz sa ON id_a = sa.doc_id
      JOIN sz sb ON id_b = sb.doc_id
      WHERE inter::DOUBLE / sa.n >= 0.9 OR inter::DOUBLE / sb.n >= 0.9
    """),
  )

  // ---------------------------------------------------------------- §2.3/33
  /** hex-nibble value of char `pos` (1-based SQL expr) of column h. */
  private def hv(pos: String) =
    s"(strpos('0123456789abcdef', substr(h, $pos, 1)) - 1)"

  /** SimHash pairs, fully oracle-checked: the signature hashes words
    * with md5 (engine-portable, unlike xxhash64), so DuckDB replays
    * signature construction, band join, and Hamming verification
    * bit-for-bit from the source table.
    */
  /** Full simhash-pair replay (signature construction, band join,
    * Hamming verify) as one SQL query — the dedup_simhash oracle,
    * shared by the dedup_prf evaluation.
    */
  private def simhashPairsSql(corpusSql: String, maxHamming: Int): String = s"""
      WITH corpus AS ($corpusSql),
      tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM corpus),
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
      ham AS (
        SELECT id_a, id_b,
               (bit_count(xor(x.band0, y.band0)) + bit_count(xor(x.band1, y.band1))
              + bit_count(xor(x.band2, y.band2)) + bit_count(xor(x.band3, y.band3)))::BIGINT
                 AS hamming
        FROM cand JOIN sigs x ON id_a = x.doc_id JOIN sigs y ON id_b = y.doc_id)
      SELECT id_a, id_b, hamming FROM ham WHERE hamming <= $maxHamming
  """

  val dedupSimhash: Q = Q(
    "dedup_simhash",
    (s, dir) => Dedup.simhashPairs(nearDupDocs(s, dir), "doc_id", "text",
      maxHamming = 3)
      .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming")),
    Some(simhashPairsSql(nearDupDocsSql, 3)),
  )

  /** Dedup-quality evaluation: precision / recall / F1 of the SimHash
    * band+Hamming candidate generator against exact word-3-gram
    * Jaccard ≥ 0.5 ground truth on the near-dup corpus — the
    * report a curation team reads before trusting a near-dup pass at
    * 100 TB (where the exact truth is uncomputable and must be
    * extrapolated from samples like this). Both pair sets come from
    * index-shaped plans (band join / shingle inverted index — never
    * all-pairs); TP is one equi-join on the pair key; P/R/F1 are
    * fixed-order doubles over exact counts. Both sides replay fully
    * in DuckDB (simhash md5 signatures + exact Jaccard).
    */
  val dedupPrf: Q = Q(
    "dedup_prf",
    (s, dir) => {
      import s.implicits._
      val corpus = nearDupDocs(s, dir)
      val pred = Dedup.simhashPairs(corpus, "doc_id", "text", maxHamming = 3)
        .select(col("id_a"), col("id_b"))
      val tru = Dedup.ngramJaccardPairs(corpus, "doc_id", "text",
        blockCols = Seq.empty, shingleK = 3, threshold = 0.5)
        .select(col("id_a"), col("id_b"))
      // ONE action computes np/nt/tp (was three counts + two
      // checkpoint materializations): both pair sets are DISTINCT on
      // (id_a, id_b) by construction (simhashPairs dropDuplicates /
      // ngramJaccardPairs groupBy), so a full-outer join marks each
      // pair present-in-pred / present-in-truth exactly once and the
      // three counts are sums over the marker columns — values
      // identical to the separate counts.
      val m = pred.withColumn("__p", lit(1L))
        .join(tru.withColumn("__t", lit(1L)), Seq("id_a", "id_b"), "full_outer")
        .agg(sum(col("__p")).as("np"), sum(col("__t")).as("nt"),
          count(when(col("__p").isNotNull && col("__t").isNotNull, 1)).as("tp"))
        .head()
      val np = if (m.isNullAt(0)) 0L else m.getLong(0)
      val nt = if (m.isNullAt(1)) 0L else m.getLong(1)
      val tp = m.getLong(2)
      val p = tp.toDouble / np
      val r = tp.toDouble / nt
      val f1 = if (tp == 0) 0.0 else 2.0 * p * r / (p + r)
      Seq((np, nt, tp, r6(p), r6(r), r6(f1)))
        .toDF("n_pred", "n_truth", "tp", "precision", "recall", "f1")
    },
    Some(s"""
      WITH pred AS MATERIALIZED (
        SELECT id_a, id_b FROM (${simhashPairsSql(nearDupDocsSql, 3)})),
      tru AS MATERIALIZED (
        SELECT id_a, id_b FROM (${exactJaccardSql(nearDupDocsSql, 3, 0.5)})),
      np AS (SELECT count(*)::BIGINT AS n FROM pred),
      nt AS (SELECT count(*)::BIGINT AS n FROM tru),
      tpc AS (SELECT count(*)::BIGINT AS tp FROM pred JOIN tru USING (id_a, id_b))
      SELECT np.n AS n_pred, nt.n AS n_truth, tpc.tp,
             round(tp::DOUBLE / np.n, 6) AS precision,
             round(tp::DOUBLE / nt.n, 6) AS recall,
             CASE WHEN tp = 0 THEN 0.0
                  ELSE round(2.0 * (tp::DOUBLE / np.n) * (tp::DOUBLE / nt.n)
                    / (tp::DOUBLE / np.n + tp::DOUBLE / nt.n), 6) END AS f1
      FROM np, nt, tpc
    """),
  )

  // ---------------------------------------------------------------- §2.3/34
  /** Embedding near-dup: the REGISTERED plan is the LSH-bucketed pair
    * generation (no nested-loop join at any SF); the oracle is the
    * exact all-pairs SQL — identical output because a >= 0.9-cosine
    * pair escapes all 16 hyperplane tables with probability < 1e-6.
    */
  val dedupEmbedding: Q = Q(
    "dedup_embedding",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val dup = e.unionAll(e.where(col("vec_id") % 20 === 0)
        .select((col("vec_id") + 100000).as("vec_id"),
          transform(col("v"), x => x + lit(0.01)).as("v")))
      Ann.lshCosinePairs(dup, "vec_id", "v", threshold = 0.9,
        tables = 16, bits = 4, dims = 64)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
    },
    Some("""
      WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        UNION ALL
        SELECT vec_id + 100000, list_transform(embedding::DOUBLE[], x -> x + 0.01)
        FROM embeddings WHERE vec_id % 20 = 0),
      n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e)
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cosine
      FROM n a JOIN n b ON a.vec_id < b.vec_id
      WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.9
    """),
  )

  /** SemDeDup (Abbas et al. 2023) — SEMANTIC dedup for LLM corpora:
    * cluster the embeddings (the replayable md5-sampled centroids +
    * TopCells argmax assignment knn_ivf/kmeans already use), generate
    * candidate pairs ONLY within a cell, and drop every point with a
    * LOWER-id in-cell neighbor above the cosine threshold (keep-first
    * inside each semantic duplicate set). The cell structure is the
    * scale knob: pair generation is Σ cell² — the paper's k ~ √n
    * clusters keep cells bounded — never corpus-n². Same planted
    * +0.01 twins as `dedup_embedding`, so the drop rule visibly
    * fires; the oracle replays centroid sampling, argmax assignment,
    * and the exists-lower-id-neighbor predicate exactly.
    */
  val dedupSemdedup: Q = Q(
    "dedup_semdedup",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val dup = e.unionAll(e.where(col("vec_id") % 20 === 0)
        .select((col("vec_id") + 100000).as("vec_id"),
          transform(col("v"), x => x + lit(0.01)).as("v")))
      val centroids = Ann.sampleCentroids(dup, "vec_id", "v", nCells = 16)
      import graft.functions.GraftFunctions.{dot, topCells}
      // assignment feeds BOTH sides of the pair join: materialize once
      val assigned = dup
        .withColumn("cell",
          element_at(topCells(col("v"), centroids, 1), 1).getField("cell"))
        .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
        .localCheckpoint()
      val droppers = assigned.as("a").join(assigned.as("b"),
          col("a.cell") === col("b.cell") && col("a.vec_id") > col("b.vec_id"))
        .where(round(dot(col("a.v"), col("b.v"))
          / (col("a.nrm") * col("b.nrm")), 6) >= 0.95)
        .select(col("a.vec_id").as("vec_id")).distinct()
        .withColumn("dropped", lit(true))
      assigned.join(droppers, Seq("vec_id"), "left")
        .select(col("vec_id"), col("cell"),
          coalesce(col("dropped"), lit(false)).as("dropped"))
    },
    Some(s"""
      WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        UNION ALL
        SELECT vec_id + 100000, list_transform(embedding::DOUBLE[], x -> x + 0.01)
        FROM embeddings WHERE vec_id % 20 = 0),
      h AS (SELECT vec_id, v, md5(vec_id::VARCHAR) AS hx FROM e),
      sel AS (SELECT vec_id, v, ${OracleExact.h16Sql("hx")} AS h16 FROM h),
      cent AS (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v AS cv
        FROM sel
        WHERE h16 % greatest(1, (SELECT count(*) FROM e) // 16) = 0
        ORDER BY vec_id LIMIT 16),
      cc AS (SELECT cell, cv, sqrt(list_dot_product(cv, cv)) AS cnrm FROM cent),
      n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
      scores AS (
        SELECT n.vec_id, cc.cell,
               list_dot_product(n.v, cc.cv) / (n.nrm * cc.cnrm) AS s
        FROM n CROSS JOIN cc),
      assigned AS (
        SELECT s.vec_id, s.cell, n.v, n.nrm FROM (
          SELECT vec_id, cell,
                 row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell DESC) AS rn
          FROM scores) s JOIN n ON s.vec_id = n.vec_id
        WHERE s.rn = 1),
      droppers AS (
        SELECT DISTINCT a.vec_id
        FROM assigned a JOIN assigned b
          ON a.cell = b.cell AND a.vec_id > b.vec_id
        WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) >= 0.95)
      SELECT x.vec_id, x.cell, d.vec_id IS NOT NULL AS dropped
      FROM assigned x LEFT JOIN droppers d ON x.vec_id = d.vec_id
    """),
  )

  // ---------------------------------------------------------------- §2.3/35
  val knnBruteforce: Q = Q(
    "knn_bruteforce",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val queries = e.where(col("vec_id") < 20)
      Ann.bruteForceTopK(e, queries, "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("nn_id"), round(col("cosine"), 6).as("cosine"),
          col("rank"))
    },
    Some("""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
      scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS nn_id,
               list_dot_product(q.v, c.v) / (q.nrm * c.nrm) AS cosine
        FROM n q JOIN n c ON q.vec_id < 20 AND c.vec_id != q.vec_id),
      ranked AS (
        SELECT query_id, nn_id, round(cosine, 6) AS cosine,
               row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, nn_id)
                 AS rank
        FROM scored)
      SELECT query_id, nn_id, cosine, rank FROM ranked WHERE rank <= 5
    """),
  )

  // ---------------------------------------------------------------- §2.3/36
  /** LSH ANN, fully oracle-checked: the hyperplanes are md5-derived
    * (sign(t,j,d) = parity of the first hex char of md5("7:t:j:d")), so
    * DuckDB regenerates the planes, replays bucket assignment, and
    * ranks the same candidate set exactly. AnnSpec additionally asserts
    * recall vs brute force.
    */
  val knnLsh: Q = Q(
    "knn_lsh",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val queries = e.where(col("vec_id") < 20)
      Ann.lshTopK(e, queries, "vec_id", "embedding", k = 5,
        tables = 16, bits = 4, dims = 64)
        .select(col("query_id"), col("nn_id"), round(col("cosine"), 6).as("cosine"),
          col("rank"))
    },
    Some("""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      planes AS (
        SELECT t.t AS t, j.j AS j, d.d AS d,
               CASE WHEN (strpos('0123456789abcdef',
                      substr(md5('7:' || t.t || ':' || j.j || ':' || d.d), 1, 1)) - 1) % 2 = 1
                    THEN 1.0 ELSE -1.0 END AS sgn
        FROM range(16) t(t), range(4) j(j), range(64) d(d)),
      dots AS (
        SELECT e.vec_id, p.t, p.j, sum(p.sgn * e.v[p.d + 1]) AS dp
        FROM e CROSS JOIN planes p GROUP BY 1, 2, 3),
      buckets AS (
        SELECT vec_id, t, sum(CASE WHEN dp >= 0 THEN (1 << j) ELSE 0 END) AS bucket
        FROM dots GROUP BY 1, 2),
      n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
      cand AS (
        SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS nn_id
        FROM buckets q JOIN buckets c ON q.t = c.t AND q.bucket = c.bucket
        WHERE q.vec_id < 20 AND c.vec_id != q.vec_id),
      scored AS (
        SELECT cand.query_id, cand.nn_id,
               list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cosine
        FROM cand
        JOIN n a ON cand.query_id = a.vec_id
        JOIN n b ON cand.nn_id = b.vec_id),
      ranked AS (
        SELECT query_id, nn_id, round(cosine, 6) AS cosine,
               row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, nn_id)
                 AS rank
        FROM scored)
      SELECT query_id, nn_id, cosine, rank FROM ranked WHERE rank <= 5
    """),
  )

  // ---------------------------------------------------------------- §2.3/31b
  /** Pairs -> clusters -> canonical survivor per doc: connected
    * components over the MinHash near-dup pairs; the oracle computes
    * the transitive closure of the exact-Jaccard pairs recursively.
    */
  val dedupClusters: Q = Q(
    "dedup_clusters",
    (s, dir) => {
      val pairs = Dedup.minhashPairs(nearDupDocs(s, dir), "doc_id", "text",
        shingleK = 3, numPerms = 128, numBands = 32, threshold = 0.8)
      Dedup.connectedComponents(pairs)
        .select(col("id").as("doc_id"), col("canonical"))
    },
    Some(s"""
      WITH p AS MATERIALIZED (${exactJaccardSql(nearDupDocsSql, 3, 0.8)}),
      ${closureSql()}
      SELECT id AS doc_id, canonical FROM canon
    """),
  )

  // ---------------------------------------------------------------- §2.3/31d
  /** Quality-weighted survivor selection — what production keep-lists
    * actually do (keep the BEST member of each near-dup cluster, not
    * the first-seen): clusters from the same minhash→CC chain as
    * `dedup_clusters`, survivor = argmax(score, tie min id) per
    * cluster via one cluster-partitioned window, singletons survive
    * as their own cluster. Score here = length(text) (the "keep the
    * longest variant" heuristic — the near-dup copies are LONGER than
    * their originals, so keep-best visibly inverts keep-first's
    * choice); any replayable quality column drops in.
    */
  val dedupKeepBest: Q = Q(
    "dedup_keep_best",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val corpus = nearDupDocs(s, dir)
      val pairs = Dedup.minhashPairs(corpus, "doc_id", "text",
        shingleK = 3, numPerms = 128, numBands = 32, threshold = 0.8)
      val canon = Dedup.connectedComponents(pairs)
      val labeled = corpus
        .select(col("doc_id"), length(col("text")).cast("long").as("score"))
        .join(canon, col("doc_id") === col("id"), "left")
        .select(col("doc_id"), col("score"),
          coalesce(col("canonical"), col("doc_id")).as("cluster"))
      val w = Window.partitionBy(col("cluster"))
        .orderBy(col("score").desc, col("doc_id"))
      labeled.withColumn("rk", row_number().over(w)).where(col("rk") === 1)
        .select(col("cluster"), col("doc_id"), col("score"))
    },
    Some(s"""
      WITH p AS MATERIALIZED (${exactJaccardSql(nearDupDocsSql, 3, 0.8)}),
      ${closureSql()},
      c AS ($nearDupDocsSql),
      l AS (
        SELECT c.doc_id, length(c.text)::BIGINT AS score,
               coalesce(canon.canonical, c.doc_id) AS cluster
        FROM c LEFT JOIN canon ON c.doc_id = canon.id),
      r AS (
        SELECT cluster, doc_id, score,
               row_number() OVER (PARTITION BY cluster
                 ORDER BY score DESC, doc_id) AS rk
        FROM l)
      SELECT cluster, doc_id, score FROM r WHERE rk = 1
    """),
  )

  // ---------------------------------------------------------------- §2.3/31c
  /** The COMPOSED dedup pipeline, exactly as the operator scaladoc
    * mandates for scale: exact dedup FIRST (so viral exact duplicates
    * cannot make LSH band buckets quadratic), MinHash near-dup pairs
    * over the exact survivors, connected components, and the final
    * keep-list = canonical representatives plus untouched docs.
    * Corpus: exact copies of every 10th doc AND near-dup variants of
    * every 20th, so both stages do real work.
    */
  val dedupPipeline: Q = Q(
    "dedup_pipeline",
    (s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val corpus = d
        .unionAll(d.where(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 100000).as("doc_id"), col("text")))
        .unionAll(d.where(col("doc_id") % 20 === 0)
          .select((col("doc_id") + 200000).as("doc_id"),
            concat(col("text"), lit(" tail marker words")).as("text")))
      val exactSurvivors = Dedup.exact(corpus, "doc_id", col("text"))
        .select(col("doc_id"))
        .join(corpus, "doc_id")
      val pairs = Dedup.minhashPairs(exactSurvivors, "doc_id", "text",
        shingleK = 3, numPerms = 128, numBands = 32, threshold = 0.8)
      val canon = Dedup.connectedComponents(pairs)
      exactSurvivors.select(col("doc_id"))
        .join(canon, col("doc_id") === col("id"), "left")
        .where(col("canonical").isNull || col("canonical") === col("doc_id"))
        .select(col("doc_id"))
    },
    Some(s"""
      WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0
        UNION ALL
        SELECT doc_id + 200000, text || ' tail marker words'
        FROM documents WHERE doc_id % 20 = 0),
      surv AS (
        SELECT min(doc_id) AS doc_id FROM corpus GROUP BY md5(text)),
      sc AS MATERIALIZED (
        SELECT c.doc_id, c.text FROM corpus c JOIN surv USING (doc_id)),
      p AS MATERIALIZED (${exactJaccardSql("SELECT doc_id, text FROM sc", 3, 0.8)}),
      ${closureSql()}
      SELECT sc.doc_id
      FROM sc LEFT JOIN canon ON sc.doc_id = canon.id
      WHERE canon.canonical IS NULL OR canon.canonical = sc.doc_id
    """),
  )

  // ---------------------------------------------------------------- §2.3/36b
  /** IVF ANN, fully oracle-checked: centroid sampling keys on the
    * first 16 bits of md5(vec_id-as-string), so DuckDB replays centroid
    * selection, cell assignment (argmax cosine, ties to the higher cell
    * — matching the reversed array_sort), probing, and in-cell ranking
    * exactly. AnnSpec additionally asserts recall vs brute force.
    */
  val knnIvf: Q = Q(
    "knn_ivf",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val queries = e.where(col("vec_id") < 20)
      Ann.ivfTopK(e, queries, "vec_id", "embedding", k = 5, nCells = 16, nProbe = 4)
        .select(col("query_id"), col("nn_id"), round(col("cosine"), 6).as("cosine"),
          col("rank"))
    },
    Some(s"""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      h AS (
        SELECT vec_id, v, md5(vec_id::VARCHAR) AS hx FROM e),
      sel AS (
        SELECT vec_id, v,
               ${OracleExact.h16Sql("hx")} AS h16
        FROM h),
      cent AS (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v AS cv
        FROM sel
        WHERE h16 % greatest(1, (SELECT count(*) FROM e) // 16) = 0
        ORDER BY vec_id LIMIT 16),
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
          FROM scores) WHERE rn = 1),
      probes AS (
        SELECT vec_id AS query_id, cell FROM (
          SELECT vec_id, cell,
                 row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell DESC) AS rn
          FROM scores WHERE vec_id < 20) WHERE rn <= 4),
      cand AS (
        SELECT p.query_id, a.vec_id AS nn_id
        FROM probes p JOIN assigned a ON p.cell = a.cell
        WHERE a.vec_id != p.query_id),
      scored AS (
        SELECT c.query_id, c.nn_id,
               list_dot_product(q.v, x.v) / (q.nrm * x.nrm) AS cosine
        FROM cand c JOIN n q ON c.query_id = q.vec_id JOIN n x ON c.nn_id = x.vec_id),
      ranked AS (
        SELECT query_id, nn_id, round(cosine, 6) AS cosine,
               row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, nn_id)
                 AS rank
        FROM scored)
      SELECT query_id, nn_id, cosine, rank FROM ranked WHERE rank <= 5
    """),
  )

  // ---------------------------------------------------------------- §2.3/36c
  /** One k-means (Lloyd) iteration over the embeddings — IVF index
    * training at scale: md5-sampled initial centroids (same replayable
    * selection as knn_ivf), TopCells nearest-cell assignment, ONE
    * groupBy recomputing all 64 per-dimension means on exact decimal
    * sums. Output long-form (cell, n, dim, m) so the hash compare is
    * schema-stable.
    */
  val kmeansStep: Q = Q(
    "q_kmeans_step",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val c = e.select(col("vec_id").as("id"),
        col("embedding").cast("array<double>").as("cv"))
      val centroids = Ann.sampleCentroids(c, "id", "cv", nCells = 16)
      Ann.kmeansStep(e, "vec_id", "embedding", centroids, dims = 64)
        .select(col("cell"), col("n"),
          posexplode(col("sum_vec")).as(Seq("dim", "s")))
        .select(col("cell"), col("n"), col("dim"), round(col("s"), 6).as("s"))
    },
    Some(s"""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      h AS (
        SELECT vec_id, v, md5(vec_id::VARCHAR) AS hx FROM e),
      sel AS (
        SELECT vec_id, v,
               ${OracleExact.h16Sql("hx")} AS h16
        FROM h),
      cent AS (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v AS cv
        FROM sel
        WHERE h16 % greatest(1, (SELECT count(*) FROM e) // 16) = 0
        ORDER BY vec_id LIMIT 16),
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
          FROM scores) WHERE rn = 1)
      SELECT a.cell, count(*) AS n, d.d AS dim,
             round(sum(round(e2.v[d.d + 1], 6)::DECIMAL(18,6))::DOUBLE, 6) AS s
      FROM assigned a JOIN e e2 USING (vec_id), range(64) d(d)
      GROUP BY a.cell, d.d
    """),
  )

  /** One DuckDB k-means iteration given centroid CTE `cent$p`: score →
    * argmax assignment (ties to the higher cell, the TopCells rule) →
    * per-cell rounded means g$t → next centroid list cent$next.
    */
  private def kmeansIterSql(t: Int): String = {
    val p = t.toString
    s"""sc$t AS (
        SELECT n.vec_id, c.cell,
               list_dot_product(n.v, c.cv)
                 / (n.nrm * sqrt(list_dot_product(c.cv, c.cv))) AS s
        FROM n CROSS JOIN cent$p c),
      a$t AS (
        SELECT vec_id, cell FROM (
          SELECT vec_id, cell,
                 row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell DESC) AS rn
          FROM sc$t) WHERE rn = 1),
      g$t AS (
        SELECT a.cell, count(*) AS n, d.d AS dim,
               ${OracleExact.microQuotientSql(
                 "(sum(round(e2.v[d.d + 1], 6)::DECIMAL(18,6)) * 1000000)::BIGINT",
                 "count(*)")} + 0.0 AS m
        FROM a$t a JOIN e e2 USING (vec_id), range(64) d(d)
        GROUP BY a.cell, d.d),
      cent${t + 1} AS (SELECT cell, list(m ORDER BY dim) AS cv FROM g$t GROUP BY cell)"""
  }

  /** Lloyd's k-means TRAINED for 3 chained iterations
    * ([[Ann.kmeansTrain]] with tol=0 — the fixed-T trajectory a static
    * oracle can replay): the convergence-loop composition over
    * `q_kmeans_step`, emitting every iteration's (cell occupancy,
    * 6-dp-rounded centroid coordinates). The rounded means are ALSO
    * the next iteration's centroids, so the DuckDB replay chains the
    * step oracle three times with bit-identical inputs at each
    * boundary. tol = −1 is the never-stop sentinel: the static oracle
    * emits ALL THREE iterations unconditionally, so the engine must
    * too, even if the quantized centroids hit their exact fixed point
    * early at some scale factor (tol = 0 would stop there and
    * row-count-mismatch). Per iteration: one TopCells assignment pass
    * + one nCells×(dims+1) aggregate + a bounded nCells×dims driver
    * collect (the fit boundary) — the loop adds iterations, never
    * width; AnnSpec covers tol ≥ 0 early stopping on a converged
    * fixture and pins the fixed-T sentinel on the real table.
    */
  val kmeansTrain: Q = Q(
    "q_kmeans_train",
    (s, dir) =>
      Ann.kmeansTrain(Tables.embeddings(s, dir), "vec_id", "embedding",
        dims = 64, nCells = 16, maxIter = 3, tol = -1.0),
    Some(s"""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      h AS (SELECT vec_id, v, md5(vec_id::VARCHAR) AS hx FROM e),
      sel AS (SELECT vec_id, v, ${OracleExact.h16Sql("hx")} AS h16 FROM h),
      cent1 AS (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v AS cv
        FROM sel
        WHERE h16 % greatest(1, (SELECT count(*) FROM e) // 16) = 0
        ORDER BY vec_id LIMIT 16),
      n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
      ${kmeansIterSql(1)},
      ${kmeansIterSql(2)},
      ${kmeansIterSql(3)}
      SELECT 1 AS iter, cell, n, dim, m FROM g1
      UNION ALL SELECT 2 AS iter, cell, n, dim, m FROM g2
      UNION ALL SELECT 3 AS iter, cell, n, dim, m FROM g3
    """),
  )

  // ---------------------------------------------------------------- §2.3/36d
  /** IVF with the index ON DISK (partitionBy cell): the probe batch
    * reads only its probed cells through parquet partition pruning —
    * the serving layout where storage enforces the nProbe/nCells read
    * fraction. Same semantics (and oracle) as knn_ivf; PushdownSpec
    * asserts the pruned scan.
    */
  val knnIvfPruned: Q = Q(
    "knn_ivf_pruned",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val queries = e.where(col("vec_id") < 20)
      Ann.ivfTopKPartitioned(e, queries, "vec_id", "embedding",
        indexPath = "/tmp/graft_ivf_index", k = 5, nCells = 16, nProbe = 4)
        .select(col("query_id"), col("nn_id"), round(col("cosine"), 6).as("cosine"),
          col("rank"))
    },
    knnIvf.oracle,
  )

  // ---------------------------------------------------------------- §2.3/36e
  /** Product-quantization ANN ([[Ann.pqAdcTopK]]): deterministic PQ
    * training (md5-sampled seeds → one Lloyd step per subspace on
    * exact decimal sums) + 8-byte codes + broadcast-LUT asymmetric
    * distance top-5. The oracle replays seeding, both assignment
    * rounds, the centroid means, the LUT, and the micro-quantized ADC
    * sums — every double op on engine-identical inputs.
    */
  val knnPq: Q = Q(
    "knn_pq",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      Ann.pqAdcTopK(e, e.where(col("vec_id") < 5), "vec_id", "embedding",
        k = 5, nSub = 8, subDim = 8, nCodes = 16)
    },
    Some(s"""
      WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
      h AS (SELECT id, v, md5(id::VARCHAR) AS hx FROM e),
      sel AS (SELECT id, v, ${OracleExact.h16Sql("hx")} AS h16 FROM h),
      seed AS (
        SELECT row_number() OVER (ORDER BY id) - 1 AS code, v
        FROM sel
        WHERE h16 % greatest(1, (SELECT count(*) FROM e) // 16) = 0
        ORDER BY id LIMIT 16),
      sub AS (SELECT i AS sub FROM range(8) t(i)),
      cb0 AS (SELECT sub, code, v[(sub*8+1):(sub*8+8)] AS cv
              FROM seed CROSS JOIN sub),
      esub AS (SELECT id, sub, v[(sub*8+1):(sub*8+8)] AS sv
               FROM e CROSS JOIN sub),
      d0 AS (
        SELECT esub.id, esub.sub, cb0.code,
               list_dot_product(sv, sv) - 2 * list_dot_product(sv, cv)
                 + list_dot_product(cv, cv) AS d
        FROM esub JOIN cb0 ON esub.sub = cb0.sub),
      a0 AS (SELECT id, sub, code FROM (
               SELECT id, sub, code,
                      row_number() OVER (PARTITION BY id, sub
                                         ORDER BY d, code) AS rn
               FROM d0) WHERE rn = 1),
      cb1c AS (
        SELECT a0.sub, a0.code, d.d,
               sum(round(e2.sv[d.d + 1], 6)::DECIMAL(18,6))::DOUBLE
                 / count(*) AS m
        FROM a0 JOIN esub e2 USING (id, sub), range(8) d(d)
        GROUP BY a0.sub, a0.code, d.d),
      cb1 AS (SELECT sub, code, list(m ORDER BY d) AS cv
              FROM cb1c GROUP BY sub, code),
      d1 AS (
        SELECT esub.id, esub.sub, cb1.code,
               list_dot_product(sv, sv) - 2 * list_dot_product(sv, cv)
                 + list_dot_product(cv, cv) AS d
        FROM esub JOIN cb1 ON esub.sub = cb1.sub),
      codes AS (SELECT id, sub, code FROM (
                  SELECT id, sub, code,
                         row_number() OVER (PARTITION BY id, sub
                                            ORDER BY d, code) AS rn
                  FROM d1) WHERE rn = 1),
      lut AS (
        SELECT q.id AS qid, cb1.sub, cb1.code,
               round((list_dot_product(sv, sv) - 2 * list_dot_product(sv, cv)
                      + list_dot_product(cv, cv)) * 1e6)::BIGINT AS micro
        FROM (SELECT id, sub, sv FROM esub WHERE id < 5) q
        JOIN cb1 ON q.sub = cb1.sub),
      adc AS (
        SELECT lut.qid, codes.id, sum(micro) AS ms
        FROM codes JOIN lut ON codes.sub = lut.sub AND codes.code = lut.code
        WHERE codes.id <> lut.qid
        GROUP BY 1, 2),
      ranked AS (
        SELECT qid, id, ms,
               row_number() OVER (PARTITION BY qid ORDER BY ms, id) AS rank
        FROM adc)
      SELECT qid AS query_id, id AS nn_id,
             round(ms / 1e6, 6) AS adc_dist, rank
      FROM ranked WHERE rank <= 5
    """),
  )

  // ---------------------------------------------------------------- §2.3/36e
  /** IVF+PQ composed ANN ([[Ann.ivfPqTopK]], the faiss IndexIVFPQ
    * shape): coarse md5-sampled centroids bound COMPUTE (nProbe/nCells
    * of the corpus scored per query), residual PQ bounds BYTES (cell id
    * + 8 code bytes per vector). The oracle composes the two
    * already-proven replays — knn_ivf's centroid/assignment fragment
    * and knn_pq's codebook-training fragment, retargeted at residuals
    * v − centroid(cell), with per-probed-cell query LUTs (the query
    * residual differs per cell). PQ seeds come from the md5-h16 rem=1
    * residue class: the rem=0 rows ARE the coarse centroids, whose
    * residuals are exactly zero.
    */
  val knnIvfPq: Q = Q(
    "knn_ivfpq",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      Ann.ivfPqTopK(e, e.where(col("vec_id") < 5), "vec_id", "embedding",
        k = 5, nCells = 16, nProbe = 4, nSub = 8, subDim = 8, nCodes = 16)
    },
    Some(s"""
      WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
      h AS (SELECT id, v, md5(id::VARCHAR) AS hx FROM e),
      sel AS (SELECT id, v, ${OracleExact.h16Sql("hx")} AS h16 FROM h),
      stp AS (SELECT greatest(1, (SELECT count(*) FROM e) // 16) AS step),
      cent AS (
        SELECT row_number() OVER (ORDER BY id) - 1 AS cell, v AS cv
        FROM sel CROSS JOIN stp
        WHERE h16 % step = 0
        ORDER BY id LIMIT 16),
      cc AS (SELECT cell, cv, sqrt(list_dot_product(cv, cv)) AS cnrm FROM cent),
      n AS (SELECT id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
      scores AS (
        SELECT n.id, cc.cell,
               list_dot_product(n.v, cc.cv) / (n.nrm * cc.cnrm) AS s
        FROM n CROSS JOIN cc),
      assigned AS (
        SELECT id, cell FROM (
          SELECT id, cell,
                 row_number() OVER (PARTITION BY id ORDER BY s DESC, cell DESC) AS rn
          FROM scores) WHERE rn = 1),
      res AS (
        SELECT a.id, a.cell,
               list_transform(range(1, 65), i -> n.v[i] - cc.cv[i]) AS rv
        FROM assigned a JOIN n ON a.id = n.id JOIN cc ON a.cell = cc.cell),
      seed AS (
        SELECT row_number() OVER (ORDER BY r.id) - 1 AS code, r.rv AS v
        FROM res r JOIN sel ON r.id = sel.id CROSS JOIN stp
        WHERE sel.h16 % step = 1
        ORDER BY r.id LIMIT 16),
      sub AS (SELECT i AS sub FROM range(8) t(i)),
      cb0 AS (SELECT sub, code, v[(sub*8+1):(sub*8+8)] AS cv
              FROM seed CROSS JOIN sub),
      rsub AS (SELECT id, cell, sub, rv[(sub*8+1):(sub*8+8)] AS sv
               FROM res CROSS JOIN sub),
      d0 AS (
        SELECT rsub.id, rsub.sub, cb0.code,
               list_dot_product(sv, sv) - 2 * list_dot_product(sv, cv)
                 + list_dot_product(cv, cv) AS d
        FROM rsub JOIN cb0 ON rsub.sub = cb0.sub),
      a0 AS (SELECT id, sub, code FROM (
               SELECT id, sub, code,
                      row_number() OVER (PARTITION BY id, sub
                                         ORDER BY d, code) AS rn
               FROM d0) WHERE rn = 1),
      cb1c AS (
        SELECT a0.sub, a0.code, d.d,
               sum(round(r2.sv[d.d + 1], 6)::DECIMAL(18,6))::DOUBLE
                 / count(*) AS m
        FROM a0 JOIN rsub r2 USING (id, sub), range(8) d(d)
        GROUP BY a0.sub, a0.code, d.d),
      cb1 AS (SELECT sub, code, list(m ORDER BY d) AS cv
              FROM cb1c GROUP BY sub, code),
      d1 AS (
        SELECT rsub.id, rsub.sub, cb1.code,
               list_dot_product(sv, sv) - 2 * list_dot_product(sv, cv)
                 + list_dot_product(cv, cv) AS d
        FROM rsub JOIN cb1 ON rsub.sub = cb1.sub),
      codes AS (SELECT c.id, a.cell, c.sub, c.code FROM (
                  SELECT id, sub, code,
                         row_number() OVER (PARTITION BY id, sub
                                            ORDER BY d, code) AS rn
                  FROM d1) c JOIN assigned a ON c.id = a.id
                WHERE c.rn = 1),
      probes AS (
        SELECT id AS qid, cell FROM (
          SELECT id, cell,
                 row_number() OVER (PARTITION BY id ORDER BY s DESC, cell DESC) AS rn
          FROM scores WHERE id < 5) WHERE rn <= 4),
      qres AS (
        SELECT p.qid, p.cell,
               list_transform(range(1, 65), i -> n.v[i] - cc.cv[i]) AS rv
        FROM probes p JOIN n ON p.qid = n.id JOIN cc ON p.cell = cc.cell),
      qsub AS (SELECT qid, cell, sub, rv[(sub*8+1):(sub*8+8)] AS sv
               FROM qres CROSS JOIN sub),
      lut AS (
        SELECT qsub.qid, qsub.cell, cb1.sub, cb1.code,
               round((list_dot_product(sv, sv) - 2 * list_dot_product(sv, cv)
                      + list_dot_product(cv, cv)) * 1e6)::BIGINT AS micro
        FROM qsub JOIN cb1 ON qsub.sub = cb1.sub),
      adc AS (
        SELECT lut.qid, codes.id, sum(micro) AS ms
        FROM codes JOIN lut ON codes.cell = lut.cell
                           AND codes.sub = lut.sub AND codes.code = lut.code
        WHERE codes.id <> lut.qid
        GROUP BY 1, 2),
      ranked AS (
        SELECT qid, id, ms,
               row_number() OVER (PARTITION BY qid ORDER BY ms, id) AS rank
        FROM adc)
      SELECT qid AS query_id, id AS nn_id,
             round(ms / 1e6, 6) AS adc_dist, rank
      FROM ranked WHERE rank <= 5
    """),
  )

  // ---------------------------------------------------------------- §2.3/36g
  /** One [[Ann.hnswBuild]] level's edge CTEs (pairs→top-m fwd→
    * symmetrize→degree cap) for the knn_hnsw oracle; `lvlCond`
    * restricts layer 1 to the md5-sampled sparse subset.
    */
  private def hnswEdgesSql(l: Int, m: Int, cap: Int, lvlCond: String): String = s"""
      pairs$l AS (
        SELECT a.vec_id AS src, c.vec_id AS dst,
               list_dot_product(a.v, c.v) / (a.nrm * c.nrm) AS cs
        FROM hb a JOIN hb c ON a.shard = c.shard AND c.vec_id < a.vec_id
        $lvlCond),
      fwd$l AS (
        SELECT src, dst, cs FROM (
          SELECT src, dst, cs,
                 row_number() OVER (PARTITION BY src ORDER BY cs DESC, dst) AS rn
          FROM pairs$l) WHERE rn <= $m),
      sym$l AS (
        SELECT src, dst, cs FROM fwd$l
        UNION ALL SELECT dst AS src, src AS dst, cs FROM fwd$l),
      he$l AS (
        SELECT src, dst FROM (
          SELECT src, dst,
                 row_number() OVER (PARTITION BY src ORDER BY cs DESC, dst) AS rn
          FROM sym$l) WHERE rn <= $cap)"""

  /** One beam-search hop for the knn_hnsw oracle: expand the previous
    * beam over level-`l` edges, dedup, drop self, re-score, keep the
    * top `beam` by (cosine desc, id) PER SHARD — the
    * [[Ann.hnswSearch]] round (per-shard beams, merged only at the
    * final global rank).
    */
  private def hnswHopSql(t: Int, l: Int, beam: Int): String = s"""
      hx$t AS (
        SELECT DISTINCT query_id, node FROM (
          SELECT query_id, node FROM hs${t - 1}
          UNION ALL
          SELECT s.query_id, ed.dst AS node
          FROM hs${t - 1} s JOIN he$l ed ON s.node = ed.src)
        WHERE node != query_id),
      hsc$t AS (
        SELECT x.query_id, x.node, c.shard,
               list_dot_product(q.qv, c.v) / (q.qnrm * c.nrm) AS cs
        FROM hx$t x JOIN hb c ON x.node = c.vec_id
        JOIN hq q ON x.query_id = q.query_id),
      hs$t AS (
        SELECT query_id, node FROM (
          SELECT query_id, node,
                 row_number() OVER (PARTITION BY query_id, shard
                                    ORDER BY cs DESC, node) AS rn
          FROM hsc$t) WHERE rn <= $beam)"""

  /** Graph ANN ([[Ann.hnswBuild]]/[[Ann.hnswSearch]] — the HNSW-class
    * index tier above LSH/IVF/PQ): md5-deterministic layered
    * small-world graph (shard by h16, link each node to its m=4
    * nearest predecessors in-shard, symmetrize, cap degree 8; layer 1
    * = the h16("L:"+id)%8==0 sparse subset wired the same way) +
    * greedy beam search with a FIXED hop budget (2 layer-1 hops, 3
    * layer-0 hops, ef=8) seeded from the 16 md5-sampled entry nodes
    * with per-shard fan-out (top-2 per shard — edges never cross
    * shards, so every shard's graph must receive a seed).
    * Every choice is a pure function of ids and vectors, so the
    * oracle replays the ENTIRE graph construction and all five
    * unrolled beam rounds — the kmeansTrain fixed-T discipline
    * applied to graph search. AnnSpec measures recall vs brute force
    * (≥ the IVF row's at equal probe budget). Scale: shard size stays
    * fixed (nShards grows with the corpus) so build cost is linear;
    * serving holds whole shards per executor, queries broadcast,
    * per-shard beams merge by rank — SURVEY §4.
    */
  val knnHnsw: Q = Q(
    "knn_hnsw",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val queries = e.where(col("vec_id") < 20)
      val edges = Ann.hnswBuild(e, "vec_id", "embedding",
        m = 4, degreeCap = 8, nShards = 4, levelMod = 8)
      Ann.hnswSearch(e, queries, edges, "vec_id", "embedding", k = 5,
        beamWidth = 8, hops1 = 2, hops0 = 3, nEntry = 16)
        .select(col("query_id"), col("nn_id"),
          round(col("cosine"), 6).as("cosine"), col("rank"))
    },
    Some(s"""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      hn AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm,
                    ${OracleExact.h16Sql("md5(vec_id::VARCHAR)")} AS h16,
                    ${OracleExact.h16Sql("md5('L:' || vec_id::VARCHAR)")} AS hl
             FROM e),
      hb AS (SELECT vec_id, v, nrm, h16 % 4 AS shard,
                    CASE WHEN hl % 8 = 0 THEN 1 ELSE 0 END AS lvl, h16
             FROM hn),
      ${hnswEdgesSql(0, m = 4, cap = 8, lvlCond = "")},
      ${hnswEdgesSql(1, m = 4, cap = 8,
        lvlCond = "AND a.lvl = 1 AND c.lvl = 1")},
      hq AS (SELECT vec_id AS query_id, v AS qv, nrm AS qnrm
             FROM hn WHERE vec_id < 20),
      ent AS (
        SELECT vec_id, v, nrm, shard FROM (
          SELECT vec_id, v, nrm, shard,
                 row_number() OVER (PARTITION BY shard
                   ORDER BY ${OracleExact.h16Sql("md5('E:' || vec_id::VARCHAR)")},
                            vec_id) AS ern
          FROM hb)
        WHERE ern <= 4),
      hsc0 AS (
        SELECT q.query_id, ent.vec_id AS node, ent.shard,
               list_dot_product(q.qv, ent.v) / (q.qnrm * ent.nrm) AS cs
        FROM hq q CROSS JOIN ent
        WHERE ent.vec_id != q.query_id),
      hs0 AS (
        SELECT query_id, node FROM (
          SELECT query_id, node,
                 row_number() OVER (PARTITION BY query_id, shard
                                    ORDER BY cs DESC, node) AS rn
          FROM hsc0) WHERE rn <= 2),
      ${hnswHopSql(1, l = 1, beam = 8)},
      ${hnswHopSql(2, l = 1, beam = 8)},
      ${hnswHopSql(3, l = 0, beam = 8)},
      ${hnswHopSql(4, l = 0, beam = 8)},
      ${hnswHopSql(5, l = 0, beam = 8)},
      fin AS (
        SELECT x.query_id, x.node AS nn_id,
               list_dot_product(q.qv, c.v) / (q.qnrm * c.nrm) AS cosine
        FROM hs5 x JOIN hb c ON x.node = c.vec_id
        JOIN hq q ON x.query_id = q.query_id)
      SELECT query_id, nn_id, round(cosine, 6) AS cosine, rank FROM (
        SELECT query_id, nn_id, cosine,
               row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, nn_id) AS rank
        FROM fin) WHERE rank <= 5
    """),
  )

  // ---------------------------------------------------------------- §2.3/36f
  /** Int8 affine embedding quantization report
    * ([[graft.operators.Quantize.int8Report]]): per-dim min/max fit,
    * code/reconstruct, per-dim error + rail stats — the 4-bytes→1
    * storage-compression calibration pass.
    */
  val vectorQuantize: Q = Q(
    "q_vector_quantize",
    (s, dir) => graft.operators.Quantize.int8Report(
      Tables.embeddings(s, dir), "embedding")
      .select(col("dim"), round(col("mn"), 6).as("mn"),
        round(col("mx"), 6).as("mx"),
        round(col("mean_abs_err"), 6).as("mean_abs_err"),
        round(col("max_abs_err"), 6).as("max_abs_err"), col("n_rail")),
    Some("""
      WITH cells AS (
        SELECT d.d AS dim, v[d.d + 1] AS x
        FROM (SELECT embedding::DOUBLE[] AS v FROM embeddings), range(64) d(d)),
      fit AS (SELECT dim, min(x) AS mn, max(x) AS mx FROM cells GROUP BY dim),
      enc AS (
        SELECT c.dim, f.mn, f.mx, c.x,
               CASE WHEN f.mx = f.mn THEN 0
                    ELSE least(greatest(
                      round((c.x - f.mn) / ((f.mx - f.mn) / 255.0))::BIGINT,
                      0), 255) END AS code
        FROM cells c JOIN fit f USING (dim)),
      err AS (
        SELECT dim, mn, mx,
               abs(x - (mn + code * ((mx - mn) / 255.0))) AS e,
               CASE WHEN code = 0 OR code = 255 THEN 1 ELSE 0 END AS rail
        FROM enc)
      SELECT dim, round(mn, 6) AS mn, round(mx, 6) AS mx,
             round(sum(round(e, 6)::DECIMAL(18,6))::DOUBLE / count(*), 6)
               AS mean_abs_err,
             round(max(round(e, 6)), 6) AS max_abs_err,
             sum(rail)::BIGINT AS n_rail
      FROM err GROUP BY dim, mn, mx
    """),
  )

  /** `dedup_embedding` through CORPUS-ADAPTIVE LSH sizing
    * ([[Ann.autoLshParams]] — VERDICT r14 task #1): same planted-dup
    * fixture, but (tables, bits) derived from the corpus count so
    * bucket occupancy stays ≈targetOccupancy under ANY scale factor —
    * the configuration whose candidate volume is linear in n where the
    * fixed 16×4 default is quadratic (545 s at sf1). Bench-only BY
    * DESIGN: at sized bits the exact all-pairs oracle no longer bounds
    * recall for threshold-grade pairs (the fixed-bit oracled fixture
    * keeps that contract); the planted near-identical dups are
    * guaranteed by the miss-target math and asserted in AutoSizeSpec.
    * The sizing count is one job — corpus stats are a fit boundary.
    */
  def dedupEmbeddingScaled(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    // offset clears the id range at every bench SF (no collision with
    // real ids, unlike the oracled fixture's historical +100000)
    val dup = e.unionAll(e.where(col("vec_id") % 20 === 0)
      .select((col("vec_id") + 10000000L).as("vec_id"),
        transform(col("v"), x => x + lit(0.01)).as("v")))
    val (tables, bits) = Ann.autoLshParams(dup.count())
    Ann.lshCosinePairs(dup, "vec_id", "v", threshold = 0.9,
      tables = tables, bits = bits, dims = 64)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
  }

  /** `knn_hnsw` with CORPUS-ADAPTIVE shard count ([[Ann.autoShards]] —
    * VERDICT r14 task #1): shard size pinned at the target so the
    * per-shard neighbor self-join is bounded and build cost is linear
    * in n (the fixed nShards=4 default is quadratic: 24 s at sf1).
    * Entry points scale as 4×nShards so the h16 sample seeds every
    * shard w.h.p. (edges never cross shards — an unseeded shard is
    * unreachable). Bench-only: the oracled fixed-shard fixture keeps
    * the exact DuckDB graph replay; this row measures the scale path.
    */
  def knnHnswScaled(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val queries = e.where(col("vec_id") < 20)
    val nShards = Ann.autoShards(e.count())
    // r16 quality config (measured at sf1, 10x2048-node shards, after
    // the entry-coverage fix): m=8/cap=16 graph + beam 16 over 2+6
    // hops = recall@5 1.00 vs brute force, 11 s search; the r15
    // m=4/cap=8/beam=8 config measured 0.22 even with coverage fixed
    val edges = Ann.hnswBuild(e, "vec_id", "embedding",
      m = 8, degreeCap = 16, nShards = nShards, levelMod = 8)
    Ann.hnswSearch(e, queries, edges, "vec_id", "embedding", k = 5,
      beamWidth = 16, hops1 = 2, hops0 = 6,
      nEntry = math.max(16, 4 * nShards), nShards = nShards)
      .select(col("query_id"), col("nn_id"),
        round(col("cosine"), 6).as("cosine"), col("rank"))
  }

  /** Serving-time HNSW shard routing, measured (VERDICT r15 #7 — the
    * last unproven claim in the ANN 100 TB story): build the sized
    * shard graph ONCE, then search the same queries at increasing
    * routed fractions (1, nShards/4, nShards/2, all) and report
    * recall@5 against brute-force truth per fraction. Routing seeds a
    * query's beam only in its top-routeShards shards by best
    * entry-point cosine (the IVF nProbe analog — `Ann.hnswSearch`
    * routeShards); per-query search cost is proportional to the
    * routed fraction, which is the 100 TB serving trade this row
    * quantifies. Bench-only: the output IS the recall report
    * (truth-dependent scalars); AutoSizeSpec pins routed⊆full
    * semantics and full-route equivalence on a fixture.
    */
  def knnHnswRouted(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, dir)
    val queries = e.where(col("vec_id") < 20)
    val nShards = Ann.autoShards(e.count())
    // no checkpoint here: hnswPrepare eagerly checkpoints the edges
    // itself (the r17 double-checkpoint copied the cached RDD for one
    // extra job), and since r18's explode-symmetrize the build plan no
    // longer double-references its forward-link subtree anyway
    val edges = Ann.hnswBuild(e, "vec_id", "embedding",
      m = 8, degreeCap = 16, nShards = nShards, levelMod = 8)
    val truth = Ann.bruteForceTopK(e, queries, "vec_id", "embedding", k = 5)
      .select(col("query_id"), col("nn_id")).localCheckpoint(eager = false)
    val nTruth = truth.count() // fit boundary: queries × k rows
    val fracs = Seq(1, math.max(1, nShards / 4), math.max(1, nShards / 2),
      nShards).distinct.sorted
    // (r17 A/B note: overlapping the four searches from a 2-thread
    // pool — guide §2.6 — was measured SLOWER (7.6-9.1 s vs 6.6
    // sequential): the hop loops are driver-latency-bound, not
    // task-bound, so concurrent searches contend on the driver
    // instead of back-filling executor idle time. Kept sequential.)
    // Prepare ONCE (corpus/query/graph materializations + the
    // entry-point collect are routing-independent) — the four routed
    // searches share it instead of redoing setup per fraction.
    val nEntry = math.max(16, 4 * nShards)
    val prep = Ann.hnswPrepare(e, queries, edges, "vec_id", "embedding",
      nEntry, nShards)
    // MULTIPLEXED (r18, VERDICT r17 #5): all routed fractions run as
    // ONE hop loop with a cfg column — one checkpoint job per hop
    // instead of one per hop per fraction, and ONE hits action instead
    // of one per fraction. Per-cfg trajectories (and therefore every
    // recall value) are row-for-row identical to the sequential
    // searches — AnnSpec pins the equivalence on a fixture.
    val cfgs = fracs.map(r => if (r == nShards) 0 else r)
    val multi = Ann.hnswSearchPreparedMulti(prep,
      k = 5, beamWidth = 16, hops1 = 2, hops0 = 6,
      nShards = nShards, cfgs = cfgs)
    val hitsByCfg = multi.join(truth, Seq("query_id", "nn_id"), "left_semi")
      .groupBy(col("cfg")).agg(count(lit(1)).as("hits")).collect()
      .map(row => row.getInt(0) -> row.getLong(1)).toMap
    val rows = fracs.map { r =>
      val hits = hitsByCfg.getOrElse(if (r == nShards) 0 else r, 0L)
      val rec = r6(hits.toDouble / nTruth)
      (r, nShards, hits, nTruth, rec)
    }
    rows.toDF("n_route", "n_shards", "hits", "n_truth", "recall")
  }

  /** CC under ONE GIANT component (the r6 VERDICT's open measurement):
    * ~40% of the 10^5-node universe collapses into a single cluster
    * shaped as a deterministic random recursive tree — parent(i) = an
    * md5-derived earlier hub — expected depth O(log n), the realistic
    * shape of a viral-boilerplate near-dup cluster after banding. The
    * remaining nodes pair into 2-cliques. driverThreshold = 0 forces
    * the DISTRIBUTED pointer-doubling loop (the 100 TB path), so this
    * row measures the hot component's shuffle volume and iteration
    * count, never the driver union-find shortcut.
    */
  def clustersSkew(s: SparkSession, dir: String): DataFrame = {
    val ids = Tables.events(s, dir)
      .select(col("event_id").cast("long").as("id")).where(col("id") > 0)
    val h = conv(substring(md5(col("id").cast("string")), 1, 8), 16, 10)
      .cast("long")
    // giant members: id % 10 < 4; hubs (% 10 == 0) form a random
    // recursive tree, non-hub members attach to a hub below them
    val giant = ids.where(col("id") % 10 < 4)
      .withColumn("j", pmod(h, col("id")))
      .select(col("id").as("id_a"), (col("j") - col("j") % 10).as("id_b"))
      .where(col("id_a") =!= col("id_b"))
    val smalls = ids
      .where(col("id") % 10 >= 4 && col("id") % 2 === 0)
      .select(col("id").as("id_a"), (col("id") + lit(1L)).as("id_b"))
    val labels = Dedup.connectedComponents(giant.unionAll(smalls),
      maxIter = 20, driverThreshold = 0L)
    labels.groupBy("canonical").count()
      .agg(count(lit(1)).as("n_components"), max("count").as("max_cluster"),
        sum("count").as("n_nodes"))
  }

  // ---------------------------------------------------------------- PCA
  /** Shared oracle CTEs: micro-unit vectors and the half-up /1e6 gram
    * cells (mirror of [[graft.operators.Pca.gramCells]]); `filter`
    * keeps the upper triangle or the full matrix.
    */
  private def gramSql(filter: String): String = s"""
      m AS (
        SELECT list_transform(embedding::DOUBLE[],
               x -> round(x * 1000000)::BIGINT) AS mv
        FROM embeddings),
      cells AS (
        SELECT ii AS i, jj AS j, mv[ii + 1] * mv[jj + 1] AS p
        FROM m, unnest(range(0, len(mv))) u1(ii),
                unnest(range(0, len(mv))) u2(jj)
        $filter),
      gm AS (
        SELECT i, j,
               CASE WHEN raw >= 0 THEN (2 * raw + 1000000) // 2000000
                    ELSE -((-2 * raw + 1000000) // 2000000) END AS g
        FROM (SELECT i, j, sum(p)::BIGINT AS raw FROM cells GROUP BY i, j))"""

  /** Exact integer gram matrix (upper triangle) of the embedding
    * corpus — the all-relational covariance accumulation PCA starts
    * from ([[graft.operators.Pca.gramCells]]): d² bounded keys, map-
    * side combine, shard-mergeable by cell addition.
    */
  val pcaGram: Q = Q(
    "q_pca_gram",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      graft.operators.Pca.gramCells(e, "embedding", upperOnly = true)
        .select(col("i").cast("long").as("i"),
          col("j").cast("long").as("j"), col("g"))
    },
    Some(s"""
      WITH ${gramSql("WHERE ii <= jj")}
      SELECT i, j, g FROM gm
    """),
  )

  /** One deterministic power-iteration step from the full gram matrix
    * ([[graft.operators.Pca.powerStep]]): integer seed v₀(j)=1+(j mod
    * 7), exact int64 matvec, decimal ‖y‖², one double normalize.
    */
  val pcaPower: Q = Q(
    "q_pca_power",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val gram = graft.operators.Pca.gramCells(e, "embedding", upperOnly = false)
      graft.operators.Pca.powerStep(gram)
        .select(col("dim").cast("long").as("dim"), col("v1"))
    },
    Some(s"""
      WITH ${gramSql("")},
      y AS (SELECT i, sum(g * (1 + j % 7))::BIGINT AS y FROM gm GROUP BY i),
      n2 AS (SELECT sum(y::HUGEINT * y)::DOUBLE AS n2 FROM y)
      SELECT i AS dim, round(y::DOUBLE / sqrt((SELECT n2 FROM n2)), 6) AS v1
      FROM y
    """),
  )

  /** Principal-direction projection histogram — the embedding
    * whitening/visualization step after the PCA power iteration:
    * every vector projects onto the round-6-quantized dominant
    * direction (the quantization makes the collected vector an exact
    * literal both engines share), via the same codegen `graft_dot` ↔
    * `list_dot_product` fold the kNN parity already pins, into a
    * 20-bucket equi-width histogram on the exact projection range.
    * Scale shape: the gram/power fit is d²-bounded state; the
    * projection pass is one narrow map + a 20-key rollup.
    */
  val qEmbedProject: Q = Q(
    "q_embed_project",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val vRows = graft.operators.Pca.powerStep(
        graft.operators.Pca.gramCells(e, "embedding", upperOnly = false))
        .collect()
      val v = vRows.map(r => (r.getAs[Number]("dim").longValue, r.getDouble(1)))
        .sortBy(_._1).map(_._2)
      val varr = array(v.map(lit(_)): _*)
      val proj = e.select(col("vec_id"),
        graft.operators.Ann.dot(col("embedding").cast("array<double>"), varr)
          .as("p"))
        .localCheckpoint(eager = false)
      val mm = proj.agg(min(col("p")).as("mn"), max(col("p")).as("mx")).head()
      val (mn, mx) = (mm.getDouble(0), mm.getDouble(1))
      proj.groupBy(
          least(floor((col("p") - lit(mn)) / lit(mx - mn) * 20), lit(19.0))
            .cast("long").as("bucket"))
        .agg(count(lit(1)).as("n"))
    },
    Some(s"""
      WITH ${gramSql("")},
      y AS (SELECT i, sum(g * (1 + j % 7))::BIGINT AS y FROM gm GROUP BY i),
      n2 AS (SELECT sum(y::HUGEINT * y)::DOUBLE AS n2 FROM y),
      vv AS (SELECT list(round(y::DOUBLE / sqrt((SELECT n2 FROM n2)), 6) ORDER BY i) AS vl
             FROM y),
      pr AS (SELECT vec_id, list_dot_product(embedding::DOUBLE[], vv.vl) AS p
             FROM embeddings, vv),
      mm AS (SELECT min(p) AS mn, max(p) AS mx FROM pr)
      SELECT least(floor((p - mn) / (mx - mn) * 20), 19)::BIGINT AS bucket,
             count(*)::BIGINT AS n
      FROM pr, mm GROUP BY 1
    """),
  )

  /** One damped PageRank iteration (d=0.85, value-iteration form
    * r' = 0.15 + 0.85·Σ_{u→v} r_u/outdeg_u from uniform r₀=1) — the
    * graph-analytics step beyond connected components: on a real
    * pipeline the edge list comes from the kNN/LSH near-dup output
    * (dedup_clusters' input); here it is a deterministic md5 fixture
    * digraph (3 pseudo-random out-edges per node, self-loops and
    * duplicates removed) so the oracle replays edges, degrees, and
    * ranks bit-for-bit. Exactness: per-edge contributions quantize to
    * int64 micro-units BEFORE the in-edge sum (order-free), the final
    * rank is per-row double arithmetic on exact integers. Scale: the
    * edge build is narrow, outdeg and the contribution sum are
    * map-side-combined groupBys keyed on src/dst — the standard
    * pregel-free PageRank step, iterable from checkpointed rank
    * tables like the CC loop.
    */
  val qPagerankStep: Q = Q(
    "q_pagerank_step",
    (s, dir) => {
      val nodes = Tables.embeddings(s, dir).select(col("vec_id"))
      val nN = nodes.count()
      val dsts = (1 to 3).map { j =>
        conv(substring(md5(concat(col("vec_id").cast("string"), lit(s":$j"))), 1, 4), 16, 10)
          .cast("long") % nN
      }
      // dedup + out-degree in ONE src rollup (collect_set is bounded
      // by the 3-edge fan-out): the distinct + groupBy + join-back
      // formulation planned FOUR hash Exchanges and computed the edge
      // subtree twice (caught by NewOpsPlanSpec's budget); this shape
      // is one src rollup, a bounded explode, and one dst rollup.
      val adj = nodes
        .select(col("vec_id").as("src"), explode(array(dsts: _*)).as("dst"))
        .where(col("dst") =!= col("src"))
        .groupBy(col("src")).agg(collect_set(col("dst")).as("dsts"))
        .select(col("src"), size(col("dsts")).as("outdeg"),
          explode(col("dsts")).as("dst"))
      val sums = adj
        .select(col("dst"), round(lit(1000000.0) / col("outdeg"), 0).cast("long").as("cm"))
        .groupBy(col("dst"))
        .agg(count(lit(1)).as("indeg"), sum(col("cm")).as("sm"))
      nodes.join(sums, nodes("vec_id") === sums("dst"), "left")
        .select(col("vec_id"),
          coalesce(col("indeg"), lit(0L)).as("indeg"),
          round(lit(0.15) + lit(0.85) * (coalesce(col("sm"), lit(0L)) / lit(1e6)), 6)
            .as("rank"))
    },
    Some(s"""
      WITH nn AS (SELECT count(*) AS n FROM embeddings),
      e0 AS (
        -- scalar dst expression + generate_series for the edge index:
        -- DuckDB's binder (v1.x) INTERNAL-errors on DISTINCT..WHERE over
        -- unnest() of a computed list referencing another CTE column
        SELECT vec_id AS src,
               ${OracleExact.h16Sql("md5(vec_id::VARCHAR || ':' || j::VARCHAR)")} % nn.n AS dst
        FROM embeddings, nn, (SELECT unnest(generate_series(1, 3)) AS j) js),
      e AS (SELECT DISTINCT src, dst FROM e0 WHERE dst != src),
      od AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
      c AS (SELECT e.dst, round(1000000.0 / od.outdeg)::BIGINT AS cm
            FROM e JOIN od ON e.src = od.src),
      s AS (SELECT dst, count(*)::BIGINT AS indeg, sum(cm)::BIGINT AS sm FROM c GROUP BY 1)
      SELECT v.vec_id, coalesce(s.indeg, 0)::BIGINT AS indeg,
             round(0.15 + 0.85 * (coalesce(s.sm, 0) / 1e6), 6) AS rank
      FROM embeddings v LEFT JOIN s ON v.vec_id = s.dst
    """),
  )

  /** One DuckDB PageRank iteration r$p -> r$t (pure int64 micro-unit
    * arithmetic — round-half-up via `(x + d/2) // d`, damping via
    * `(85·sm + 50) // 100`: order-free and bit-identical by
    * construction on any engine).
    */
  private def pagerankIterSql(t: Int): String = {
    val p = t - 1
    s"""c$t AS (
        SELECT e.dst, (r.r + od.outdeg // 2) // od.outdeg AS cm
        FROM e JOIN od ON e.src = od.src JOIN r$p r ON r.vec_id = e.src),
      s$t AS (SELECT dst, sum(cm)::BIGINT AS sm FROM c$t GROUP BY 1),
      r$t AS (
        SELECT v.vec_id,
               (150000 + (85 * coalesce(s.sm, 0) + 50) // 100)::BIGINT AS r
        FROM embeddings v LEFT JOIN s$t s ON v.vec_id = s.dst)"""
  }

  /** Damped PageRank ITERATED to tolerance-or-T (the convergence-loop
    * composition over `q_pagerank_step`, value-iteration form): ranks
    * live in int64 MICRO-UNITS end to end — per-edge contribution
    * `(r + outdeg div 2) div outdeg`, damping `150000 + (85·sm + 50)
    * div 100` — so every iteration is order-free integer arithmetic
    * and the 4-step trajectory replays bit-for-bit in DuckDB (no
    * float drift can compound across iterations, the property that
    * makes a CHAINED oracle possible at all). The adjacency builds
    * once (localCheckpoint) and each iteration is one join + one
    * map-side-combined dst rollup + a one-scalar max|Δ| fit-boundary
    * collect; the tolerance check (`tolMicro`) early-stops at the
    * exact integer fixed point — tolMicro = -1 pins the fixed-T
    * trajectory for the static oracle, the positive-tol path is
    * spec-covered on a cycle graph that converges immediately.
    */
  val qPagerank: Q = Q(
    "q_pagerank",
    (s, dir) => {
      val nodes = Tables.embeddings(s, dir).select(col("vec_id"))
        .localCheckpoint(eager = false)
      val nN = nodes.count()
      val dsts = (1 to 3).map { j =>
        conv(substring(md5(concat(col("vec_id").cast("string"), lit(s":$j"))), 1, 4), 16, 10)
          .cast("long") % nN
      }
      // the adjacency materializes already HASH-PARTITIONED on src
      // (the groupBy's partitioning survives the narrow explode AND
      // the localCheckpoint — probe-verified: an explicit repartition
      // adds nothing), so every iteration's contribution join moves
      // only the small rank table; the edge list — the big side at
      // scale — shuffles exactly once, at build
      val adj = nodes
        .select(col("vec_id").as("src"), explode(array(dsts: _*)).as("dst"))
        .where(col("dst") =!= col("src"))
        .groupBy(col("src")).agg(collect_set(col("dst")).as("dsts"))
        .select(col("src"), size(col("dsts")).as("outdeg"),
          explode(col("dsts")).as("dst"))
        .localCheckpoint(eager = false)
      pagerankLoop(nodes, adj, maxIter = 4, tolMicro = -1L)
    },
    Some(s"""
      WITH nn AS (SELECT count(*) AS n FROM embeddings),
      e0 AS (
        SELECT vec_id AS src,
               ${OracleExact.h16Sql("md5(vec_id::VARCHAR || ':' || j::VARCHAR)")} % nn.n AS dst
        FROM embeddings, nn, (SELECT unnest(generate_series(1, 3)) AS j) js),
      e AS (SELECT DISTINCT src, dst FROM e0 WHERE dst != src),
      od AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
      r0 AS (SELECT vec_id, 1000000::BIGINT AS r FROM embeddings),
      ${pagerankIterSql(1)},
      ${pagerankIterSql(2)},
      ${pagerankIterSql(3)},
      ${pagerankIterSql(4)}
      SELECT 1 AS iter, vec_id, r FROM r1
      UNION ALL SELECT 2 AS iter, vec_id, r FROM r2
      UNION ALL SELECT 3 AS iter, vec_id, r FROM r3
      UNION ALL SELECT 4 AS iter, vec_id, r FROM r4
    """),
  )

  /** The PageRank value-iteration loop over a prebuilt adjacency:
    * emits the (iter, vec_id, r) trajectory, early-stopping when
    * max|Δr| ≤ tolMicro (−1 = never: run exactly maxIter).
    */
  private[graft] def pagerankLoop(nodes: DataFrame, adj: DataFrame,
                                  maxIter: Int, tolMicro: Long): DataFrame = {
    var r = nodes.select(col("vec_id"), lit(1000000L).as("r"))
    var out: DataFrame = null
    var it = 1
    var done = false
    while (it <= maxIter && !done) {
      val contrib = adj.join(r, adj("src") === r("vec_id"))
        .select(adj("dst"), expr("(r + outdeg div 2) div outdeg").as("cm"))
      val sums = contrib.groupBy(col("dst")).agg(sum(col("cm")).as("sm"))
      val rNext = nodes.join(sums, nodes("vec_id") === sums("dst"), "left")
        .select(nodes("vec_id"),
          (lit(150000L) + expr("(85 * coalesce(sm, 0L) + 50) div 100")).as("r"))
        .localCheckpoint() // cut the per-iteration lineage (CC-loop rule)
      val delta = rNext.as("a").join(r.as("b"), "vec_id")
        .agg(max(abs(col("a.r") - col("b.r")))).head().getLong(0)
      done = delta <= tolMicro
      val step = rNext.select(lit(it).as("iter"), col("vec_id"), col("r"))
      out = if (out == null) step else out.unionAll(step)
      r = rNext
      it += 1
    }
    out
  }

  /** Blocked Levenshtein fuzzy matching over an entity-name fixture
    * ([[Dedup.blockedEditDistancePairs]]): part entities named
    * "p_name p_brand #id" with typo twins (one appended char,
    * id+100000) injected for every 13th part, blocked on the
    * structured (p_name, p_brand) pair, flagged at edit distance <= 1.
    * The same-block different-id matches the fixture also surfaces
    * (ids one digit-edit apart) are the classic fuzzy-matching
    * caveat, kept deterministic and oracled rather than suppressed.
    * Scale: candidates from the blocking equi-join only — Σ block²
    * pairs, never n²; Spark and DuckDB `levenshtein` agree (plain
    * character-level edit distance, no transposition).
    */
  val dedupEditDistance: Q = Q(
    "dedup_edit_distance",
    (s, dir) => {
      val base = Tables.part(s, dir).select(
        col("p_partkey").as("id"), col("p_name"), col("p_brand"),
        concat(col("p_name"), lit(" "), col("p_brand"), lit(" #"),
          col("p_partkey").cast("string")).as("name"))
      val twins = base.where(col("id") % 13 === 0)
        .select((col("id") + 100000).as("id"), col("p_name"), col("p_brand"),
          concat(col("name"), lit("x")).as("name"))
      Dedup.blockedEditDistancePairs(base.unionByName(twins), "id", "name",
        Seq("p_name", "p_brand"), maxDist = 1)
    },
    Some("""
      WITH base AS (
        SELECT p_partkey AS id, p_name, p_brand,
               p_name || ' ' || p_brand || ' #' || p_partkey::VARCHAR AS name
        FROM part),
      corpus AS (
        SELECT * FROM base
        UNION ALL
        SELECT id + 100000, p_name, p_brand, name || 'x' FROM base WHERE id % 13 = 0)
      SELECT a.id AS id_a, b.id AS id_b,
             levenshtein(a.name, b.name)::BIGINT AS dist
      FROM corpus a JOIN corpus b
        ON a.p_name = b.p_name AND a.p_brand = b.p_brand AND a.id < b.id
      WHERE levenshtein(a.name, b.name) <= 1
    """),
  )

  /** One synchronous label-propagation step (community detection next
    * to [[qPagerankStep]]'s centrality and the CC loop's reachability)
    * over the same md5 fixture digraph made undirected: seed labels
    * are hash communities (node % 32), each node adopts the most
    * frequent label among its distinct neighbors, ties to the
    * smallest label, neighborless nodes keep their own. Scale: the
    * both-directions edge list takes ONE hash Exchange on the node;
    * `collect_set` dedups neighbors inside that rollup (fan-out
    * bounded), and the per-(node, label) vote count plus the max_by
    * argmax both reuse the node partitioning (aggregates on a
    * superset of the partition key never re-shuffle) — iterable from
    * checkpointed label tables like the CC/PageRank loops.
    */
  val qLabelPropStep: Q = Q(
    "q_label_prop_step",
    (s, dir) => {
      val nodes = Tables.embeddings(s, dir).select(col("vec_id"))
      val nN = nodes.count()
      val dsts = (1 to 3).map { j =>
        conv(substring(md5(concat(col("vec_id").cast("string"), lit(s":$j"))), 1, 4), 16, 10)
          .cast("long") % nN
      }
      val fwd = nodes
        .select(col("vec_id").as("src"), explode(array(dsts: _*)).as("dst"))
        .where(col("dst") =!= col("src"))
      val votes = fwd
        .unionByName(fwd.select(col("dst").as("src"), col("src").as("dst")))
        .groupBy(col("src")).agg(collect_set(col("dst")).as("nbrs"))
        .select(col("src").as("node"), explode(col("nbrs")).as("nbr"))
        .groupBy(col("node"), (col("nbr") % 32).as("lbl"))
        .agg(count(lit(1)).as("c"))
      val stepped = votes.groupBy(col("node"))
        .agg(max_by(col("lbl"), struct(col("c"), lit(-1L) * col("lbl")))
          .as("new_label"),
          max(col("c")).as("votes"))
      nodes.join(stepped, nodes("vec_id") === stepped("node"), "left")
        .select(col("vec_id"),
          coalesce(col("new_label"), col("vec_id") % 32).as("new_label"),
          coalesce(col("votes"), lit(0L)).as("votes"))
    },
    Some(s"""
      WITH nn AS (SELECT count(*) AS n FROM embeddings),
      e0 AS (
        SELECT vec_id AS src,
               ${OracleExact.h16Sql("md5(vec_id::VARCHAR || ':' || j::VARCHAR)")} % nn.n AS dst
        FROM embeddings, nn, (SELECT unnest(generate_series(1, 3)) AS j) js),
      ed AS (SELECT src, dst FROM e0 WHERE dst != src),
      und AS (SELECT DISTINCT src, dst FROM
              (SELECT src, dst FROM ed UNION ALL SELECT dst, src FROM ed)),
      votes AS (SELECT src AS node, dst % 32 AS lbl, count(*)::BIGINT AS c
                FROM und GROUP BY 1, 2),
      mx AS (SELECT node, max(c) AS mc FROM votes GROUP BY 1),
      step AS (SELECT v.node, min(v.lbl)::BIGINT AS new_label, max(v.c)::BIGINT AS votes
               FROM votes v JOIN mx ON v.node = mx.node AND v.c = mx.mc
               GROUP BY 1)
      SELECT m.vec_id,
             coalesce(st.new_label, m.vec_id % 32)::BIGINT AS new_label,
             coalesce(st.votes, 0)::BIGINT AS votes
      FROM embeddings m LEFT JOIN step st ON m.vec_id = st.node
    """),
  )

  /** Exact triangle count + global clustering coefficient over the
    * undirected md5 fixture graph (the graph-analytics row that
    * completes CC reachability / PageRank centrality / label-prop
    * communities with COHESION — triangle density is the standard
    * near-dup-graph quality signal: boilerplate rings are wedge-heavy
    * and triangle-poor, true duplicate clusters are triangle-dense).
    * Scale shape is the classic degree-orientation algorithm: orient
    * every edge from its lower (degree, id) endpoint to the higher, so
    * per-node oriented out-degree is arboricity-bounded (a hub's
    * wedges land on its many LOW-degree neighbors, never on the hub) —
    * wedge generation is a self-equi-join on the oriented source and
    * the closing check is one more equi-join on the (v, w) pair; every
    * triangle is counted exactly once at its smallest-order vertex.
    * Wedge count Σd(d−1)/2 and 3T/W ride exact int64 arithmetic.
    */
  val qTriangleCount: Q = Q(
    "q_triangle_count",
    (s, dir) => {
      val nodes = Tables.embeddings(s, dir).select(col("vec_id"))
      val nN = nodes.count()
      val dsts = (1 to 3).map { j =>
        conv(substring(md5(concat(col("vec_id").cast("string"), lit(s":$j"))), 1, 4), 16, 10)
          .cast("long") % nN
      }
      val und = nodes
        .select(col("vec_id").as("a"), explode(array(dsts: _*)).as("b"))
        .where(col("b") =!= col("a"))
        .select(least(col("a"), col("b")).as("lo"), greatest(col("a"), col("b")).as("hi"))
        .distinct()
        // lazy checkpoint: und is consumed by deg (twice via the ends
        // union), the nEdges count (the materializing job), and the
        // orientation join — one explode+distinct pass instead of
        // re-planning it per consumer
        .localCheckpoint(eager = false)
      val deg = und.select(col("lo").as("v")).unionByName(und.select(col("hi").as("v")))
        .groupBy(col("v")).agg(count(lit(1)).as("d"))
        // lazy checkpoint: deg is read by the wedgePairs scalar (the
        // materializing job) and twice by the orientation join
        .localCheckpoint(eager = false)
      val nEdges = und.count()
      val wedgePairs = deg.agg(sum(expr("d * (d - 1) div 2"))).head().getLong(0)
      // orient lower (deg, id) -> higher; carry the head's order key
      // for the wedge ordering
      val ore = und
        .join(deg.as("dl"), col("lo") === col("dl.v"))
        .join(deg.as("dh"), col("hi") === col("dh.v"))
        .select(
          when(struct(col("dl.d"), col("lo")) < struct(col("dh.d"), col("hi")),
            col("lo")).otherwise(col("hi")).as("u"),
          when(struct(col("dl.d"), col("lo")) < struct(col("dh.d"), col("hi")),
            col("hi")).otherwise(col("lo")).as("v"),
          when(struct(col("dl.d"), col("lo")) < struct(col("dh.d"), col("hi")),
            col("dh.d")).otherwise(col("dl.d")).as("dv"))
        // EAGER checkpoint: ore is referenced THREE times inside the
        // single triangle-count action (x, y, z) — a lazy first
        // consumer would run the orientation join concurrently per
        // reference (the hnswPrepare edges lesson)
        .localCheckpoint()
      val wedges = ore.as("x").join(ore.as("y"),
          col("x.u") === col("y.u") &&
            (struct(col("x.dv"), col("x.v")) < struct(col("y.dv"), col("y.v"))))
        .select(col("x.v").as("p"), col("y.v").as("q"))
      val nTri = wedges.join(ore.as("z"),
        col("p") === col("z.u") && col("q") === col("z.v")).count()
      val cc = if (wedgePairs == 0) 0.0 else 3.0 * nTri / wedgePairs
      import s.implicits._
      Seq((nN, nEdges, wedgePairs, nTri, r6(cc)))
        .toDF("n_nodes", "n_edges", "n_wedges", "n_triangles", "c_global")
    },
    Some(s"""
      WITH nn AS (SELECT count(*) AS n FROM embeddings),
      e0 AS (
        SELECT vec_id AS src,
               ${OracleExact.h16Sql("md5(vec_id::VARCHAR || ':' || j::VARCHAR)")} % nn.n AS dst
        FROM embeddings, nn, (SELECT unnest(generate_series(1, 3)) AS j) js),
      und AS (SELECT DISTINCT least(src, dst) AS lo, greatest(src, dst) AS hi
              FROM e0 WHERE dst != src),
      deg AS (SELECT v, count(*)::BIGINT AS d
              FROM (SELECT lo AS v FROM und UNION ALL SELECT hi FROM und) ends
              GROUP BY 1),
      ore AS (SELECT CASE WHEN (dl.d, und.lo) < (dh.d, und.hi) THEN und.lo ELSE und.hi END AS u,
                     CASE WHEN (dl.d, und.lo) < (dh.d, und.hi) THEN und.hi ELSE und.lo END AS v,
                     CASE WHEN (dl.d, und.lo) < (dh.d, und.hi) THEN dh.d ELSE dl.d END AS dv
              FROM und JOIN deg dl ON und.lo = dl.v JOIN deg dh ON und.hi = dh.v),
      tri AS (SELECT count(*)::BIGINT AS t
              FROM ore x JOIN ore y
                ON x.u = y.u AND (x.dv, x.v) < (y.dv, y.v)
              JOIN ore z ON z.u = x.v AND z.v = y.v),
      agg AS (SELECT (SELECT n FROM nn)::BIGINT AS n_nodes,
                     (SELECT count(*) FROM und)::BIGINT AS n_edges,
                     (SELECT sum(d * (d - 1) // 2) FROM deg)::BIGINT AS n_wedges,
                     (SELECT t FROM tri) AS n_triangles)
      SELECT n_nodes, n_edges, n_wedges, n_triangles,
             CASE WHEN n_wedges = 0 THEN 0.0
                  ELSE round(3.0 * n_triangles / n_wedges, 6) END AS c_global
      FROM agg
    """),
  )

  /** End-to-end entity resolution: the [[dedupEditDistance]] fuzzy
    * pairs closed into ENTITIES via connected components, with the
    * canonical record per cluster (lowest id — the master-record rule)
    * — the composition a CRM/catalog dedup actually ships (blocking →
    * pairwise match → transitive closure → golden record), same shape
    * as `dedup_pipeline` composes MinHash for documents. Scale: pairs
    * come only from the blocking equi-join; CC is the adaptive
    * pointer-doubling/union-find loop the near-dup clusters already
    * use; only matched records appear (singletons need no merge).
    */
  val erClusters: Q = Q(
    "er_clusters",
    (s, dir) => {
      val base = Tables.part(s, dir).select(
        col("p_partkey").as("id"), col("p_name"), col("p_brand"),
        concat(col("p_name"), lit(" "), col("p_brand"), lit(" #"),
          col("p_partkey").cast("string")).as("name"))
      val twins = base.where(col("id") % 13 === 0)
        .select((col("id") + 100000).as("id"), col("p_name"), col("p_brand"),
          concat(col("name"), lit("x")).as("name"))
      val pairs = Dedup.blockedEditDistancePairs(base.unionByName(twins),
        "id", "name", Seq("p_name", "p_brand"), maxDist = 1)
      Dedup.connectedComponents(pairs)
        .select(col("id").as("entity_id"), col("canonical"))
    },
    Some("""
      WITH RECURSIVE base AS (
        SELECT p_partkey AS id, p_name, p_brand,
               p_name || ' ' || p_brand || ' #' || p_partkey::VARCHAR AS name
        FROM part),
      corpus AS (
        SELECT * FROM base
        UNION ALL
        SELECT id + 100000, p_name, p_brand, name || 'x' FROM base WHERE id % 13 = 0),
      p AS (
        SELECT a.id AS id_a, b.id AS id_b
        FROM corpus a JOIN corpus b
          ON a.p_name = b.p_name AND a.p_brand = b.p_brand AND a.id < b.id
        WHERE levenshtein(a.name, b.name) <= 1),
      edges AS (
        SELECT id_a AS a, id_b AS b FROM p
        UNION ALL SELECT id_b, id_a FROM p),
      nodes AS (SELECT DISTINCT a AS id FROM edges),
      reach(id, r) AS (
        SELECT id, id FROM nodes
        UNION
        SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.id)
      SELECT id AS entity_id, min(r) AS canonical FROM reach GROUP BY id
    """),
  )

  /** Recall@5 of the LSH ANN index against exact brute force — the
    * EVALUATION harness every approximate-similarity deployment needs
    * before trusting an index at scale (the recall/probe trade-off is
    * THE tuning decision for IVF/LSH/PQ; measuring it is how you pick
    * nProbes/tables/bits). Composes the two existing operators over
    * the same query set: per-query n_hit = |bf_top5 ∩ lsh_top5| via a
    * left join on (query, neighbor), recall = n_hit/5 and the corpus
    * mean Σ n_hit/(5·nq) as pure functions of exact counts. Scale:
    * both inputs are top-k-bounded per query, so the eval join is
    * O(queries·k) — run it on a sampled query set, never the corpus.
    */
  val qRecallAtK: Q = Q(
    "q_recall_at_k",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val queries = e.where(col("vec_id") < 20)
      val bf = Ann.bruteForceTopK(e, queries, "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("nn_id"))
      val lsh = Ann.lshTopK(e, queries, "vec_id", "embedding", k = 5,
        tables = 16, bits = 4, dims = 64)
        .select(col("query_id").as("q2"), col("nn_id").as("n2"))
      val hits = bf.join(lsh,
          bf("query_id") === lsh("q2") && bf("nn_id") === lsh("n2"), "left")
        .groupBy(col("query_id")).agg(count(col("n2")).as("n_hit"))
      val t = hits.agg(sum(col("n_hit")), count(lit(1))).head()
      val mean = t.getLong(0).toDouble / (5.0 * t.getLong(1))
      hits.select(col("query_id"), col("n_hit"),
        round(col("n_hit") / lit(5.0), 6).as("recall"),
        lit(r6(mean)).as("mean_recall"))
    },
    Some("""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
      bf_scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS nn_id,
               list_dot_product(q.v, c.v) / (q.nrm * c.nrm) AS cosine
        FROM n q JOIN n c ON q.vec_id < 20 AND c.vec_id != q.vec_id),
      bf AS (
        SELECT query_id, nn_id FROM (
          SELECT query_id, nn_id,
                 row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, nn_id) AS rank
          FROM bf_scored) r WHERE rank <= 5),
      planes AS (
        SELECT t.t AS t, j.j AS j, d.d AS d,
               CASE WHEN (strpos('0123456789abcdef',
                      substr(md5('7:' || t.t || ':' || j.j || ':' || d.d), 1, 1)) - 1) % 2 = 1
                    THEN 1.0 ELSE -1.0 END AS sgn
        FROM range(16) t(t), range(4) j(j), range(64) d(d)),
      dots AS (
        SELECT e.vec_id, p.t, p.j, sum(p.sgn * e.v[p.d + 1]) AS dp
        FROM e CROSS JOIN planes p GROUP BY 1, 2, 3),
      buckets AS (
        SELECT vec_id, t, sum(CASE WHEN dp >= 0 THEN (1 << j) ELSE 0 END) AS bucket
        FROM dots GROUP BY 1, 2),
      cand AS (
        SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS nn_id
        FROM buckets q JOIN buckets c ON q.t = c.t AND q.bucket = c.bucket
        WHERE q.vec_id < 20 AND c.vec_id != q.vec_id),
      lsh_scored AS (
        SELECT cand.query_id, cand.nn_id,
               list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cosine
        FROM cand
        JOIN n a ON cand.query_id = a.vec_id
        JOIN n b ON cand.nn_id = b.vec_id),
      lsh AS (
        SELECT query_id, nn_id FROM (
          SELECT query_id, nn_id,
                 row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, nn_id) AS rank
          FROM lsh_scored) r WHERE rank <= 5),
      hits AS (
        SELECT bf.query_id, count(lsh.nn_id)::BIGINT AS n_hit
        FROM bf LEFT JOIN lsh
          ON bf.query_id = lsh.query_id AND bf.nn_id = lsh.nn_id
        GROUP BY 1),
      tot AS (SELECT sum(n_hit)::BIGINT AS th, count(*)::BIGINT AS nq FROM hits)
      SELECT query_id, n_hit, round(n_hit / 5.0, 6) AS recall,
             round(tot.th / (5.0 * tot.nq), 6) AS mean_recall
      FROM hits CROSS JOIN tot
    """),
  )

  /** Degree distribution of the near-dup pair graph — the structural
    * health check a dedup run publishes next to its pair list (a fat
    * tail of high-degree nodes means boilerplate/template families,
    * the exact inputs the CC loop and the skew benches stress): node
    * degrees from the minhash pairs (both endpoints), histogrammed to
    * (degree, n_nodes). Two bounded rollups over the pair list — the
    * report costs nothing next to pair generation.
    */
  val dedupGraphDegrees: Q = Q(
    "dedup_graph_degrees",
    (s, dir) => {
      // materialize ONCE before the both-endpoints union — the §13
      // shared-subtree rule: an unmaterialized union computes the
      // whole minhash DAG per branch (measured 6.9 s vs 1.3 s here)
      val pairs = Dedup.minhashPairs(nearDupDocs(s, dir), "doc_id", "text",
        shingleK = 3, numPerms = 128, numBands = 32, threshold = 0.8)
        .select(col("id_a"), col("id_b")).localCheckpoint()
      pairs.select(col("id_a").as("id"))
        .unionAll(pairs.select(col("id_b").as("id")))
        .groupBy(col("id")).agg(count(lit(1)).as("deg"))
        .groupBy(col("deg")).agg(count(lit(1)).as("n_nodes"))
    },
    Some(s"""
      WITH p AS MATERIALIZED (${exactJaccardSql(nearDupDocsSql, 3, 0.8)}),
      d AS (SELECT id, count(*)::BIGINT AS deg
            FROM (SELECT id_a AS id FROM p UNION ALL SELECT id_b FROM p) e
            GROUP BY 1)
      SELECT deg, count(*)::BIGINT AS n_nodes FROM d GROUP BY 1
    """),
  )

  /** kNN majority-vote classification over the embedding labels — the
    * composition that turns the similarity index into a CLASSIFIER
    * (and the eval row that scores it): brute-force top-5 neighbors
    * per held-out query (the exact baseline; IVF/LSH/PQ are the scale
    * paths for the same vote), predicted label = most frequent
    * neighbor label with smallest-label tie-break (deterministic),
    * next to the true label with a correctness flag — per-query rows
    * plus the fleet accuracy derivable by the reader. The vote is a
    * (query, label)-bounded rollup over the top-k-bounded neighbor
    * frame.
    */
  val qKnnClassify: Q = Q(
    "q_knn_classify",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val queries = e.where(col("vec_id") < 20)
      val nn = Ann.bruteForceTopK(e, queries, "vec_id", "embedding", k = 5)
      val votes = nn.join(
          e.select(col("vec_id").as("n_id"), col("label").cast("long").as("n_label")),
          col("nn_id") === col("n_id"))
        .groupBy(col("query_id"), col("n_label"))
        .agg(count(lit(1)).as("c"))
      val pred = votes.groupBy(col("query_id"))
        .agg(max_by(col("n_label"), struct(col("c"), lit(-1L) * col("n_label")))
          .as("pred_label"))
      pred.join(e.select(col("vec_id"), col("label").cast("long").as("true_label")),
          col("query_id") === col("vec_id"))
        .select(col("query_id"), col("pred_label"), col("true_label"),
          (col("pred_label") === col("true_label")).cast("int").as("correct"))
    },
    Some("""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
      n AS (SELECT vec_id, v, label, sqrt(list_dot_product(v, v)) AS nrm FROM e),
      scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS nn_id, c.label AS n_label,
               list_dot_product(q.v, c.v) / (q.nrm * c.nrm) AS cosine
        FROM n q JOIN n c ON q.vec_id < 20 AND c.vec_id != q.vec_id),
      top AS (
        SELECT query_id, n_label FROM (
          SELECT query_id, n_label,
                 row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, nn_id) AS rank
          FROM scored) r WHERE rank <= 5),
      votes AS (SELECT query_id, n_label, count(*)::BIGINT AS c
                FROM top GROUP BY 1, 2),
      pred AS (
        SELECT query_id, n_label AS pred_label FROM (
          SELECT query_id, n_label,
                 row_number() OVER (PARTITION BY query_id ORDER BY c DESC, n_label) AS rk
          FROM votes) v WHERE rk = 1)
      SELECT p.query_id, p.pred_label::BIGINT AS pred_label,
             e.label::BIGINT AS true_label,
             (p.pred_label = e.label)::INT AS correct
      FROM pred p JOIN e ON p.query_id = e.vec_id
    """),
  )

  /** Nearest-centroid classification + confusion matrix — the
    * Rocchio-style classifier next to [[qKnnClassify]]'s instance
    * vote (centroids are the O(labels·d) model a 100 TB corpus can
    * actually broadcast; kNN needs the index): per-(label, dim)
    * centroid means from one posexplode rollup (the PCA-cells shape,
    * exact decimal sums), centroid table broadcast back, per-vector
    * L2² to every centroid as micro-quantized per-dim terms summed
    * exactly (order-free), argmin with smallest-label tie-break, and
    * the (true, pred) confusion rollup — the matrix per-class
    * precision/recall reads straight off. Training on all vectors
    * including the classified one (resubstitution) is the documented
    * convention, replayed identically by the oracle. The distance
    * pass is NARROW: the fitted centroids collect to labels×d
    * literals (the model-broadcast story made literal), per-label
    * d² expands through the codegen dot identity
    * |v|² − 2·v·c + |c|² so the per-vector work is labels dot
    * products — no n×labels×d row explosion (a first version
    * exploded and cost 10× at sf0.1); argmin is an array_min over
    * (d², label) structs, ties to the smaller label.
    */
  val qCentroidClassify: Q = Q(
    "q_centroid_classify",
    (s, dir) => {
      val vd = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("label").cast("long").as("label"),
          posexplode(col("embedding").cast("array<double>")))
        .withColumnRenamed("pos", "dim").withColumnRenamed("col", "x")
      val cent = vd.groupBy(col("label").as("c_label"),
          col("dim").cast("long").as("c_dim"))
        .agg((graft.operators.ExactAgg.decSum(col("x")) / count(lit(1))).as("c"))
        .collect() // bounded model state: labels × d
        .groupBy(_.getLong(0)).toSeq
        .map { case (lbl, rows) =>
          (lbl, rows.sortBy(_.getLong(1)).map(_.getDouble(2)).toArray)
        }.sortBy(_._1)
      val v = col("v")
      val d2s = cent.map { case (lbl, c) =>
        val cc = typedLit(c.toSeq)
        struct((graft.operators.Ann.dot(v, v) - lit(2.0) * graft.operators.Ann.dot(v, cc) +
          graft.operators.Ann.dot(cc, cc)).as("d2"), lit(lbl).as("lbl"))
      }
      Tables.embeddings(s, dir)
        .select(col("vec_id"), col("label").cast("long").as("label"),
          col("embedding").cast("array<double>").as("v"))
        .select(col("label"),
          array_min(array(d2s: _*)).getField("lbl").as("pred"))
        .groupBy(col("label").as("true_label"), col("pred").as("pred_label"))
        .agg(count(lit(1)).as("n"))
    },
    Some("""
      WITH vd AS (
        SELECT vec_id, label::BIGINT AS label, d.d AS dim,
               (embedding::DOUBLE[])[d.d + 1] AS x
        FROM embeddings, range(64) d(d)),
      cent AS (
        SELECT label AS c_label, dim AS c_dim,
               sum((x)::DECIMAL(28,6))::DOUBLE / count(*) AS c
        FROM vd GROUP BY 1, 2),
      cv AS (SELECT c_label, list(c ORDER BY c_dim) AS cvec
             FROM cent GROUP BY 1),
      e AS (SELECT vec_id, label::BIGINT AS label, embedding::DOUBLE[] AS v
            FROM embeddings),
      d2 AS (
        SELECT e.vec_id, e.label, cv.c_label,
               list_dot_product(e.v, e.v)
                 - 2.0 * list_dot_product(e.v, cv.cvec)
                 + list_dot_product(cv.cvec, cv.cvec) AS d2
        FROM e CROSS JOIN cv),
      pred AS (
        SELECT vec_id, label, c_label AS pred FROM (
          SELECT vec_id, label, c_label,
                 row_number() OVER (PARTITION BY vec_id ORDER BY d2, c_label) AS rk
          FROM d2) p WHERE rk = 1)
      SELECT label AS true_label, pred AS pred_label, count(*)::BIGINT AS n
      FROM pred GROUP BY 1, 2
    """),
  )

  /** Golden-record survivorship over the [[erClusters]] entities — the
    * MDM step AFTER transitive closure (a cluster of matched records
    * must publish ONE master): survivor fields from the lowest-id
    * member (the stable master rule the CC canonical already encodes),
    * cluster size, and a has_conflict flag when members disagree on
    * the name (exactly the typo twins the fixture plants). One join of
    * the cluster labels back to the record fields + one rollup, both
    * on the entity key.
    */
  val erGoldenRecord: Q = Q(
    "er_golden_record",
    (s, dir) => {
      val base = Tables.part(s, dir).select(
        col("p_partkey").as("id"), col("p_name"), col("p_brand"),
        concat(col("p_name"), lit(" "), col("p_brand"), lit(" #"),
          col("p_partkey").cast("string")).as("name"))
      val twins = base.where(col("id") % 13 === 0)
        .select((col("id") + 100000).as("id"), col("p_name"), col("p_brand"),
          concat(col("name"), lit("x")).as("name"))
      val corpus = base.unionByName(twins)
      val pairs = Dedup.blockedEditDistancePairs(corpus, "id", "name",
        Seq("p_name", "p_brand"), maxDist = 1)
      val clusters = Dedup.connectedComponents(pairs)
      clusters.join(corpus, clusters("id") === corpus("id"))
        .groupBy(col("canonical"))
        .agg(count(lit(1)).as("n_members"),
          min_by(col("name"), clusters("id")).as("golden_name"),
          (countDistinct(col("name")) > 1).cast("int").as("has_conflict"))
    },
    Some("""
      WITH RECURSIVE base AS (
        SELECT p_partkey AS id, p_name, p_brand,
               p_name || ' ' || p_brand || ' #' || p_partkey::VARCHAR AS name
        FROM part),
      corpus AS (
        SELECT * FROM base
        UNION ALL
        SELECT id + 100000, p_name, p_brand, name || 'x' FROM base WHERE id % 13 = 0),
      p AS (
        SELECT a.id AS id_a, b.id AS id_b
        FROM corpus a JOIN corpus b
          ON a.p_name = b.p_name AND a.p_brand = b.p_brand AND a.id < b.id
        WHERE levenshtein(a.name, b.name) <= 1),
      edges AS (
        SELECT id_a AS a, id_b AS b FROM p
        UNION ALL SELECT id_b, id_a FROM p),
      nodes AS (SELECT DISTINCT a AS id FROM edges),
      reach(id, r) AS (
        SELECT id, id FROM nodes
        UNION
        SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.id),
      cl AS (SELECT id, min(r) AS canonical FROM reach GROUP BY id)
      SELECT cl.canonical, count(*)::BIGINT AS n_members,
             min_by(corpus.name, cl.id) AS golden_name,
             (count(DISTINCT corpus.name) > 1)::INT AS has_conflict
      FROM cl JOIN corpus ON cl.id = corpus.id
      GROUP BY 1
    """),
  )

  /** L2 row-normalization of the embedding column (sklearn
    * `Normalizer(norm="l2")`) — the fit-free transform every
    * cosine-similarity index wants applied ONCE upstream (normalized
    * vectors turn cosine into a plain dot product, halving the ANN
    * scoring cost): pure narrow codegen arithmetic through the shared
    * [[Ann.norm]] kernel, zero shuffle, zero fit state. Output checks
    * the round trip (norm, two normalized components, and the
    * re-computed norm of the normalized vector pinned to 1).
    */
  val qEmbedNorm: Q = Q(
    "q_embed_norm",
    (s, dir) => {
      val v = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val nrm = Ann.norm(col("v"))
      val unit = transform(col("v"), x => x / nrm)
      v.select(col("vec_id"), round(nrm, 6).as("l2"),
        round(unit.getItem(0), 6).as("u0"),
        round(unit.getItem(1), 6).as("u1"),
        round(Ann.norm(unit), 6).as("unit_l2"))
    },
    Some("""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
      u AS (SELECT vec_id, nrm, list_transform(v, x -> x / nrm) AS uv FROM n)
      SELECT vec_id, round(nrm, 6) AS l2,
             round(uv[1], 6) AS u0, round(uv[2], 6) AS u1,
             round(sqrt(list_dot_product(uv, uv)), 6) AS unit_l2
      FROM u
    """),
  )

  /** One k-core peel step (k = 2) over the near-dup similarity graph
    * — the dense-cluster extractor that separates genuinely-replicated
    * content families from incidental pairwise matches before cluster
    * review (iterate to a fixpoint for the full k-core; each step is
    * the same plan). One step = degree rollup → semi-join filter on
    * BOTH endpoints → recomputed degree histogram. All equi-joins on
    * node ids; the pair generator is the bucketed minhash index (no
    * all-pairs anywhere), and the report is the bounded degree-grain
    * histogram.
    */
  val qKcoreStep: Q = Q(
    "q_kcore_step",
    (s, dir) => {
      val pairs = Dedup.minhashPairs(nearDupDocs(s, dir), "doc_id", "text",
        shingleK = 3, numPerms = 128, numBands = 32, threshold = 0.8)
        .select(col("id_a"), col("id_b")).localCheckpoint()
      val keep = pairs.select(col("id_a").as("id"))
        .unionAll(pairs.select(col("id_b").as("id")))
        .groupBy(col("id")).agg(count(lit(1)).as("deg"))
        .where(col("deg") >= 2).select(col("id")).localCheckpoint()
      val kept = pairs
        .join(keep.select(col("id").as("id_a")), Seq("id_a"), "left_semi")
        .join(keep.select(col("id").as("id_b")), Seq("id_b"), "left_semi")
      kept.select(col("id_a").as("id")).unionAll(kept.select(col("id_b").as("id")))
        .groupBy(col("id")).agg(count(lit(1)).as("deg"))
        .groupBy(col("deg")).agg(count(lit(1)).as("n_nodes"))
    },
    Some(s"""
      WITH p AS MATERIALIZED (${exactJaccardSql(nearDupDocsSql, 3, 0.8)}),
      d AS (SELECT id, count(*)::BIGINT AS deg
            FROM (SELECT id_a AS id FROM p UNION ALL SELECT id_b FROM p) e
            GROUP BY 1),
      keep AS (SELECT id FROM d WHERE deg >= 2),
      kp AS (SELECT id_a, id_b FROM p
             WHERE id_a IN (SELECT id FROM keep)
               AND id_b IN (SELECT id FROM keep)),
      d2 AS (SELECT id, count(*)::BIGINT AS deg
             FROM (SELECT id_a AS id FROM kp UNION ALL SELECT id_b FROM kp) e
             GROUP BY 1)
      SELECT deg, count(*)::BIGINT AS n_nodes FROM d2 GROUP BY 1
    """),
  )

  /** Corpus for the incremental fixture: the base documents plus a
    * "tonight's batch" of near-dups (every 10th doc + 3 words, at
    * +100000) and exact re-crawls (every 20th doc verbatim, at
    * +200000) — so the increment exercises cross-batch near-dup,
    * cross-batch exact-dup, and within-batch pairs (the +100000 and
    * +200000 twins of the same source doc pair with each other).
    */
  private[queries] val incCorpusSql =
    """SELECT doc_id, text FROM documents
       UNION ALL
       SELECT doc_id + 100000, text || ' tail marker words'
       FROM documents WHERE doc_id % 10 = 0
       UNION ALL
       SELECT doc_id + 200000, text FROM documents WHERE doc_id % 20 = 0"""

  // ---------------------------------------------------------------- §2.3/29b
  /** Nightly incremental near-dup against the persisted band index
    * ([[Dedup.incrementalMinhashPairs]]): only the new batch is
    * banded; the index read statically prunes to the batch's touched
    * shards; survivors verify by exact Jaccard on candidate-bounded
    * shingle fetches. Oracle = FULL-RECOMPUTE EQUIVALENCE (the
    * q_agg_incremental pattern): exact Jaccard over base ∪ new,
    * restricted to pairs touching a new doc (id_b >= 100000 — new ids
    * sit above the base id space in this fixture).
    */
  /** The STANDING MinHash band index over the base documents —
    * pid+sf-scoped (concurrent processes and different testdata dirs
    * never clobber each other) and written only when absent: within
    * one JVM the nightly-probe rows (`dedup_incremental`,
    * `stream_dedup_incremental`) reuse the index a prior query or the
    * `band_index_write` bench row left behind, exactly as a real
    * nightly run probes yesterday's index rather than rebuilding it.
    * The index is a pure function of (base docs, params), so reuse
    * within a process over one sf dir is always sound.
    */
  private[graft] def standingBandIndex(s: SparkSession, dir: String,
                                       rebuild: Boolean = false): String = {
    val idx = graft.sources.IO.stableScratchDir(
      "band_index_" + dir.replaceAll("[^A-Za-z0-9]", "_"))
    val done = java.nio.file.Paths.get(idx, "_SUCCESS")
    if (rebuild || !java.nio.file.Files.exists(done)) {
      val base = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      Dedup.bandIndexWrite(base, "doc_id", "text", idx)
    }
    idx
  }

  /** Bench-only: the standing index BUILD cost under its own name
    * (always rebuilds), so `dedup_incremental`'s timed runs measure
    * the nightly probe alone — the `bucketed_tables_write` precedent
    * (SURVEY row 140); alphabetical bench order runs this first.
    */
  private[graft] def bandIndexWriteBench(s: SparkSession, dir: String): DataFrame = {
    val idx = standingBandIndex(s, dir, rebuild = true)
    s.read.parquet(idx).groupBy(col("shard")).count()
  }

  val dedupIncremental: Q = Q(
    "dedup_incremental",
    (s, dir) => {
      val base = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val fresh = base.where(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(col("text"), lit(" tail marker words")).as("text"))
        .unionAll(base.where(col("doc_id") % 20 === 0)
          .select((col("doc_id") + 200000).as("doc_id"), col("text")))
      val idx = standingBandIndex(s, dir)
      // delta gets its OWN scratch name (never `<index>_delta`): a
      // sibling under the index's name prefix would match the stale-pid
      // reclaim pattern and a concurrent process could wipe it mid-query
      val delta = graft.sources.IO.freshScratchDir(
        "band_delta_" + dir.replaceAll("[^A-Za-z0-9]", "_"))
      Dedup.incrementalMinhashPairs(fresh, base, "doc_id", "text",
        idx, threshold = 0.8, deltaPath = delta)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
    },
    Some(s"""
      SELECT * FROM (${exactJaccardSql(incCorpusSql, 3, 0.8)})
      WHERE id_b >= 100000
    """),
  )

  // ---------------------------------------------------------------- §2.3/36h
  /** Embedding-distribution drift report — the monitoring row an
    * embedding pipeline runs between snapshots (new encoder, new
    * crawl): both halves of the corpus (vec_id parity stands in for
    * old/new snapshots) assign to the SAME 16 md5-sampled centroids
    * (the replayable knn_ivf selection), and the per-cell occupancy
    * distributions compare by Jensen–Shannon divergence (the
    * [[MetricsQueries.jsFromBins]] tail — Laplace-smoothed,
    * micro-quantized terms). Scalar-PSI watches a column; THIS
    * watches the embedding space itself, at one assignment pass +
    * one 16-cell rollup of cost.
    */
  val qEmbeddingDrift: Q = Q(
    "q_embedding_drift",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val c = e.select(col("vec_id").as("id"),
        col("embedding").cast("array<double>").as("cv"))
      val centroids = Ann.sampleCentroids(c, "id", "cv", nCells = 16)
      val assigned = c.withColumn("cell",
        element_at(graft.functions.GraftFunctions.topCells(col("cv"),
          centroids, 1), 1).getField("cell"))
      val bins = assigned
        .groupBy(col("cell").cast("long").as("bin"))
        .agg(sum(when(pmod(col("id"), lit(2)) === 0, 1L).otherwise(0L)).as("n_a"),
          sum(when(pmod(col("id"), lit(2)) === 1, 1L).otherwise(0L)).as("n_b"))
      MetricsQueries.jsFromBins(bins)
    },
    Some(s"""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      h AS (
        SELECT vec_id, v, md5(vec_id::VARCHAR) AS hx FROM e),
      sel AS (
        SELECT vec_id, v,
               ${OracleExact.h16Sql("hx")} AS h16
        FROM h),
      cent AS (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v AS cv
        FROM sel
        WHERE h16 % greatest(1, (SELECT count(*) FROM e) // 16) = 0
        ORDER BY vec_id LIMIT 16),
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
          FROM scores) WHERE rn = 1),
      bins AS (
        SELECT cell::BIGINT AS bin,
               sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_a,
               sum(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END)::BIGINT AS n_b
        FROM assigned GROUP BY 1),
      tt AS (SELECT sum(n_a)::BIGINT AS ta, sum(n_b)::BIGINT AS tb,
               count(*)::BIGINT AS k FROM bins),
      t AS (SELECT bin, n_a, n_b,
              round((0.5 * (((n_a + 0.5) / (ta + k / 2.0)) *
                      ln(((n_a + 0.5) / (ta + k / 2.0)) /
                         ((((n_a + 0.5) / (ta + k / 2.0)) + ((n_b + 0.5) / (tb + k / 2.0))) / 2.0))) +
                     0.5 * (((n_b + 0.5) / (tb + k / 2.0)) *
                      ln(((n_b + 0.5) / (tb + k / 2.0)) /
                         ((((n_a + 0.5) / (ta + k / 2.0)) + ((n_b + 0.5) / (tb + k / 2.0))) / 2.0)))) * 1e6)::BIGINT AS micro
            FROM bins, tt)
      SELECT bin, n_a, n_b, micro / 1e6 AS js_term,
             (SELECT sum(micro) FROM t) / 1e6 AS js_total
      FROM t
    """),
  )

  val all: Seq[Q] = Seq(dedupExact, dedupExactNorm, dedupMinhash, dedupClusters,
    dedupPipeline, dedupNgramJaccard, dedupContainment, dedupSimhash,
    dedupEmbedding, dedupSemdedup, knnBruteforce, knnLsh, knnIvf, kmeansStep, kmeansTrain,
    knnIvfPruned,
    knnPq, knnIvfPq, knnHnsw, vectorQuantize, pcaGram, pcaPower, qPagerankStep, qPagerank,
    dedupEditDistance, qLabelPropStep, qTriangleCount, qRecallAtK, erClusters,
    qEmbedNorm, erGoldenRecord, qKnnClassify, qCentroidClassify,
    dedupGraphDegrees, dedupPrf, qEmbedProject, qKcoreStep, dedupIncremental,
    qEmbeddingDrift, dedupKeepBest)
}
