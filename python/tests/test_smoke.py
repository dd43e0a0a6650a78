"""End-to-end smoke of the Python surface: the session extensions, the
Preprocessor fit -> transform -> inverse_transform round trip, and the
query registry checked against the same DuckDB oracle protocol the
driver runs (tools/check.py compare, imported — not re-implemented).
"""

import glob
import os

import duckdb
import pytest

import check  # tools/check.py — the driver-protocol compare helpers

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
# the smoke queries: one relational, one prep round-trip, one
# LLM-pipeline dedup, the DSv2 transactional write, and a convergence
# loop — each oracled in the driver protocol
SMOKE_QUERIES = ["q_agg", "prep_roundtrip", "dedup_minhash",
                 "source_versioned_write", "q_pagerank"]


# --------------------------------------------------------------- extensions

def test_sql_functions_registered_by_extensions(spark):
    row = spark.sql(
        "SELECT graft_dot(array(1.0, 2.0), array(3.0, 4.0)) AS d").head()
    assert row.d == pytest.approx(11.0)
    n = spark.sql(
        "SELECT size(graft_word_shingles('a b c d', 3)) AS n").head().n
    assert n == 2  # "a b c", "b c d"


def test_asof_strategy_active(spark, sf_dir):
    # the extensions inject the as-of planner strategy: the native
    # q_asof_native row only plans when it is installed
    from graft import queries
    out = queries.run(spark, "q_asof_native", sf_dir)
    assert out.count() > 0


# -------------------------------------------------------------- preprocessor

def test_preprocessor_roundtrip_customer(spark, sf_dir):
    from graft import Preprocessor

    df = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    prep = Preprocessor(df, scaling="standardize",
                        excluded_col=["c_custkey"],
                        num_fill_null="mean")
    encoded = prep.transform(df)
    # every categorical became one-hot columns, numericals standardized
    assert set(prep.encoded_columns()) <= set(encoded.columns)
    restored = prep.inverse_transform(encoded)

    orig = {r["c_custkey"]: r for r in df.collect()}
    back = {r["c_custkey"]: r for r in restored.collect()}
    assert sorted(orig) == sorted(back)
    for k, o in orig.items():
        b = back[k]
        assert b["c_mktsegment"] == o["c_mktsegment"]
        assert b["c_nationkey"] == pytest.approx(o["c_nationkey"], abs=1e-6)
        assert b["c_acctbal"] == pytest.approx(o["c_acctbal"], abs=1e-4)


def test_preprocessor_metadata(spark, sf_dir):
    from graft import Preprocessor

    df = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    prep = Preprocessor(df, excluded_col=["c_custkey"])
    nums = prep.get_numerical_features()
    cats = prep.get_categorical_features()
    assert "c_acctbal" in nums
    assert "c_mktsegment" in cats
    num_sizes, cat_sizes = prep.get_features_sizes()
    assert num_sizes == [len(nums)]
    assert len(cat_sizes) == len(cats) and all(s > 0 for s in cat_sizes)
    assert prep.discarded_columns().keys().isdisjoint(nums)


def test_preprocessor_rejects_bad_args(spark, sf_dir):
    from graft import Preprocessor
    from pyspark.errors.exceptions.captured import IllegalArgumentException

    df = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    with pytest.raises(IllegalArgumentException, match="cat_labels_threshold"):
        Preprocessor(df, cat_labels_threshold=1.5)
    with pytest.raises(IllegalArgumentException, match="scaling"):
        Preprocessor(df, scaling="bogus")
    with pytest.raises(IllegalArgumentException, match="num_fill_null"):
        Preprocessor(df, num_fill_null="bogus")
    with pytest.raises(IllegalArgumentException, match="unseen_labels: bogus"):
        Preprocessor(df, unseen_labels="bogus")


def test_preprocessor_forward_fill_roundtrip(spark):
    from graft import Preprocessor

    rows = [("s1", 1, None), ("s1", 2, 1.0), ("s1", 3, None), ("s1", 4, 4.0),
            ("s2", 1, 2.0), ("s2", 2, None), ("s2", 3, 3.0)]
    df = spark.createDataFrame(rows, "sk string, t long, v double")
    prep = Preprocessor(df, excluded_col=["sk", "t"], time_id="t",
                        series_key="sk", scaling="standardize",
                        num_fill_null="forward")
    back = {(r["sk"], r["t"]): r["v"]
            for r in prep.inverse_transform(prep.transform(df)).collect()}
    # each series' leading null stays null, every other null takes the
    # last value before it, and the known values restore
    want = {("s1", 1): None, ("s1", 2): 1.0, ("s1", 3): 1.0, ("s1", 4): 4.0,
            ("s2", 1): 2.0, ("s2", 2): 2.0, ("s2", 3): 3.0}
    assert back.keys() == want.keys()
    for k, w in want.items():
        assert back[k] == (None if w is None else pytest.approx(w, abs=1e-6)), k


def test_extract_ts_features(spark, sf_dir):
    from graft import Preprocessor
    from pyspark.sql import functions as F

    df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    series = df.select("user_id", "ts", "value")
    labels = (df.groupBy("user_id")
                .agg((F.avg("value") > F.lit(0)).cast("int").alias("y")))
    feats = Preprocessor.extract_ts_features(
        series, labels, column_id="user_id", time="ts")
    assert feats.columns[0] == "user_id"
    assert len(feats.columns) > 1
    assert feats.count() == labels.count()


# ----------------------------------------------------------------- operators

def test_operator_entry_points(spark, sf_dir):
    from graft import operators
    from pyspark.sql import functions as F

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    # near-dup pairs: the planted near-dup twins surface, exact text
    # reproduces jaccard 1.0 pairs when present; shape is (a, b, j)
    pairs = operators.minhash_pairs(docs, "doc_id", "text", threshold=0.8)
    assert pairs.columns == ["id_a", "id_b", "jaccard"]
    assert pairs.where("jaccard > 1.0").count() == 0

    # sentence dedup reconstructs every doc
    sd = operators.sentence_dedup(docs.limit(50), "doc_id", "text")
    assert sd.count() == 50
    assert sd.where("n_kept > n_sents").count() == 0

    # knn: top-3 per query, self excluded
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    topk = operators.knn_brute_force(emb, emb.where("vec_id < 3"),
                                     "vec_id", "embedding", k=3)
    got = topk.groupBy("query_id").count().collect()
    assert len(got) == 3 and all(r["count"] <= 3 for r in got)
    assert topk.where("query_id = nn_id").count() == 0

    # per-series features: one row per user
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    feats = operators.ts_features(ev.select("user_id", "ts", "value"),
                                  "user_id", "ts", "value")
    assert feats.count() == ev.select("user_id").distinct().count()

    # url dedup collapses scheme/www variants
    urls = docs.select("doc_id", F.concat(
        F.lit("https://www.example.com/p/"),
        (F.col("doc_id") % 5).cast("string")).alias("url"))
    dd = operators.dedup_by_url(urls, "doc_id", "url")
    assert dd.count() == 5


# ------------------------------------------------------------ query registry

def test_registry_shape(spark):
    from graft import queries

    names = queries.names(spark)
    assert len(names) >= 369
    for q in SMOKE_QUERIES:
        assert q in names
        assert queries.oracle_sql(spark, q)
    bench = queries.bench_names(spark)
    assert "ts_lempel_ziv" in bench
    assert queries.oracle_sql(spark, "ts_lempel_ziv") is None


@pytest.mark.parametrize("name", SMOKE_QUERIES)
def test_query_matches_duckdb_oracle(spark, sf_dir, name, tmp_path):
    """The driver protocol, from Python: run the registry query, dump
    to parquet, run the oracle SQL in DuckDB on the same tables, and
    compare with tools/check.py's type/row/bit-exact-float logic."""
    from graft import queries

    out = queries.run(spark, name, sf_dir)
    dump = str(tmp_path / name)
    out.coalesce(1).write.mode("overwrite").parquet(dump)

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{t}.parquet')")
    spark_glob = os.path.join(dump, "*.parquet")
    assert glob.glob(spark_glob)
    got = con.execute(
        f"SELECT * FROM read_parquet('{spark_glob}')").fetch_df()
    want = con.execute(queries.oracle_sql(spark, name)).fetch_df()
    ok, msg = check.compare_types(
        check.duck_types(con, f"SELECT * FROM read_parquet('{spark_glob}')"),
        check.duck_types(con, queries.oracle_sql(spark, name)))
    assert ok, msg
    ok, msg = check.compare(got, want)
    assert ok, msg


@pytest.mark.parametrize("name", SMOKE_QUERIES)
def test_query_matches_scala_dump(spark, name):
    """Byte-for-byte against the Scala Verify dump when one exists
    (GRAFT_VERIFY_SF names the scale the dump was made at — the
    driver's correctness runs use sf0.01)."""
    verify_dir = os.environ.get("GRAFT_VERIFY_DIR", "/tmp/verify")
    verify_sf = os.environ.get("GRAFT_VERIFY_SF", "/root/testdata/sf0.01")
    scala_glob = os.path.join(verify_dir, name, "*.parquet")
    if not glob.glob(scala_glob):
        pytest.skip(f"no Scala dump at {scala_glob} (run graft.Verify)")
    from graft import queries

    out = queries.run(spark, name, verify_sf)
    con = duckdb.connect()
    got = con.execute(
        "SELECT * FROM read_parquet(?)", [scala_glob]).fetch_df()
    mine = out.toPandas()
    ok, msg = check.compare(mine, got)
    assert ok, msg


# ----------------------------------------------------------- versioned table

def test_versioned_table_from_python(spark, tmp_path):
    from graft import versioned
    from pyspark.sql import functions as F

    path = str(tmp_path / "vt")
    base = spark.range(0, 50).select(
        F.col("id"), (F.col("id") / 7.0).alias("val"))
    versioned.write(base, path, mode="overwrite")
    versioned.write(spark.range(50, 60).select(
        F.col("id"), (F.col("id") / 7.0).alias("val")), path, mode="append")
    assert versioned.latest_version(spark, path) == 2
    assert versioned.read(spark, path).count() == 60
    assert versioned.read(spark, path, version=1).count() == 50
    # bit-exact round trip
    got = {r["id"]: r["val"] for r in versioned.read(spark, path).collect()}
    assert got[49] == 49 / 7.0

    # vacuum to the live snapshot only; time travel outside fails
    versioned.write(spark.range(0, 5).select(
        F.col("id"), (F.col("id") / 7.0).alias("val")), path, mode="overwrite")
    rep = versioned.vacuum(spark, path, keep_versions=1)
    assert rep["deleted_versions"] == 2
    assert versioned.read(spark, path).count() == 5
    import pytest as _pytest
    with _pytest.raises(Exception):
        versioned.read(spark, path, version=1).count()


def test_versioned_delete_and_evolve_from_python(spark, tmp_path):
    from graft import versioned
    from pyspark.sql import functions as F

    path = str(tmp_path / "vt2")
    versioned.write(spark.range(0, 40).select(
        F.col("id"), (F.col("id") / 3.0).alias("val")), path, mode="overwrite")
    rep = versioned.delete_ids(spark, path, [1, 5, 9])
    assert rep["deleted_rows"] == 3 and rep["version"] == 2
    assert versioned.read(spark, path).count() == 37
    assert versioned.read(spark, path, version=1).count() == 40  # history

    v = versioned.evolve_schema(spark, path, "tag", "string")
    assert v == 3
    d = versioned.read(spark, path)
    assert d.columns == ["id", "val", "tag"]
    assert d.where("tag is null").count() == 37  # null-fill on old files
    versioned.write(spark.range(40, 43).select(
        F.col("id"), (F.col("id") / 3.0).alias("val"),
        F.lit("new").alias("tag")), path, mode="append")
    assert versioned.read(spark, path).where("tag = 'new'").count() == 3
    # pre-evolution snapshot keeps the old schema
    assert versioned.read(spark, path, version=2).columns == ["id", "val"]


def test_more_operator_entry_points(spark, sf_dir):
    from graft import operators
    from pyspark.sql import functions as F

    # connected components over a tiny planted pair table
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], ["id_a", "id_b"])
    cc = {r["id"]: r["canonical"]
          for r in operators.connected_components(pairs).collect()}
    assert cc[1] == cc[2] == cc[3] and cc[10] == cc[11] and cc[1] != cc[10]

    # pii scan redacts a planted email
    df = spark.createDataFrame(
        [(1, "contact me at jane@example.com please")], ["id", "text"])
    row = operators.pii_scan(df, "text").collect()[0]
    assert "jane@example.com" not in row["redacted"]

    # IVF ANN: bounded per-query results, self excluded
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    topk = operators.knn_ivf(emb, emb.where("vec_id < 2"),
                             "vec_id", "embedding", k=3)
    assert topk.where("query_id = nn_id").count() == 0
    assert all(r["count"] <= 3
               for r in topk.groupBy("query_id").count().collect())


def test_r16_operator_entry_points(spark, sf_dir):
    import os
    from graft import operators

    # adf_autolag: per-series tau + MacKinnon p + selected lag
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    adf = operators.adf_autolag(ev.where("user_id < 5"),
                                "user_id", "ts", "value").collect()
    assert len(adf) > 0
    for r in adf:
        if r["adf_p"] is not None:
            assert 0.0 <= r["adf_p"] <= 1.0
            assert r["adf_lag"] in (0, 1)

    # hnsw with corpus-adaptive shards + serving-time routing: routed
    # results are a per-query top-k, self excluded
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    routed = operators.knn_hnsw(emb, emb.where("vec_id < 2"),
                                "vec_id", "embedding", k=3, route_shards=1)
    assert routed.where("query_id = nn_id").count() == 0
    assert all(r["count"] <= 3
               for r in routed.groupBy("query_id").count().collect())

    # fluss segmentation returns one regime row per series
    fl = operators.matrix_profile_fluss(ev.where("user_id < 3"),
                                        "user_id", "ts", "value")
    rows = fl.collect()
    assert {r["user_id"] for r in rows} == {0, 1, 2}
    assert all(0.0 <= r["cac_min"] <= 1.0 for r in rows)
