from sifter_mrc_search_engine_spark.operators.index_build import (
    combine_search_fields,
)


def test_combine_search_fields(spark):
    df = spark.createDataFrame(
        [(1, "alpha title", "body words"), (2, None, "only body"), (3, "only title", None)],
        "doc_id long, title string, content string",
    )
    out = {r["doc_id"]: r["text"] for r in combine_search_fields(df).collect()}
    assert out == {1: "alpha title body words", 2: "only body", 3: "only title"}


def test_combine_missing_field_ignored(spark):
    df = spark.createDataFrame([(1, "just content")], "doc_id long, content string")
    out = combine_search_fields(df).collect()[0]
    assert out["text"] == "just content"


# --- BM25F -------------------------------------------------------------------


def test_bm25f_single_field_unit_weight_equals_bm25(spark, sf_dir):
    """With one field at weight 1.0, BM25F degenerates to plain BM25 —
    scores must be exactly equal (same float64 shapes)."""
    from sifter_mrc_search_engine_spark.operators.bm25 import bm25_brute_force
    from sifter_mrc_search_engine_spark.operators.bm25f import bm25f_brute_force

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    a = [(r["doc_id"], r["score"]) for r in bm25_brute_force(docs, "the fast query", top_k=10).collect()]
    b = [
        (r["doc_id"], r["score"])
        for r in bm25f_brute_force(docs, "the fast query", {"text": 1.0}, top_k=10).collect()
    ]
    assert [d for d, _ in a] == [d for d, _ in b]
    for (_, sa), (_, sb) in zip(a, b):
        assert sa == sb


def test_bm25f_title_boost_changes_ranking(spark):
    """A term appearing in the boosted title outranks the same term
    appearing only in the body, all else equal."""
    from sifter_mrc_search_engine_spark.operators.bm25f import bm25f_brute_force

    rows = [
        (1, "zebra news", "common words fill the body here today"),
        (2, "common words", "zebra fill the body here today extra"),
        (3, "other title", "common words fill the body here today"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, title string, content string")
    boosted = bm25f_brute_force(docs, "zebra", {"title": 3.0, "content": 1.0}, top_k=3).collect()
    assert boosted[0]["doc_id"] == 1  # title hit wins under the boost


def test_bm25f_duckdb_parity(spark, sf_dir):
    import duckdb

    from sifter_mrc_search_engine_spark.operators.bm25f import (
        bm25f_brute_force,
        bm25f_oracle_sql,
    )
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    two = docs.select(
        "doc_id",
        F.concat_ws(" ", F.slice(F.split("text", " "), 1, 8)).alias("title"),
        F.col("text").alias("content"),
    )
    w = {"title": 2.0, "content": 1.0}
    got = [
        (r["doc_id"], round(r["score"], 4))
        for r in bm25f_brute_force(two, "the fast query", w, top_k=10).collect()
    ]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'")
    sql = bm25f_oracle_sql(
        "the fast query",
        {"title": "array_to_string((string_split(text, ' '))[1:8], ' ')", "content": "text"},
        w,
        top_k=10,
    )
    exp = con.execute(sql).fetchall()
    assert got == [(d, s) for d, s in exp]


def test_bm25f_tf_side_single_scan(spark, sf_dir):
    """All fields tokenize inside one struct-array explode: the weighted-tf
    subplan reads the input once, not once per field."""
    from sifter_mrc_search_engine_spark.operators.bm25f import bm25f_brute_force
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    two = docs.select(
        "doc_id",
        F.concat_ws(" ", F.slice(F.split("text", " "), 1, 8)).alias("title"),
        F.col("text").alias("content"),
    )
    plan = bm25f_brute_force(
        two, "the fast query", {"title": 2.0, "content": 1.0}, top_k=10
    )._jdf.queryExecution().optimizedPlan().toString()
    # 2 relations total: one for the tf side, one for the wdl/stats side
    # (a per-field union would make it n_fields + 1)
    assert plan.count("Relation") <= 3, plan


def test_bm25f_null_field_is_empty_not_poison(spark):
    """A NULL title must contribute zero weighted length/tf — not the
    size(NULL) = -1 that would corrupt the doc-length normalization —
    and the persisted fielded index must agree with the brute force."""
    from sifter_mrc_search_engine_spark.operators.bm25f import bm25f_brute_force
    from sifter_mrc_search_engine_spark.operators.fielded_index import (
        build_fielded_index,
        search_bm25f,
    )
    import tempfile

    rows = [
        (1, None, "zebra body words here today fine"),
        (2, "zebra title", "plain body words here today fine"),
        (3, "other title", "plain body words here today fine"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, title string, content string")
    w = {"title": 2.0, "content": 1.0}
    brute = [(r["doc_id"], r["score"]) for r in bm25f_brute_force(docs, "zebra", w, top_k=3).collect()]
    assert [d for d, _ in brute] == [2, 1]  # boosted title hit first; null-title doc still scores
    assert all(s > 0 for _, s in brute)
    d = tempfile.mkdtemp()
    build_fielded_index(docs, ["title", "content"], d, buckets=4)
    stored = [(r["doc_id"], r["score"]) for r in search_bm25f(spark, d, "zebra", w, top_k=3).collect()]
    assert [x for x, _ in stored] == [x for x, _ in brute]
    for (gd, gs), (_, es) in zip(stored, brute):
        assert gs == es
