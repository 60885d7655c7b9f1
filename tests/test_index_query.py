"""End-to-end: build the compressed sharded index on a deterministic synthetic
code corpus, query it, and verify rank-identity against a pure-Python BM25
oracle (the analogue of the reference's embedded-Solr reopen-and-query test,
AbstractSolrSchemeTest.java:109-176), the sha256 stored-field invariant
(:160-161,179-184), resume-from-checkpoint, and TAAT == block-max MaxScore.
"""

import json
import math
import shutil
from collections import Counter

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cascading_solr_spark.analyzer import analyze_query, tokenize
from cascading_solr_spark.corpus import synth_corpus
from cascading_solr_spark.indexing.build import (
    assign_doc_ids,
    build_index,
    local_frame,
)
from cascading_solr_spark.query.naive import bm25_topk_df
from cascading_solr_spark.query.search import search
from cascading_solr_spark.spec import IndexSpec

N_DOCS = 300
QUERIES = [
    "parse buffer",
    "import",  # hot, salted term
    "httpClient retry",
    "readJson batch",
    "zzqx",  # zero-hit (Q7)
    "import parse zzqx",  # hot + cold + absent mix
]


def oracle_bm25(rows, query, k=10, k1=1.2, b=0.75):
    """Single-process reference BM25 sharing tokenize() verbatim."""
    toks = {d: tokenize(c) for d, c in rows}
    n = len(rows)
    dls = {d: len(t) for d, t in toks.items()}
    avgdl = sum(dls.values()) / n
    tfs = {d: Counter(t) for d, t in toks.items()}
    terms = analyze_query(query)
    dfreq = {t: sum(1 for d in tfs if tfs[d].get(t)) for t in terms}
    scores = {}
    for d, cnt in tfs.items():
        s = 0.0
        for t in terms:
            if cnt.get(t) and dfreq[t]:
                idf = math.log1p((n - dfreq[t] + 0.5) / (dfreq[t] + 0.5))
                tf = cnt[t]
                s += idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dls[d] / avgdl))
        if s > 0.0:
            scores[d] = s
    ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
    return ranked[:k]


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("corpus") / "code.parquet")
    synth_corpus(spark, N_DOCS, partitions=6).write.parquet(path)
    return spark.read.parquet(path)


@pytest.fixture(scope="module")
def spec():
    return IndexSpec(num_shards=4, salt_buckets=4, block_size=16)


@pytest.fixture(scope="module")
def index(spark, corpus, spec, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("index") / "ix")
    return build_index(spark, corpus, spec, out)


@pytest.fixture(scope="module")
def keyed_rows(spark, corpus):
    """(doc_id, content) with the same deterministic ids as the build."""
    rows = assign_doc_ids(corpus, ("repo", "path", "commit")).select(
        "doc_id", "content"
    ).collect()
    return [(r["doc_id"], r["content"]) for r in rows]


def test_assign_doc_ids_dense_and_deterministic(spark, corpus):
    got = assign_doc_ids(corpus, ("repo", "path", "commit")).select(
        "doc_id", "repo", "path", "commit"
    ).collect()
    assert sorted(r["doc_id"] for r in got) == list(range(N_DOCS))
    by_key = sorted(got, key=lambda r: (r["repo"], r["path"], r["commit"]))
    assert [r["doc_id"] for r in by_key] == list(range(N_DOCS))


def test_index_tables_exist(spark, index):
    postings = index.postings(spark)
    assert postings.filter(F.col("n_docs") <= 0).count() == 0
    lineage = index.lineage(spark).collect()
    assert {r["shard"] for r in lineage} == {0, 1, 2, 3}
    assert all(r["status"] == "committed" for r in lineage)
    assert all(r["skew_ratio"] >= 1.0 for r in lineage)
    docs = index.docs(spark)
    assert docs.count() == N_DOCS
    assert index.n_docs == N_DOCS


def test_hot_terms_are_salted(spark, index):
    salts = (
        index.postings(spark)
        .filter(F.col("term") == "import")
        .select("shard", "salt")
        .distinct()
        .groupBy("shard")
        .count()
        .collect()
    )
    assert salts and all(r["count"] > 1 for r in salts)


@pytest.mark.parametrize("mode", ["taat", "maxscore"])
@pytest.mark.parametrize("query", QUERIES)
def test_search_rank_identical_to_oracle(spark, index, keyed_rows, mode, query):
    expected = oracle_bm25(keyed_rows, query, k=10)
    got = search(spark, index, query, k=10, mode=mode, with_stored=False).collect()
    assert [r["doc_id"] for r in got] == [d for d, _ in expected]
    for r, (_, s) in zip(got, expected):
        assert r["score"] == pytest.approx(s, rel=1e-9)


@pytest.mark.parametrize("query", QUERIES)
def test_naive_dataframe_path_matches_oracle(spark, corpus, query):
    docs = assign_doc_ids(corpus, ("repo", "path", "commit"))
    got = bm25_topk_df(
        docs, query, k=10, content_col="content", id_col="doc_id", round_to=None
    ).collect()
    expected = oracle_bm25(keyed_rows_from(docs), query, k=10)
    assert [r["doc_id"] for r in got] == [d for d, _ in expected]
    for r, (_, s) in zip(got, expected):
        assert r["score"] == pytest.approx(s, rel=1e-9)


def test_naive_counts_zero_token_docs(spark):
    # empty and null content tokenize to nothing, yet count in N and avgdl
    docs = spark.createDataFrame(
        [(1, "parse buffer"), (2, ""), (3, None), (4, "parse")],
        "doc_id long, text string",
    )
    got = bm25_topk_df(docs, "parse", k=None, round_to=None).collect()
    n, avgdl, df = 4, 3 / 4, 2
    idf = math.log1p((n - df + 0.5) / (df + 0.5))

    def bm25(dl):
        return idf * 2.2 / (1 + 1.2 * (0.25 + 0.75 * dl / avgdl))

    assert [r["doc_id"] for r in got] == [4, 1]
    assert [r["score"] for r in got] == pytest.approx([bm25(1), bm25(2)])


def test_tokens_long_rejects_null_and_non_integer_ids(spark):
    from pyspark.errors import PythonException

    from cascading_solr_spark.query.naive import tokens_long

    ok = spark.createDataFrame([("7", "parse")], "doc_id string, text string")
    assert [r["doc_id"] for r in tokens_long(ok).collect()] == [7]
    for rows, schema in [
        ([(1, "parse buffer"), (None, "retry")], "doc_id long, text string"),
        ([("7", "parse"), ("a17", "retry")], "doc_id string, text string"),
    ]:
        docs = spark.createDataFrame(rows, schema)
        with pytest.raises(PythonException, match="ValueError: tokens_long"):
            tokens_long(docs).collect()


def keyed_rows_from(docs):
    rows = docs.select("doc_id", "content").collect()
    return [(r["doc_id"], r["content"]) for r in rows]


def test_sha256_stored_field_invariant(spark, index, corpus):
    res = search(spark, index, "parse buffer", k=10).collect()
    assert res
    src = {
        (r["repo"], r["path"], r["commit"]): r["sha"]
        for r in corpus.select(
            "repo", "path", "commit", F.sha2("content", 256).alias("sha")
        ).collect()
    }
    for r in res:
        assert r["sha256"] == src[(r["repo"], r["path"], r["commit"])]


def test_zero_hit_returns_empty(spark, index):
    assert search(spark, index, "zzqx", k=10).count() == 0
    assert search(spark, index, "", k=10).count() == 0


def test_search_many_matches_single_query_path(spark, index, keyed_rows):
    from cascading_solr_spark.query.search import search_many

    qset = {f"q{i}": q for i, q in enumerate(QUERIES)}
    got = search_many(spark, index, qset, k=10).collect()
    by_q: dict[str, list] = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    for qid, q in qset.items():
        expected = oracle_bm25(keyed_rows, q, k=10)
        rows = by_q.get(qid, [])
        assert [d for d, _ in rows] == [d for d, _ in expected], (qid, q)
        for (_, s_got), (_, s_exp) in zip(rows, expected):
            assert s_got == pytest.approx(s_exp, rel=1e-9)


def test_term_dict_table(spark, index, keyed_rows):
    d = index.term_dict(spark)
    assert d is not None
    got = {r["term"]: r["df"] for r in d.filter(d.term.isin(["import", "parse"])).collect()}
    from collections import Counter

    expect_import = sum(1 for _, c in keyed_rows if "import" in tokenize(c))
    assert got.get("import") == expect_import


def test_resume_rebuilds_only_missing_shards(spark, corpus, spec, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("resume") / "ix")
    full = build_index(spark, corpus, spec, out)
    want = sorted(
        map(tuple, full.postings(spark).select(
            "shard", "term", "salt", "n_docs", "doc_ids", "tfs", "dls"
        ).collect())
    )
    # simulate a failed run: drop shards 2,3 postings + their lineage rows
    lineage_rows = [
        r.asDict() for r in full.lineage(spark).collect() if r["shard"] < 2
    ]
    shutil.rmtree(f"{out}/lineage")
    spark.createDataFrame(
        lineage_rows,
        "shard int, terms long, postings long, bytes long, "
        "skew_ratio double, status string",
    ).write.parquet(f"{out}/lineage")
    shutil.rmtree(f"{out}/postings/shard=2")
    shutil.rmtree(f"{out}/postings/shard=3")

    resumed = build_index(spark, corpus, spec, out, resume=True)
    got = sorted(
        map(tuple, resumed.postings(spark).select(
            "shard", "term", "salt", "n_docs", "doc_ids", "tfs", "dls"
        ).collect())
    )
    assert got == want
    lineage = resumed.lineage(spark).collect()
    assert {r["shard"] for r in lineage} == {0, 1, 2, 3}


# ---------------------------------------------------- driver-side frames


LOCAL_DDL = "id long, name string, payload binary, tags array<string>, flag boolean"
LOCAL_STRUCT = T.StructType([
    T.StructField("id", T.LongType(), False),
    T.StructField("name", T.StringType(), True),
    T.StructField("payload", T.BinaryType(), True),
    T.StructField("tags", T.ArrayType(T.StringType(), False), True),
    T.StructField("flag", T.BooleanType(), False),
])
LOCAL_ROWS = [
    (1, None, b"\x00\xff", ["a", "b"], True),
    (2, "x", None, [], False),
    (3, "y", b"", None, True),
]


@pytest.mark.parametrize("arrow", ["true", "false"])
def test_local_frame_contract(spark, arrow):
    from test_round5 import _spark_jobs

    conf = "spark.sql.execution.arrow.pyspark.enabled"
    prior = spark.conf.get(conf)
    spark.conf.set(conf, arrow)
    try:
        cases = [
            (LOCAL_DDL, T.StructType.fromDDL(LOCAL_DDL), LOCAL_ROWS),
            (LOCAL_DDL, T.StructType.fromDDL(LOCAL_DDL), []),
            (LOCAL_STRUCT, LOCAL_STRUCT, LOCAL_ROWS),
            (LOCAL_STRUCT, LOCAL_STRUCT, []),
        ]
        for schema, requested, rows in cases:
            df = local_frame(spark, rows, schema)
            assert df.schema == requested
            assert df.schema == T.StructType.fromJson(
                json.loads(df._jdf.schema().json())
            )
            assert [tuple(r) for r in df.collect()] == rows
            plan = df._jdf.queryExecution().optimizedPlan().toString()
            assert plan.startswith("LocalRelation"), plan
            assert _spark_jobs(spark, df.collect) == 0
    finally:
        spark.conf.set(conf, prior)


RANKED_SPEC = IndexSpec(
    num_shards=2, salt_buckets=2, block_size=16, positions=True,
    keyword_fields=("lang",),
)
_STORED = [
    ("doc_id", "bigint"), ("repo", "string"), ("path", "string"),
    ("commit", "string"), ("lang", "string"), ("sha256", "string"),
]


@pytest.fixture(scope="module")
def ranked_index(spark, corpus, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("ranked") / "ix")
    return build_index(spark, corpus, RANKED_SPEC, out)


@pytest.mark.usefixtures("distributed_tier")
def test_ranked_request_jobs_and_result_schema(spark, ranked_index):
    # a warm handle (dict cache filled): a k-bounded ranked request with the
    # stored fetch is the top-k scan's jobs plus one pruned docs stage, and
    # a zero-hit request runs no job; every result keeps the schema below
    # (all columns nullable), hits or not
    from cascading_solr_spark.query.boolean import search_boolean
    from cascading_solr_spark.query.search import (
        search_after,
        search_dismax,
        search_phrase,
    )
    from test_round5 import _spark_jobs

    ix = ranked_index
    assert ix.dict_cache(spark) is not None
    full = T.StructType.fromDDL(
        ", ".join(f"{c} {t}" for c, t in _STORED + [("score", "double")])
    )
    calls = {
        "search": (lambda q: search(spark, ix, q, k=5), full),
        "search_fl": (
            lambda q: search(spark, ix, q, k=5, fl=["path", "score"]),
            T.StructType.fromDDL("doc_id bigint, path string, score double"),
        ),
        "search_fl_no_score": (
            lambda q: search(spark, ix, q, k=5, fl=["lang"]),
            T.StructType.fromDDL("doc_id bigint, lang string"),
        ),
        "search_dismax": (
            lambda q: search_dismax(spark, ix, q, {"content": 1.0}, k=5), full,
        ),
        "search_phrase": (lambda q: search_phrase(spark, ix, q, k=5), full),
        "search_after": (
            lambda q: search_after(spark, ix, q, k=5, with_stored=True), full,
        ),
        "search_boolean": (
            lambda q: search_boolean(spark, ix, q, k=5, with_stored=True),
            full,
        ),
    }
    for name, (call, schema) in calls.items():
        for q, hits, jobs in (("parse buffer", 5, 4), ("zzqx", 0, 0)):
            df = call(q)
            assert df.schema == schema, (name, q)
            assert len(df.collect()) == hits, (name, q)
            got = _spark_jobs(spark, lambda: call(q).collect())
            assert got == jobs, (name, q, got)
