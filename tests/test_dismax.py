"""Multi-field (e)DisMax search over spec.text_fields.

The reference's /browse handler queries with per-field boosts
(solrconfig.xml:872-877 ``qf="text^0.5 features^1.0 name^1.2 ..."``,
``tie=0.01`` solrconfig.xml:886); fields beyond the default content field
are extra analyzed text fields with their OWN length normalization (the
Lucene per-field norms analogue).  These tests pin:

* spec validation: text_fields must be string-typed and disjoint from
  keyword_fields/content_field (shared ``field:`` term namespace);
* build + append both record exact per-field corpus token totals
  (meta.field_tokens — the per-field avgdl numerator);
* search_dismax == an independent brute-force DisMax/BM25 scorer for
  OR / AND / tie / filters / field-subset requests;
* qf={content: 1.0} degenerates to plain single-field BM25 (search);
* build-then-append equals one-shot build under dismax ranking.
"""

import math
from collections import Counter

import pytest
from pyspark.sql import functions as F

from cascading_solr_spark.analyzer import tokenize
from cascading_solr_spark.corpus import synth_corpus
from cascading_solr_spark.indexing.append import append_documents
from cascading_solr_spark.indexing.build import build_index
from cascading_solr_spark.query.search import search, search_dismax
from cascading_solr_spark.spec import IndexSpec, IndexSpecError, validate_schema

DM_SPEC = IndexSpec(
    num_shards=2,
    salt_buckets=2,
    block_size=16,
    keyword_fields=("lang",),
    text_fields=("path",),
    stored_fields=("repo", "path", "lang"),
    doc_id_field="doc_id",
    key_fields=(),
    # positional, like the driver's index: text-field postings carry empty
    # pos blobs and the dismax scan must never read the pos payload
    positions=True,
)

QF = {"content": 1.0, "path": 2.0}


def _corpus(spark, n=300):
    """Deterministic corpus with an explicit dense doc_id (row_number over
    the unique (repo, path, commit) key) so the brute-force twin can key
    scores by the same ids."""
    from pyspark.sql import Window

    w = Window.orderBy("repo", "path", "commit")
    return synth_corpus(spark, n, partitions=4).withColumn(
        "doc_id", (F.row_number().over(w) - 1).cast("long")
    )


@pytest.fixture(scope="module")
def dm_index(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("dmix") / "ix")
    return build_index(spark, _corpus(spark), DM_SPEC, out)


@pytest.fixture(scope="module")
def dm_pdf(spark):
    return (
        _corpus(spark)
        .select("doc_id", "content", "path", "lang")
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )


def _brute(pdf, query_terms, qf, tie=0.0, op="OR", filters=None,
           k1=1.2, b=0.75):
    """Independent DisMax scorer: per clause max over per-field BM25 + tie
    times the rest, summed across clauses; per-field tf/dl/df/avgdl, global
    N in idf and avgdl denominators (the engine's documented rule)."""
    n = len(pdf)
    tok = {f: [tokenize(v) for v in pdf[f]] for f in qf}
    avgdl = {f: sum(len(t) for t in tok[f]) / n for f in qf}
    df = {f: Counter() for f in qf}
    for f in qf:
        for toks in tok[f]:
            for t in set(toks):
                df[f][t] += 1
    clauses = list(dict.fromkeys(query_terms))
    out = {}
    for i in range(n):
        if filters and any(pdf[fld][i] != v for fld, v in filters.items()):
            continue
        total, matched = 0.0, 0
        for t in clauses:
            contribs = []
            for f, boost in qf.items():
                tf = tok[f][i].count(t)
                if not tf:
                    continue
                dl = len(tok[f][i])
                idf = math.log(1.0 + (n - df[f][t] + 0.5) / (df[f][t] + 0.5))
                norm = tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl[f]))
                contribs.append(boost * idf * norm)
            if contribs:
                matched += 1
                mx = max(contribs)
                total += mx + tie * (sum(contribs) - mx)
        if not matched or (op == "AND" and matched < len(clauses)):
            continue
        out[i] = total
    return sorted(out.items(), key=lambda kv: (-kv[1], kv[0]))


def _assert_topk_equal(got_rows, expected, k):
    got = [(int(r["doc_id"]), float(r["score"])) for r in got_rows]
    exp = expected[:k]
    assert [g[0] for g in got] == [e[0] for e in exp]
    for g, e in zip(got, exp):
        assert g[1] == pytest.approx(e[1], rel=1e-12, abs=1e-12)


# ------------------------------------------------------------------- spec


def test_spec_rejects_text_field_overlap():
    with pytest.raises(IndexSpecError, match="disjoint"):
        IndexSpec(keyword_fields=("path",), text_fields=("path",))
    with pytest.raises(IndexSpecError, match="disjoint"):
        IndexSpec(text_fields=("content",))


def test_schema_validation_requires_string_text_field(spark):
    df = spark.createDataFrame(
        [(1, "a b", 3)], "doc_id long, content string, path int"
    )
    spec = IndexSpec(doc_id_field="doc_id", key_fields=(),
                     text_fields=("path",))
    with pytest.raises(IndexSpecError, match="must be string"):
        validate_schema(df.schema, spec)


# ------------------------------------------------- per-field corpus stats


def test_build_records_exact_field_tokens(spark, dm_index, dm_pdf):
    expected = sum(len(tokenize(v)) for v in dm_pdf["path"])
    assert dm_index.field_tokens == {"path": expected}
    # content stats unchanged by the extra field
    assert dm_index.total_tokens == sum(
        len(tokenize(v)) for v in dm_pdf["content"]
    )


# ----------------------------------------------------------- ranked parity


def test_dismax_matches_bruteforce_or(spark, dm_index, dm_pdf):
    q = "index merge buffer"
    exp = _brute(dm_pdf, tokenize(q), QF)
    rows = search_dismax(
        spark, dm_index, q, QF, k=10, with_stored=False
    ).collect()
    _assert_topk_equal(rows, exp, 10)


def test_dismax_tie_breaker(spark, dm_index, dm_pdf):
    q = "index merge buffer"
    exp = _brute(dm_pdf, tokenize(q), QF, tie=0.3)
    rows = search_dismax(
        spark, dm_index, q, QF, tie=0.3, k=10, with_stored=False
    ).collect()
    _assert_topk_equal(rows, exp, 10)
    # tie > 0 must differ from pure-max wherever both fields match a clause
    pure = {int(r["doc_id"]): float(r["score"]) for r in search_dismax(
        spark, dm_index, q, QF, tie=0.0, k=None, with_stored=False
    ).collect()}
    tied = {i: s for i, s in _brute(dm_pdf, tokenize(q), QF, tie=0.3)}
    assert any(
        abs(tied[i] - pure[i]) > 1e-9 for i in tied if i in pure
    )


def test_dismax_and_with_filters(spark, dm_index, dm_pdf):
    q = "merge buffer"
    exp = _brute(dm_pdf, tokenize(q), QF, op="AND",
                 filters={"lang": "python"})
    rows = search_dismax(
        spark, dm_index, q, QF, op="AND", filters={"lang": "python"},
        k=10, with_stored=False,
    ).collect()
    assert exp, "fixture must produce AND+filter matches"
    _assert_topk_equal(rows, exp, 10)


def test_dismax_extra_field_only(spark, dm_index, dm_pdf):
    qf = {"path": 1.5}
    exp = _brute(dm_pdf, tokenize("parse stream"), qf)
    rows = search_dismax(
        spark, dm_index, "parse stream", qf, k=10, with_stored=False
    ).collect()
    assert exp, "fixture paths must contain the query tokens"
    _assert_topk_equal(rows, exp, 10)


def test_dismax_single_content_field_is_plain_bm25(spark, dm_index):
    got = search_dismax(
        spark, dm_index, "index merge buffer", {"content": 1.0},
        k=10, with_stored=False,
    ).collect()
    ref = search(
        spark, dm_index, "index merge buffer", k=10, mode="taat",
        with_stored=False,
    ).collect()
    assert [int(r["doc_id"]) for r in got] == [int(r["doc_id"]) for r in ref]
    for g, r in zip(got, ref):
        assert float(g["score"]) == pytest.approx(float(r["score"]),
                                                  rel=1e-12)


def test_dismax_rejects_unknown_qf_field(spark, dm_index):
    with pytest.raises(ValueError, match="qf field"):
        search_dismax(spark, dm_index, "index", {"lang": 1.0})


def test_dismax_zero_hit_and_stored(spark, dm_index):
    assert search_dismax(
        spark, dm_index, "zzqxvnope", QF, k=10, with_stored=False
    ).count() == 0
    row = search_dismax(
        spark, dm_index, "merge buffer", QF, k=1, with_stored=True
    ).collect()
    assert row and row[0]["path"] is not None


# -------------------------------------------------------------------- plan


@pytest.mark.usefixtures("distributed_tier")
def test_dismax_plan_is_term_pruned_and_posless(spark, dm_index):
    """The multi-field scan stays an explicit IN-list over (field, token)
    candidates pushed to parquet, and never reads the positional payload."""
    explained = (
        search_dismax(
            spark, dm_index, "index merge", QF, k=10, with_stored=False
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [In(term" in explained
    read = explained.split("ReadSchema")[-1].split("\n")[0]
    assert "pos" not in read, read
    assert "path:index" in explained  # namespaced candidates in the IN-list


# ------------------------------------------------------------------ append


def test_append_matches_oneshot_build_under_dismax(spark, tmp_path):
    full = _corpus(spark, 200).cache()
    head = full.filter(F.xxhash64("path") % 2 == 0)
    tail = full.filter(F.xxhash64("path") % 2 != 0)
    one = build_index(spark, full, DM_SPEC, str(tmp_path / "one"))
    base_dir = str(tmp_path / "inc")
    build_index(spark, head, DM_SPEC, base_dir)
    inc = append_documents(spark, base_dir, tail)
    assert inc.n_docs == one.n_docs
    assert inc.field_tokens == one.field_tokens
    a = search_dismax(
        spark, one, "index merge stream", QF, tie=0.1, k=None,
        with_stored=True,
    ).select("path", F.round("score", 6).alias("s")).collect()
    b = search_dismax(
        spark, inc, "index merge stream", QF, tie=0.1, k=None,
        with_stored=True,
    ).select("path", F.round("score", 6).alias("s")).collect()
    assert sorted((r["path"], r["s"]) for r in a) == sorted(
        (r["path"], r["s"]) for r in b
    )
    full.unpersist()


# ----------------------------------------------------------------- mlt.qf


def test_mlt_qf_matches_bruteforce_dismax(spark, dm_index, dm_pdf):
    """mlt.qf (solrconfig.xml:883-885): interesting-term selection from the
    content field's global stats, ranking through the DisMax kernel with
    per-field boosts — pinned against an independent scorer end-to-end."""
    import math
    from collections import Counter

    from cascading_solr_spark.query.search import more_like_this

    text = str(dm_pdf["content"][7])
    # independent interesting-term selection (tf·idf over content field)
    counts = Counter(tokenize(text))
    n = len(dm_pdf)
    content_tok = [tokenize(v) for v in dm_pdf["content"]]
    dfc = Counter(t for toks in content_tok for t in set(toks))
    ranked = sorted(
        (-c * math.log(1.0 + (n - dfc[t] + 0.5) / (dfc[t] + 0.5)), t)
        for t, c in counts.items()
        if dfc[t] > 0
    )
    terms = [t for _, t in ranked[:10]]
    expected = _brute(dm_pdf, terms, QF, tie=0.1)
    got = more_like_this(spark, dm_index, text, k=5, qf=QF, tie=0.1).collect()
    _assert_topk_equal(got, expected, 5)
    # exclude_doc_id drops the (self-matching) top hit, keeps k rows
    top_id = got[0]["doc_id"]
    excl = more_like_this(
        spark, dm_index, text, k=5, qf=QF, tie=0.1, exclude_doc_id=top_id
    ).collect()
    assert len(excl) == 5 and all(r["doc_id"] != top_id for r in excl)
    exp_excl = [e for e in expected if e[0] != top_id]
    _assert_topk_equal(excl, exp_excl, 5)
