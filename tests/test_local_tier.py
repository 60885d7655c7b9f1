"""The driver-local tier of the shard executor (query/search.py
``_run_shards``) and of the stored fetch (``_fetch_stored``): a bounded
ranked request, its unscored pages, a facet count (``_match_set``), a
``search_many`` batch, a score explanation and an elevated ranking whose
candidate row groups are under ``Index.LOCAL_SCAN_MAX_BYTES`` run the same
per-shard kernel in-process over a pyarrow read and return a
``local_frame``.

Every case compares the local tier with the distributed tier (the cap
forced to 0) with ``==`` on rows and schema, nullability included, on a
positional index and on a copy with deletes and an appended segment
(conftest ``tier_indexes``)."""

import tracemalloc

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from conftest import TIER_SPEC
from cascading_solr_spark.codec import encode_doc_ids
from cascading_solr_spark.corpus import synth_corpus
from cascading_solr_spark.indexing import append_documents, build_index
from cascading_solr_spark.indexing.build import Index, _may_hold
from cascading_solr_spark.query.boolean import search_boolean
from cascading_solr_spark.query.search import (
    explain_score,
    facet_counts,
    facet_fields_counts,
    search,
    search_after,
    search_dismax,
    search_elevated,
    search_many,
    search_phrase,
)
from test_round5 import _spark_jobs

QF = {"content": 1.0, "path": 2.0}
#: match-all, pure-negative and pure filter shapes
UNSCORED = ["*:*", "*:* -column", "-column", "lang:go", "lang:go -column"]
#: a stored-field post-filter that drops some of every result
DOC_FILTER = "length(path) >= 30"


def _run(call):
    df = call()
    return df.collect(), df.schema


def _tiers(call):
    """(local, distributed) rows and schema of ``call``."""
    local = _run(call)
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(Index, "LOCAL_SCAN_MAX_BYTES", 0)
        dist = _run(call)
    return local, dist


def _cases(spark, ix):
    return {
        "or": lambda: search(spark, ix, "parse buffer retry", k=10),
        "and": lambda: search(spark, ix, "parse buffer", k=7, op="AND"),
        "mm": lambda: search(
            spark, ix, "parse buffer retry json", k=10, min_match="75%"
        ),
        "boosts": lambda: search(spark, ix, "parse^3 buffer retry^0.5", k=10),
        "filters": lambda: search(
            spark, ix, "parse buffer", k=10, filters={"lang": "python"}
        ),
        "qstring_filter": lambda: search(spark, ix, "lang:go retry", k=10),
        "range": lambda: search(
            spark, ix, "retry lang:[go TO python]", k=10
        ),
        "excluded": lambda: search(spark, ix, "retry json -column", k=10),
        "wildcard": lambda: search(spark, ix, "buf* retry", k=10),
        "start": lambda: search(spark, ix, "parse buffer retry", k=5, start=4),
        "fl": lambda: search(spark, ix, "parse retry", k=6, fl=["lang"]),
        "fl_score": lambda: search(
            spark, ix, "parse retry", k=6, fl=["path", "score"]
        ),
        "no_stored": lambda: search(
            spark, ix, "parse buffer retry", k=8, with_stored=False
        ),
        "taat": lambda: search(spark, ix, "parse json", k=8, mode="taat"),
        "zero": lambda: search(spark, ix, "zzqx", k=10),
        "zero_no_stored": lambda: search(
            spark, ix, "zzqx", k=10, with_stored=False
        ),
        "dismax": lambda: search_dismax(spark, ix, "parse json", QF, k=10),
        "dismax_tie_mm": lambda: search_dismax(
            spark, ix, "parse json retry", QF, tie=0.1, k=10, min_match=2,
        ),
        "dismax_and_start": lambda: search_dismax(
            spark, ix, "parse json", QF, k=5, op="AND", start=3,
            filters={"lang": "java"},
        ),
        "dismax_excluded": lambda: search_dismax(
            spark, ix, "parse -column", QF, k=10, with_stored=False
        ),
        "phrase": lambda: search_phrase(spark, ix, "parse buffer", k=10),
        "phrase_slop": lambda: search_phrase(
            spark, ix, "parse retry", k=10, slop=2, start=2
        ),
        "phrase_filter": lambda: search_phrase(
            spark, ix, "parse buffer", k=10, filters={"lang": "go"},
            with_stored=False,
        ),
        "quoted": lambda: search(spark, ix, '"buffer retry"', k=10),
        "boolean": lambda: search_boolean(
            spark, ix, "(parse AND buffer) OR retry", k=10, with_stored=True
        ),
        "boolean_not": lambda: search_boolean(
            spark, ix, "retry AND NOT json", k=10
        ),
        "after": lambda: search_after(
            spark, ix, "parse buffer retry", k=5, with_stored=True
        ),
        # the request shell's unscored legs and post-filter
        **{
            f"{name}_{q}": call
            for q in UNSCORED
            for name, call in (
                ("search", lambda q=q: search(spark, ix, q, k=6, start=2)),
                ("dismax", lambda q=q: search_dismax(
                    spark, ix, q, QF, k=6, start=2, with_stored=False
                )),
                ("after", lambda q=q: search_after(
                    spark, ix, q, cursor=(1.0, 30), k=6, with_stored=True
                )),
            )
        },
        "doc_filter": lambda: search(
            spark, ix, "parse buffer retry", k=6, doc_filter=DOC_FILTER
        ),
        "doc_filter_unscored": lambda: search(
            spark, ix, "lang:go -column", k=6, start=1, doc_filter=DOC_FILTER
        ),
        "dismax_doc_filter": lambda: search_dismax(
            spark, ix, "parse json", QF, k=6, start=2, doc_filter=DOC_FILTER
        ),
    }


@pytest.mark.parametrize("which", ["plain", "mut"])
def test_local_tier_equals_distributed(spark, tier_indexes, which):
    ix = Index.load(tier_indexes[which])
    hits = 0
    for name, call in _cases(spark, ix).items():
        local, dist = _tiers(call)
        assert local == dist, (which, name)
        hits += bool(local[0])
    assert hits >= 40, hits  # the comparisons are mostly non-empty


@pytest.mark.parametrize("which", ["plain", "mut"])
def test_search_after_chain_equals_distributed(spark, tier_indexes, which):
    ix = Index.load(tier_indexes[which])
    for q, filters in (
        ("parse buffer retry", None),
        ("json retry", {"lang": "python"}),
    ):
        def chain():
            pages, cursor = [], None
            for _ in range(3):
                rows = search_after(
                    spark, ix, q, cursor=cursor, k=4, filters=filters
                ).collect()
                pages.append(rows)
                if not rows:
                    break
                cursor = (rows[-1]["score"], rows[-1]["doc_id"])
            return pages

        local = chain()
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(Index, "LOCAL_SCAN_MAX_BYTES", 0)
            dist = chain()
        assert local == dist, (which, q)
        flat = [r for page in local for r in page]
        assert len(flat) == 12, (which, q)
        ranked = search(
            spark, ix, q, k=12, filters=filters, with_stored=False,
            mode="taat",
        ).collect()
        assert flat == ranked, (which, q)


#: one batch entry of each request shape
BATCH = {
    "or": "parse buffer retry",
    "and": {"q": "parse buffer", "op": "AND"},
    "wildcard": "buf* retry",
    "boost": "parse^3 buffer retry^0.5",
    "filter": {"q": "parse json", "filters": {"lang": "python"}},
    "pure_filter": "lang:go -column",
    "zero": "zzqx",
    "phrase": '"buffer retry"',
    "phrase_filter": {"q": '"parse buffer"', "filters": {"lang": "go"}},
    "phrase_zero": '"zzqx retry"',
}


def _batch_cases(spark, ix):
    """search_many, explain_score and search_elevated — the shard
    executor's bounded callers beside the ranked entry points."""
    # 14 is deleted in the "mut" index: a deleted pin is dropped
    pins = {"parse buffer": [5, 14, 17, (1, True)], "retry": [(2, True)]}
    top = [
        r["doc_id"] for q in ("parse buffer retry", "buf* retry^2")
        for r in search(spark, ix, q, k=1, with_stored=False).collect()
    ]
    return {
        "many": lambda: search_many(spark, ix, BATCH, k=6),
        "many_one": lambda: search_many(spark, ix, {"a": "retry"}, k=3),
        "explain": lambda: explain_score(
            spark, ix, "parse buffer retry", top[0]
        ),
        "explain_wildcard": lambda: explain_score(
            spark, ix, "buf* retry^2", top[1]
        ),
        "elevated": lambda: search_elevated(
            spark, ix, "parse buffer", pins, k=6
        ),
        "elevated_exclude_only": lambda: search_elevated(
            spark, ix, "retry", pins, k=5
        ),
        "elevated_none": lambda: search_elevated(spark, ix, "json", pins, k=4),
    }


def _rank_order(rows):
    """search_many's rows in (query_id, rank) order: the batch's order
    across queries is not part of its contract on the distributed tier."""
    return sorted(rows, key=lambda r: (r[0], -r[2], r[1]))


@pytest.mark.parametrize("which", ["plain", "mut"])
def test_batch_explain_elevated_equal_distributed(spark, tier_indexes, which):
    ix = Index.load(tier_indexes[which])
    for name, call in _batch_cases(spark, ix).items():
        local, dist = _tiers(call)
        if name.startswith("many"):
            local = (_rank_order(local[0]), local[1])
            dist = (_rank_order(dist[0]), dist[1])
        assert local == dist, (which, name)
        assert local[0], (which, name)
    many = _run(_batch_cases(spark, ix)["many"])[0]
    got = {r["query_id"] for r in many}
    assert got == set(BATCH) - {"zero", "phrase_zero"}, got
    for qid, q in BATCH.items():  # each entry is its single-query twin
        req = {"q": q} if isinstance(q, str) else q
        single = search(
            spark, ix, req["q"], k=6, with_stored=False,
            filters=req.get("filters"), op=req.get("op", "OR"),
        ).collect()
        assert [(r["doc_id"], r["score"]) for r in _rank_order(many)
                if r["query_id"] == qid] == [tuple(r) for r in single], qid


def _assert_batch_run_no_job(spark, ix, pinned):
    cases = _batch_cases(spark, ix)
    for name, call in cases.items():
        call().collect()  # warm the handle's dict and footer caches
        got = _spark_jobs(spark, lambda: call().collect())
        assert got == 0, (name, got)
    got = [r["doc_id"] for r in cases["elevated"]().collect() if r["elevated"]]
    assert got == pinned


def test_warm_batch_explain_elevated_run_no_job(spark, tier_indexes):
    _assert_batch_run_no_job(
        spark, Index.load(tier_indexes["plain"]), [5, 14, 17])


def test_warm_batch_explain_elevated_with_deletes_run_no_job(
        spark, tier_indexes):
    # the pinned ids' tombstone probe is a bounded call of the shard executor
    _assert_batch_run_no_job(
        spark, Index.load(tier_indexes["mut"]), [5, 17])


def test_warm_tiered_requests_run_no_job(spark, tier_indexes):
    ix = Index.load(tier_indexes["mut"])
    cases = _cases(spark, ix)
    unscored = [
        f"{name}_{q}" for q in UNSCORED for name in ("search", "dismax", "after")
    ]
    for name in ["or", "and", "mm", "dismax", "phrase", "boolean", "after",
                 "start", "fl", *unscored]:
        cases[name]().collect()  # warm the handle's dict and footer caches
        got = _spark_jobs(spark, lambda: cases[name]().collect())
        assert got == 0, (name, got)


def _count_frames(monkeypatch, search_module) -> list:
    """Patch ``search.local_frame`` to record each frame it builds."""
    built: list = []
    real = search_module.local_frame

    def counting(*args, **kwargs):
        built.append(1)
        return real(*args, **kwargs)

    monkeypatch.setattr(search_module, "local_frame", counting)
    return built


def test_warm_stored_request_builds_one_frame(
    spark, tier_indexes, monkeypatch, search_module
):
    # a tiered request's only driver-side frame is the one it returns: the
    # ranked rows and the stored rows stay Python lists until the fetch
    ix = Index.load(tier_indexes["mut"])
    calls = {
        "search": lambda: search(spark, ix, "parse buffer retry", k=10),
        "search_no_stored": lambda: search(
            spark, ix, "parse buffer retry", k=10, with_stored=False
        ),
        "dismax": lambda: search_dismax(spark, ix, "parse json", QF, k=10),
        "phrase": lambda: search_phrase(spark, ix, "parse buffer", k=10),
        "boolean": lambda: search_boolean(
            spark, ix, "(parse AND buffer) OR retry", k=10, with_stored=True
        ),
        "after": lambda: search_after(
            spark, ix, "parse buffer retry", k=5, with_stored=True
        ),
        "zero": lambda: search(spark, ix, "zzqx", k=10),
        "boolean_zero": lambda: search_boolean(
            spark, ix, "zzqx OR qqqz", k=10, with_stored=True
        ),
    }
    built = _count_frames(monkeypatch, search_module)
    for name, call in calls.items():
        rows = call().collect()  # warm the handle's caches
        assert rows or "zero" in name, name
        built.clear()
        got = _spark_jobs(spark, lambda: call().collect())
        assert (got, len(built)) == (0, 1), (name, got, len(built))


def _facet_cases(spark, ix):
    def fc(q, **kw):
        return lambda: facet_counts(spark, ix, q, "lang", **kw)

    def ffc(q, fields, **kw):
        return lambda: facet_fields_counts(spark, ix, q, fields, **kw)

    return {
        "or": fc("parse buffer retry"),
        "and": fc("parse buffer", op="AND"),
        # facet_counts takes no mm: the kernel's matched-clause floor comes
        # from AND, +term and AND over a wildcard clause
        "plus": fc("+parse +buffer json"),
        "and_wildcard": fc("parse AND buf*"),
        "filters": fc("parse buffer", filters={"lang": "python"}),
        "qstring_filter": fc("lang:go retry"),
        "range": fc("retry lang:[go TO python]"),
        "excluded": fc("retry json -column"),
        "wildcard": fc("buf* retry"),
        "pure_filter": fc("lang:go -column"),
        "zero": fc("zzqx"),
        "zero_missing": fc("zzqx", missing=True),
        "prefix": fc("parse buffer", prefix="j"),
        "prefix_none": fc("parse buffer", prefix="zz"),
        "mincount": fc("parse buffer retry", mincount=40),
        "missing": fc("parse buffer", missing=True),
        "missing_prefix": fc("parse", prefix="p", missing=True, mincount=3),
        "index": fc("parse buffer retry", sort="index"),
        "limit": fc("parse buffer retry", limit=2),
        "limit_index_missing": fc(
            "parse buffer", sort="index", limit=3, missing=True
        ),
        "match_all": fc("*:*"),
        "match_all_missing": fc("*:*", limit=2, missing=True),
        "pure_negative": fc("-column", prefix="j"),
        "fields": ffc("parse buffer retry", ["lang"], mincount=1),
        "fields_offset": ffc("parse buffer retry", ["lang"], limit=2, offset=1),
        "fields_offset_only": ffc("parse buffer", ["lang"], offset=2),
        "fields_two": ffc("parse buffer", ["lang", "repo"], limit=3),
        "fields_two_index": ffc(
            "retry -column", ["repo", "lang"], sort="index", offset=1, limit=4
        ),
        "fields_repeated": ffc("*:*", ["repo", "lang", "repo"], limit=3),
        "fields_zero": ffc("zzqx", ["lang", "repo"]),
        # a phrase is a match kernel shape like the others
        "phrase": fc('"buffer retry"'),
        "fields_phrase": ffc('"buffer retry"', ["lang", "repo"], limit=2),
    }


#: facet cases the driver-local tier serves without a Spark job: every match
LOCAL_FACETS = tuple(_facet_cases(None, None))


@pytest.mark.parametrize("which", ["plain", "mut"])
def test_local_facets_equal_distributed(spark, tier_indexes, which):
    ix = Index.load(tier_indexes[which])
    hits = 0
    for name, call in _facet_cases(spark, ix).items():
        local, dist = _tiers(call)
        assert local == dist, (which, name)
        hits += bool(local[0])
    assert hits >= 28, hits


@pytest.mark.parametrize("which", ["plain", "mut"])
def test_facet_fields_input_contract(spark, tier_indexes, which):
    # a field named twice is counted once on both tiers; no field at all
    # is an error naming the call, not an IndexError
    ix = Index.load(tier_indexes[which])
    for q in ("parse buffer", "*:*", '"buffer retry"'):
        once, dist = _tiers(
            lambda: facet_fields_counts(spark, ix, q, ["lang", "repo"])
        )
        assert once == dist and once[0], (which, q)
        twice = _tiers(lambda: facet_fields_counts(
            spark, ix, q, ["lang", "repo", "lang", "repo"]
        ))
        assert twice == (once, dist), (which, q)
        assert [r["n"] for r in once[0] if r["field"] == "lang"] == [
            r["n"] for r in facet_counts(spark, ix, q, "lang").collect()
        ], (which, q)
    for fields in ([], ()):
        with pytest.raises(ValueError, match="at least one facet field"):
            facet_fields_counts(spark, ix, "parse", fields)


def test_warm_local_facet_runs_no_job_and_builds_one_frame(
    spark, tier_indexes, monkeypatch, search_module
):
    ix = Index.load(tier_indexes["mut"])
    cases = _facet_cases(spark, ix)
    built = _count_frames(monkeypatch, search_module)
    for name in LOCAL_FACETS:
        cases[name]().collect()  # warm the handle's dict and footer caches
        built.clear()
        got = _spark_jobs(spark, lambda: cases[name]().collect())
        assert (got, len(built)) == (0, 1), (name, got, len(built))


@pytest.mark.parametrize("q", ["parse buffer", "*:*"])
def test_facet_limit_and_sort_arguments(spark, tier_indexes, q):
    # a kernel match and the match-all fall-back, each on both tiers: a
    # negative limit is no limit, an unknown sort names the argument
    ix = Index.load(tier_indexes["mut"])
    for kw in ({}, {"sort": "index"}, {"mincount": 2, "missing": True}):
        full, dist = _tiers(lambda: facet_counts(spark, ix, q, "lang", **kw))
        assert full[0], (q, kw)
        assert _tiers(
            lambda: facet_counts(spark, ix, q, "lang", limit=-1, **kw)
        ) == (full, dist), (q, kw)
    for offset in (0, 1):
        want = facet_fields_counts(spark, ix, q, ["lang"], offset=offset)
        got = facet_fields_counts(
            spark, ix, q, ["lang"], limit=-1, offset=offset
        )
        assert got.collect() == want.collect() != [], (q, offset)
    for call in (facet_counts, facet_fields_counts):
        field = "lang" if call is facet_counts else ["lang"]
        with pytest.raises(ValueError, match="sort='lex'"):
            call(spark, ix, q, field, sort="lex")


def test_local_facet_counts_dense_rows_without_pairs(
    tier_indexes, monkeypatch, search_module
):
    # a dense facet value: 16 posting rows (4 shards x 4 segments) of 12.5k
    # ids each, half of them matched.  The shared local facet kernel looks
    # each row's ids up in the match set and keeps no per-posting (value,
    # doc_id) pair — a str or fixed-width value per posting alone is over
    # the bound
    ix = Index.load(tier_indexes["plain"])
    bs = ix.spec.block_size
    n = 200_000
    rows = {
        s: pa.table({
            "term": ["lang:x"] * 4,
            "n_docs": [len(part) for part in parts],
            "doc_ids": [encode_doc_ids(part, bs) for part in parts],
        })
        for s in range(4)
        for parts in [np.array_split(np.arange(s, n, 4, dtype=np.int64), 4)]
    }
    matched = np.arange(0, n, 2, dtype=np.int64)
    monkeypatch.setattr(ix, "read_local", lambda *a, **kw: rows)
    tracemalloc.start()
    try:
        got = search_module._facet_local(
            ix, matched, ["lang"], None, 0, "count", 0, None, True
        )
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert got == [("lang", "x", n // 2), ("lang", None, 0)], got
    assert peak < 16 * n, peak


def _post_filtered(spark, ix, q, k, start=0):
    """The dismax k=None ranking filtered by DOC_FILTER, rows [start, k)."""
    ok = {
        r["doc_id"]
        for r in ix.docs(spark).filter(DOC_FILTER).select("doc_id").collect()
    }
    full = search_dismax(spark, ix, q, QF, k=None, with_stored=False)
    rows = [r for r in full.collect() if r["doc_id"] in ok]
    return rows[start:] if k is None else rows[start:start + k]


@pytest.mark.parametrize("which", ["plain", "mut"])
def test_dismax_doc_filter_is_the_shared_post_filter(
    spark, tier_indexes, which
):
    ix = Index.load(tier_indexes[which])
    q = "parse json retry"
    unfiltered = search_dismax(spark, ix, q, QF, k=None, with_stored=False)
    assert 0 < len(_post_filtered(spark, ix, q, None)) < unfiltered.count()
    for k, start in ((8, 0), (5, 4), (None, 0)):
        want = _post_filtered(spark, ix, q, k, start)
        assert want, (which, k, start)
        ranked, dist = _tiers(lambda: search_dismax(
            spark, ix, q, QF, k=k, start=start, doc_filter=DOC_FILTER,
            with_stored=False,
        ))
        assert ranked == dist, (which, k, start)
        assert ranked[0] == want, (which, k, start)
        stored, dist = _tiers(lambda: search_dismax(
            spark, ix, q, QF, k=k, start=start, doc_filter=DOC_FILTER,
        ))
        assert stored == dist, (which, k, start)
        assert [(r["doc_id"], r["score"]) for r in stored[0]] == [
            (r["doc_id"], r["score"]) for r in want
        ], (which, k, start)
        assert all(len(r["path"]) >= 30 for r in stored[0])


def test_fresh_handle_after_append_runs_no_job(spark, tmp_path):
    out = str(tmp_path / "ix")
    build_index(spark, synth_corpus(spark, 60, partitions=2), TIER_SPEC, out)
    batch = synth_corpus(spark, 20, partitions=2).withColumn(
        "repo", F.concat(F.lit("new/"), "repo")
    )
    ix = append_documents(spark, out, batch)
    got = _spark_jobs(
        spark, lambda: search(spark, ix, "parse buffer", k=5).collect()
    )
    assert got == 0, got
    # the recorded docs schema survived the append, and is what Spark infers
    fresh = Index.load(out)
    assert fresh.docs(spark).schema == spark.read.parquet(fresh.docs_path).schema


def test_over_the_cap_takes_the_distributed_tier(
    spark, tier_indexes, monkeypatch
):
    ix = Index.load(tier_indexes["mut"])
    assert ix.read_local("postings", ["parse"], ["term"]) is not None
    # the docs of the deleted index's fresh handle are pruned by shard dir
    got = ix.read_local("docs", [1, 2, 4], ["doc_id", "shard"], {1})
    assert {s: t.column("doc_id").to_pylist() for s, t in got.items()} == {
        1: [1, 4]
    }
    monkeypatch.setattr(Index, "LOCAL_SCAN_MAX_BYTES", 1)
    assert ix.read_local("postings", ["parse"], ["term"]) is None
    got = _spark_jobs(
        spark, lambda: search(spark, ix, "parse buffer", k=5).collect()
    )
    assert got > 0, got


def _row_group_bytes(ix, table, prefix=None, columns=None) -> int:
    """Uncompressed bytes of the row groups of ``table`` that may hold a key
    starting with ``prefix`` (every row group when None): whole, or of the
    top-level ``columns`` only — from the parquet footers."""
    total = 0
    for f in ix.footers(table):
        for g in range(f.meta.num_row_groups):
            if prefix is not None and not _may_hold(prefix, f.lo[g], f.hi[g]):
                continue
            rg = f.meta.row_group(g)
            total += sum(
                rg.column(i).total_uncompressed_size
                for i in range(rg.num_columns)
                if columns is None
                or rg.column(i).path_in_schema.split(".")[0] in columns
            )
    return total


def test_local_read_charges_only_the_projected_columns(
    spark, tier_indexes, monkeypatch
):
    # a cap between the bytes a read projects and its whole row groups:
    # the read is served, the columns it never reads are not charged
    ix = Index.load(tier_indexes["plain"])
    ids = _row_group_bytes(ix, "docs", columns={"doc_id"})
    whole_docs = _row_group_bytes(ix, "docs")
    assert ids * 4 < whole_docs
    monkeypatch.setattr(Index, "LOCAL_SCAN_MAX_BYTES", whole_docs)
    assert ix.read_local("docs", None, ["doc_id"]) is not None
    assert ix.read_local("docs", None, ["doc_id", "path"]) is not None
    # a match-all facet count: the docs' ids and the field's posting ids
    read = _row_group_bytes(ix, "postings", "lang:", {"term", "n_docs",
                                                      "doc_ids"})
    whole = _row_group_bytes(ix, "postings", "lang:")
    assert max(ids, read) * 2 < whole
    monkeypatch.setattr(Index, "LOCAL_SCAN_MAX_BYTES", (read + whole) // 2)

    def call():
        return facet_counts(spark, ix, "*:*", "lang").collect()

    assert call()
    assert _spark_jobs(spark, call) == 0


def test_prefix_row_group_test_never_drops_a_match():
    # a row group holding sorted keys words[i..j] is kept whenever one of
    # them carries the prefix, and pruned when its range lies outside
    words = sorted([
        "a", "lan", "lang", "lang:", "lang:go", "lang:java", "lang:jz",
        "lang;", "langz", "lanh", "path:src", "z",
    ])
    for prefix in ("lang:", "lang:j", "lang:zz", "lan", "a", "zz", ""):
        for i in range(len(words)):
            for j in range(i, len(words)):
                held = any(w.startswith(prefix) for w in words[i:j + 1])
                if held:
                    assert _may_hold(prefix, words[i], words[j]), (
                        prefix, words[i], words[j]
                    )
    assert not _may_hold("lang:", "a", "lang")
    assert not _may_hold("lang:", "lang;", "z")
    assert not _may_hold("lang:zz", "lang:go", "lang:jz")
