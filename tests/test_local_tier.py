"""The driver-local tier of bounded ranked requests (query/search.py
``_merge_topk`` and ``_fetch_stored``): a request whose candidate row
groups are under ``Index.LOCAL_SCAN_MAX_BYTES`` runs the same per-shard
kernel in-process over a pyarrow read and returns a ``local_frame``.

Every case compares the local tier with the distributed tier (the cap
forced to 0) with ``==`` on rows and schema, nullability included, on a
positional index and on a copy with deletes and an appended segment
(conftest ``tier_indexes``)."""

import pytest
from pyspark.sql import functions as F

from conftest import TIER_SPEC
from cascading_solr_spark.corpus import synth_corpus
from cascading_solr_spark.indexing import append_documents, build_index
from cascading_solr_spark.indexing.build import Index
from cascading_solr_spark.query.boolean import search_boolean
from cascading_solr_spark.query.search import (
    search,
    search_after,
    search_dismax,
    search_phrase,
)
from test_round5 import _spark_jobs

QF = {"content": 1.0, "path": 2.0}


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
    }


@pytest.mark.parametrize("which", ["plain", "mut"])
def test_local_tier_equals_distributed(spark, tier_indexes, which):
    ix = Index.load(tier_indexes[which])
    hits = 0
    for name, call in _cases(spark, ix).items():
        local, dist = _tiers(call)
        assert local == dist, (which, name)
        hits += bool(local[0])
    assert hits >= 20, hits  # the comparisons are mostly non-empty


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


def test_warm_tiered_requests_run_no_job(spark, tier_indexes):
    ix = Index.load(tier_indexes["mut"])
    cases = _cases(spark, ix)
    for name in ("or", "and", "mm", "dismax", "phrase", "boolean", "after",
                 "start", "fl"):
        cases[name]().collect()  # warm the handle's dict and footer caches
        got = _spark_jobs(spark, lambda: cases[name]().collect())
        assert got == 0, (name, got)


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
