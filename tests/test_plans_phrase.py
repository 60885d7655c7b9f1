"""Physical-plan guards for the round-5c surface (phrase / grouping / mm):
the properties that make these operators scale must stay visible in the
executed plan, exactly like tests/test_plans.py does for the core paths."""

import pytest
from pyspark.sql import functions as F

from cascading_solr_spark.corpus import synth_corpus
from cascading_solr_spark.indexing.build import build_index
from cascading_solr_spark.query.search import (
    phrase_match_ids,
    search,
    search_grouped,
    search_many,
    search_phrase,
)
from cascading_solr_spark.spec import IndexSpec


@pytest.fixture(scope="module")
def index(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("planix5c") / "ix")
    corpus = synth_corpus(spark, 120, partitions=4)
    return build_index(
        spark, corpus,
        IndexSpec(num_shards=2, positions=True, keyword_fields=("lang",)),
        out,
    )


def _plan(df) -> str:
    # ReadSchema/metadata strings truncate at 100 chars by default, which
    # silently hides trailing columns (pos, boffs_pos) from the assertions.
    spark = df.sparkSession
    old = spark.conf.get("spark.sql.maxMetadataStringLength", "100")
    spark.conf.set("spark.sql.maxMetadataStringLength", "10000")
    try:
        return df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", old)


def _scan_columns(plan: str) -> list[set]:
    """Per-parquet-scan sets of column NAMES actually read, parsed from the
    FileScan output list (`[term#12, pos#13, ...]`).  Exact names, so `pos`
    never false-matches the `postings` directory in the Location metadata."""
    out = []
    for ln in plan.splitlines():
        if "FileScan" not in ln:
            continue
        cols = ln.split("FileScan", 1)[1].split("[", 1)[1].split("]", 1)[0]
        out.append({c.split("#")[0].strip() for c in cols.split(",") if c})
    return out


@pytest.mark.usefixtures("distributed_tier")
def test_phrase_scan_prunes_block_stats(spark, index):
    """The ranked phrase scan reads positions but never the block pruning
    stats or sum_tf (they are MaxScore machinery, not phrase machinery)."""
    plan = _plan(search_phrase(spark, index, "read json", k=5,
                               with_stored=False))
    scans = _scan_columns(plan)
    assert scans
    assert any("pos" in s for s in scans)
    for s in scans:
        assert "block_max_tf" not in s and "sum_tf" not in s
    assert "CartesianProduct" not in plan


def test_phrase_match_only_scan_prunes_dls(spark, index):
    """The match-only phrase path (facets/sort composition) additionally
    never reads the dl binaries."""
    plan = _plan(phrase_match_ids(spark, index, "read json"))
    scans = _scan_columns(plan)
    assert scans
    for s in scans:
        assert "dls" not in s and "block_max_tf" not in s


@pytest.mark.usefixtures("distributed_tier")
def test_ranked_search_never_reads_positions(spark, index):
    """Ranked/mm queries on a positional index keep the pos payload in the
    parquet footer."""
    for df in (
        search(spark, index, "parse buffer", k=5, with_stored=False),
        search(spark, index, "parse buffer retry", k=5, with_stored=False,
               min_match=2),
    ):
        for s in _scan_columns(_plan(df)):
            assert "pos" not in s and "boffs_pos" not in s


@pytest.mark.usefixtures("distributed_tier")
def test_batch_scan_reads_positions_only_with_phrase(spark, index):
    """The batch scan includes the positional payload ONLY when the batch
    contains a quoted entry."""
    no_phrase = search_many(
        spark, index, {"a": "parse buffer", "b": "retry"}, k=5
    )
    for s in _scan_columns(_plan(no_phrase)):
        assert "pos" not in s
    with_phrase = search_many(
        spark, index, {"a": "parse buffer", "p": '"read json"'}, k=5
    )
    assert any("pos" in s for s in _scan_columns(_plan(with_phrase)))


def test_grouped_plan_shape(spark, index):
    """Grouping is one group-key window over a shuffle-hash doc join — no
    cartesian product, no broadcast of the (unbounded) match set into the
    docs table, no full docs-table sort."""
    plan = _plan(
        search_grouped(spark, index, "parse buffer", "lang", group_limit=2,
                       k_groups=3)
    )
    assert "CartesianProduct" not in plan
    assert plan.count("Window") >= 1
    # docs side is pruned to (doc_id, lang) at the scan
    docs_scans = [s for s in _scan_columns(plan) if "lang" in s]
    assert docs_scans and all("content" not in s for s in docs_scans)
