"""The index handle (indexing/build.py ``Index``): a fresh handle opens
with no Spark job — its dict cache is folded on the driver from the parquet
footers and files, and its postings, dict and lineage frames read with their
known schemas instead of inferring them."""

import os

import pytest
from pyspark.sql import functions as F

from cascading_solr_spark.corpus import synth_corpus
from cascading_solr_spark.indexing import append_documents, build_index
from cascading_solr_spark.indexing.build import Index
from cascading_solr_spark.indexing.compact import compact_index
from cascading_solr_spark.indexing.replicate import snapshot_index
from cascading_solr_spark.query.search import search, term_dfs
from cascading_solr_spark.spec import IndexSpec
from test_round5 import _spark_jobs

TERMS = ["parse", "buffer", "import", "lang:go", "path:src", "zzqxv"]


@pytest.fixture(scope="module", params=[False, True], ids=["plain", "pos"])
def lifecycle(request, spark, tmp_path_factory):
    """Directories of one index after build, after an append (a second
    dict segment) and after compaction."""
    root = tmp_path_factory.mktemp("handle")
    out = str(root / "ix")
    spec = IndexSpec(
        num_shards=2, salt_buckets=2, block_size=16, positions=request.param,
        keyword_fields=("lang",), text_fields=("path",),
    )
    build_index(spark, synth_corpus(spark, 120, partitions=2), spec, out)
    snapshot_index(out, str(root / "build"))
    batch = synth_corpus(spark, 40, partitions=2).withColumn(
        "repo", F.concat(F.lit("new/"), "repo")
    )
    append_documents(spark, out, batch)
    snapshot_index(out, str(root / "append"))
    compact_index(spark, Index.load(out))
    return {
        "build": str(root / "build"), "append": str(root / "append"),
        "compact": out,
    }


def test_fresh_handle_reads_known_schemas(spark, lifecycle):
    # the declared read schemas are exactly what Spark would infer
    for stage, path in lifecycle.items():
        ix = Index.load(path)
        assert ix.postings(spark).schema == spark.read.parquet(
            ix.postings_path
        ).schema, stage
        assert ix.term_dict(spark).schema == (
            spark.read.parquet(ix.dict_path)
            .groupBy("term")
            .agg(F.sum("df").alias("df"))
            .schema
        ), stage


def test_fresh_handle_opens_docs_without_a_job(spark, lifecycle):
    # the docs schema recorded in meta at build survives append, compact
    # and a snapshot, and is exactly what Spark would infer
    for stage, path in lifecycle.items():
        ix = Index.load(path)
        got = []
        assert _spark_jobs(spark, lambda: got.append(ix.docs(spark))) == 0
        assert got[0].schema == spark.read.parquet(ix.docs_path).schema, stage


def test_fresh_handle_opens_lineage_without_a_job(spark, lifecycle):
    # build appends lineage rows, append adds a segment's, compact rewrites
    # them: the declared schema reads each as Spark would infer it
    for stage, path in lifecycle.items():
        ix = Index.load(path)
        got = []
        assert _spark_jobs(spark, lambda: got.append(ix.lineage(spark))) == 0
        inferred = spark.read.parquet(os.path.join(path, "lineage"))
        assert got[0].schema == inferred.schema, stage
        assert sorted(got[0].collect()) == sorted(inferred.collect()), stage


def test_dict_cache_runs_no_job_and_matches_the_fold(spark, lifecycle):
    for stage, path in lifecycle.items():
        ix = Index.load(path)
        caches: list = []
        jobs = _spark_jobs(spark, lambda: caches.append(ix.dict_cache(spark)))
        assert jobs == 0, stage
        folded = {r["term"]: r["df"] for r in ix.term_dict(spark).collect()}
        assert caches == [folded], stage


def test_dict_cache_cap_falls_back_to_distributed_dfs(
    spark, lifecycle, monkeypatch
):
    for stage, path in lifecycle.items():
        ix = Index.load(path)
        want = term_dfs(spark, ix, TERMS)
        n_raw = spark.read.parquet(ix.dict_path).count()
        monkeypatch.setattr(Index, "DICT_CACHE_MAX_ROWS", n_raw)
        assert Index.load(path).dict_cache(spark) is not None, stage
        monkeypatch.setattr(Index, "DICT_CACHE_MAX_ROWS", n_raw - 1)
        capped = Index.load(path)
        assert capped.dict_cache(spark) is None, stage
        assert term_dfs(spark, capped, TERMS) == want, stage
        monkeypatch.undo()


@pytest.mark.usefixtures("distributed_tier")
def test_first_query_on_a_fresh_handle(spark, lifecycle):
    # dict cache (0 jobs) + postings and docs (no schema inference) + the
    # ranked request's own jobs
    ix = Index.load(lifecycle["append"])
    got = _spark_jobs(
        spark, lambda: search(spark, ix, "parse buffer", k=5).collect()
    )
    assert got == 4, got
