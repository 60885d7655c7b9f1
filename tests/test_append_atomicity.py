"""Crash atomicity of append_documents: a failure in ANY of the append's
jobs (Spark tier) or in-process steps (driver tier) must leave the index
byte-identical (staged writes + rename publish, round 5h).  Previously the threaded docs write could commit while the
postings job failed, leaving orphan docs rows that match-all counted."""

import os

import pytest

from cascading_solr_spark.corpus import synth_corpus
from cascading_solr_spark.indexing import append_documents, build_index
from cascading_solr_spark.indexing.build import Index
from cascading_solr_spark.query.search import match_ids, search
from cascading_solr_spark.spec import IndexSpec

SPEC = IndexSpec(num_shards=2, salt_buckets=2, block_size=16)


def _snapshot(ixdir):
    files = {}
    for root, _d, fns in os.walk(ixdir):
        for fn in fns:
            p = os.path.join(root, fn)
            files[os.path.relpath(p, ixdir)] = os.path.getsize(p)
    return files


def test_failed_append_leaves_index_untouched(spark, tmp_path, monkeypatch):
    out = str(tmp_path / "ix")
    build_index(spark, synth_corpus(spark, 80, partitions=2), SPEC, out)
    ix0 = Index.load(out)
    n0 = match_ids(spark, ix0, "*:*").count()
    before = _snapshot(out)

    # inject a fault into the postings tokenize kernel — the docs write
    # (threaded, concurrent) would previously still commit its rows.  The
    # append's tf rows come from the build's shared writer, which reads
    # the kernel from indexing.build.
    import cascading_solr_spark.indexing.build as ap

    real = ap._spimi_tf_kernel

    def broken(content_field, positions):
        kern = real(content_field, positions)

        def boom(batches):
            raise RuntimeError("injected mid-append fault")
            yield  # pragma: no cover

        return boom

    monkeypatch.setattr(ap, "_spimi_tf_kernel", broken)
    batch = synth_corpus(spark, 240, partitions=2).filter("length(path) > 0")
    # make the batch key-disjoint from the base corpus
    from pyspark.sql import functions as F

    batch = batch.withColumn("repo", F.concat(F.lit("new/"), "repo")).limit(40)
    with pytest.raises(Exception, match="injected|Python worker"):
        append_documents(spark, out, batch)
    monkeypatch.setattr(ap, "_spimi_tf_kernel", real)

    # byte-identical: same files, same sizes; no orphan docs/postings rows
    after = _snapshot(out)
    assert after == before
    ix1 = Index.load(out)
    assert match_ids(spark, ix1, "*:*").count() == n0
    # and the index still works + a retry of the same append succeeds
    append_documents(spark, out, batch)
    ix2 = Index.load(out)
    assert match_ids(spark, ix2, "*:*").count() == n0 + 40
    assert search(spark, ix2, "parse", k=5).count() > 0


@pytest.mark.parametrize("where", ["kernel", "lineage"])
def test_failed_local_append_leaves_index_untouched(
    spark, tmp_path, monkeypatch, where
):
    # the driver tier stages its files like the Spark tier: a fault in its
    # in-process tokenize kernel, or in its last write (the lineage rows,
    # after the postings, docs, dict and ngram files are staged), leaves the
    # index byte-identical, and a retry succeeds
    import cascading_solr_spark.indexing.build as ap
    import cascading_solr_spark.indexing.local_write as lw

    out = str(tmp_path / "ix")
    build_index(spark, synth_corpus(spark, 80, partitions=2), SPEC, out)
    before = _snapshot(out)
    pdf = synth_corpus(spark, 30, partitions=2).toPandas()
    pdf["repo"] = "new/" + pdf["repo"]
    batch = spark.createDataFrame(pdf)
    assert lw.append_is_local(batch, SPEC)

    def boom(*args, **kwargs):
        raise RuntimeError("injected driver-tier fault")

    if where == "kernel":
        monkeypatch.setattr(ap, "_spimi_tf_kernel", lambda *a: boom)
    else:
        monkeypatch.setattr(lw, "_lineage_rows", boom)
    with pytest.raises(RuntimeError, match="injected driver-tier fault"):
        append_documents(spark, out, batch)
    monkeypatch.undo()
    assert _snapshot(out) == before
    ix = append_documents(spark, out, batch)
    assert match_ids(spark, ix, "*:*").count() == 110
