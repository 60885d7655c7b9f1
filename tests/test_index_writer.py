"""The index mutators' shared segment writer (indexing/build.py): both
postings-pipeline branches write the same index, and each mutator call
runs a pinned number of Spark jobs."""

import os

from pyspark.sql import functions as F

from cascading_solr_spark.corpus import synth_corpus
from cascading_solr_spark.indexing import (
    append_documents,
    build_index,
    delete_documents,
)
from cascading_solr_spark.indexing.build import Index
from cascading_solr_spark.indexing.compact import compact_index
from cascading_solr_spark.query.search import search
from cascading_solr_spark.spec import IndexSpec
from test_round5 import _spark_jobs

SPEC = IndexSpec(
    num_shards=4, salt_buckets=2, block_size=16, positions=True,
    keyword_fields=("lang",), text_fields=("path",),
)


def _rows(df):
    cols = sorted(df.columns)
    return sorted(
        tuple(
            tuple(v) if isinstance(v, list) else bytes(v)
            if isinstance(v, (bytes, bytearray)) else v
            for v in (r[c] for c in cols)
        )
        for r in df.collect()
    )


def test_single_exchange_build_matches_wide_build(spark, tmp_path):
    # the single shard-keyed exchange runs when num_shards reaches the
    # session's shuffle width; the default test width (8) takes the wide
    # (shard, term, salt) sort + placement exchange instead
    corpus = synth_corpus(spark, 300, partitions=4)
    width = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(SPEC.num_shards))
    try:
        single = build_index(spark, corpus, SPEC, str(tmp_path / "single"))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", width)
    wide = build_index(spark, corpus, SPEC, str(tmp_path / "wide"))
    assert int(width) > SPEC.num_shards and single.hot_terms
    assert _rows(single.postings(spark)) == _rows(wide.postings(spark))
    assert _rows(spark.read.parquet(single.dict_path)) == _rows(
        spark.read.parquet(wide.dict_path)
    )
    for q in ("parse buffer retry", "import", "lang:go parse", "path:src buffer"):
        got = [
            _rows(search(spark, ix, q, k=10, with_stored=False))
            for ix in (single, wide)
        ]
        assert got[0] and got[0] == got[1], q


def test_spark_jobs_per_mutator_call(spark, tmp_path):
    out = str(tmp_path / "ix")
    corpus = synth_corpus(spark, 120, partitions=2)
    batch = synth_corpus(spark, 40, partitions=2).withColumn(
        "repo", F.concat(F.lit("new/"), "repo")
    )
    deleted = range(0, 160, 9)
    calls = {
        "build": lambda: build_index(spark, corpus, SPEC, out),
        "append": lambda: append_documents(spark, out, batch),
        "delete": lambda: delete_documents(spark, out, deleted),
        "compact": lambda: compact_index(spark, Index.load(out)),
    }
    got = {name: _spark_jobs(spark, fn) for name, fn in calls.items()}
    ix = Index.load(out)
    assert ix.n_docs == 160 - len(deleted) and not ix.has_deletes
    assert os.path.basename(ix.postings_path) == "postings.gen1"
    assert got == {"build": 29, "append": 3, "delete": 2, "compact": 26}, got
