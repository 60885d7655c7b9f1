"""The index mutators' shared segment writer (indexing/build.py): both
postings-pipeline branches write the same index, each mutator call runs a
pinned number of Spark jobs on the Spark writer, the tf rows come from one
Python tokenize leg, the hot-term salt test is one literal INSET, and a
NULL key field is named as such."""

import os

import pytest
from pyspark.sql import functions as F

from cascading_solr_spark.corpus import synth_corpus
from cascading_solr_spark.indexing import (
    append_documents,
    build_index,
    delete_documents,
)
from cascading_solr_spark.indexing.build import Index, _term_in, _tf_rows
from cascading_solr_spark.indexing.compact import compact_index
from cascading_solr_spark.query.search import search
from cascading_solr_spark.spec import IndexSpec, IndexSpecError
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


@pytest.mark.usefixtures("distributed_tier")
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
    # compact reads the docs table, and every table it has just written,
    # with declared schemas (was 25, then 24: one schema-inference job per
    # read)
    assert got == {"build": 26, "append": 3, "delete": 2, "compact": 20}, got


def test_one_python_pass_tokenizes_every_text_field(spark, tmp_path):
    # content and every extra text field share one mapInPandas leg; the
    # keyword rows stay pure Catalyst
    synth_corpus(spark, 40, partitions=2).write.parquet(str(tmp_path / "c"))
    based = spark.read.parquet(str(tmp_path / "c")).withColumn(
        "doc_id", F.monotonically_increasing_id()
    )
    plan = _tf_rows(based, SPEC, True)._jdf.queryExecution().executedPlan()
    assert plan.toString().count("MapInPandas") == 1, plan.toString()


def test_hot_term_test_is_one_literal_inset(spark, tmp_path):
    # quotes, backslashes, non-ASCII text and the keyword separator select
    # exactly the rows Column.isin selects, whatever the parser's
    # escaped-literals mode
    terms = [
        "it's", "a\\b", "\\n", "naïve", "日本語", "lang:go", "'", "\\", '"q"',
    ] + [f"t{i}" for i in range(20)]
    # a file scan: a filter over a local relation folds away in the optimizer
    spark.createDataFrame(
        [(t,) for t in terms + ["plain", "x:y", "a\\\\b"]], "term string"
    ).write.parquet(str(tmp_path / "terms"))
    df = spark.read.parquet(str(tmp_path / "terms"))
    key = "spark.sql.parser.escapedStringLiterals"
    before = spark.conf.get(key)
    try:
        for mode in ("false", "true"):
            spark.conf.set(key, mode)
            picked = df.filter(_term_in(terms))
            want = df.filter(F.col("term").isin(terms))
            got = sorted(r["term"] for r in picked.collect())
            assert got == sorted(r["term"] for r in want.collect()), mode
            assert got == sorted(terms), mode
            plan = picked._jdf.queryExecution().optimizedPlan().toString()
            assert "INSET" in plan, mode
    finally:
        spark.conf.set(key, before)
    assert spark.conf.get(key) == before


def test_null_key_field_is_named_not_reported_as_duplicates(spark, tmp_path):
    # count_distinct skips NULL-holding tuples: both build and append name
    # the NULL key rows instead of reporting them as duplicates
    corpus = synth_corpus(spark, 60, partitions=2)
    nulled = corpus.withColumn(
        "path",
        F.when(F.pmod(F.hash("content"), F.lit(5)) == 0, F.lit(None))
        .otherwise(F.col("path")),
    )
    n_null = nulled.filter(F.col("path").isNull()).count()
    assert 0 < n_null < 60
    spec = IndexSpec(num_shards=2, salt_buckets=1, block_size=16)
    msg = f"{n_null} rows have a NULL key field"
    with pytest.raises(IndexSpecError, match=msg):
        build_index(spark, nulled, spec, str(tmp_path / "built"))
    out = str(tmp_path / "appended")
    build_index(spark, synth_corpus(spark, 20, partitions=2), spec, out)
    batch = nulled.withColumn("repo", F.concat(F.lit("new/"), "repo"))
    with pytest.raises(IndexSpecError, match=msg):
        append_documents(spark, out, batch)
    assert Index.load(out).n_docs == 20
