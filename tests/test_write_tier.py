"""The driver-local write tier (indexing/local_write.py): a LocalRelation
append and a driver-id delete write the same index content as the Spark
writer — postings, folded dict, ngrams, docs rows, lineage, meta stats and
query results — with no Spark job, and both readers read their files."""

import glob
import json
import os
import shutil

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cascading_solr_spark.corpus import synth_corpus
from cascading_solr_spark.indexing import (
    append_documents,
    build_index,
    delete_documents,
)
from cascading_solr_spark.indexing.build import (
    LAST_BUILD_PROFILE,
    Index,
    local_frame,
)
from cascading_solr_spark.indexing.compact import compact_index
from cascading_solr_spark.indexing.local_write import append_is_local, is_local
from cascading_solr_spark.query.search import search
from cascading_solr_spark.spec import IndexSpec, IndexSpecError
from test_index_writer import _rows
from test_round5 import _spark_jobs

#: positions, hot terms (salted), a keyword and a text field
SPEC = IndexSpec(
    num_shards=3, salt_buckets=2, block_size=16, positions=True,
    keyword_fields=("lang",), text_fields=("path",),
)
QUERIES = (
    "parse buffer retry", "import", "lang:go parse", "*:* -func",
    "path:src buffer", '"parse buffer"', "tags:src retry",
)


def _queries(spec):
    """QUERIES that ``spec`` serves: a phrase needs positions, a field
    clause a text or keyword field of that name."""
    fields = {*spec.text_fields, *spec.keyword_fields}
    return [
        q for q in QUERIES
        if (spec.positions or '"' not in q)
        and all(c.split(":")[0] in fields for c in q.split() if ":" in c
                and c != "*:*")
    ]


def _frame(spark, df, rows=None):
    """``rows`` (default: ``df``'s) as a ``local_frame`` of ``df``'s
    schema, every field nullable."""
    schema = T.StructType(
        [T.StructField(f.name, f.dataType, True) for f in df.schema.fields]
    )
    rows = df.collect() if rows is None else rows
    out = local_frame(
        spark, [tuple(r[f] for f in schema.names) for r in rows], schema
    )
    assert is_local(out)
    return out


def _batch(spark, n, tag):
    """``n`` new synthetic files as an Arrow ``createDataFrame(pandas)``
    frame, keys disjoint from the other batches'."""
    pdf = synth_corpus(spark, n, partitions=2).toPandas()
    pdf["repo"] = f"{tag}/" + pdf["repo"]
    out = spark.createDataFrame(pdf)
    assert is_local(out)
    return out


def _content(spark, ix_dir):
    """Everything a mutator writes, read with Spark's declared-schema
    readers (and the dict folded on the driver)."""
    ix = Index.load(ix_dir)
    out = {
        "postings": _rows(ix.postings(spark)),
        "docs": _rows(ix.docs(spark)),
        "lineage": _rows(ix.lineage(spark)),
        "dict": _rows(spark.read.parquet(ix.dict_path)),
        "dict_fold": ix.dict_cache(spark),
        "meta": json.load(open(os.path.join(ix_dir, "meta.json"))),
    }
    if os.path.exists(ix.ngrams_path):
        out["ngrams"] = _rows(spark.read.parquet(ix.ngrams_path))
    out["hits"] = {
        q: _rows(search(spark, ix, q, k=12, with_stored=False))
        for q in _queries(ix.spec)
    }
    return out


def _both_tiers(spark, base, tmp_path, monkeypatch, mutate):
    """Content after ``mutate(dir)`` on two copies of ``base``: under the
    default write cap and under a cap of 0 (the Spark writer)."""
    got = {}
    for tier, cap in (("local", Index.LOCAL_WRITE_MAX_BYTES), ("dist", 0)):
        d = str(tmp_path / tier)
        shutil.copytree(base, d)
        monkeypatch.setattr(Index, "LOCAL_WRITE_MAX_BYTES", cap)
        mutate(d)
        monkeypatch.undo()
        got[tier] = _content(spark, d)
    return got["local"], got["dist"]


@pytest.fixture(scope="module")
def base(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("wt") / "base")
    ix = build_index(spark, synth_corpus(spark, 200, partitions=2), SPEC, d)
    assert ix.hot_terms
    return d


def test_append_and_delete_equal_spark_writer(spark, base, tmp_path, monkeypatch):
    batches = [_batch(spark, 80, "a"), _batch(spark, 50, "b")]
    ids = local_frame(spark, [(i,) for i in range(3, 300, 11)], "doc_id long")

    def mutate(d):
        append_documents(spark, d, batches[0], batch_id="e1")
        delete_documents(spark, d, range(0, 280, 9))
        append_documents(spark, d, batches[0], batch_id="e1")  # a replay
        append_documents(spark, d, batches[1])
        delete_documents(spark, d, ids)

    local, dist = _both_tiers(spark, base, tmp_path, monkeypatch, mutate)
    assert local["meta"]["n_docs"] == 330 and local["meta"]["n_deleted"]
    for key in dist:
        assert local[key] == dist[key], key
    assert all(local["hits"].values())


def test_keyword_arrays_stored_types_and_overwrite(spark, tmp_path, monkeypatch):
    # a multi-valued keyword field, stored ints, arrays and a date, and an
    # overwrite append whose key lookup takes the Spark delete
    spec = IndexSpec(
        num_shards=2, salt_buckets=2, block_size=16,
        keyword_fields=("lang", "tags"),
        stored_fields=("repo", "path", "commit", "lang", "tags", "n", "day"),
    )

    def shaped(df):
        return df.select(
            "*",
            F.array("lang", F.lit(None), F.substring("path", 1, 3), "lang")
            .alias("tags"),
            F.length("content").cast("int").alias("n"),
            F.date_add(F.lit("2024-01-01").cast("date"), F.length("path"))
            .alias("day"),
        )

    base = str(tmp_path / "base")
    build_index(spark, shaped(synth_corpus(spark, 120, partitions=2)), spec, base)
    old = shaped(synth_corpus(spark, 30, partitions=2))
    batch = _frame(spark, old.withColumn("content", F.upper("content")))
    fresh = _frame(spark, shaped(_batch(spark, 20, "z")))

    def mutate(d):
        append_documents(spark, d, batch, overwrite=True)
        append_documents(spark, d, fresh)

    local, dist = _both_tiers(spark, base, tmp_path, monkeypatch, mutate)
    for key in dist:
        assert local[key] == dist[key], key
    assert local["meta"]["n_deleted"] == 30
    docs = Index.load(str(tmp_path / "local")).docs(spark)
    assert docs.filter("size(tags) = 4").count() == docs.count() == 170


def test_doc_id_field_without_positions(spark, tmp_path, monkeypatch):
    spec = IndexSpec(
        num_shards=3, salt_buckets=2, block_size=16, doc_id_field="id",
        key_fields=(), keyword_fields=("lang",),
    )
    corpus = synth_corpus(spark, 150, partitions=2).withColumn(
        "id", F.monotonically_increasing_id() * 3 + 7
    )
    base = str(tmp_path / "base")
    build_index(spark, corpus, spec, base)
    rows = corpus.collect()[:60]
    batch = _frame(
        spark, corpus,
        [r.asDict() | {"id": 10_000 + 5 * i} for i, r in enumerate(rows)],
    )

    def mutate(d):
        append_documents(spark, d, batch)
        delete_documents(spark, d, [10_000, 10_005, 7, 22, 9_999_999])

    local, dist = _both_tiers(spark, base, tmp_path, monkeypatch, mutate)
    for key in dist:
        assert local[key] == dist[key], key


@pytest.fixture(params=["true", "false"])
def binary_as_bytes(spark, request):
    """Collected binary values as ``bytes`` (the default) or as unhashable
    ``bytearray``."""
    conf = "spark.sql.execution.pyspark.binaryAsBytes"
    before = spark.conf.get(conf)
    spark.conf.set(conf, request.param)
    yield
    spark.conf.set(conf, before)


def test_binary_key_equal_spark_writer(
    spark, tmp_path, monkeypatch, binary_as_bytes
):
    # a binary key and a stored binary field; a leading 0xff on half the
    # keys: Spark orders binary unsigned
    spec = IndexSpec(
        num_shards=2, salt_buckets=1, block_size=16, key_fields=("blob",),
        stored_fields=("repo", "path", "blob"),
    )

    def shaped(df):
        lead = F.when(F.length("path") % 2 == 0, F.unhex(F.lit("ff")))
        return df.withColumn("blob", F.concat(
            lead.otherwise(F.unhex(F.lit("01"))),
            F.encode(F.concat_ws("/", "repo", "path", "commit"), "utf-8"),
        ))

    base = str(tmp_path / "base")
    build_index(spark, shaped(synth_corpus(spark, 80, partitions=2)), spec, base)
    batch = _frame(spark, shaped(_batch(spark, 30, "bin")))
    assert append_is_local(batch, spec)

    local, dist = _both_tiers(
        spark, base, tmp_path, monkeypatch,
        lambda d: append_documents(spark, d, batch),
    )
    for key in dist:
        assert local[key] == dist[key], key
    assert local["meta"]["n_docs"] == 110


def test_local_writes_run_no_job(spark, base, tmp_path):
    d = str(tmp_path / "ix")
    shutil.copytree(base, d)
    batch = _batch(spark, 40, "j")
    ids = local_frame(spark, [(5,), (6,)], "doc_id long")
    got = {
        "append": _spark_jobs(spark, lambda: append_documents(spark, d, batch)),
        "delete": _spark_jobs(spark, lambda: delete_documents(spark, d, [1, 2])),
        "delete_frame": _spark_jobs(
            spark, lambda: delete_documents(spark, d, ids)
        ),
    }
    assert got == {"append": 0, "delete": 0, "delete_frame": 0}, got
    # the build profile keeps its per-layer split
    assert {"a_doc_ids", "a_postings", "a_dict+stats"} <= set(
        LAST_BUILD_PROFILE
    )
    assert Index.load(d).n_docs == 240


def test_tier_choice(spark, base, monkeypatch):
    # a file-backed batch, or a batch at the cap, takes the Spark writer
    pdf = synth_corpus(spark, 10, partitions=1).toPandas()
    batch = spark.createDataFrame(pdf)
    size = sum(len(v.encode()) for v in [*pdf["content"], *pdf["path"]])
    spec = Index.load(base).spec
    assert append_is_local(batch, spec)
    assert not append_is_local(synth_corpus(spark, 10, partitions=1), spec)
    monkeypatch.setattr(Index, "LOCAL_WRITE_MAX_BYTES", size)
    assert not append_is_local(batch, spec)
    monkeypatch.setattr(Index, "LOCAL_WRITE_MAX_BYTES", size + 1)
    assert append_is_local(batch, spec)
    # a collated key compares and orders strings its own way
    lcase = batch.withColumn("path", F.collate("path", "UTF8_LCASE"))
    assert is_local(lcase) and not append_is_local(lcase, spec)


def test_driver_id_delete_has_no_size_cap(spark, base, tmp_path, monkeypatch):
    # driver-held ids are written on the driver at any count; only a cap of
    # 0 (the Spark writer) moves them
    d = str(tmp_path / "ix")
    shutil.copytree(base, d)
    monkeypatch.setattr(Index, "LOCAL_WRITE_MAX_BYTES", 1)
    ids = range(0, 4 * 200_000, 4)
    assert _spark_jobs(spark, lambda: delete_documents(spark, d, ids)) == 0
    assert Index.load(d).n_deleted == 200_000
    monkeypatch.setattr(Index, "LOCAL_WRITE_MAX_BYTES", 0)
    assert _spark_jobs(spark, lambda: delete_documents(spark, d, [7])) == 2


def test_both_readers_read_local_files(spark, base, tmp_path):
    d = str(tmp_path / "ix")
    shutil.copytree(base, d)
    before = set(glob.glob(os.path.join(d, "postings", "shard=*", "*")))
    append_documents(spark, d, _batch(spark, 60, "r"))
    ix = delete_documents(spark, d, [4, 205])
    local_files = set(glob.glob(os.path.join(d, "postings", "shard=*", "*")))
    local_files -= before
    assert local_files and all(f.endswith("-local.snappy.parquet") for f in local_files)
    # the footer index prunes the pyarrow files by their term statistics
    feet = [f for f in ix.footers("postings") if f.path in local_files]
    assert feet and all(lo is not None for f in feet for lo in f.lo)
    local = ix.read_local("postings", ["parse", "__deleted__"], ["shard", "term", "n_docs"])
    spark_rows = (
        ix.postings(spark).filter(F.col("term").isin("parse", "__deleted__"))
        .select("shard", "term", "n_docs").collect()
    )
    assert sorted(
        r for t in local.values() for r in zip(*t.to_pydict().values())
    ) == sorted(tuple(r) for r in spark_rows)
    # compaction reads every table with declared schemas
    compacted = compact_index(spark, ix)
    assert compacted.n_docs == 258 and not compacted.has_deletes


def test_local_append_reads_no_existing_file(spark, tmp_path):
    d = str(tmp_path / "ix")
    build_index(spark, synth_corpus(spark, 60, partitions=2), SPEC, d)
    for f in glob.glob(os.path.join(d, "*", "**", "*.parquet"), recursive=True):
        with open(f, "wb") as fh:
            fh.write(b"not a parquet file")
    ix = append_documents(spark, d, _batch(spark, 20, "c"))
    ix = delete_documents(spark, d, [1, 61])
    assert ix.n_docs == 80 and ix.n_deleted == 2


@pytest.mark.parametrize("case", ["null_key", "dup_key", "null_id", "big_id"])
def test_local_gates_name_the_fault(spark, tmp_path, case):
    keyed = case.endswith("key")
    spec = IndexSpec(num_shards=2, salt_buckets=1, block_size=16) if keyed else (
        IndexSpec(num_shards=2, salt_buckets=1, block_size=16,
                  doc_id_field="id", key_fields=())
    )
    corpus = synth_corpus(spark, 20, partitions=1).withColumn(
        "id", F.monotonically_increasing_id()
    )
    d = str(tmp_path / "ix")
    build_index(spark, corpus, spec, d)
    rows = [r.asDict() for r in corpus.collect()[:4]]
    for r in rows:
        r["repo"] = "new/" + r["repo"]
        r["id"] += 100
    if case == "null_key":
        rows[1]["path"] = None
        msg = "1 rows have a NULL key field"
    elif case == "dup_key":
        rows[2] = dict(rows[1])
        msg = "1 duplicate rows for key"
    elif case == "null_id":
        rows[0]["id"] = None
        msg = "1 NULL doc ids in append batch"
    else:
        rows[3]["id"] = 1 << 42
        msg = "doc ids must be in"
    batch = _frame(spark, corpus, rows)
    assert append_is_local(batch, spec)
    with pytest.raises(IndexSpecError, match=msg):
        append_documents(spark, d, batch)
    assert Index.load(d).n_docs == 20
    assert not [n for n in os.listdir(d) if n.startswith("_staging_")]
    with pytest.raises(IndexSpecError, match="NULL doc ids in delete batch"):
        delete_documents(spark, d, [1, None])
