"""The driver-local write tier: a micro-batch append or delete whose rows
are already on the driver is written in-process, with no Spark job.

Scope (``append_documents`` calls :func:`append_is_local`,
``delete_documents`` :func:`is_local`; everything else takes the Spark
writer of indexing/build.py unchanged; ``Index.LOCAL_WRITE_MAX_BYTES = 0``
turns the tier off for both):

* an append batch whose optimized plan is a ``LocalRelation`` (Arrow
  ``createDataFrame(pandas)``, ``local_frame``), whose content and text
  fields hold fewer UTF-8 bytes than ``Index.LOCAL_WRITE_MAX_BYTES`` —
  measured by a 0-job collect of their ``octet_length`` — and whose stored
  and key columns are of types this module writes and orders exactly
  like Spark (:data:`_ATOMIC`, :data:`_FLOATS`);
* a delete given as an id list or as an id frame whose plan is a
  ``LocalRelation``, whatever its size: the ids are on the driver already
  (the cap's comment has the measurements).

The batch is read by ONE Catalyst projection — the docs rows
(``build._docs_cols``, so sha256, shard and the docs schema's nullability
are Spark's own), the doc-id cast, the keyword values and the text
fields.  A projection over a ``LocalRelation`` folds into it in the
optimizer, so ``collect()`` runs no job (``toArrow``/``toPandas`` run
one).  Tokenize and assemble are the Spark writer's own kernels
(``build._spimi_tf_kernel``, ``build._assembler``), called once
in-process.  The Catalyst legs get the pandas twins below: the dense id
window, the keyword rows, the (shard, term, salt, packed) sort, the dict
segment, the ngram rows, the lineage rows and the token stats.  Files are
written with pyarrow against the Arrow form of the Spark schemas, so
Spark's declared-schema readers and ``Index.read_local`` read them as they
read Spark's own.
"""

from __future__ import annotations

import os
import uuid

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from cascading_solr_spark.codec import DELETED_TERM
from cascading_solr_spark.indexing import build
from cascading_solr_spark.indexing.build import (
    DICT_SCHEMA,
    DL_BITS,
    KW_SEP,
    LINEAGE_SCHEMA,
    Index,
    _check_batch_ids,
    _check_batch_keys,
    _ddl_json,
    _docs_cols,
    postings_schema,
)
from cascading_solr_spark.spec import IndexSpec

#: column types whose collected Python values pyarrow writes as Spark
#: does, and which Python orders as Spark does (key fields; strings in
#: the default collation only, see :func:`_plain`)
_ATOMIC = (
    T.StringType, T.BinaryType, T.BooleanType, T.ByteType, T.ShortType,
    T.IntegerType, T.LongType, T.DateType, T.DecimalType,
)
#: written exactly, but not ordered as Spark orders them (NaN, -0.0)
_FLOATS = (T.FloatType, T.DoubleType)


def is_local(df: DataFrame) -> bool:
    """Whether ``df``'s optimized plan is a ``LocalRelation``: its rows are
    on the driver, and a projection of it collects with no Spark job."""
    plan = df._jdf.queryExecution().optimizedPlan()
    return plan.getClass().getSimpleName() == "LocalRelation"


def _plain(dt: T.DataType, kinds: tuple) -> bool:
    """``dt`` is one of ``kinds``, and a string only in the default
    (binary) collation: any other collation compares and orders strings
    its own way."""
    if isinstance(dt, T.StringType) and dt.collation != "UTF8_BINARY":
        return False
    return isinstance(dt, kinds)


def _storable(dt: T.DataType) -> bool:
    if isinstance(dt, T.ArrayType):
        dt = dt.elementType
    return _plain(dt, _ATOMIC + _FLOATS)


def append_is_local(batch: DataFrame, spec: IndexSpec) -> bool:
    """Whether ``append_documents`` writes ``batch`` on the driver (the
    module docstring's scope)."""
    if Index.LOCAL_WRITE_MAX_BYTES <= 0:
        return False
    types = {f.name: f.dataType for f in batch.schema.fields}
    if not all(_storable(types[f]) for f in spec.stored_fields):
        return False
    if not spec.doc_id_field and not all(
        _plain(types[k], _ATOMIC) for k in spec.key_fields
    ):
        return False
    if not is_local(batch):
        return False
    size = F.lit(0).cast("long")
    for f in (spec.content_field, *spec.text_fields):
        size = size + F.coalesce(F.octet_length(f), F.lit(0)).cast("long")
    return sum(r[0] for r in batch.select(size).collect()) < (
        Index.LOCAL_WRITE_MAX_BYTES
    )


def _arrow(ddl: str | T.StructType, drop: str | None = None) -> pa.Schema:
    """The Arrow form of a Spark schema, without the ``drop`` column (the
    partition column, which lives in the file's dir name)."""
    st = ddl if isinstance(ddl, T.StructType) else T.StructType.fromJson(
        _ddl_json(ddl)
    )
    return to_arrow_schema(
        T.StructType([f for f in st.fields if f.name != drop])
    )


def _write_file(table: pa.Table, dirpath: str) -> None:
    """One parquet file under a unique name in ``dirpath``, renamed into
    place once complete (readers skip the ``.``-prefixed temp name)."""
    os.makedirs(dirpath, exist_ok=True)
    name = f"part-{uuid.uuid4().hex}-local.snappy.parquet"
    tmp = os.path.join(dirpath, "." + name)
    pq.write_table(table, tmp, compression="snappy")
    os.replace(tmp, os.path.join(dirpath, name))


def _write_shards(table: pa.Table, shard: np.ndarray, path: str) -> None:
    """Rows sorted by ``shard`` -> one file per shard under
    ``path/shard=N``, as ``partitionBy("shard")`` lays them out."""
    if not len(shard):
        return
    cuts = np.flatnonzero(np.diff(shard)) + 1
    for lo, hi in zip(np.r_[0, cuts], np.r_[cuts, len(shard)]):
        _write_file(
            table.slice(lo, hi - lo), os.path.join(path, f"shard={shard[lo]}")
        )


def _assemble(tf: pd.DataFrame, spec: IndexSpec, hot_terms) -> pd.DataFrame:
    """(packed, term, tf[, pos]) rows -> posting rows in (shard, term,
    salt) order: the Spark writer's exchange and sort as one (shard, term,
    salt, packed) sort, then ``build._assembler`` once per shard."""
    if not len(tf):
        return pd.DataFrame({c: [] for c in _arrow(postings_schema(spec)).names})
    packed = tf["packed"].to_numpy(dtype=np.int64)
    ids = packed >> DL_BITS
    shard = ids % spec.num_shards
    salt = np.zeros(len(tf), dtype=np.int64)
    if hot_terms:
        hot = tf["term"].isin(frozenset(hot_terms)).to_numpy()
        salt[hot] = (ids[hot] // spec.num_shards) % spec.salt_buckets
    _, term_rank = np.unique(tf["term"].to_numpy(dtype=object), return_inverse=True)
    order = np.lexsort((packed, salt, term_rank, shard))
    tf = tf.take(order).reset_index(drop=True)
    shard = shard[order]
    assemble = build._assembler(spec, hot_terms)
    cuts = np.flatnonzero(np.diff(shard)) + 1
    parts = [
        part
        for lo, hi in zip(np.r_[0, cuts], np.r_[cuts, len(tf)])
        for part in assemble(iter([tf.iloc[lo:hi].reset_index(drop=True)]))
    ]
    return pd.concat(parts, ignore_index=True)


def _write_postings(postings: pd.DataFrame, spec: IndexSpec, path: str) -> None:
    """Assembled posting rows -> one file per shard (the Spark writer's
    layout and schema)."""
    table = pa.Table.from_pandas(
        postings.drop(columns="shard"),
        schema=_arrow(postings_schema(spec), drop="shard"),
        preserve_index=False,
    )
    _write_shards(table, postings["shard"].to_numpy(), path)


def write_tombstones(
    ids: list[int], spec: IndexSpec, hot_terms, path: str
) -> None:
    """A delete batch's ``DELETED_TERM`` rows, written into ``path`` (the
    live postings dir) as ``delete_documents``' Spark writer does."""
    packed = (np.asarray(ids, dtype=np.int64) << DL_BITS) + 1
    tf = {"packed": packed, "term": DELETED_TERM, "tf": np.int32(1)}
    if spec.positions:
        tf["pos"] = b""
    _write_postings(_assemble(pd.DataFrame(tf), spec, hot_terms), spec, path)


def _ngram_rows(terms) -> pd.DataFrame:
    """``build.term_ngram_rows``' twin: the distinct padded bigrams of each
    content term, in (gram, term) order."""
    grams: list[str] = []
    owners: list[str] = []
    for t in terms:
        if KW_SEP in t:
            continue
        p = "^" + t + "$"
        for g in dict.fromkeys(p[i:i + 2] for i in range(len(p) - 1)):
            grams.append(g)
            owners.append(t)
    return pd.DataFrame({"gram": grams, "term": owners}).sort_values(
        ["gram", "term"], ignore_index=True
    )


def _lineage_rows(postings: pd.DataFrame, segment: str) -> pd.DataFrame:
    """``build._write_lineage``' twin: one row per shard of the segment."""
    g = postings.groupby("shard", sort=True)
    out = g.agg(
        terms=("term", "size"), postings=("n_docs", "sum"),
        bytes=("n_bytes", "sum"),
    ).reset_index()
    mean = out["postings"].to_numpy(dtype=np.float64) / out["terms"].to_numpy()
    out["skew_ratio"] = g["n_docs"].max().to_numpy(dtype=np.float64) / mean
    out["status"] = "committed"
    out["segment"] = segment
    return out


def _token_stats(postings: pd.DataFrame, spec: IndexSpec) -> dict:
    """``build._observe_tokens``' metrics over the segment's rows."""
    term = postings["term"]
    sum_tf = postings["sum_tf"]
    out = {"content_tokens": int(sum_tf[~term.str.contains(KW_SEP, regex=False)].sum())}
    for i, f in enumerate(spec.text_fields):
        out[f"ftok_{i}"] = int(sum_tf[term.str.startswith(f + KW_SEP)].sum())
    return out


def append_segment(
    batch: DataFrame,
    spec: IndexSpec,
    hot_terms,
    offset: int,
    seg_tag: str,
    stg: str,
    with_ngrams: bool,
    prof,
) -> tuple[int, dict]:
    """Write ``batch`` as one segment into the staging dir ``stg`` (its
    ``docs``, ``postings``, ``dict``, ``ngrams`` when ``with_ngrams``, and
    ``lineage`` subdirs), as ``append_documents``' Spark tier does.  Marks
    the ``a_doc_ids`` and ``a_postings`` phases on ``prof``.  Returns the
    batch's row count and its token stats (``_observe_tokens``' metrics)."""
    keyed = not spec.doc_id_field
    keys = list(spec.key_fields) if keyed else []
    types = {f.name: f.dataType for f in batch.schema.fields}
    based = batch.withColumn(
        "doc_id",
        # dense ids are assigned below, from the collected keys
        F.lit(0).cast("long") if keyed
        else F.col(spec.doc_id_field).cast("long"),
    )
    texts = [spec.content_field, *spec.text_fields]
    kw = [
        F.array_distinct(F.col(f)).cast("array<string>")
        if isinstance(types[f], T.ArrayType) else F.col(f).cast("string")
        for f in spec.keyword_fields
    ]
    extra = [F.col(c) for c in texts + keys] + kw
    docs_cols = _docs_cols(spec)
    proj = based.select(
        *docs_cols, *[c.alias(f"__lw{i}") for i, c in enumerate(extra)]
    )
    rows = proj.collect()  # 0 jobs: the projection folds into the relation
    n = len(rows)
    if not n:
        return 0, {}
    cols = list(zip(*rows))
    nd = len(docs_cols)
    text_vals = cols[nd:nd + len(texts)]
    key_vals = cols[nd + len(texts):nd + len(texts) + len(keys)]
    kw_vals = cols[nd + len(texts) + len(keys):]

    # ---- gate + doc ids (the Spark tier's gate agg and id window) ----
    if keyed:
        # binary values collect as (unhashable) bytearray; bytes compare
        # as Spark compares binary, unsigned byte by byte
        tuples = [
            tuple(bytes(v) if isinstance(v, bytearray) else v for v in t)
            for t in zip(*key_vals)
        ]
        n_null = sum(None in t for t in tuples)
        _check_batch_keys(n, len(set(tuples)), n_null, keys)
        ids = np.empty(n, dtype=np.int64)
        ids[sorted(range(n), key=tuples.__getitem__)] = offset + np.arange(n)
        shard = (ids % spec.num_shards).astype(np.int32)
    else:
        n_null = cols[0].count(None)
        ids = np.asarray(
            [0 if v is None else v for v in cols[0]], dtype=np.int64
        )
        _check_batch_ids(n_null, ids.min(), ids.max(), spec.doc_id_field)
        shard = np.asarray(cols[nd - 1], dtype=np.int32)
    prof.mark("a_doc_ids")

    # ---- postings: the tokenize kernel + the keyword rows, assembled ----
    text_pdf = pd.DataFrame(
        {"doc_id": ids, **dict(zip(texts, text_vals))},
        columns=["doc_id", *texts],
    )
    kernel = build._spimi_tf_kernel(spec.content_field, spec.positions)
    parts = list(kernel(iter([text_pdf])))
    kw_ids: list[int] = []
    kw_terms: list[str] = []
    id_list = ids.tolist()
    for f, vals in zip(spec.keyword_fields, kw_vals):
        many = isinstance(types[f], T.ArrayType)
        for doc, v in zip(id_list, vals):
            # nulls are skipped, as the Catalyst leg's explode + isNotNull
            for x in (v or () if many else (v,)):
                if x is not None:
                    kw_ids.append(doc)
                    kw_terms.append(f + KW_SEP + x)
    if kw_ids:
        kw_rows = {
            "packed": (np.asarray(kw_ids, dtype=np.int64) << DL_BITS) + 1,
            "term": kw_terms,
            "tf": np.ones(len(kw_ids), dtype=np.int32),
        }
        if spec.positions:
            kw_rows["pos"] = [b""] * len(kw_ids)
        parts.append(pd.DataFrame(kw_rows))
    postings = _assemble(pd.concat(parts, ignore_index=True), spec, hot_terms)
    _write_postings(postings, spec, os.path.join(stg, "postings"))
    prof.mark("a_postings")

    # ---- docs rows, dict segment, ngrams, lineage ----
    docs_arrow = _arrow(T.StructType(proj.schema.fields[:nd]), drop="shard")
    docs_vals = [id_list, *cols[1:nd - 1]]
    order = np.lexsort((ids, shard))
    docs = pa.Table.from_arrays(
        [pa.array(v, type=f.type) for v, f in zip(docs_vals, docs_arrow)],
        schema=docs_arrow,
    ).take(order)
    _write_shards(docs, shard[order], os.path.join(stg, "docs"))

    dict_rows = postings.groupby("term", sort=True)["n_docs"].sum()
    _write_file(
        pa.table(
            {"term": dict_rows.index.to_numpy(), "df": dict_rows.to_numpy()},
            schema=_arrow(DICT_SCHEMA),
        ),
        os.path.join(stg, "dict"),
    )
    if with_ngrams:
        _write_file(
            pa.Table.from_pandas(
                _ngram_rows(dict_rows.index),
                schema=_arrow("gram string, term string"),
                preserve_index=False,
            ),
            os.path.join(stg, "ngrams"),
        )
    _write_file(
        pa.Table.from_pandas(
            _lineage_rows(postings, seg_tag), schema=_arrow(LINEAGE_SCHEMA),
            preserve_index=False,
        ),
        os.path.join(stg, "lineage"),
    )
    return n, _token_stats(postings, spec)
