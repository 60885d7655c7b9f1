"""Distributed inverted-index build: the Spark-first re-expression of the
reference's sharded index-build dataflow.

Reference lifecycle (SURVEY.md §3.1): validate -> partition -> per-reduce-task
embedded-Solr index build with 500-doc micro-batches -> commit + optimize ->
copy local index dir to HDFS (hadoop/SolrOutputFormat.java:46-114,
core/SolrWriter.java:59-128).  Our lifecycle:

1. plan-time ``validate_schema`` (core/SolrSchemeUtil.java:87-101 analogue);
2. deterministic dense ``doc_id`` assignment — distributed global-sort rank,
   never a single-partition window; duplicate keys fail fast (the analogue of
   Solr's uniqueKey constraint, schema.xml:224);
3. ONE Python tokenize pass over the corpus (the content and every extra
   text field): SPIMI inversion in Arrow-batched
   workers (_spimi_tf_kernel) produces the distinct (term, doc_id, tf) rows
   that feed EVERYTHING downstream — per-term stats (exact df -> hot-term
   set + the dict table), corpus stats (total tokens -> avgdl), and the
   postings shuffle.  (Round 1 scanned the content three times: a dl-UDF
   docs pass, a sampled hot-term pass, and the SPIMI pass.  Folding them
   into one pass + a cached tf table cut the serial component and a full
   Python pass — the round-2 scaling work.);
4. keyword fields (untokenized StrField analogue, schema.xml:288; multi-valued
   membership per schema.xml:104 + SolrWriter.java:67-71 tuple-explode) are
   indexed as ``field:value`` terms in the SAME postings layout, so exact
   filters compose with BM25 ranking index-side;
5. exact hot terms (df > hot_term_df_ratio * N — the stopword-grade
   ``import``/``return`` tokens) get a doc-derived salt so no single reducer
   owns a full hot posting list; the hot SET is persisted in meta.json so
   resumed / appended builds salt identically;
6. salted repartition-and-sort shuffle on (shard, term, salt) + a streaming
   mapInPandas assembler producing delta+varint-compressed posting rows with
   per-block (max_tf, min_dl) pruning metadata and per-block byte offsets
   (codec.py) — block metadata is avgdl-INDEPENDENT so incremental appends
   never invalidate it;
7. atomic publish via Spark's task-commit protocol into
   ``postings/shard=N/`` dirs — one logical shard per document bucket,
   exactly the reference's "N shards for N reducers" (README.md:7-8) — plus a
   per-shard lineage table (terms, postings, bytes, skew_ratio, status) that
   doubles as the resume checkpoint.

Every index mutator writes through the functions here: the tf legs
(``_tf_rows``), the one segment writer (``_write_postings``), the docs,
lineage, dict and ngram writes, the token stats, the generation names and
``read_meta``/``write_meta`` — append, delete and compact only choose what
to write and in which order.

Independent jobs overlap via driver threads (docs write ∥ the tokenize pass;
dict write ∥ the postings shuffle): the python-worker-heavy stages and the
JVM-heavy stages use complementary resources, and barrier serialization is
the dominant fixed cost at small scale.

Resume: ``build_index(..., resume=True)`` reads the lineage table, removes
any partially-written uncommitted shard dirs, pre-filters the corpus to the
missing shards (shard = doc_id % num_shards is derivable before tokenizing),
and appends only those — idempotent, the analogue of Hadoop task retry +
idempotent task output dirs (hadoop/SolrOutputFormat.java:57).
"""

from __future__ import annotations

import bisect
import functools
import json
import os
import shutil
import time
import warnings
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import NamedTuple

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.storagelevel import StorageLevel

from cascading_solr_spark.analyzer import (
    make_cached_position_tokenizer,
    make_cached_tokenizer,
)
from cascading_solr_spark.codec import (
    DELETED_TERM,
    decode_doc_ids,
    encode_position_payload,
    encode_varint_counts,
)
from cascading_solr_spark.spec import IndexSpec, IndexSpecError, validate_schema

# The big (term, doc) intermediate packs (doc_id, dl) into ONE long:
# packed = doc_id << DL_BITS | min(dl, DL_MASK).  Three fields (24 B of
# UnsafeRow slots + the term bytes) instead of five (40 B) — the shuffle,
# the sort, and both Arrow hops move ~40% fewer bytes, which is what the
# measured 2->8-core inflation was made of (memory-bandwidth contention).
# doc_id < 2^42 (4×10^12, above the north-star scale); dl saturates at
# 2^21-1 tokens (a 2M-token document scores as if 2M — BM25 is flat there).
DL_BITS = 21
DL_MASK = (1 << DL_BITS) - 1

TF_SCHEMA = "packed long, term string, tf int"

#: caller-provided doc ids must fit the packed layout: id << DL_BITS rides an
#: int64, so id in [0, 2^42).  Anything larger (e.g. a raw 64-bit hash id)
#: would silently overflow and corrupt posting doc ids — fail fast instead.
MAX_DOC_ID = (1 << (63 - DL_BITS)) - 1

# keyword-field terms are namespaced "<field>:<value>"; analyzed content terms
# are [a-z0-9]+ so the ':' can never collide.
KW_SEP = ":"


def pack_id_dl(doc_ids: np.ndarray, dls: np.ndarray) -> np.ndarray:
    return (doc_ids.astype(np.int64) << DL_BITS) | np.minimum(
        dls.astype(np.int64), DL_MASK
    )


def _spimi_tf_kernel(content_field: str, positions: bool = False):
    """SPIMI in-memory inversion, Arrow-batched, of EVERY analyzed text
    field in one Python pass: tokenize (memoized per-word cache — code
    identifiers repeat heavily) + per-doc Counter -> distinct (doc, term, tf)
    rows with (doc_id, dl) packed.  This runs in separate Python worker
    processes, so it scales with cores without sharing one JVM heap (the
    Catalyst expression analyzer measurably anti-scaled under allocation
    pressure at local[32]).  The per-doc dict IS the SPIMI dictionary; only
    distinct (term, doc) pairs ever reach the shuffle.

    The batches carry ``doc_id``, ``content_field`` and then the extra
    analyzed text fields (spec.text_fields).  An extra field's terms are
    namespaced ``field:token`` (the keyword ``field:value`` namespace — spec
    validation keeps field names disjoint, so no collision) and pack the
    FIELD's token count as dl, so BM25 length normalization is per-field
    (the Lucene per-field norms analogue the reference's eDisMax qf relies
    on, solrconfig.xml:872-877).  Null/empty texts emit nothing
    (SolrWriter.java:65-66 null-skip).

    With ``positions`` each content row additionally carries its
    delta-varint position-list blob (``pos`` binary, Lucene .pos analogue) —
    encoded MAP-SIDE so the shuffle still moves one row per distinct
    (term, doc) pair, just a few bytes wider; the whole batch is encoded in
    ONE vectorized pass and sliced per row (encode_position_payload).
    Extra-field rows carry an empty blob exactly like keyword rows (phrase
    queries are content-field only and never decode them)."""
    from collections import Counter

    def invert(tokenize, ids, texts, prefix, acc) -> None:
        doc_ids, dls, terms, tfs = acc
        for doc_id, text in zip(ids, texts):
            toks = tokenize(text)
            if not toks:
                continue
            counts = Counter(toks)
            k = len(counts)
            doc_ids.extend([doc_id] * k)
            dls.extend([len(toks)] * k)
            terms.extend([prefix + t for t in counts] if prefix else counts)
            tfs.extend(counts.values())

    def invert_pos(tokenize_pos, ids, texts, acc, pos_chunks) -> None:
        doc_ids, dls, terms, tfs = acc
        for doc_id, text in zip(ids, texts):
            tp = tokenize_pos(text)
            per_term: dict[str, list[int]] = {}
            for t, p in tp:
                per_term.setdefault(t, []).append(p)
            k = len(per_term)
            doc_ids.extend([doc_id] * k)
            dls.extend([len(tp)] * k)
            terms.extend(per_term.keys())
            tfs.extend(len(v) for v in per_term.values())
            pos_chunks.extend(per_term.values())

    def encode_pos(pos_chunks, tfs) -> list[bytes]:
        tf_arr = np.asarray(tfs, dtype=np.int64)
        flat = (
            np.concatenate([np.asarray(c, dtype=np.int64) for c in pos_chunks])
            if pos_chunks
            else np.empty(0, dtype=np.int64)
        )
        buf, seg_nb = encode_position_payload(flat, tf_arr)
        offs = np.zeros(len(seg_nb) + 1, dtype=np.int64)
        np.cumsum(seg_nb, out=offs[1:])
        mv = memoryview(buf)
        return [bytes(mv[offs[i]: offs[i + 1]]) for i in range(len(seg_nb))]

    def kernel(batches):
        tokenize_fast = make_cached_tokenizer()
        tokenize_pos = make_cached_position_tokenizer() if positions else None
        for pdf in batches:
            ids = pdf["doc_id"].to_numpy()
            acc: tuple[list, list, list, list] = ([], [], [], [])
            blobs: list[bytes] = []
            if positions:
                pos_chunks: list[list[int]] = []
                invert_pos(tokenize_pos, ids, pdf[content_field], acc, pos_chunks)
                blobs = encode_pos(pos_chunks, acc[3])
            else:
                invert(tokenize_fast, ids, pdf[content_field], "", acc)
            for f in pdf.columns:
                if f not in ("doc_id", content_field):
                    invert(tokenize_fast, ids, pdf[f], f + KW_SEP, acc)
            doc_ids, dls, terms, tfs = acc
            out = {
                "packed": pack_id_dl(
                    np.asarray(doc_ids, dtype=np.int64),
                    np.asarray(dls, dtype=np.int64),
                ),
                "term": terms,
                "tf": np.asarray(tfs, dtype=np.int32),
            }
            if positions:
                out["pos"] = blobs + [b""] * (len(terms) - len(blobs))
            yield pd.DataFrame(out)

    return kernel


def _tf_rows(based: DataFrame, spec: IndexSpec, positions: bool) -> DataFrame:
    """The (packed, term, tf) rows of every indexed field of ``based``
    (doc_id-carrying rows): ONE column-pruned Python pass tokenizes the
    content and every extra text field (one Python task per input
    partition — each task pays the worker's fixed start-up cost), unioned
    with the pure-Catalyst keyword-field rows; the shuffle moves one row per
    (term, doc).  ``positions`` adds the ``pos`` blob column; the hot-term
    sample passes False (df estimation needs no positions)."""
    fields = based.select("doc_id", spec.content_field, *spec.text_fields)
    out = fields.mapInPandas(
        _spimi_tf_kernel(spec.content_field, positions),
        TF_SCHEMA_POS if positions else TF_SCHEMA,
    )
    kw_rows = _keyword_tf_rows(based, spec, positions)
    return out if kw_rows is None else out.unionByName(kw_rows)


POSTINGS_SCHEMA = (
    "shard int, term string, salt int, n_docs long, sum_tf long, "
    "doc_ids binary, "
    "tfs binary, dls binary, block_max_tf array<int>, block_min_dl array<int>, "
    "block_last_id array<long>, "
    "boffs_ids array<long>, boffs_tfs array<long>, boffs_dls array<long>, "
    "n_blocks int, n_bytes long"
)

# positional variants (spec.positions): the shuffle rows carry the map-side
# encoded per-posting position blob; the assembled rows carry the per-group
# concatenated payload + per-block byte offsets (Lucene .pos analogue)
TF_SCHEMA_POS = TF_SCHEMA + ", pos binary"
POSTINGS_SCHEMA_POS = POSTINGS_SCHEMA + ", pos binary, boffs_pos array<long>"


def tf_schema(spec: IndexSpec) -> str:
    return TF_SCHEMA_POS if spec.positions else TF_SCHEMA


def postings_schema(spec: IndexSpec) -> str:
    return POSTINGS_SCHEMA_POS if spec.positions else POSTINGS_SCHEMA


#: the dict table's rows, one per term per segment (summed by
#: :meth:`Index.term_dict`)
DICT_SCHEMA = "term string, df long"

#: the lineage table's rows (:func:`_write_lineage`), one per shard segment
LINEAGE_SCHEMA = (
    "shard int, terms long, postings long, bytes long, skew_ratio double, "
    "status string, segment string"
)


#: per-phase wall seconds of the most recent ``build_index`` call in this
#: process (always populated; printed only under CSS_BUILD_PROFILE=1).
#: bench_scaling.py publishes these per parallelism level — the phase whose
#: 2-core/8-core ratio is far from 4x is where anti-scaling lives.
LAST_BUILD_PROFILE: dict[str, float] = {}


class _Prof:
    """Build phase timing: records into LAST_BUILD_PROFILE, prints when
    CSS_BUILD_PROFILE=1 (scaling-study instrumentation)."""

    def __init__(self) -> None:
        self.on = os.environ.get("CSS_BUILD_PROFILE") == "1"
        self.t0 = time.perf_counter()
        LAST_BUILD_PROFILE.clear()

    def mark(self, label: str) -> None:
        t1 = time.perf_counter()
        LAST_BUILD_PROFILE[label] = round(t1 - self.t0, 3)
        if self.on:
            print(f"[build-prof] {label:18s} {t1 - self.t0:6.1f}s", flush=True)
        self.t0 = t1


def _null_key_count(keys: list[str]) -> F.Column:
    """Aggregate: rows with a NULL in any of ``keys``."""
    any_null = F.lit(False)
    for k in keys:
        any_null = any_null | F.col(k).isNull()
    return F.count(F.when(any_null, 1))


def _check_null_keys(n_null: int, keys: list[str]) -> None:
    """Reject rows whose key has a NULL field: a NULL key identifies no
    document (uniqueKey analogue)."""
    if n_null:
        raise IndexSpecError(
            f"{n_null} rows have a NULL key field (key fields "
            f"{tuple(keys)!r}); every key field must be non-null"
        )


def _check_batch_keys(n: int, n_distinct: int, n_null: int, keys) -> None:
    """An append batch's key gate: no NULL key field, no duplicate key."""
    _check_null_keys(n_null, keys)
    if n != n_distinct:
        raise IndexSpecError(
            f"{n - n_distinct} duplicate rows for key {tuple(keys)!r} in "
            "append batch (uniqueKey analogue)"
        )


def _check_batch_ids(n_null: int, lo, hi, field: str) -> None:
    """An append batch's caller-assigned id gate: no NULL id (a column that
    does not cast to long), every id in the packed layout's range."""
    if n_null:
        raise IndexSpecError(
            f"{n_null} NULL doc ids in append batch (column {field!r} does "
            "not cast to long)"
        )
    if int(lo) < 0 or int(hi) > MAX_DOC_ID:
        raise IndexSpecError(
            f"doc ids must be in [0, {MAX_DOC_ID}] to fit the packed "
            f"posting layout (got min={lo}, max={hi}); remap hash-derived "
            "ids first"
        )


def _rank_ids(
    df: DataFrame,
    keys: tuple[str, ...],
    persist: bool = True,
    check_unique: bool = True,
) -> tuple[DataFrame, int]:
    """Dense deterministic rank over unique ``keys`` -> (ids_df, n_rows).

    ``ids_df`` has columns ``(*keys, doc_id)``.  Scale-safe: a bare
    ``row_number().over(Window.orderBy(...))`` collapses to ONE partition;
    instead we range-partition + sort (Spark's distributed sort), count rows
    per partition (tiny driver collect), and add the partition prefix offsets
    to a per-partition row_number — the global rank, independent of the
    sampled range boundaries.  The sort runs on a KEYS-ONLY projection
    (measured: a content-carrying sorted persist anti-scales badly with
    thread count).

    ``check_unique`` enforces the reference's uniqueKey contract
    (schema.xml:224): duplicate key tuples would silently multiply rows at
    the join-back, so they raise IndexSpecError.  The check rides the
    existing per-partition count job (equal keys land in the same range
    partition, so per-partition distinct counts sum to the global one).

    With ``persist`` the (small) ids frame is cached and eagerly
    materialized so the sorted projection can be released immediately;
    callers that consume the result exactly once can pass persist=False.
    """
    keys_l = list(keys)
    slim = df.select(*keys_l)
    sorted_df = slim.orderBy(*keys_l).withColumn("_pid", F.spark_partition_id())
    sorted_df = sorted_df.persist(StorageLevel.MEMORY_AND_DISK)
    aggs = [F.count("*").alias("cnt")]
    if check_unique:
        aggs += [
            F.count_distinct(*keys_l).alias("dcnt"),
            _null_key_count(keys_l).alias("nulls"),
        ]
    # the sorted projection is released on every exit, failures included
    try:
        rows = sorted_df.groupBy("_pid").agg(*aggs).collect()
        counts = {r["_pid"]: r["cnt"] for r in rows}
        if check_unique:
            # count_distinct skips tuples holding a NULL, so null-key rows
            # would otherwise be reported as duplicates
            _check_null_keys(sum(r["nulls"] for r in rows), keys_l)
            dups = sum(r["cnt"] - r["dcnt"] - r["nulls"] for r in rows)
            if dups:
                raise IndexSpecError(
                    f"{dups} duplicate rows for key {tuple(keys_l)!r}; the "
                    "key must uniquely identify documents (uniqueKey "
                    "analogue)"
                )
        offsets, acc = {}, 0
        for pid in sorted(counts):
            offsets[pid] = acc
            acc += counts[pid]
        off_df = F.broadcast(
            local_frame(
                df.sparkSession,
                [(pid, off) for pid, off in offsets.items()],
                "_pid int, _offset long",
            )
        )
        w = Window.partitionBy("_pid").orderBy(*keys_l)
        ids = (
            sorted_df.join(off_df, "_pid")
            .withColumn("doc_id", F.row_number().over(w) - 1 + F.col("_offset"))
            .drop("_pid", "_offset")
        )
        if persist:
            ids = ids.persist(StorageLevel.MEMORY_AND_DISK)
            try:
                ids.count()  # materialize: the sorted projection can go
            except BaseException:
                ids.unpersist()
                raise
    finally:
        sorted_df.unpersist()
    return ids, acc


def _is_plain_scan(df: DataFrame) -> bool:
    """True when ``df`` is a bare file-source scan: no filter, projection, or
    join sits between its files and its rows, so reading the files directly
    (``df.inputFiles()``) yields the same row population.  Any plan wrapping
    the scan returns False — a raw file read would bypass its semantics."""
    try:
        plan = df._jdf.queryExecution().optimizedPlan()
        return plan.getClass().getSimpleName() in (
            "LogicalRelation", "DataSourceV2Relation", "DataSourceV2ScanRelation",
        )
    except Exception:
        return False


def check_doc_id_range(ids: DataFrame, col: str = "doc_id") -> None:
    """Fail fast when caller-provided doc ids don't fit the packed (id, dl)
    int64 layout (id << DL_BITS needs id < 2^42).  One cheap min/max agg on
    the pruned id projection — at 100 TB this is a column-statistics scan."""
    row = ids.agg(F.min(col).alias("lo"), F.max(col).alias("hi")).collect()[0]
    lo, hi = row["lo"], row["hi"]
    if lo is None:
        return
    if int(lo) < 0 or int(hi) > MAX_DOC_ID:
        raise IndexSpecError(
            f"doc ids must be in [0, {MAX_DOC_ID}] to fit the packed posting "
            f"layout (got min={lo}, max={hi}); remap hash-derived ids first"
        )


def assign_doc_ids(
    df: DataFrame,
    keys: tuple[str, ...],
    persist: bool = True,
    check_unique: bool = True,
) -> DataFrame:
    """Attach a dense deterministic ``doc_id`` = global sort rank over
    ``keys``.  The ids hash-join back to the full rows WITHOUT sorting the
    payload (hint shuffle_hash so the planner doesn't pick a sort-merge join
    that would re-sort content)."""
    ids, _ = _rank_ids(df, keys, persist=persist, check_unique=check_unique)
    return df.join(ids.hint("shuffle_hash"), list(keys))


@functools.lru_cache(maxsize=None)
def _ddl_json(ddl: str) -> dict:
    # one JVM parse per distinct DDL string, not one per frame; callers get
    # a fresh StructType each (a frame's schema object is mutable)
    return T.StructType.fromDDL(ddl).jsonValue()


def local_frame(
    spark: SparkSession, rows, schema: T.StructType | str
) -> DataFrame:
    """A small driver-rows frame (top-k hits, id lists, facet spines) built
    through Arrow: the plan is a ``LocalRelation``, so collecting or
    broadcasting it runs no Spark job.  ``createDataFrame`` over a Python
    list instead plans a pickled-Python RDD whose every use starts a Python
    worker job.  ``rows`` are tuples in ``schema`` order (bounded: they
    cross py4j in one piece); the frame's schema is ``schema`` exactly,
    nullability included."""
    st = (
        T.StructType.fromJson(_ddl_json(schema))
        if isinstance(schema, str)
        else schema
    )
    arrow = to_arrow_schema(st)
    cols = list(zip(*rows)) or [()] * len(st.fields)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, st)


def _scan_schema(
    written: str | T.StructType, partition: str | None = None
) -> T.StructType:
    """The schema ``spark.read.parquet`` infers for files written as
    ``written`` (a DDL string or a StructType, partitioned by
    ``partition``): every field nullable, no field metadata, the partition
    column last.  Reading with it skips the footer-inference job."""
    if isinstance(written, str):
        written = T.StructType.fromJson(_ddl_json(written))
    fields = [T.StructField(f.name, f.dataType, True) for f in written.fields]
    fields.sort(key=lambda f: f.name == partition)  # stable: partition last
    return T.StructType(fields)


def posting_pairs(postings: DataFrame, block_size: int) -> DataFrame:
    """(term string, doc_id long) rows — one per posting — decoded from the
    ``term, n_docs, doc_ids`` projection of ``postings`` by one
    ``mapInPandas``.  Callers filter the term column first (an equality or
    ``StartsWith`` that reaches the parquet scan), so only the wanted
    terms' row groups are read; tf/dl and positions are never read."""

    def decode(batches):
        for pdf in batches:
            terms: list[np.ndarray] = []
            ids: list[np.ndarray] = []
            for r in pdf.itertuples(index=False):
                n = int(r.n_docs)
                ids.append(decode_doc_ids(r.doc_ids, n, block_size))
                terms.append(np.repeat(r.term, n))
            if ids:
                yield pd.DataFrame(
                    {"term": np.concatenate(terms), "doc_id": np.concatenate(ids)}
                )

    return postings.select("term", "n_docs", "doc_ids").mapInPandas(
        decode, "term string, doc_id long"
    )


_UNSET = object()  # dict_cache sentinel: "not computed yet" vs "too big"


class Footer(NamedTuple):
    """One parquet file of a ``shard=N``-partitioned index table: its path,
    its shard, its parsed footer, and per row group the key column's
    [min, max] (None when the footer has no statistics for it) and the
    uncompressed byte size of each top-level column (a list column sums
    its leaves)."""

    path: str
    shard: int
    meta: pq.FileMetaData
    lo: list
    hi: list
    nbytes: list


#: the key column of each footer-indexed table
_FOOTER_KEYS = {"postings": "term", "docs": "doc_id"}


def _read_footers(root: str, key: str) -> list[Footer]:
    """Footers of every data file under ``root/shard=N/``, skipping
    ``_``/``.``-prefixed names as Spark's file index does."""
    out: list[Footer] = []
    if not os.path.isdir(root):
        return out
    for d in sorted(os.listdir(root)):
        if not d.startswith("shard="):
            continue
        shard = int(d.split("=", 1)[1])
        sub = os.path.join(root, d)
        for name in sorted(os.listdir(sub)):
            path = os.path.join(sub, name)
            if name.startswith(("_", ".")) or not os.path.isfile(path):
                continue
            md = pq.read_metadata(path)
            paths = [md.schema.column(i).path for i in range(md.num_columns)]
            j = paths.index(key)
            lo, hi, nbytes = [], [], []
            for g in range(md.num_row_groups):
                rg = md.row_group(g)
                st = rg.column(j).statistics
                known = st is not None and st.has_min_max
                lo.append(st.min if known else None)
                hi.append(st.max if known else None)
                sizes: dict[str, int] = {}
                for i, p in enumerate(paths):
                    top = p.split(".", 1)[0]
                    size = rg.column(i).total_uncompressed_size
                    sizes[top] = sizes.get(top, 0) + size
                nbytes.append(sizes)
            out.append(Footer(path, shard, md, lo, hi, nbytes))
    return out


class Prefixes(tuple):
    """Key prefixes for :meth:`Index.read_local`: the rows whose key starts
    with any member."""


def _may_hold(keys: list | str | Prefixes | None, lo, hi) -> bool:
    """Whether sorted ``keys`` — or, for a ``str``, the keys starting with
    it; for :class:`Prefixes`, with any member; for None, any key — have a
    member in [lo, hi] (always, when the row group has no statistics)."""
    if lo is None or keys is None:
        return True
    if isinstance(keys, Prefixes):
        return any(_may_hold(p, lo, hi) for p in keys)
    if isinstance(keys, str):
        # the prefixed keys are one range from ``keys`` up; ``lo`` past
        # ``keys`` is below its end only when it carries the prefix itself
        return hi >= keys and (lo <= keys or lo.startswith(keys))
    i = bisect.bisect_left(keys, lo)
    return i < len(keys) and keys[i] <= hi


@dataclass
class Index:
    """Handle to a built index directory (postings/docs/stats/lineage)."""

    path: str
    spec: IndexSpec
    n_docs: int
    avgdl: float
    total_tokens: int = 0
    hot_terms: tuple[str, ...] = ()
    #: per-extra-text-field corpus token totals (spec.text_fields) — the
    #: per-field avgdl numerators eDisMax-style multi-field scoring needs
    field_tokens: dict = field(default_factory=dict)
    postings_dirname: str = "postings"
    dict_dirname: str = "dict"
    ngrams_dirname: str = "dict_ngrams"
    docs_dirname: str = "docs"
    #: live tombstone count (Lucene numDeletedDocs analogue): >0 means the
    #: postings carry DELETED_TERM rows that every query path must exclude;
    #: reset to 0 when compaction folds the deletes away.
    n_deleted: int = 0
    #: JSON of the Spark schema the docs rows were written with (meta
    #: ``docs_schema``); empty for an index written before it was recorded
    docs_schema: str = field(default="", repr=False)

    @classmethod
    def load(cls, path: str) -> "Index":
        meta = read_meta(path)
        st = os.stat(os.path.join(path, "meta.json"))
        spec = IndexSpec(**meta["spec"])
        ix = cls._load_from(path, meta, spec)
        # generation stamp for the per-handle DataFrame caches: if meta.json
        # moves on after this handle was created, a first-use cache fill on
        # the stale handle would mix pre- and post-mutation file listings —
        # _cached_df warns loudly instead of serving that silently (r6,
        # ADVICE item; mutators return fresh handles by contract).
        object.__setattr__(ix, "_meta_stamp", (st.st_mtime_ns, st.st_size))
        return ix

    @classmethod
    def _load_from(cls, path: str, meta: dict, spec: IndexSpec) -> "Index":
        return cls(
            path=path,
            spec=spec,
            n_docs=meta["n_docs"],
            avgdl=meta["avgdl"],
            total_tokens=meta.get("total_tokens", 0),
            hot_terms=tuple(meta.get("hot_terms", ())),
            field_tokens=dict(meta.get("field_tokens", {})),
            postings_dirname=meta.get("postings_dirname", "postings"),
            dict_dirname=meta.get("dict_dirname", "dict"),
            ngrams_dirname=meta.get("ngrams_dirname", "dict_ngrams"),
            docs_dirname=meta.get("docs_dirname", "docs"),
            n_deleted=int(meta.get("n_deleted", 0)),
            docs_schema=meta.get("docs_schema", ""),
        )

    @property
    def has_deletes(self) -> bool:
        return self.n_deleted > 0

    @property
    def postings_path(self) -> str:
        return os.path.join(self.path, self.postings_dirname)

    @property
    def dict_path(self) -> str:
        # meta-pointed generation dir (like postings): compact_index publishes
        # the folded dict as dict.genN + an atomic meta flip, so a crash at
        # any step leaves a complete dict dir — never a partially-renamed one
        return os.path.join(self.path, self.dict_dirname)

    @property
    def ngrams_path(self) -> str:
        # spellcheck candidate index (padded character bigrams per term),
        # meta-pointed like dict; may not exist for pre-ngram indexes
        return os.path.join(self.path, self.ngrams_dirname)

    def _cached_df(self, spark: SparkSession, key: str, builder) -> DataFrame:
        """Per-handle DataFrame cache: ``spark.read.parquet`` costs a
        ~100 ms py4j/file-listing round trip PER CALL, and every component
        call re-read the same dirs — at bench scale that was most of the
        per-query driver floor (profiled: facet_query 1.8 s wall, 0.09 s
        execution).  Safe under the handle's snapshot contract (same as
        dict_cache): every mutator (append/delete/compact/update) returns a
        FRESH ``Index.load`` handle, so a cached plan never needs to see
        files that appear after the handle was created.  The value pins the
        owning SparkSession (identity compare, strong ref — no id-reuse
        hazard); a different session rebuilds."""
        cache = getattr(self, "_df_cache", None)
        if cache is None:
            cache = {}
            object.__setattr__(self, "_df_cache", cache)
        ent = cache.get(key)
        if ent is not None and ent[0] is spark:
            return ent[1]
        self._warn_if_stale()
        df = builder()
        cache[key] = (spark, df)
        return df

    def _warn_if_stale(self) -> None:
        """Warn when meta.json has moved on since this handle was loaded:
        a first-use cache fill now would mix pre- and post-mutation file
        listings."""
        stamp = getattr(self, "_meta_stamp", None)
        if stamp is None:
            return
        try:
            st = os.stat(os.path.join(self.path, "meta.json"))
            moved = (st.st_mtime_ns, st.st_size) != stamp
        except OSError:
            moved = True
        if moved:
            warnings.warn(
                "Index handle is stale: the index meta has changed since"
                " this handle was loaded (append/delete/compact?).  A"
                " first-use cache fill now can mix pre- and post-mutation"
                " file listings — use the handle returned by the mutator"
                " or Index.load a fresh one.",
                RuntimeWarning,
                stacklevel=4,
            )

    def postings(self, spark: SparkSession) -> DataFrame:
        # a 0-doc index (Solr's empty-core analogue) has no postings dir yet
        # — the first append creates it; until then serve a schema-correct
        # empty frame so every query path works unchanged
        if not os.path.exists(self.postings_path):
            return local_frame(spark, [], postings_schema(self.spec))
        return self._cached_df(
            spark, "postings",
            lambda: spark.read.schema(
                _scan_schema(postings_schema(self.spec), "shard")
            ).parquet(self.postings_path),
        )

    @property
    def docs_path(self) -> str:
        # meta-pointed generation dir (like dict/postings): a delete-folding
        # compaction publishes the filtered docs as docs.genN + a meta flip
        return os.path.join(self.path, self.docs_dirname)

    def docs_scan_schema(self) -> T.StructType | None:
        """The schema ``spark.read.parquet`` infers for the docs table, from
        the recorded ``docs_schema`` (None for an index without it)."""
        if not self.docs_schema:
            return None
        written = T.StructType.fromJson(json.loads(self.docs_schema))
        return _scan_schema(written, "shard")

    def docs_reader(self, spark: SparkSession):
        """A reader of docs-table parquet with the recorded schema: no
        footer-inference job (an index without docs_schema falls back to
        inference)."""
        schema = self.docs_scan_schema()
        return spark.read if schema is None else spark.read.schema(schema)

    def docs(self, spark: SparkSession) -> DataFrame:
        p = self.docs_path
        if not os.path.exists(p):
            schema = T.StructType.fromJson(json.loads(self.docs_schema))
            return local_frame(spark, [], schema)
        reader = self.docs_reader(spark)
        return self._cached_df(spark, "docs", lambda: reader.parquet(p))

    def deleted_ids(self, spark: SparkSession) -> DataFrame:
        """Distinct tombstoned doc_ids, decoded from the DELETED_TERM
        postings rows (term-pruned scan — only the tombstone rows' row
        groups are read).  Empty frame when the index has no deletes.
        Docs-table-shaped consumers (match-all, realtime get) anti-join
        this; postings kernels instead decode the same rows in-shard via
        ``denied_ids`` (no extra job).  The decode is the shared
        :func:`posting_pairs` decoder."""
        if not self.has_deletes:
            return local_frame(spark, [], "doc_id long")
        tomb = self.postings(spark).filter(F.col("term") == DELETED_TERM)
        return (
            posting_pairs(tomb, self.spec.block_size)
            .select("doc_id")
            .distinct()
        )

    def lineage(self, spark: SparkSession) -> DataFrame:
        # read with the declared schema: no footer-inference job
        p = os.path.join(self.path, "lineage")
        if not os.path.exists(p):
            return local_frame(spark, [], LINEAGE_SCHEMA)
        return spark.read.schema(_scan_schema(LINEAGE_SCHEMA)).parquet(p)

    #: largest RAW dict row count (pre-fold, summed from the parquet
    #: footers) that term_dfs will cache driver-side: ~10^6 (term, df)
    #: entries is tens of MB of driver heap; a 10^9-term vocabulary stays
    #: distributed.
    DICT_CACHE_MAX_ROWS = 1_000_000

    def dict_cache(self, spark: SparkSession) -> dict[str, int] | None:
        """Driver-side {term: df} of the folded dictionary, or None for a
        pre-dict index or when the raw segment rows exceed
        DICT_CACHE_MAX_ROWS (term_dfs then takes the distributed
        ``term_dict`` path).

        Runs no Spark job: the dict segment files are listed (skipping
        ``_``/``.``-prefixed names, as Spark's file index does), their row
        counts come from the parquet footers, and pyarrow folds
        ``group_by("term").sum("df")`` on the driver — the same sum-per-term
        view as :meth:`term_dict`.

        The cache lives on THIS handle and is consistent with the handle's
        snapshot semantics: appends return a fresh Index (append_documents'
        contract), so a reloaded handle re-reads the grown dict.  Saves one
        Spark job per query (the df-lookup scan) — at bench scale that is
        the visible floor of per-query latency."""
        cached = getattr(self, "_dict_cache", _UNSET)
        if cached is not _UNSET:
            return cached
        result: dict[str, int] | None = None
        p = self.dict_path
        if os.path.exists(p):
            files = [
                pq.ParquetFile(os.path.join(p, name))
                for name in sorted(os.listdir(p))
                if not name.startswith(("_", "."))
                and os.path.isfile(os.path.join(p, name))
            ]
            n_raw = sum(f.metadata.num_rows for f in files)
            if n_raw <= self.DICT_CACHE_MAX_ROWS:
                result = {}
                if files:
                    folded = (
                        pa.concat_tables(
                            f.read(columns=["term", "df"]) for f in files
                        )
                        .group_by("term")
                        .aggregate([("df", "sum")])
                    )
                    result = dict(
                        zip(
                            folded["term"].to_pylist(),
                            folded["df_sum"].to_pylist(),
                        )
                    )
        object.__setattr__(self, "_dict_cache", result)
        return result

    #: largest estimated read that :meth:`read_local` serves on the driver:
    #: the uncompressed bytes of the projected columns in the candidate row
    #: groups (a column it does not read is not charged, so a one-column
    #: ``doc_id`` read of the docs table costs its ids, not the stored
    #: fields).  The read lands in the driver's Python process: Arrow
    #: buffers (~1x the estimate), the pandas bytes objects the kernels take
    #: (~1x) and the decoded id/tf/dl arrays (varints widen to int64, up to
    #: ~8x) — about 10x the estimate at peak, so 32 MiB keeps one request
    #: under ~320 MiB, a third of the smallest (1 GiB) driver heap the
    #: harnesses size from the host.  One Python thread decodes the whole
    #: read, where the distributed tier spreads the shards over the
    #: executors, so the cap also bounds the serial decode one request may
    #: put on the driver.
    LOCAL_SCAN_MAX_BYTES = 32 << 20

    #: largest batch ``append_documents`` writes on the driver
    #: (indexing/local_write.py), in UTF-8 bytes of content and text
    #: fields; 0 turns the driver write tier off, for deletes too.  The
    #: driver tokenizes on one core, so the cap bounds driver CPU, not
    #: memory: it sits just under the measured break-even against the
    #: Spark writer.
    #: Appends of perfbench-shaped files (4 shards, positions, a keyword and
    #: a text field) on a 4-core host, ``local[4]``, medians of 3 warm
    #: calls: 200 files (0.55 MB) driver 0.70 s / Spark 2.13 s, 800 files
    #: (2.2 MB) 1.69 s / 2.49 s, 3200 files (8.7 MB) 5.95 s / 4.37 s — the
    #: driver ~0.66 s/MB, the Spark writer ~2 s + 0.29 s/MB, even at
    #: ~4.4 MB.  More cores lower the Spark writer's per-MB cost, and so the
    #: break-even.  A delete of driver-held ids has no break-even and no
    #: cap: the ids are on the driver already, and the Spark writer must
    #: first ship them into a frame.  Tombstone writes on the same host and
    #: index, medians of 3 warm calls, driver / Spark: 1k ids 0.014 s /
    #: 0.65 s, 100k ids 0.12 s / 1.11 s, 1M ids 1.25 s / 5.82 s.
    LOCAL_WRITE_MAX_BYTES = 4 << 20

    def footers(self, table: str) -> list[Footer]:
        """The footer index of ``table`` (``"postings"``, keyed by term, or
        ``"docs"``, keyed by doc_id): every data file's shard and, per row
        group, the key's [min, max] and byte size.  Built once per handle
        from the parquet footers with pyarrow — no Spark job — and cached
        under the same snapshot rule (and stale-handle warning) as
        :meth:`_cached_df`."""
        cache = getattr(self, "_footers", None)
        if cache is None:
            cache = {}
            object.__setattr__(self, "_footers", cache)
        if table not in cache:
            self._warn_if_stale()
            root = {"postings": self.postings_path, "docs": self.docs_path}
            cache[table] = _read_footers(root[table], _FOOTER_KEYS[table])
        return cache[table]

    def read_local(
        self,
        table: str,
        keys,
        columns: list[str],
        shards: set[int] | None = None,
    ) -> dict[int, pa.Table] | None:
        """The rows of ``table`` whose key is in ``keys`` — or, when
        ``keys`` is one ``str`` or :class:`Prefixes`, whose key starts with
        one of them (term prefixes); every row when ``keys`` is None — read
        on the driver with pyarrow as ``{shard: Arrow table of columns}``,
        or None when the estimate is not under LOCAL_SCAN_MAX_BYTES (the
        caller then runs its distributed plan).

        The estimate is the uncompressed bytes of ``columns`` in the row
        groups (of the ``shards`` dirs; every shard when None) whose key
        [min, max] can hold a wanted key, from :meth:`footers` — the other
        columns are never read, so they are never charged; the read is
        exactly those row groups, then an exact key-membership (or
        ``starts_with``) row filter.  ``columns`` must name the key and may
        name the ``shard`` partition column, filled in from the file's
        dir."""
        key = _FOOTER_KEYS[table]
        if isinstance(keys, str):
            keys = Prefixes([keys])
        elif keys is not None and not isinstance(keys, Prefixes):
            keys = sorted(set(keys))
        data_cols = [c for c in columns if c != "shard"]
        picks: list[tuple[Footer, list[int]]] = []
        total = 0
        for f in self.footers(table):
            if shards is not None and f.shard not in shards:
                continue
            rgs = [
                g for g in range(len(f.nbytes))
                if _may_hold(keys, f.lo[g], f.hi[g])
            ]
            if rgs:
                picks.append((f, rgs))
                total += sum(
                    f.nbytes[g].get(c, 0) for g in rgs for c in data_cols
                )
        if total >= self.LOCAL_SCAN_MAX_BYTES:
            return None
        parts: dict[int, list[pa.Table]] = {}
        for f, rgs in picks:
            with pq.ParquetFile(f.path, metadata=f.meta) as pf:
                t = pf.read_row_groups(rgs, columns=data_cols)
            if isinstance(keys, Prefixes):
                hit = [pc.starts_with(t[key], pattern=p) for p in keys]
                t = t.filter(functools.reduce(pc.or_, hit))
            elif keys is not None:
                wanted = pa.array(keys, t.schema.field(key).type)
                t = t.filter(pc.is_in(t[key], value_set=wanted))
            if "shard" in columns:
                t = t.add_column(
                    columns.index("shard"), "shard",
                    pa.array(np.full(len(t), f.shard, dtype=np.int32)),
                )
            parts.setdefault(f.shard, []).append(t)
        # segments may differ in a column's nullability (build vs append)
        return {
            s: pa.concat_tables(ts, promote_options="default")
            for s, ts in parts.items()
        }

    def term_dict(self, spark: SparkSession) -> DataFrame | None:
        """Global term -> df dictionary (None for pre-dict indexes).

        The dict table is SEGMENTED: the build writes one (term, df) rowset
        and every append adds another (O(batch) appends — see
        indexing/append.py).  This folds segments into the global view with a
        sum-per-term aggregate; a term-equality filter on the result pushes
        below the aggregate to the parquet scan (term-sorted files ->
        row-group pruning), so query-side df lookups stay tiny.
        ``compact_index`` physically merges segments back to one."""
        p = self.dict_path
        if not os.path.exists(p):
            return None
        return self._cached_df(
            spark, "term_dict",
            lambda: (
                spark.read.schema(_scan_schema(DICT_SCHEMA))
                .parquet(p)
                .groupBy("term")
                .agg(F.sum("df").alias("df"))
            ),
        )


def _assembler(spec: IndexSpec, hot_terms: list[str] | tuple[str, ...] = ()):
    """mapInPandas posting assembler over a partition sorted by
    (shard, term-hash, salt, doc_id).  Input rows are the packed
    (packed, term, tf) triples; shard and salt are recomputed here with the
    same arithmetic as :func:`_shard_salt_exprs` (the shuffle does not carry
    them).  Groups may span Arrow batches, so the tail
    group of each batch is carried into the next — the streaming analogue of
    the reference's flush-on-500-docs micro-batching (SolrWriter.java:101-122).

    Emits per-block pruning metadata as raw (max_tf, min_dl) ints — the BM25
    tf-norm is monotone increasing in tf and decreasing in dl, so
    tf_norm(max_tf, min_dl) bounds every posting in the block for ANY avgdl.
    Storing the raw pair instead of a precomputed norm keeps block metadata
    valid when incremental appends shift the corpus avgdl.  Per-block byte
    offsets + block-local delta restarts let the query side decode only
    surviving blocks (Block-Max WAND, Ding & Suel SIGIR 2011).
    """
    block = spec.block_size
    positions = spec.positions

    cols = [
        "shard", "term", "salt", "n_docs", "sum_tf", "doc_ids", "tfs", "dls",
        "block_max_tf", "block_min_dl", "block_last_id",
        "boffs_ids", "boffs_tfs", "boffs_dls",
        "n_blocks", "n_bytes",
    ]
    if positions:
        cols += ["pos", "boffs_pos"]

    num_shards, salt_buckets = spec.num_shards, spec.salt_buckets
    hot_set = frozenset(hot_terms)

    def emit(pdf: pd.DataFrame) -> pd.DataFrame:
        """Batch-vectorized group assembly: ONE global varint encode per
        column, split into per-group byte slices via the per-value byte
        counts; block metadata via reduceat on global block starts.
        The only per-group Python is bytes slicing."""
        n = len(pdf)
        term = pdf["term"].to_numpy()
        packed = pdf["packed"].to_numpy(dtype=np.int64)
        ids = packed >> DL_BITS
        dls = packed & DL_MASK
        shard = (ids % num_shards).astype(np.int32)
        tfs = pdf["tf"].to_numpy(dtype=np.int64)
        if hot_set:
            hot_mask = pdf["term"].isin(hot_set).to_numpy()
            salt = np.where(
                hot_mask, (ids // num_shards) % salt_buckets, 0
            ).astype(np.int32)
        else:
            salt = np.zeros(n, dtype=np.int32)

        change = np.empty(n, dtype=bool)
        change[0] = True
        change[1:] = (
            (term[1:] != term[:-1])
            | (salt[1:] != salt[:-1])
            | (shard[1:] != shard[:-1])
        )
        starts = np.flatnonzero(change)
        sizes = np.diff(np.append(starts, n))
        n_groups = len(starts)

        # global block starts: every `block` postings within each group
        pos_in_group = np.arange(n) - np.repeat(starts, sizes)
        bstarts = np.flatnonzero(pos_in_group % block == 0)
        nblocks = -(-sizes // block)
        boff = np.zeros(n_groups + 1, dtype=np.int64)
        np.cumsum(nblocks, out=boff[1:])

        # delta-encode doc ids; the chain restarts (absolute) at EVERY block
        # start so blocks decode independently
        deltas = np.empty(n, dtype=np.int64)
        deltas[0] = ids[0]
        np.subtract(ids[1:], ids[:-1], out=deltas[1:])
        if n > 1:
            inner = deltas[1:][~change[1:]]
            if inner.size and inner.min() <= 0:
                raise ValueError("doc_ids not strictly increasing within group")
        deltas[bstarts] = ids[bstarts]
        ids_b, nb_ids = encode_varint_counts(deltas.astype(np.uint64))
        tfs_b, nb_tfs = encode_varint_counts(tfs.astype(np.uint64))
        dls_b, nb_dls = encode_varint_counts(dls.astype(np.uint64))
        off_ids = np.zeros(n_groups + 1, dtype=np.int64)
        off_tfs = np.zeros(n_groups + 1, dtype=np.int64)
        off_dls = np.zeros(n_groups + 1, dtype=np.int64)
        np.cumsum(np.add.reduceat(nb_ids, starts), out=off_ids[1:])
        np.cumsum(np.add.reduceat(nb_tfs, starts), out=off_tfs[1:])
        np.cumsum(np.add.reduceat(nb_dls, starts), out=off_dls[1:])

        # per-block byte offsets RELATIVE to the group's buffer start
        def block_offs(nb: np.ndarray, group_off: np.ndarray) -> list:
            pre = np.zeros(n + 1, dtype=np.int64)
            np.cumsum(nb, out=pre[1:])
            rel = pre[bstarts] - np.repeat(group_off[:-1], nblocks)
            return [rel[boff[i]: boff[i + 1]].tolist() for i in range(n_groups)]

        # per-block pruning metadata: raw max tf / min dl (avgdl-independent)
        # + the block's LAST doc id (blocks partition the group's id range, so
        # the query kernel locates accumulated docs per block by searchsorted
        # and skips blocks holding none — without any decode)
        bmax_tf = np.maximum.reduceat(tfs, bstarts)
        bmin_dl = np.minimum.reduceat(dls, bstarts)
        bends = np.append(bstarts[1:], n) - 1
        blast = ids[bends]

        extra: dict[str, list | np.ndarray] = {}
        if positions:
            # position blobs arrive map-side-encoded (self-contained delta
            # chain per posting), so group assembly is pure byte
            # concatenation: one join + per-group/per-block offset slicing —
            # never a varint decode on the build path.
            pos_col = pdf["pos"]
            nb_pos = np.fromiter(
                (len(x) for x in pos_col), dtype=np.int64, count=n
            )
            pos_buf = memoryview(b"".join(pos_col))
            off_pos = np.zeros(n_groups + 1, dtype=np.int64)
            np.cumsum(np.add.reduceat(nb_pos, starts), out=off_pos[1:])
            extra["pos"] = [
                bytes(pos_buf[off_pos[i]: off_pos[i + 1]])
                for i in range(n_groups)
            ]
            extra["boffs_pos"] = block_offs(nb_pos, off_pos)

        return pd.DataFrame(
            {
                "shard": shard[starts],
                "term": term[starts],
                "salt": salt[starts],
                "n_docs": sizes.astype(np.int64),
                # per-row Σtf: lets corpus stats (total tokens -> avgdl) and
                # the dict table be derived from the compressed read-back —
                # no separate stats pass over the raw corpus
                "sum_tf": np.add.reduceat(tfs, starts).astype(np.int64),
                "doc_ids": [
                    ids_b[off_ids[i]: off_ids[i + 1]] for i in range(n_groups)
                ],
                "tfs": [tfs_b[off_tfs[i]: off_tfs[i + 1]] for i in range(n_groups)],
                "dls": [dls_b[off_dls[i]: off_dls[i + 1]] for i in range(n_groups)],
                "block_max_tf": [
                    bmax_tf[boff[i]: boff[i + 1]].astype(np.int32).tolist()
                    for i in range(n_groups)
                ],
                "block_min_dl": [
                    bmin_dl[boff[i]: boff[i + 1]].astype(np.int32).tolist()
                    for i in range(n_groups)
                ],
                "block_last_id": [
                    blast[boff[i]: boff[i + 1]].tolist() for i in range(n_groups)
                ],
                "boffs_ids": block_offs(nb_ids, off_ids),
                "boffs_tfs": block_offs(nb_tfs, off_tfs),
                "boffs_dls": block_offs(nb_dls, off_dls),
                "n_blocks": nblocks.astype(np.int32),
                "n_bytes": (
                    np.diff(off_ids) + np.diff(off_tfs) + np.diff(off_dls)
                ).astype(np.int64),
                **extra,
            },
            columns=cols,
        )

    def tail_group_mask(pdf: pd.DataFrame) -> np.ndarray:
        """Rows belonging to the final row's (term, shard, salt) group."""
        last_term = pdf["term"].iloc[-1]
        packed = pdf["packed"].to_numpy(dtype=np.int64)
        ids = packed >> DL_BITS
        l_id = int(ids[-1])
        same_term = (pdf["term"] == last_term).to_numpy()
        same_shard = (ids % num_shards) == (l_id % num_shards)
        if last_term in hot_set:
            same_salt = ((ids // num_shards) % salt_buckets) == (
                (l_id // num_shards) % salt_buckets
            )
        else:
            same_salt = np.ones(len(pdf), dtype=bool)
        return same_term & same_shard & same_salt

    def assemble(iterator):
        carry: pd.DataFrame | None = None
        for pdf in iterator:
            if carry is not None and len(carry):
                pdf = pd.concat([carry, pdf], ignore_index=True)
            if not len(pdf):
                continue
            # hold back the final (possibly incomplete) group
            tail_mask = tail_group_mask(pdf)
            # tail group start = first index from the end where mask is contiguous
            rev = tail_mask[::-1]
            tail_len = int(np.argmin(rev)) if not rev.all() else len(rev)
            cut = len(pdf) - tail_len
            carry = pdf.iloc[cut:]
            head = pdf.iloc[:cut]
            if len(head):
                yield emit(head)
        if carry is not None and len(carry):
            yield emit(carry)

    return assemble


def keyword_term(field: str, value: F.Column | str) -> F.Column:
    """The index term for an exact (untokenized) keyword field value:
    ``field:value`` — StrField analogue (schema.xml:288), case-preserving."""
    v = F.lit(value) if isinstance(value, str) else value
    return F.concat(F.lit(field + KW_SEP), v)


def _keyword_tf_rows(
    based: DataFrame, spec: IndexSpec, positions: bool
) -> DataFrame | None:
    """(packed(doc_id, dl=1), term='field:value', tf=1) rows for every
    keyword field value.  Multi-valued fields explode (SolrWriter.java:67-71
    tuple-explode analogue); nulls are skipped (SolrWriter.java:65-66
    null-skip).  Pure Catalyst — no Python in this path.  Twin: the keyword
    loop of ``local_write.append_segment`` (a format change edits both)."""
    if not spec.keyword_fields:
        return None
    schema = {f.name: f.dataType for f in based.schema.fields}
    parts: list[DataFrame] = []
    for field in spec.keyword_fields:
        dt = schema[field]
        if isinstance(dt, T.ArrayType):
            vals = F.explode(F.array_distinct(F.col(field))).alias("_kw")
        else:
            vals = F.col(field).cast("string").alias("_kw")
        part = based.select("doc_id", vals).filter(F.col("_kw").isNotNull())
        # keyword terms are positionless (StrField — no token stream); in a
        # positional index they ride with an empty blob, which phrase paths
        # never decode (phrases are content-term only).
        pos_cols = [F.lit(b"").cast("binary").alias("pos")] if positions else []
        parts.append(
            part.select(
                (
                    F.shiftleft(F.col("doc_id"), DL_BITS) + F.lit(1)
                ).alias("packed"),
                keyword_term(field, F.col("_kw")).alias("term"),
                F.lit(1).cast("int").alias("tf"),
                *pos_cols,
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _term_in(terms: list[str]) -> F.Column:
    """``term IN (terms)`` as ONE parsed expression: ``Column.isin`` costs
    about two py4j calls per value (hundreds of ms for a few hundred hot
    terms, on every segment write).  Each value is a hex UTF-8 literal,
    ``decode(X'..', 'UTF-8')``, so quotes, backslashes and non-ASCII text
    need no escaping and the meaning does not depend on
    ``spark.sql.parser.escapedStringLiterals``; the literals constant-fold,
    so a long list still becomes Catalyst's INSET."""
    values = ", ".join(
        f"decode(X'{t.encode('utf-8').hex()}', 'UTF-8')" for t in terms
    )
    return F.expr(f"term IN ({values})")


def _shard_salt_exprs(
    hot_terms: list[str], spec: IndexSpec
) -> tuple[F.Column, F.Column | None]:
    """Shard / salt as EXPRESSIONS over (packed, term) — the shuffle never
    carries them as columns, and the hot set rides the plan as a literal IN
    list (bounded: df > ratio·N terms) instead of a broadcast join.  Hot
    terms get a doc-derived salt so no single reducer owns a full hot
    posting list; cold terms keep salt 0.  With no hot terms the salt is
    constant — None tells callers to drop it from the shuffle/sort keys
    (a bare literal would be read as an ORDER BY ordinal)."""
    doc_id = F.shiftright(F.col("packed"), DL_BITS)
    shard = F.pmod(doc_id, F.lit(spec.num_shards)).cast("int")
    if not hot_terms:
        return shard, None
    salt = F.when(
        _term_in(hot_terms),
        F.pmod(
            (doc_id / spec.num_shards).cast("long"),
            F.lit(spec.salt_buckets),
        ).cast("int"),
    ).otherwise(F.lit(0))
    return shard, salt



def _murmur3_int(value: int, seed: int = 42) -> int:
    """Spark's Murmur3_x86_32.hashInt for a 4-byte int, signed result —
    the hash HashPartitioning applies to an int repartition key (seed 42).
    Pinned against F.hash by tests/test_r06_optimizations.py."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    k1 = (value & 0xFFFFFFFF) * c1 & 0xFFFFFFFF
    k1 = ((k1 << 15) | (k1 >> 17)) & 0xFFFFFFFF
    k1 = k1 * c2 & 0xFFFFFFFF
    h1 = seed ^ k1
    h1 = ((h1 << 13) | (h1 >> 19)) & 0xFFFFFFFF
    h1 = (h1 * 5 + 0xE6546B64) & 0xFFFFFFFF
    h1 ^= 4  # total bytes hashed
    h1 ^= h1 >> 16
    h1 = h1 * 0x85EBCA6B & 0xFFFFFFFF
    h1 ^= h1 >> 13
    h1 = h1 * 0xC2B2AE35 & 0xFFFFFFFF
    h1 ^= h1 >> 16
    return h1 - (1 << 32) if h1 >= (1 << 31) else h1


_SHARD_PREIMAGES: dict[int, list[int]] = {}

#: above this shard count the preimage array literal would bloat the plan;
#: fall back to the plain shard key (per-partition loads are small there).
_BALANCED_KEY_MAX_SHARDS = 4096


def _balanced_shard_key(shard_e: F.Column, num_shards: int) -> F.Column:
    """Partition-key expression that lands each shard on its OWN partition
    of a ``num_shards``-way HashPartitioning.

    ``repartition(n, shard)`` hashes the shard VALUE — with only n distinct
    values the hash collides badly (guide §2.5 "too few distinct keys":
    measured 18 of 32 partitions non-empty, one task owning 3 shards, a
    straggler tail that cost ~20% of the 4N-level build).  Mapping shard s
    to a precomputed murmur3 PREIMAGE of partition s makes the assignment a
    bijection; the mapping is pure integer arithmetic, deterministic, and
    cached per shard count."""
    if num_shards <= 1 or num_shards > _BALANCED_KEY_MAX_SHARDS:
        return shard_e
    pre = _SHARD_PREIMAGES.get(num_shards)
    if pre is None:
        need: dict[int, int] = {}
        x = 0
        while len(need) < num_shards:
            need.setdefault(_murmur3_int(x) % num_shards, x)
            x += 1
        pre = [need[i] for i in range(num_shards)]
        _SHARD_PREIMAGES[num_shards] = pre
    return F.element_at(
        F.array(*[F.lit(int(v)) for v in pre]), shard_e.cast("int") + 1
    )


def _dict_write_parts(spark: SparkSession, spec: IndexSpec) -> int:
    """Partition count for the dict / ngram segment writes: one file per ~4
    shards at scale (bounds file counts), FLOORED at the session parallelism
    (capped at 8) so a low-shard-count index never funnels its vocabulary
    sort+write through one task (r6b: the single-shard bench index spent
    ~2 s in 1-task dict/ngram writes; gram/term row-group pruning works
    per file, so a handful of files costs queries nothing)."""
    floor = min(8, spark.sparkContext.defaultParallelism)
    return max(1, spec.num_shards // 4, floor)


def _sort_width(spark: SparkSession, spec: IndexSpec) -> int:
    """Sort width of a full-corpus postings pass (build, compact): the
    session's shuffle width, and at least one partition per shard."""
    shuffle_parts = int(
        spark.conf.get("spark.sql.shuffle.partitions", "32") or "32"
    )
    return max(spec.num_shards, shuffle_parts)


def _write_postings(
    tf_long: DataFrame,
    spec: IndexSpec,
    hot_terms: list[str],
    path: str,
    width: int,
    persist: bool = False,
    observe: str | None = None,
):
    """The one segment writer: (packed, term, tf[, pos]) rows -> compressed
    posting rows, appended as one term-sorted file per shard under
    ``path/shard=N``.  Build, append, delete (tombstone rows) and compact
    (into a fresh generation dir) all write here.

    The assembler needs term CLUSTERING + ascending doc_id, not alphabetic
    order — sorting by the term's 64-bit hash replaces string comparisons
    with long comparisons (a hash collision merely splits a posting list
    into two rows; the query kernels merge multi-row terms anyway).  Shard
    and salt ride the plan as expressions over (packed, term), so the
    shuffled rows stay narrow.  The final local (shard, term, salt) sort
    restores alphabetic file order for row-group pruning of the query-side
    term IN (...) filter; its leading "shard" satisfies FileFormatWriter's
    required partition-column ordering (else it inserts its own non-stable
    sort, destroying the term ordering).

    ``width`` is the sort width.  At ``width <= num_shards`` ONE exchange
    keyed by shard alone (balanced) gives every partition exactly one shard
    with full (term, salt) clustering, so the assembled rows are written
    straight through, one file per shard (append/delete micro-batches pass
    num_shards; a build at num_shards >= the shuffle width lands here too).
    Otherwise the tf rows sort wide on (shard, term, salt) for parallelism
    and a second, cheap exchange of the COMPRESSED rows places each shard on
    its own partition — the segment merge, the analogue of the reference's
    optimize(maxSegments) at close (core/SolrWriter.java:112).

    ``persist`` caches the assembled rows (append derives its lineage delta
    and dict segment from them); ``observe`` names an Observation of the
    written rows' token stats (:func:`_observe_tokens`).  Returns the
    assembled rows and that Observation (None without ``observe``).  Twin:
    ``local_write._assemble`` sorts and assembles in-process (a change to
    the layout edits both)."""
    shard_e, salt_e = _shard_salt_exprs(hot_terms, spec)
    salt_keys = [salt_e] if salt_e is not None else []
    single = width <= spec.num_shards
    if single:
        arranged = tf_long.repartition(
            spec.num_shards, _balanced_shard_key(shard_e, spec.num_shards)
        )
    else:
        arranged = tf_long.repartition(width, shard_e, F.col("term"), *salt_keys)
    rows = arranged.sortWithinPartitions(
        shard_e, F.xxhash64("term"), *salt_keys, F.col("packed")
    ).mapInPandas(_assembler(spec, hot_terms), postings_schema(spec))
    if not single:
        rows = rows.repartition(
            spec.num_shards,
            _balanced_shard_key(F.col("shard"), spec.num_shards),
        )
    if persist:
        rows = rows.persist(StorageLevel.MEMORY_AND_DISK)
    written, obs = rows, None
    if observe is not None:
        written, obs = _observe_tokens(rows, spec, observe, "sum_tf")
    try:
        (
            written.sortWithinPartitions("shard", "term", "salt")
            .write.mode("append")
            .partitionBy("shard")
            .parquet(path)
        )
    except BaseException:
        if persist:
            rows.unpersist()
        raise
    return rows, obs


def _observe_tokens(df: DataFrame, spec: IndexSpec, name: str, col: str):
    """Corpus token stats as an Observation over ``df``'s (term, ``col``)
    rows: ``content_tokens`` (analyzed terms; keyword and text-field terms
    are namespaced with ':') and ``ftok_<i>`` per extra text field (field
    names are disjoint from keyword fields by spec validation, so the prefix
    match is unambiguous).  The metrics ride the action that consumes the
    returned frame — zero extra jobs.  Returns (observed frame, Observation);
    :func:`_set_token_stats` folds ``obs.get`` into meta.  Twin:
    ``local_write._token_stats`` (a change to these metrics edits both)."""
    from pyspark.sql import Observation

    obs = Observation(name)
    observed = df.observe(
        obs,
        F.sum(F.when(~F.col("term").contains(KW_SEP), F.col(col))).alias(
            "content_tokens"
        ),
        *[
            F.sum(F.when(F.col("term").startswith(f + KW_SEP), F.col(col))).alias(
                f"ftok_{i}"
            )
            for i, f in enumerate(spec.text_fields)
        ],
    )
    return observed, obs


def _set_token_stats(
    meta: dict, spec: IndexSpec, metrics: dict, add: bool = False
) -> None:
    """Write ``total_tokens``, ``avgdl`` and ``field_tokens`` into ``meta``
    from :func:`_observe_tokens` metrics — replacing them (build, compact)
    or, with ``add``, adding a segment's deltas (append).  avgdl divides by
    ``meta["n_docs"]``, so callers set N first.  Per-field avgdl = total /
    n_docs: absent fields count as length 0, exact for dense fields — a
    documented deviation from Lucene's docCount(field) denominator for
    sparse ones."""
    total = int(meta.get("total_tokens", 0)) if add else 0
    meta["total_tokens"] = total + int(metrics["content_tokens"] or 0)
    meta["avgdl"] = (
        meta["total_tokens"] / meta["n_docs"] if meta["n_docs"] else 0.0
    )
    ftok = dict(meta.get("field_tokens", {})) if add else {}
    for i, f in enumerate(spec.text_fields):
        ftok[f] = int(ftok.get(f, 0)) + int(metrics[f"ftok_{i}"] or 0)
    meta["field_tokens"] = ftok


def _docs_cols(spec: IndexSpec) -> list[F.Column]:
    """The stored-docs columns over doc_id-carrying rows: doc_id, stored
    fields, the content's sha256 (round-trip check) and the shard."""
    return [
        F.col("doc_id"),
        *[F.col(f) for f in spec.stored_fields],
        F.sha2(F.col(spec.content_field), 256).alias("sha256"),
        F.pmod(F.col("doc_id"), F.lit(spec.num_shards)).cast("int").alias("shard"),
    ]


def _docs_rows(based: DataFrame, spec: IndexSpec) -> DataFrame:
    """The stored-docs projection (:func:`_docs_cols`)."""
    return based.select(*_docs_cols(spec))


def _write_docs(docs: DataFrame, spec: IndexSpec, path: str, mode: str) -> None:
    """Docs rows -> one doc_id-sorted file per shard under ``path/shard=N``."""
    (
        docs.repartition(spec.num_shards, "shard")
        .sortWithinPartitions("shard", "doc_id")
        .write.mode(mode)
        .partitionBy("shard")
        .parquet(path)
    )


def _write_sorted(
    df: DataFrame, key: str, path: str, parts: int | None = None,
    mode: str = "overwrite",
) -> None:
    """A dict (key "term") or ngram (key "gram") segment: key-sorted files
    so the query-side key IN (...) filter row-group-prunes; ``parts``
    repartitions by the key first (None keeps the input partitioning)."""
    if parts is not None:
        df = df.repartition(parts, key)
    df.sortWithinPartitions(key).write.mode(mode).parquet(path)


def term_ngram_rows(terms: DataFrame) -> DataFrame:
    """(gram, term) rows: DISTINCT padded character bigrams of '^'+term+'$'
    per CONTENT term — the spellcheck candidate index (the classic n-gram
    upgrade over a full-dictionary edit-distance scan; Solr's equivalent
    structure is the spellcheck component's n-gram field).

    Why padded bigrams: a term within edit distance d of query q shares at
    least ``(len(q)+1) - 2d - dup(q)`` distinct grams with q (each edit
    destroys at most 2 bigrams of the padded string; dup(q) = q's duplicate
    gram count), so filtering candidates by shared-gram count with that
    threshold NEVER drops a true suggestion — suggest_terms falls back to
    the full scan when the threshold would be < 1 (very short queries).
    Twin: ``local_write._ngram_rows`` (a format change edits both)."""
    padded = F.concat(F.lit("^"), F.col("term"), F.lit("$"))
    grams = F.array_distinct(
        F.expr(
            "transform(sequence(1, length(_padded) - 1),"
            " i -> substring(_padded, i, 2))"
        )
    )
    return (
        terms.filter(~F.col("term").contains(KW_SEP))
        .withColumn("_padded", padded)
        .select(F.explode(grams).alias("gram"), "term")
    )


def _write_lineage(postings: DataFrame, lineage_path: str, segment: str) -> None:
    """Append one lineage row per shard of the ``postings`` rows (terms,
    postings, bytes, skew_ratio, status) — the resume checkpoint.  The
    ``segment`` tag ("build", "append@N", "compacted"): after appends a
    shard has MULTIPLE lineage rows whose stats (skew_ratio especially) are
    per-segment, not per-shard — consumers aggregate explicitly by
    filtering/grouping on this tag instead of misreading mixed build+append
    rows as per-shard truth.  Twin: ``local_write._lineage_rows`` (a format
    change edits both)."""
    lineage = postings.groupBy("shard").agg(
        F.count("*").alias("terms"),
        F.sum("n_docs").alias("postings"),
        F.sum("n_bytes").alias("bytes"),
        (F.max("n_docs") / F.avg("n_docs")).alias("skew_ratio"),
        F.lit("committed").alias("status"),
        F.lit(segment).alias("segment"),
    )
    lineage.write.mode("append").parquet(lineage_path)


def read_meta(index_dir: str) -> dict:
    """The index's meta.json (N, corpus stats, hot set, generation dirs)."""
    with open(os.path.join(index_dir, "meta.json")) as fh:
        return json.load(fh)


def write_meta(out_dir: str, meta: dict) -> None:
    """Atomic meta.json replace (write tmp + os.replace)."""
    tmp = os.path.join(out_dir, "meta.json.tmp")
    with open(tmp, "w") as fh:
        json.dump(meta, fh)
    os.replace(tmp, os.path.join(out_dir, "meta.json"))


def _next_generation(index_dir: str, dirname: str) -> tuple[str, str]:
    """(name, empty path) of the generation after ``dirname``: ``<base>`` or
    ``<base>.genN`` -> ``<base>.gen{N+1}``.  A leftover of a crashed earlier
    attempt at that name is removed."""
    base, _, gen = dirname.partition(".gen")
    name = f"{base}.gen{int(gen or 0) + 1}"
    path = os.path.join(index_dir, name)
    shutil.rmtree(path, ignore_errors=True)
    return name, path


def _spec_meta(spec: IndexSpec) -> dict:
    return {
        k: (list(v) if isinstance(v, tuple) else v) for k, v in spec.__dict__.items()
    }


def build_index(
    spark: SparkSession,
    source: DataFrame,
    spec: IndexSpec,
    out_dir: str,
    resume: bool = False,
) -> Index:
    """Build (or resume) a sharded compressed inverted index at ``out_dir``."""
    prof = _Prof()
    validate_schema(source.schema, spec)
    os.makedirs(out_dir, exist_ok=True)
    docs_path = os.path.join(out_dir, "docs")
    postings_path = os.path.join(out_dir, "postings")
    lineage_path = os.path.join(out_dir, "lineage")
    meta_path = os.path.join(out_dir, "meta.json")

    # meta.json (written BEFORE the postings job, with the final stats + hot
    # set) is the source of truth for resume: without it, salting decisions
    # could not be reproduced, so any partial state is wiped.
    committed: set[int] = set()
    if not resume or not os.path.exists(meta_path):
        # clean slate: a rebuild into an existing dir must never append onto
        # stale postings (df inflation flips idf negative) — drop everything,
        # including compaction generation dirs (postings.genN / dict.genN).
        for name in os.listdir(out_dir):
            if name.split(".gen")[0] in (
                "postings", "lineage", "dict", "dict_ngrams", "docs"
            ):
                shutil.rmtree(os.path.join(out_dir, name), ignore_errors=True)
        if os.path.exists(meta_path):
            os.remove(meta_path)
    else:
        if os.path.exists(lineage_path):
            committed = {
                r["shard"]
                for r in spark.read.parquet(lineage_path)
                .filter(F.col("status") == "committed")
                .select("shard")
                .collect()
            }
        # reconcile: a crash after a postings task commit but before the
        # lineage write leaves a partial uncommitted shard dir — appending
        # onto it would duplicate rows, so drop it first.
        for s in range(spec.num_shards):
            if s not in committed:
                shutil.rmtree(
                    os.path.join(postings_path, f"shard={s}"), ignore_errors=True
                )
    missing = [s for s in range(spec.num_shards) if s not in committed]

    have_meta = os.path.exists(meta_path)
    have_docs = have_meta and os.path.exists(os.path.join(docs_path, "_SUCCESS"))

    # ---- doc ids: dense deterministic rank (or a caller-provided id) ----
    from cascading_solr_spark.operators.textstats import spread_partitions

    ids_handle: DataFrame | None = None
    n_docs: int | None = None
    if spec.doc_id_field:
        # guide §2.5 input skew (r6b): a small single-file source scans as
        # 1-2 partitions, pinning the WHOLE build — SPIMI tokenize, sha256,
        # keyword/text-field legs — to 1-2 cores (the key_fields path gets
        # its spread for free from the rank join's exchange).  No-op on a
        # properly partitioned source.
        based = spread_partitions(source).withColumn(
            "doc_id", F.col(spec.doc_id_field).cast("long")
        )
        check_doc_id_range(based.select("doc_id"))
    else:
        ids_handle, n_docs = _rank_ids(source, spec.key_fields)
        based = source.join(ids_handle.hint("shuffle_hash"), list(spec.key_fields))
    prof.mark("doc_ids")

    meta: dict = {}
    hot_terms: list[str] = []
    if have_meta:
        meta = read_meta(out_dir)
        n_docs = meta["n_docs"]
        hot_terms = list(meta.get("hot_terms", ()))
    elif n_docs is None:
        # doc_id_field path: parquet sources answer count() from footers
        n_docs = source.count()

    # the docs rows' schema, recorded in meta so Index.docs and the
    # driver-local stored fetch know the table's Spark schema without a
    # footer-inference job
    docs_schema = json.dumps(_docs_rows(based, spec).schema.jsonValue())
    if not n_docs:
        # 0-doc corpus -> a valid EMPTY index (the Solr empty-core
        # analogue): meta only.  The postings/docs/dict dirs are created by
        # the first append; Index serves schema-correct empty frames until
        # then, so every query/facet/spellcheck path works on the empty
        # index unchanged (tests/test_round4.py).
        write_meta(
            out_dir,
            {
                "spec": _spec_meta(spec),
                "n_docs": 0,
                "avgdl": 0.0,
                "total_tokens": 0,
                "field_tokens": {f: 0 for f in spec.text_fields},
                "next_doc_id": 0,
                "hot_terms": [],
                "postings_dirname": "postings",
                "dict_dirname": "dict",
                "ngrams_dirname": "dict_ngrams",
                "docs_schema": docs_schema,
            },
        )
        if ids_handle is not None:
            ids_handle.unpersist()
        return Index.load(out_dir)

    pool = ThreadPoolExecutor(max_workers=3)
    term_stats: DataFrame | None = None
    try:
        # ---- docs table write (concurrent: JVM-side sha256+parquet overlaps
        # the python-worker sample/tokenize stages) ----
        docs_future = None
        if not have_docs:
            docs_future = pool.submit(
                _write_docs, _docs_rows(based, spec), spec, docs_path, "overwrite"
            )

        # ---- hot-term detection on a HEAD SAMPLE (exact when the corpus
        # fits in hot_sample_docs — every test corpus does).  The hot SET
        # only steers shuffle salting, so an estimate suffices, and it avoids
        # a full (term, doc) stats pass at 10^12-file scale.  For a
        # file-backed source the head FILES are read directly (a parallel
        # pruned scan); a GlobalLimit would funnel the head through ONE task
        # — measured 35 s serial at 600k files, a pure serial component that
        # sank scaling efficiency.  The resulting set persists in meta.json
        # so resumes/appends/compactions salt identically even if the head
        # is not representative. ----
        if missing and not have_meta and spec.hot_term_df_ratio >= 1.0:
            # provably-empty hot set: df never exceeds n_sample, so a
            # threshold of ratio*n_sample >= n_sample cannot be crossed —
            # the whole sample tokenize pass would only confirm [] (r6b;
            # ratio >= 1 is the documented "salting off" configuration,
            # e.g. the bench's single-shard trace index)
            prof.mark("hot_detect")
        elif missing and not have_meta:
            frac = min(1.0, spec.hot_sample_docs / max(1, n_docs))
            sampled = source
            n_sample = n_docs
            if frac < 1.0:
                sampled = None
                # head FILES are only representative when the source plan is a
                # bare scan (a filter/projection between files and rows would
                # be bypassed by a raw read), and only a parquet read of them
                # can succeed — any failure falls back to the limit() path.
                try:
                    files = (
                        sorted(source.inputFiles())
                        if _is_plain_scan(source)
                        else []
                    )
                    if files and len(files) > 1:
                        k_files = min(len(files), int(frac * len(files)) + 1)
                        head = spark.read.parquet(*files[:k_files])
                        need = {
                            spec.content_field,
                            *spec.keyword_fields,
                            *spec.text_fields,
                        }
                        if need.issubset(set(head.columns)):
                            n_sample = head.count()  # parquet-footer served
                            sampled = head
                except Exception:
                    sampled = None
                if sampled is None and spec.doc_id_field:
                    # deterministic parallel sample on the caller's doc id
                    # (r6b): every k-th id — a scan-parallel pushed-down
                    # filter, where the GlobalLimit fallback below funnels
                    # the head through ONE task (the round-2 serial-funnel
                    # cost, re-measured on the single-file documents source).
                    # The hot set is an ESTIMATE by contract, so a different
                    # (better-spread) sample is as valid as the head.
                    k_mod = max(2, int(round(1.0 / frac)))
                    cand = source.filter(
                        F.pmod(
                            F.col(spec.doc_id_field).cast("long"),
                            F.lit(k_mod),
                        )
                        == 0
                    )
                    n_sample = cand.select(spec.doc_id_field).count()
                    if n_sample:
                        sampled = cand
                if sampled is None:
                    # non-file source: GlobalLimit funnels rows through ONE
                    # task — respread so the tokenize runs parallel
                    n_sample = spec.hot_sample_docs
                    sampled = source.limit(spec.hot_sample_docs).repartition(
                        spark.sparkContext.defaultParallelism
                    )
            # the sample tokenize pass needs the same input spread as the
            # main pass (a full-corpus or head-files sample inherits the
            # source's 1-2 scan partitions otherwise)
            sampled = spread_partitions(sampled).select(
                F.monotonically_increasing_id().alias("doc_id"),
                F.col(spec.content_field),
                *[F.col(f) for f in spec.keyword_fields],
                *[F.col(f) for f in spec.text_fields],
            )
            # df-estimation only — positions add nothing here, so the sample
            # pass always runs the cheaper positionless kernel
            sample_tf = _tf_rows(sampled, spec, positions=False)
            hot_threshold = max(2.0, spec.hot_term_df_ratio * n_sample)
            hot_terms = sorted(
                r["term"]
                for r in sample_tf.groupBy("term")
                .agg(F.count("*").alias("df"))
                .filter(F.col("df") > hot_threshold)
                .select("term")
                .collect()
            )
            prof.mark("hot_detect")

        # ---- meta v1 (BEFORE the postings job, so a crash mid-postings
        # resumes with identical salting decisions; avgdl/total_tokens are
        # patched from the read-back below) ----
        if not have_meta:
            meta = {
                "spec": _spec_meta(spec),
                "n_docs": n_docs,
                "avgdl": 0.0,
                "total_tokens": 0,
                "next_doc_id": n_docs,
                "hot_terms": hot_terms,
                "postings_dirname": "postings",
                "dict_dirname": "dict",
                "ngrams_dirname": "dict_ngrams",
                "docs_schema": docs_schema,
            }
            write_meta(out_dir, meta)
        elif "docs_schema" not in meta:  # resuming an older build
            meta["docs_schema"] = docs_schema
            write_meta(out_dir, meta)

        # ---- postings: ONE streaming pass.  SPIMI tokenize -> salted
        # repartition-and-sort -> assembler -> shard files.  Nothing is
        # cached; the only big intermediate crosses the wire exactly once.
        if missing:
            src = based
            if len(missing) < spec.num_shards:
                # resume: shard = doc_id % num_shards is known pre-tokenize
                src = based.filter(
                    F.pmod(F.col("doc_id"), F.lit(spec.num_shards)).isin(missing)
                )
            _write_postings(
                _tf_rows(src, spec, spec.positions), spec, hot_terms,
                postings_path, _sort_width(spark, spec),
            )
            prof.mark("postings_write")

            # ---- read-back over the COMPRESSED rows (tiny, column-pruned):
            # lineage checkpoint ∥ dict (global df) + corpus stats (Σtf).
            # The dict read covers ALL shards, so resumed/partial builds get
            # the same global table as fresh ones. ----
            lineage_future = pool.submit(
                lambda: _write_lineage(
                    spark.read.parquet(postings_path).filter(
                        F.col("shard").isin(missing)
                    ),
                    lineage_path,
                    "build",
                )
            )
            term_stats = (
                spark.read.parquet(postings_path)
                .groupBy("term")
                .agg(F.sum("n_docs").alias("df"), F.sum("sum_tf").alias("ttf"))
                .persist(StorageLevel.MEMORY_AND_DISK)
            )
            # corpus token stats ride the dict write as an Observation
            # (r6b: no separate total_tokens / field_tokens jobs)
            observed, obs = _observe_tokens(term_stats, spec, "build_tokens", "ttf")
            parts = _dict_write_parts(spark, spec)
            _write_sorted(
                observed.select("term", "df"), "term",
                os.path.join(out_dir, "dict"), parts,
            )
            # spellcheck candidate index, derived from the SAME cached vocab
            # (vocab-sized, never corpus-sized)
            ngram_future = pool.submit(
                _write_sorted,
                term_ngram_rows(term_stats.select("term")), "gram",
                os.path.join(out_dir, "dict_ngrams"), parts,
            )
            _set_token_stats(meta, spec, obs.get)
            lineage_future.result()
            ngram_future.result()
            # meta v2: final corpus stats (also self-heals a resumed build
            # whose v1 meta carried zeros)
            write_meta(out_dir, meta)
            prof.mark("lineage+dict")

        if docs_future is not None:
            docs_future.result()
        prof.mark("docs_join")
    finally:
        pool.shutdown(wait=True)
        for cached in (term_stats, ids_handle):
            if cached is not None:
                cached.unpersist()

    return Index._load_from(out_dir, meta, spec)
