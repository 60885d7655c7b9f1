"""Document deletion — delete tombstones riding the postings format.

The reference's embedded Solr serves the standard /update delete commands
(deleteById / deleteByQuery); its bulk-load path explicitly opts OUT of the
sibling overwrite behavior (``overwrite=false``, core/SolrWriter.java:37-39
— SOLR-653), which is our append fast path (S8).  This module is the other
side of that same update contract, with Lucene's exact visibility model:

* a delete takes effect IMMEDIATELY for matching (deleted docs stop
  appearing in results, counts, facets — the liveDocs bitmap analogue);
* corpus statistics (df, N, avgdl) stay UNCHANGED until segments merge, so
  surviving docs keep bit-identical scores across a delete — Lucene scores
  with deletions present behave the same way;
* compaction (`indexing.compact.compact_index`) folds tombstones away:
  deleted docs' postings and stored rows are dropped, the dictionary df and
  the N/avgdl stats are recomputed, and ``n_deleted`` resets to 0.

Representation: tombstones are ordinary posting rows under the reserved
``codec.DELETED_TERM`` (never a legal analyzed or keyword term), in the
same segment layout as real postings (salt/shard layout, assembler, one
file per shard).  That buys: one extra term in each query's pruned IN-list
scan (only when deletes exist — a zero-delete index plans
byte-identically), in-shard exclusion inside every kernel with no extra
job or broadcast, replication snapshots that carry deletes for free, and an
O(delete-batch) write cost independent of index size.

Two tiers write the tombstones, with ``==`` rows
(tests/test_write_tier.py):

* **driver** — ids already on the driver (an id list, or an id frame whose
  optimized plan is a ``LocalRelation``, read by a 0-job collect), however
  many: the Spark writer's assembler runs in-process and pyarrow writes
  one file per shard (``local_write.write_tombstones``) — no Spark job,
  and faster than the Spark writer at every measured size (the numbers
  are in ``Index.LOCAL_WRITE_MAX_BYTES``' comment);
* **Spark** — every other id frame (a ``delete_by_query`` match set, an
  overwrite's key lookup), and every delete under
  ``Index.LOCAL_WRITE_MAX_BYTES = 0``: the build's segment writer
  ``build._write_postings``.
"""

from __future__ import annotations

from typing import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cascading_solr_spark.codec import DELETED_TERM
from cascading_solr_spark.indexing.build import (
    DL_BITS,
    MAX_DOC_ID,
    Index,
    _write_postings,
    local_frame,
    read_meta,
    write_meta,
)
from cascading_solr_spark.indexing.local_write import is_local, write_tombstones
from cascading_solr_spark.spec import IndexSpecError


def delete_documents(
    spark: SparkSession,
    index_dir: str,
    ids: DataFrame | Iterable[int],
) -> Index:
    """Tombstone the given doc_ids (Solr deleteById).  Returns a refreshed
    handle whose query paths exclude the docs immediately.

    ``ids`` is a doc_id DataFrame (single long column) or an iterable of
    ints.  Deleting an id that does not exist (or is already deleted) is a
    no-op for matching, exactly like Solr; ``meta.n_deleted`` counts
    tombstones written, not live-doc removals — it only drives the
    has-deletes fast path and compaction's fold, never scoring.  Single
    writer at a time, same contract as append."""
    index = Index.load(index_dir)
    spec = index.spec
    vals: list | None = None
    if isinstance(ids, DataFrame):
        (col,) = ids.columns[:1] or ("doc_id",)
        ids_df = ids.select(F.col(col).cast("long").alias("doc_id"))
        if is_local(ids):
            # driver rows: the projection folds into the relation (0 jobs)
            vals = [r[0] for r in ids_df.collect()]
    else:
        vals = [None if i is None else int(i) for i in ids]
    if vals is None:
        # cut lineage: deleteByQuery's ids READ the postings dir this write
        # APPENDS to — materialize executor-side before planning the write
        ids_df = ids_df.distinct().localCheckpoint(eager=True)
        bounds = ids_df.agg(
            F.count("doc_id").alias("n"), F.min("doc_id").alias("lo"),
            F.max("doc_id").alias("hi"),
            F.count(F.when(F.col("doc_id").isNull(), 1)).alias("nulls"),
        ).collect()[0]
        n_null, n_del = int(bounds["nulls"]), int(bounds["n"])
        lo, hi = bounds["lo"], bounds["hi"]
    else:
        n_null = vals.count(None)
        vals = sorted({v for v in vals if v is not None})
        n_del = len(vals)
        lo, hi = (vals[0], vals[-1]) if vals else (None, None)
    if n_null:
        raise IndexSpecError(f"{n_null} NULL doc ids in delete batch")
    if not n_del:
        return index
    if lo < 0 or hi > MAX_DOC_ID:
        raise IndexSpecError(
            f"doc ids must be in [0, {MAX_DOC_ID}] (got min={lo}, max={hi})"
        )

    if vals is not None and Index.LOCAL_WRITE_MAX_BYTES > 0:
        write_tombstones(vals, spec, index.hot_terms, index.postings_path)
    else:
        if vals is not None:
            ids_df = local_frame(spark, [(v,) for v in vals], "doc_id long")
        pos_cols = (
            [F.lit(b"").cast("binary").alias("pos")] if spec.positions else []
        )
        tf_long = ids_df.select(
            (F.shiftleft(F.col("doc_id"), DL_BITS) + F.lit(1)).alias("packed"),
            F.lit(DELETED_TERM).alias("term"),
            F.lit(1).cast("int").alias("tf"),
            *pos_cols,
        )
        # single-exchange write at sort width num_shards (the append path's
        # shape, r6b): one file per shard per delete batch.  Twin:
        # local_write.write_tombstones
        _write_postings(
            tf_long, spec, list(index.hot_terms), index.postings_path,
            spec.num_shards,
        )

    # no dict segment (DELETED_TERM must never surface in spellcheck /
    # terms / luke), no doc rows, no token stats: stats stay stale by design
    meta = read_meta(index_dir)
    meta["n_deleted"] = int(meta.get("n_deleted", 0)) + n_del
    write_meta(index_dir, meta)
    return Index.load(index_dir)


def delete_by_query(
    spark: SparkSession,
    index_dir: str,
    query: str,
    filters: dict[str, str] | None = None,
    op: str = "OR",
    synonyms: dict[str, list[str]] | None = None,
) -> Index:
    """Solr deleteByQuery: tombstone the query's full match set (the
    match-only kernel — ``match_ids`` — is exactly what Solr's DBQ path
    consumes; same analyzed/keyword/op semantics as search)."""
    from cascading_solr_spark.query.search import match_ids

    index = Index.load(index_dir)
    ids = match_ids(
        spark, index, query, filters=filters, op=op, synonyms=synonyms
    )
    return delete_documents(spark, index_dir, ids)
