"""Incremental document append — the segment-style index refresh.

Lucene analogy: each appended batch is a new segment.  Unlike round 1's
per-epoch standalone indexes, appends here produce ONE coherent index:

* new doc_ids are assigned ABOVE the current max (``meta.next_doc_id``), so
  ids never collide across batches and posting rows stay mergeable
  (strictly-increasing doc ids per (term, salt));
* batch rows go through the build's writer functions (indexing/build.py):
  the same tf legs, docs projection, lineage rows and token stats, and the
  one segment writer ``_write_postings`` at sort width ``num_shards`` — a
  single exchange keyed by shard, one file per shard per batch — appended
  into the live shard dirs.  The query kernels already merge multiple rows
  per (term, salt), so new docs are searchable immediately;
* global statistics refresh atomically: the batch's (term, df) rows append
  into the dict table as a NEW SEGMENT (``Index.term_dict`` folds segments
  with a sum-per-term view; ``compact_index`` physically merges them), and
  meta.json (N, total_tokens -> avgdl, next_doc_id) is replaced via
  os.replace.  Block pruning metadata stores raw (max_tf, min_dl), so a
  shifting avgdl never invalidates it;
* EVERY per-batch job is O(batch), never O(index): the lineage delta and the
  dict segment are both derived from the batch's own compressed posting rows
  (persisted once), so appending to a 100 TB index costs the same as
  appending to an empty one.  Asserted in tests/test_streaming.py by
  corrupting the pre-existing postings files before an append;
* the salt decisions reuse the hot set persisted at build time
  (meta.hot_terms) — deterministic layout, no extra stats job;
* BM25 scores after an append are EXACTLY the scores a from-scratch build of
  the union corpus would produce (scoring depends only on global N, avgdl,
  df, tf, dl — none of which depend on id assignment order), asserted in
  tests/test_streaming.py;
* ``compact_index`` is the optimize() analogue that folds accumulated
  segment rows (postings AND dict) back into one row per key.

Replay safety: foreachBatch is at-least-once, so a replayed micro-batch
would double df/tf.  Callers pass ``batch_id`` (the streaming layer passes
``epoch-<id>``): a batch whose id is already in meta.applied_batches is
skipped.  Crash atomicity (round 5h): every job writes into a private
``_staging_*`` dir and the files are renamed into the live dirs only after
ALL jobs succeed — a failure anywhere mid-append leaves the index
byte-identical (asserted by tests/test_append_atomicity.py with an
injected kernel fault).  The residual window is the driver-side rename
pass itself (milliseconds of per-file os.rename); meta.json — the
visibility watermark for N/avgdl and applied_batches — still goes last,
so a completed-then-replayed batch is always detected.
"""

from __future__ import annotations

import os
import shutil
import threading
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from cascading_solr_spark.spec import IndexSpecError

from cascading_solr_spark.indexing.build import (
    MAX_DOC_ID,
    Index,
    _check_null_keys,
    _docs_rows,
    _null_key_count,
    _rank_ids,
    _set_token_stats,
    _tf_rows,
    _write_docs,
    _write_lineage,
    _write_postings,
    _write_sorted,
    read_meta,
    term_ngram_rows,
    validate_schema,
    write_meta,
)

#: replay-detection ring size: foreachBatch only ever replays the most
#: recent uncommitted epoch, so a bounded history is sufficient.
MAX_APPLIED_BATCHES = 256

#: serializes appends in-process: enforces the single-writer contract and
#: makes the AQE conf toggle/restore pair race-free (see append_documents).
_AQE_LOCK = threading.RLock()


def _publish_staged(staged: str, dest: str) -> None:
    """Move every data file of a staged parquet write into ``dest``,
    preserving partition subdirs (shard=N).  File names carry Spark's task
    UUIDs so renames never collide; os.rename within one filesystem is
    atomic per file, so the multi-job exposure window shrinks from the
    whole append to this driver-side pass (milliseconds)."""
    if not os.path.exists(staged):
        return
    for root, _dirs, files in os.walk(staged):
        rel = os.path.relpath(root, staged)
        tgt = dest if rel == "." else os.path.join(dest, rel)
        for fn in files:
            if fn.startswith(("_", ".")):
                continue  # _SUCCESS markers, committer temp files
            os.makedirs(tgt, exist_ok=True)
            os.rename(os.path.join(root, fn), os.path.join(tgt, fn))

#: batches at or below this row count get their dense ids from a single-task
#: window (ONE Spark job: the count/duplicate-check agg; the window itself
#: rides the consumer jobs).  Bounded by construction — micro-batches are
#: small — while larger batches fall back to the distributed sort-rank.
SMALL_BATCH_ROWS = 200_000


def append_documents(
    spark: SparkSession,
    index_dir: str,
    batch: DataFrame,
    batch_id: str | None = None,
    overwrite: bool = False,
) -> Index:
    """Append a batch of new documents to an existing index (one segment).

    Cost is O(batch): no job in this function reads pre-existing postings,
    docs, or dict rows.  ``batch_id`` (optional) makes replays idempotent —
    an id recorded in meta.applied_batches is skipped outright.

    ``overwrite=True`` is Solr's DEFAULT update semantics — re-adding a doc
    with an existing uniqueKey REPLACES it — which the reference explicitly
    opts OUT of for bulk loads (``overwrite=false``,
    core/SolrWriter.java:37-39, SOLR-653; that fast path is the default
    here too).  Implemented exactly as Lucene does updateDocument: tombstone
    the old doc ids (``indexing.delete.delete_documents``), then add the
    batch under fresh ids.  The key lookup joins the batch's key columns
    against the docs table, so spec.key_fields must all be stored
    (uniqueKey lookups need the key retrievable); the delete commits before
    the add, like an update request whose delete precedes its adds.
    """
    from cascading_solr_spark.indexing.build import _Prof

    if overwrite:
        index0 = Index.load(index_dir)
        spec0 = index0.spec
        if spec0.doc_id_field:
            raise IndexSpecError(
                "overwrite=True needs key_fields (caller-assigned doc ids "
                "own their uniqueness; tombstone the old ids explicitly via "
                "delete_documents instead)"
            )
        keys = list(spec0.key_fields)
        missing = [f for f in keys if f not in spec0.stored_fields]
        if missing:
            raise IndexSpecError(
                f"overwrite=True needs key_fields stored for the uniqueKey "
                f"lookup; not stored: {missing!r}"
            )
        from cascading_solr_spark.indexing.delete import delete_documents

        old_ids = index0.docs(spark).join(
            batch.select(*keys).distinct(), keys
        ).select("doc_id")
        delete_documents(spark, index_dir, old_ids)

    prof = _Prof()
    index = Index.load(index_dir)
    spec = index.spec
    validate_schema(batch.schema, spec)
    meta = read_meta(index_dir)
    if batch_id is not None and batch_id in meta.get("applied_batches", ()):
        return index
    offset = int(meta.get("next_doc_id", meta["n_docs"]))
    # unique per-append tag: n_docs advances on every committed batch
    # (next_doc_id does NOT for doc_id_field specs, so offset alone would
    # repeat across appends and merge distinct segments under one tag)
    seg_tag = f"append@{int(meta['n_docs'])}"
    bootstrap_ngrams = int(meta["n_docs"]) == 0
    # ---- staged segment writes: every job writes into a private staging
    # dir and the files are RENAMED into the live dirs only after all jobs
    # succeed — a mid-append failure leaves the index byte-identical (no
    # orphan docs/postings/dict/lineage rows; previously a failed postings
    # job could leave committed docs rows that match-all would count).
    # Stale staging dirs from a crashed process are swept below, INSIDE the
    # append lock (sweeping pre-lock could remove a concurrent append's live
    # staging).  meta.json is still written last, after the publish. ----
    import uuid as _uuid

    stg = os.path.join(index_dir, f"_staging_{_uuid.uuid4().hex[:12]}")
    stg_docs = os.path.join(stg, "docs")
    stg_postings = os.path.join(stg, "postings")
    stg_dict = os.path.join(stg, "dict")
    stg_ngrams = os.path.join(stg, "ngrams")
    stg_lineage = os.path.join(stg, "lineage")

    # ---- scope: AQE's runtime re-planning adds a per-stage scheduling
    # round-trip that is pure overhead on these fixed-shape micro-batch jobs
    # (measured ~0.3-0.4 s per append at 2k files); restored in the finally.
    # The toggle mutates the SHARED session conf (a per-job conf scope does
    # not exist for an externally-supplied DataFrame, and Spark Classic
    # cannot re-root one into a cloned session), so: (a) _AQE_LOCK makes
    # overlapping appends impossible — the single-writer contract is now
    # ENFORCED, not assumed, and the restore can never race another
    # append's toggle; (b) for concurrent query threads on the same session
    # the flag only affects plan latency during the append window, never
    # results (documented trade-off).
    # ---- doc ids above the current max (caller-provided ids are trusted:
    # the caller owns uniqueness, exactly like Solr's uniqueKey).  The batch
    # is PERSISTED up front and the gating agg populates the cache, so every
    # later consumer (docs write, tokenize, keyword rows, id window) reads
    # the cache instead of re-evaluating the source — one source scan total.
    # Bounded by the batch size (micro-batches by construction; a bulk
    # backfill spills to disk and is released in the finally). ----
    ids_handle = None
    batch_handle = None
    postings: DataFrame | None = None
    aqe_before: str | None = None
    pool: ThreadPoolExecutor | None = None
    _AQE_LOCK.acquire()
    try:
        # inside the try so ANY failure (even between these lines) releases
        # the lock and restores the conf — no permanent AQE-off leak
        aqe_before = spark.conf.get("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        # stale staging sweep (locked: any other dir here is from a dead
        # process — the lock serializes in-process appends, and the
        # single-writer contract covers cross-process)
        for leftover in os.listdir(index_dir):
            full = os.path.join(index_dir, leftover)
            if leftover.startswith("_staging_") and full != stg:
                shutil.rmtree(full, ignore_errors=True)
        pool = ThreadPoolExecutor(max_workers=3)
        if spec.doc_id_field:
            based = batch.withColumn(
                "doc_id", F.col(spec.doc_id_field).cast("long")
            )
            batch_handle = based.persist(StorageLevel.MEMORY_AND_DISK)
            based = batch_handle
            # one gate job: id range + null check + count (check_doc_id_range
            # folded in so the gate costs a single cache-populating agg).
            # NULL ids (a non-numeric id column cast to long) must fail here
            # — they would otherwise write null-doc_id rows silently.
            row = based.agg(
                F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi"),
                F.count("*").alias("n"),
                F.sum(F.col("doc_id").isNull().cast("long")).alias("nulls"),
            ).collect()[0]
            n_new = int(row["n"])
            if n_new and int(row["nulls"] or 0):

                raise IndexSpecError(
                    f"{row['nulls']} NULL doc ids in append batch (column "
                    f"{spec.doc_id_field!r} does not cast to long)"
                )
            if n_new and (int(row["lo"]) < 0 or int(row["hi"]) > MAX_DOC_ID):

                raise IndexSpecError(
                    f"doc ids must be in [0, {MAX_DOC_ID}] to fit the packed "
                    f"posting layout (got min={row['lo']}, max={row['hi']}); "
                    "remap hash-derived ids first"
                )
        else:
            keys = list(spec.key_fields)
            batch_handle = batch.persist(StorageLevel.MEMORY_AND_DISK)
            # ONE blocking job: count + null-key and duplicate checks,
            # populating the cache
            row = batch_handle.agg(
                F.count("*").alias("n"), F.count_distinct(*keys).alias("dn"),
                _null_key_count(keys).alias("nulls"),
            ).collect()[0]
            n_new = int(row["n"])
            _check_null_keys(int(row["nulls"]), keys)
            if n_new != int(row["dn"]):

                raise IndexSpecError(
                    f"{n_new - int(row['dn'])} duplicate rows for key "
                    f"{tuple(keys)!r} in append batch (uniqueKey analogue)"
                )
            if n_new <= SMALL_BATCH_ROWS:
                # micro-batch: dense ids from a one-task window over the
                # cached KEYS projection (size-bounded; content rows never
                # funnel through the single task), broadcast-joined back.
                # The window itself rides the consumer jobs — no barrier.
                from pyspark.sql import Window

                ids_small = batch_handle.select(*keys).withColumn(
                    "doc_id",
                    (
                        F.row_number().over(Window.orderBy(*keys)) - 1
                        + F.lit(offset)
                    ).cast("long"),
                )
                based = batch_handle.join(F.broadcast(ids_small), keys)
            else:
                ids_handle, _ = _rank_ids(
                    batch_handle, spec.key_fields, check_unique=False
                )
                based = batch_handle.join(
                    ids_handle.hint("shuffle_hash"), keys
                ).withColumn("doc_id", F.col("doc_id") + F.lit(offset))
        if not n_new:
            return index
        prof.mark("a_doc_ids")

        # ---- docs rows append (same layout/sort as the build), submitted to
        # a driver thread: the JVM-side sha256+parquet work overlaps the
        # python-worker tokenize stage of the postings pipeline ----
        docs_future = pool.submit(
            _write_docs, _docs_rows(based, spec), spec, stg_docs, "append"
        )

        # ---- batch postings (SPIMI + keyword rows + stored hot set) through
        # the build's segment writer at sort width num_shards: a micro-batch
        # needs ONE exchange keyed by shard, one file per shard per batch.
        # The compressed batch rows are persisted ONCE and feed three
        # consumers: the postings append, the lineage delta, and the dict
        # segment — no pass ever re-reads the existing index.  Token stats
        # ride the write job as an Observation — no separate stats job. ----
        postings, obs = _write_postings(
            _tf_rows(based, spec, spec.positions), spec, list(index.hot_terms),
            stg_postings, spec.num_shards, persist=True, observe=seg_tag,
        )
        metrics = obs.get
        prof.mark("a_postings")

        # ---- lineage DELTA + dict SEGMENT, both from the batch's own cached
        # rows (O(batch), never a re-aggregation of the whole postings
        # table), in concurrent driver threads ----
        # The dict table is segmented: one (term, df) rowset per build/
        # append; Index.term_dict serves the folded sum-per-term view and
        # compact_index physically merges segments.  The groupBy exchange
        # already clusters terms, so a local sort suffices for term-ordered
        # (row-group-prunable) segment files — no second exchange.  The
        # spellcheck ngram index appends a segment for ALL batch terms —
        # duplicates of already-known (gram, term) pairs are harmless
        # (suggest_terms counts DISTINCT grams) and detecting new terms
        # would cost an O(index) read; compact_index folds duplicates away.
        def write_dict() -> None:
            seg = (
                postings.groupBy("term")
                .agg(F.sum("n_docs").alias("df"))
                # coalesce (no exchange; AQE is off in this scope) bounds
                # the per-batch segment to num_shards//4 term-sorted files
                # instead of one per shuffle partition
                .coalesce(max(1, spec.num_shards // 4))
                .persist(StorageLevel.MEMORY_AND_DISK)
            )
            _write_sorted(seg, "term", stg_dict, mode="append")
            # bootstrap_ngrams: a 0-doc index has no ngram dir yet but no
            # prior vocabulary either, so creating it here is complete; a
            # PRE-ngram index (built before the feature) must NOT get a
            # partial one here — its old vocab would be invisible to the
            # ngram path — so absent dir + nonzero n_docs stays scan-only
            # until the next compact_index, which bootstraps the ngram table
            # from the complete folded vocabulary (indexing/compact.py).
            if os.path.exists(index.ngrams_path) or bootstrap_ngrams:
                _write_sorted(
                    term_ngram_rows(seg.select("term")), "gram", stg_ngrams,
                    mode="append",
                )
            seg.unpersist()

        lineage_future = pool.submit(
            _write_lineage, postings, stg_lineage, seg_tag
        )
        dict_future = pool.submit(write_dict)
        dict_future.result()
        lineage_future.result()
        docs_future.result()
        # every job committed into staging -> publish (rename) into the live
        # dirs; meta (the visibility watermark for stats) still goes last
        _publish_staged(stg_docs, index.docs_path)
        _publish_staged(stg_postings, index.postings_path)
        _publish_staged(stg_dict, index.dict_path)
        _publish_staged(stg_ngrams, index.ngrams_path)
        _publish_staged(stg_lineage, os.path.join(index_dir, "lineage"))
        shutil.rmtree(stg, ignore_errors=True)
        prof.mark("a_dict+stats")

        meta["n_docs"] = int(meta["n_docs"]) + int(n_new)
        _set_token_stats(meta, spec, metrics, add=True)
        if not spec.doc_id_field:
            meta["next_doc_id"] = offset + int(n_new)
        if batch_id is not None:
            applied = list(meta.get("applied_batches", ()))
            applied.append(batch_id)
            meta["applied_batches"] = applied[-MAX_APPLIED_BATCHES:]
        # publish: the atomic meta replace is the last step, so a replay of a
        # fully-committed batch is always detected via applied_batches
        write_meta(index_dir, meta)
    finally:
        if pool is not None:
            pool.shutdown(wait=True)
        if aqe_before is not None:
            spark.conf.set("spark.sql.adaptive.enabled", aqe_before)
        _AQE_LOCK.release()
        shutil.rmtree(stg, ignore_errors=True)
        for h in (postings, ids_handle, batch_handle):
            if h is not None:
                h.unpersist()
    return Index.load(index_dir)
