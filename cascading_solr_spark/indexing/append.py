"""Incremental document append — the segment-style index refresh.

Lucene analogy: each appended batch is a new segment.  Unlike round 1's
per-epoch standalone indexes, appends here produce ONE coherent index:

* new doc_ids are assigned ABOVE the current max (``meta.next_doc_id``), so
  ids never collide across batches and posting rows stay mergeable
  (strictly-increasing doc ids per (term, salt));
* global statistics refresh atomically: the batch's (term, df) rows append
  into the dict table as a NEW SEGMENT (``Index.term_dict`` folds segments
  with a sum-per-term view; ``compact_index`` physically merges them), and
  meta.json (N, total_tokens -> avgdl, next_doc_id) is replaced via
  os.replace.  Block pruning metadata stores raw (max_tf, min_dl), so a
  shifting avgdl never invalidates it;
* the salt decisions reuse the hot set persisted at build time
  (meta.hot_terms) — deterministic layout, no extra stats job;
* BM25 scores after an append are EXACTLY the scores a from-scratch build of
  the union corpus would produce (scoring depends only on global N, avgdl,
  df, tf, dl — none of which depend on id assignment order), asserted in
  tests/test_streaming.py;
* ``compact_index`` is the optimize() analogue that folds accumulated
  segment rows (postings AND dict) back into one row per key.

Two tiers write the segment, with ``==`` content (tests/test_write_tier.py):

* **driver** (indexing/local_write.py) — a batch whose rows are already on
  the driver (its optimized plan is a ``LocalRelation``: Arrow
  ``createDataFrame(pandas)``, ``local_frame``) and whose content and text
  fields are under ``Index.LOCAL_WRITE_MAX_BYTES``.  One 0-job collect of
  one Catalyst projection, then the Spark tier's own tokenize and assemble
  kernels in-process and pyarrow file writes: no Spark job.  The reference
  likewise flushes small document batches inside its writer
  (core/SolrWriter.java:101-122);
* **Spark** (:func:`_append_spark`) — every other batch, through the
  build's writer functions (indexing/build.py): the same tf legs, docs
  projection, lineage rows and token stats, and the one segment writer
  ``_write_postings`` at sort width ``num_shards`` — a single exchange
  keyed by shard, one file per shard per batch.

Both tiers are O(batch), never O(index): the lineage delta and the dict
segment are derived from the batch's own posting rows, so appending to a
100 TB index costs the same as appending to an empty one (asserted in
tests/test_round3.py and tests/test_write_tier.py by corrupting the
pre-existing files before an append).

Replay safety: foreachBatch is at-least-once, so a replayed micro-batch
would double df/tf.  Callers pass ``batch_id`` (the streaming layer passes
``epoch-<id>``): a batch whose id is already in meta.applied_batches is
skipped.  Crash atomicity (round 5h): either tier writes into a private
``_staging_*`` dir and the files are renamed into the live dirs only after
all of them are written — a failure anywhere mid-append leaves the index
byte-identical (asserted by tests/test_append_atomicity.py with injected
faults on both tiers).  The residual window is the driver-side rename pass
itself (milliseconds of per-file os.rename); meta.json — the visibility
watermark for N/avgdl and applied_batches — still goes last, so a
completed-then-replayed batch is always detected.
"""

from __future__ import annotations

import os
import shutil
import threading
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from cascading_solr_spark.spec import IndexSpec, IndexSpecError

from cascading_solr_spark.indexing.build import (
    Index,
    _check_batch_ids,
    _check_batch_keys,
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
from cascading_solr_spark.indexing.local_write import (
    append_is_local,
    append_segment,
)

#: replay-detection ring size: foreachBatch only ever replays the most
#: recent uncommitted epoch, so a bounded history is sufficient.
MAX_APPLIED_BATCHES = 256

#: serializes appends in-process: enforces the single-writer contract and
#: makes the Spark tier's AQE conf toggle/restore pair race-free.
_APPEND_LOCK = threading.RLock()


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


def _append_spark(
    batch: DataFrame,
    spec: IndexSpec,
    hot_terms: list[str],
    offset: int,
    seg_tag: str,
    stg: str,
    with_ngrams: bool,
    prof,
) -> tuple[int, dict]:
    """The Spark tier of :func:`append_documents`: ``batch`` as one segment
    in the staging dir ``stg`` (its ``docs``, ``postings``, ``dict``,
    ``ngrams`` when ``with_ngrams``, and ``lineage`` subdirs), through the
    build's writer functions.  Returns the batch's row count and its token
    stats (``_observe_tokens``' metrics)."""
    # ---- scope: AQE's runtime re-planning adds a per-stage scheduling
    # round-trip that is pure overhead on these fixed-shape micro-batch jobs
    # (measured ~0.3-0.4 s per append at 2k files); restored in the finally.
    # The toggle mutates the SHARED session conf (a per-job conf scope does
    # not exist for an externally-supplied DataFrame, and Spark Classic
    # cannot re-root one into a cloned session), so: (a) the caller holds
    # _APPEND_LOCK, so overlapping appends are impossible and the restore
    # can never race another append's toggle; (b) for concurrent query
    # threads on the same session the flag only affects plan latency during
    # the append window, never results (documented trade-off).
    # ---- doc ids above the current max (caller-provided ids are trusted:
    # the caller owns uniqueness, exactly like Solr's uniqueKey).  The batch
    # is PERSISTED up front and the gating agg populates the cache, so every
    # later consumer (docs write, tokenize, keyword rows, id window) reads
    # the cache instead of re-evaluating the source — one source scan total.
    # Bounded by the batch size (micro-batches by construction; a bulk
    # backfill spills to disk and is released in the finally). ----
    spark = batch.sparkSession
    ids_handle = None
    batch_handle = None
    postings: DataFrame | None = None
    aqe_before: str | None = None
    pool = ThreadPoolExecutor(max_workers=3)
    try:
        aqe_before = spark.conf.get("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        if spec.doc_id_field:
            based = batch.withColumn(
                "doc_id", F.col(spec.doc_id_field).cast("long")
            )
            batch_handle = based.persist(StorageLevel.MEMORY_AND_DISK)
            based = batch_handle
            # one gate job: id range + null check + count, populating the
            # cache.  NULL ids (a non-numeric id column cast to long) must
            # fail here — they would otherwise write null-doc_id rows.
            row = based.agg(
                F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi"),
                F.count("*").alias("n"),
                F.sum(F.col("doc_id").isNull().cast("long")).alias("nulls"),
            ).collect()[0]
            n_new = int(row["n"])
            if n_new:
                _check_batch_ids(
                    int(row["nulls"] or 0), row["lo"], row["hi"],
                    spec.doc_id_field,
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
            _check_batch_keys(n_new, int(row["dn"]), int(row["nulls"]), keys)
            if n_new <= SMALL_BATCH_ROWS:
                # micro-batch: dense ids from a one-task window over the
                # cached KEYS projection (size-bounded; content rows never
                # funnel through the single task), broadcast-joined back.
                # The window itself rides the consumer jobs — no barrier.
                # Twin: the key sort in local_write.append_segment.
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
            return 0, {}
        prof.mark("a_doc_ids")

        # ---- docs rows append (same layout/sort as the build), submitted to
        # a driver thread: the JVM-side sha256+parquet work overlaps the
        # python-worker tokenize stage of the postings pipeline ----
        docs_future = pool.submit(
            _write_docs, _docs_rows(based, spec), spec,
            os.path.join(stg, "docs"), "append",
        )

        # ---- batch postings (SPIMI + keyword rows + stored hot set) through
        # the build's segment writer at sort width num_shards: a micro-batch
        # needs ONE exchange keyed by shard, one file per shard per batch.
        # The compressed batch rows are persisted ONCE and feed three
        # consumers: the postings append, the lineage delta, and the dict
        # segment — no pass ever re-reads the existing index.  Token stats
        # ride the write job as an Observation — no separate stats job. ----
        postings, obs = _write_postings(
            _tf_rows(based, spec, spec.positions), spec, hot_terms,
            os.path.join(stg, "postings"), spec.num_shards, persist=True,
            observe=seg_tag,
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
        # twin: the dict and ngram rows of local_write.append_segment
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
            _write_sorted(
                seg, "term", os.path.join(stg, "dict"), mode="append"
            )
            if with_ngrams:
                _write_sorted(
                    term_ngram_rows(seg.select("term")), "gram",
                    os.path.join(stg, "ngrams"), mode="append",
                )
            seg.unpersist()

        lineage_future = pool.submit(
            _write_lineage, postings, os.path.join(stg, "lineage"), seg_tag
        )
        dict_future = pool.submit(write_dict)
        dict_future.result()
        lineage_future.result()
        docs_future.result()
        return n_new, metrics
    finally:
        pool.shutdown(wait=True)
        if aqe_before is not None:
            spark.conf.set("spark.sql.adaptive.enabled", aqe_before)
        for h in (postings, ids_handle, batch_handle):
            if h is not None:
                h.unpersist()


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
    # bootstrap: a 0-doc index has no ngram dir yet but no prior vocabulary
    # either, so creating it here is complete; a PRE-ngram index (built
    # before the feature) must NOT get a partial one here — its old vocab
    # would be invisible to the ngram path — so absent dir + nonzero n_docs
    # stays scan-only until the next compact_index, which bootstraps the
    # ngram table from the complete folded vocabulary (indexing/compact.py).
    with_ngrams = os.path.exists(index.ngrams_path) or not int(meta["n_docs"])
    # ---- staged segment writes: both tiers write into a private staging
    # dir and the files are RENAMED into the live dirs only after all of
    # them are written — a mid-append failure leaves the index
    # byte-identical (no orphan docs/postings/dict/lineage rows).  Stale
    # staging dirs from a crashed process are swept below, INSIDE the
    # append lock (sweeping pre-lock could remove a concurrent append's live
    # staging).  meta.json is still written last, after the publish. ----
    import uuid as _uuid

    stg = os.path.join(index_dir, f"_staging_{_uuid.uuid4().hex[:12]}")
    _APPEND_LOCK.acquire()
    try:
        # stale staging sweep (locked: any other dir here is from a dead
        # process — the lock serializes in-process appends, and the
        # single-writer contract covers cross-process)
        for leftover in os.listdir(index_dir):
            full = os.path.join(index_dir, leftover)
            if leftover.startswith("_staging_") and full != stg:
                shutil.rmtree(full, ignore_errors=True)
        write = (
            append_segment if append_is_local(batch, spec) else _append_spark
        )
        n_new, metrics = write(
            batch, spec, list(index.hot_terms), offset, seg_tag, stg,
            with_ngrams, prof,
        )
        if not n_new:
            return index
        # every file is in staging -> publish (rename) into the live dirs;
        # meta (the visibility watermark for stats) still goes last
        for name, dest in (
            ("docs", index.docs_path),
            ("postings", index.postings_path),
            ("dict", index.dict_path),
            ("ngrams", index.ngrams_path),
            ("lineage", os.path.join(index_dir, "lineage")),
        ):
            _publish_staged(os.path.join(stg, name), dest)
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
        _APPEND_LOCK.release()
        shutil.rmtree(stg, ignore_errors=True)
    return Index.load(index_dir)
