"""Index compaction — the explicit ``optimize(maxSegments=1)`` analogue
(reference: core/SolrWriter.java:112, hadoop/SolrOutputFormat.java:35,
local/SolrScheme.java:27: hard commit then merge segments at close;
maxSegments is 10 on hadoop / 1 on local — here always 1).

After resume waves or streaming appends a shard dir can hold many files and
a (shard, term, salt) key can be split across posting rows.  Compaction
rebuilds the postings FROM THE COMPRESSED ROWS, never re-tokenizing the
corpus: a decode kernel turns them back into (packed, term, tf) rows, and
the build's one segment writer (``build._write_postings``, at the build's
sort width) re-encodes them — one file per shard, one row per (shard, term,
salt).  The lineage rows, dict and ngram writes, docs fold, generation
naming and token-stat update are the build's helpers too, so compacted
rows have exactly the layout of a fresh build's.  The dict table's accumulated
append segments (indexing/append.py) fold back to one row per term, and
the lineage table is rebuilt (per-shard terms/postings/bytes go stale once
split rows merge).

Crash safety: the new postings generation is written to a fresh
``postings.genN`` directory, then meta.json is atomically replaced
(os.replace) to point at it.  A crash at any step leaves a complete,
queryable postings directory.  Deletion of superseded generations is
DEFERRED one compaction: the generation being replaced is kept on disk so
Index handles loaded before the flip (a cached handle, a concurrent reader)
keep working — read-while-compact; generations older than that are
garbage-collected here.  Writers are single-threaded by contract (one
builder/appender/compactor at a time), readers are unrestricted."""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from pyspark.storagelevel import StorageLevel

from cascading_solr_spark.codec import (
    DELETED_TERM,
    decode_doc_ids,
    decode_varint,
    split_varint_payload,
)
from cascading_solr_spark.indexing.build import (
    DICT_SCHEMA,
    DL_BITS,
    Index,
    _next_generation,
    _scan_schema,
    _set_token_stats,
    _sort_width,
    _write_docs,
    _write_lineage,
    _write_postings,
    _write_sorted,
    pack_id_dl,
    postings_schema,
    read_meta,
    term_ngram_rows,
    tf_schema,
    write_meta,
)


def _decode_kernel(block_size: int, positions: bool = False):
    """posting rows -> (packed(doc_id, dl), term, tf) long rows (vectorized:
    one concat per batch, no per-posting Python).

    With ``positions`` each long row also carries its per-posting position
    blob — SLICED from the group payload without a value decode (varint
    boundaries are self-describing and each posting's delta chain is
    self-contained), so compaction round-trips positions byte-identically.
    Keyword-term rows (StrField — positionless, empty payload) re-emit
    empty blobs."""

    def decode(batches):
        for pdf in batches:
            ids_l, tfs_l, dls_l, terms_l = [], [], [], []
            pos_l: list[list[bytes]] = []
            for row in pdf.itertuples(index=False):
                n = int(row.n_docs)
                ids_l.append(decode_doc_ids(row.doc_ids, n, block_size))
                tfs = decode_varint(row.tfs, n)
                tfs_l.append(tfs)
                dls_l.append(decode_varint(row.dls, n))
                terms_l.append(np.repeat(row.term, n))
                if positions:
                    buf = row.pos
                    if buf is None or len(buf) == 0:
                        pos_l.append([b""] * n)
                    else:
                        pos_l.append(split_varint_payload(buf, tfs))
            if not ids_l:
                continue
            out = {
                "packed": pack_id_dl(
                    np.concatenate(ids_l).astype(np.int64),
                    np.concatenate(dls_l).astype(np.int64),
                ),
                "term": np.concatenate(terms_l),
                "tf": np.concatenate(tfs_l).astype(np.int32),
            }
            if positions:
                out["pos"] = [b for blobs in pos_l for b in blobs]
            yield pd.DataFrame(out)

    return decode


def compact_index(spark: SparkSession, index: Index) -> Index:
    """Merge-rewrite the postings of ``index`` into a new generation dir
    (one file per shard); returns a refreshed handle."""
    spec = index.spec
    if not os.path.exists(index.postings_path):
        # 0-doc index (no postings dir yet): nothing to merge
        return index
    old_dirname = index.postings_dirname
    new_dirname, new_path = _next_generation(index.path, old_dirname)
    # every table this writes is read back with its declared schema: no
    # footer-inference job per read
    read_postings = spark.read.schema(
        _scan_schema(postings_schema(spec), "shard")
    )
    read_dict = spark.read.schema(_scan_schema(DICT_SCHEMA))

    tf_long = index.postings(spark).mapInPandas(
        _decode_kernel(spec.block_size, spec.positions), tf_schema(spec)
    )
    has_deletes = index.has_deletes
    del_ids = None
    if has_deletes:
        # fold deletes (the Lucene segment-merge effect): tombstoned docs
        # leave the postings, the docs table, the dictionary df, and the
        # N/avgdl statistics; n_deleted resets to 0.  The tombstone set is
        # bounded by what accumulated since the last compact (delete batches
        # are micro-batches, same contract as append), so it broadcasts.
        del_ids = index.deleted_ids(spark).persist(StorageLevel.MEMORY_AND_DISK)
        del_ids.count()
        tf_long = (
            tf_long.filter(F.col("term") != DELETED_TERM)
            .withColumn("_did", F.shiftright(F.col("packed"), DL_BITS))
            .join(
                F.broadcast(del_ids.withColumnRenamed("doc_id", "_did")),
                "_did",
                "left_anti",
            )
            .drop("_did")
        )
    # the hot set persisted at build time keeps salting identical across
    # generations (meta.json is the source of truth); post-fold corpus
    # stats ride the postings write as an Observation
    _, obs = _write_postings(
        tf_long, spec, list(index.hot_terms), new_path,
        _sort_width(spark, spec),
        observe="compact_fold_stats" if has_deletes else None,
    )

    # fold dict append segments -> one (term, df) row per term, published as
    # a NEW meta-pointed generation dir (exactly like postings): the old dict
    # dir is never renamed away, so a crash at ANY step leaves a complete
    # dict on disk — the rename-swap this replaces had a window where no dict
    # dir existed and the next append would silently recreate it with only
    # its own batch's (term, df) rows (wrong global df, no error).
    old_dict_dirname = index.dict_dirname
    have_dict = os.path.exists(index.dict_path)
    new_dict_dirname = old_dict_dirname
    parts = max(1, spec.num_shards // 4)
    if have_dict:
        new_dict_dirname, new_dict_path = _next_generation(
            index.path, old_dict_dirname
        )
        if has_deletes:
            # df shrinks where deleted docs left the postings: re-derive the
            # dictionary from the new generation's row metadata (term,
            # n_docs) — compressed-row stats only, no payload decode
            folded = (
                read_postings.parquet(new_path)
                .groupBy("term")
                .agg(F.sum("n_docs").alias("df"))
            )
        else:
            folded = (
                read_dict.parquet(index.dict_path)
                .groupBy("term")
                .agg(F.sum("df").alias("df"))
            )
        _write_sorted(folded, "term", new_dict_path, parts)

    # spellcheck ngram index: append segments accumulate duplicate
    # (gram, term) pairs (harmless for countDistinct lookups, but they grow)
    # — regenerate from the freshly-folded vocabulary as a new generation.
    # The folded dict IS the complete vocabulary at compact time, so a
    # PRE-ngram index (built before the feature) safely bootstraps its ngram
    # table here — gated on have_dict alone, not on a pre-existing ngram dir
    # (append.py can only bootstrap at n_docs=0; compact has the full vocab).
    old_ngrams_dirname = index.ngrams_dirname
    new_ngrams_dirname = old_ngrams_dirname
    if have_dict:
        new_ngrams_dirname, new_ngrams_path = _next_generation(
            index.path, old_ngrams_dirname
        )
        _write_sorted(
            term_ngram_rows(read_dict.parquet(new_dict_path).select("term")),
            "gram", new_ngrams_path, parts,
        )

    # rebuilt lineage: per-shard stats change once split rows merge (rows are
    # per-shard truth again — tagged "compacted")
    lineage_path = os.path.join(index.path, "lineage")
    lineage_tmp = lineage_path + ".tmp"
    shutil.rmtree(lineage_tmp, ignore_errors=True)
    _write_lineage(
        read_postings.parquet(new_path), lineage_tmp, "compacted"
    )

    # fold deletes out of the stored docs: a NEW meta-pointed generation
    # (docs.genN), same crash-safety rule as postings/dict
    old_docs_dirname = index.docs_dirname
    new_docs_dirname = old_docs_dirname
    n_live = None
    if has_deletes and os.path.exists(index.docs_path):
        new_docs_dirname, new_docs_path = _next_generation(
            index.path, old_docs_dirname
        )
        _write_docs(
            index.docs(spark).join(F.broadcast(del_ids), "doc_id", "left_anti"),
            spec, new_docs_path, "overwrite",
        )
        n_live = (  # footer-served
            index.docs_reader(spark).parquet(new_docs_path).count()
        )

    # atomic publish: ONE meta replace flips every generation pointer
    meta = read_meta(index.path)
    meta["postings_dirname"] = new_dirname
    meta["dict_dirname"] = new_dict_dirname
    meta["ngrams_dirname"] = new_ngrams_dirname
    if has_deletes:
        meta["docs_dirname"] = new_docs_dirname
        if n_live is not None:
            meta["n_docs"] = int(n_live)
        _set_token_stats(meta, spec, obs.get)
        # ids are never reused: next_doc_id stays monotonic across the fold
        meta["n_deleted"] = 0
    write_meta(index.path, meta)
    shutil.rmtree(lineage_path, ignore_errors=True)
    os.rename(lineage_tmp, lineage_path)
    # deferred GC: keep the generation we just replaced (read-while-compact
    # for handles loaded before the flip); delete anything older.
    keep = {
        "postings": (new_dirname, old_dirname),
        "dict": (new_dict_dirname, old_dict_dirname),
        "dict_ngrams": (new_ngrams_dirname, old_ngrams_dirname),
        "docs": (new_docs_dirname, old_docs_dirname),
    }
    if del_ids is not None:
        del_ids.unpersist()
    for name in os.listdir(index.path):
        base = name.split(".gen")[0]
        if base in keep and name not in keep[base]:
            shutil.rmtree(os.path.join(index.path, name), ignore_errors=True)
    return Index.load(index.path)
