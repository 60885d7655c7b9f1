"""Replication / backup: the solr.ReplicationHandler analogue.

The reference's embedded Solr registers ``/replication``
(solrconfig.xml:1135) — even without master/slave config it serves
``command=backup`` snapshots of the live index generation.  Here a
snapshot is a directory copy of exactly the LIVE generation:

* the data dirs meta.json points at (``postings_dirname`` /
  ``dict_dirname`` / ``ngrams_dirname`` — generation-suffixed after
  compactions, ``indexing/compact.py``) plus the static ``docs`` and
  ``lineage`` dirs;
* ``meta.json`` written LAST — a crashed snapshot has no meta and is
  therefore never loadable (the same publish-order rule the compaction
  path uses), the Solr "snapshot is atomic at the segments file" contract;
* stale generations (a superseded ``dict.gen1``) are NOT copied — backup
  picks the live view, exactly what ReplicationHandler replicates.

A snapshot IS a complete index directory: "restore" is ``Index.load`` on
it (or a plain copy back).  File copies are driver-side ``shutil`` —
replication is an operational task on the index artifact, not a Spark
job; at cluster scale the same ordering applies to a DistCp/object-store
copy.
"""

from __future__ import annotations

import os
import shutil

from cascading_solr_spark.indexing.build import Index, read_meta


def snapshot_index(index_dir: str, dest_dir: str) -> str:
    """Back up the LIVE generation of ``index_dir`` into ``dest_dir``
    (created; must not already contain a meta.json).  Returns ``dest_dir``,
    which is itself a loadable index directory."""
    meta_path = os.path.join(index_dir, "meta.json")
    meta = read_meta(index_dir)
    if os.path.exists(os.path.join(dest_dir, "meta.json")):
        raise ValueError(f"snapshot target {dest_dir!r} already holds an index")
    os.makedirs(dest_dir, exist_ok=True)
    live_dirs = {
        meta.get("postings_dirname", "postings"),
        meta.get("dict_dirname", "dict"),
        meta.get("ngrams_dirname", "dict_ngrams"),
        meta.get("docs_dirname", "docs"),
        "lineage",
    }
    for d in sorted(live_dirs):
        src = os.path.join(index_dir, d)
        if os.path.isdir(src):
            shutil.copytree(src, os.path.join(dest_dir, d))
    # meta LAST: only a complete copy ever becomes loadable
    shutil.copy2(meta_path, os.path.join(dest_dir, "meta.json"))
    return dest_dir


def restore_index(snapshot_dir: str) -> Index:
    """Open a snapshot as a live index (a snapshot IS an index directory)."""
    return Index.load(snapshot_dir)
