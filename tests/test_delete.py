"""Deletes + overwrite (upsert) — the /update contract the reference's bulk
path opts out of (``overwrite=false``, core/SolrWriter.java:37-39).

Lucene visibility model pinned here:

* a deleted doc stops matching IMMEDIATELY on every query path (ranked
  TAAT + MaxScore, AND, keyword filter, match-all, phrase, dismax, batch,
  cursor, sorted, facets, realtime get, elevation);
* surviving docs keep BIT-IDENTICAL scores across the delete (df/N/avgdl
  stay stale — Lucene scores with deletions present);
* compaction folds tombstones: postings/docs/dict/stats then equal a fresh
  build of the reduced corpus exactly;
* overwrite=True append = tombstone old ids by uniqueKey + add (Lucene
  updateDocument), converging to the fresh-build ranking after compact.
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from cascading_solr_spark.codec import DELETED_TERM
from cascading_solr_spark.corpus import synth_corpus
from cascading_solr_spark.indexing.append import append_documents
from cascading_solr_spark.indexing.build import build_index
from cascading_solr_spark.indexing.compact import compact_index
from cascading_solr_spark.indexing.delete import delete_by_query, delete_documents
from cascading_solr_spark.indexing.replicate import restore_index, snapshot_index
from cascading_solr_spark.query.search import (
    facet_counts,
    keyword_filter,
    match_ids,
    realtime_get,
    search,
    search_after,
    search_dismax,
    search_elevated,
    search_many,
    search_phrase,
    search_sorted,
)
from cascading_solr_spark.spec import IndexSpec, IndexSpecError

SPEC = IndexSpec(
    num_shards=2,
    block_size=16,
    keyword_fields=("lang",),
    text_fields=("path",),
    stored_fields=("repo", "path", "commit", "lang"),
    positions=True,
)

N = 300
Q = "import parse buffer"


def _ranked(spark, ix, q=Q, **kw):
    return [
        (r["doc_id"], r["score"])
        for r in search(spark, ix, q, k=None, with_stored=False, **kw).collect()
    ]


@pytest.fixture(scope="module")
def setup(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("del")
    orig_dir = str(root / "orig")
    orig = build_index(
        spark, synth_corpus(spark, N, partitions=4), SPEC, orig_dir
    )
    top = [d for d, _ in _ranked(spark, orig)[:4]]
    victims = sorted(set(top[:3]) | {0, 7, 123, N - 1})
    mut_dir = str(root / "mut")
    snapshot_index(orig_dir, mut_dir)
    mut = delete_documents(spark, mut_dir, victims)
    return orig, mut, victims


# ------------------------------------------------------- immediate effect


@pytest.mark.parametrize("mode", ["default", "taat"])
def test_ranked_excludes_deleted_scores_unchanged(spark, setup, mode):
    orig, mut, victims = setup
    kw = {} if mode == "default" else {"mode": "taat"}
    # compare the SAME kernel on both sides (TAAT and MaxScore agree only
    # to the last ULP — accumulation order): fetch enough ranked rows from
    # the original to survive filtering the victims out
    base = [
        (r["doc_id"], r["score"])
        for r in search(
            spark, orig, Q, k=10 + len(victims), with_stored=False, **kw
        ).collect()
        if r["doc_id"] not in victims
    ]
    got = [
        (r["doc_id"], r["score"])
        for r in search(
            spark, mut, Q, k=10, with_stored=False, **kw
        ).collect()
    ]
    # deleted docs gone, the tail rises to fill k, scores bit-identical
    assert got == base[:10]
    assert mut.n_deleted == len(victims)
    assert mut.n_docs == orig.n_docs  # N stays stale until compact


def test_and_filter_mm_paths_exclude(spark, setup):
    orig, mut, victims = setup
    for kw in (
        {"op": "AND", "query": "import parse"},
        {"query": Q, "filters": {"lang": "python"}},
        {"query": Q, "min_match": 2},
    ):
        q = kw.pop("query")
        base = [
            (r["doc_id"], r["score"])
            for r in search(
                spark, orig, q, k=8 + len(victims), with_stored=False, **kw
            ).collect()
            if r["doc_id"] not in victims
        ]
        got = [
            (r["doc_id"], r["score"])
            for r in search(
                spark, mut, q, k=8, with_stored=False, **kw
            ).collect()
        ]
        assert got == base[:8], kw


def test_match_all_keyword_filter_and_counts(spark, setup):
    orig, mut, victims = setup
    live = {r["doc_id"] for r in match_ids(spark, mut, "*:*").collect()}
    assert live == set(range(N)) - set(victims)
    base_kw = {r["doc_id"] for r in keyword_filter(spark, orig, {"lang": "python"}).collect()}
    got_kw = {r["doc_id"] for r in keyword_filter(spark, mut, {"lang": "python"}).collect()}
    assert got_kw == base_kw - set(victims)
    base_m = {r["doc_id"] for r in match_ids(spark, orig, Q).collect()}
    got_m = {r["doc_id"] for r in match_ids(spark, mut, Q).collect()}
    assert got_m == base_m - set(victims)


def test_facets_recount_without_deleted(spark, setup):
    orig, mut, victims = setup
    matched = {r["doc_id"] for r in match_ids(spark, orig, Q).collect()}
    langs = {
        r["doc_id"]: r["lang"]
        for r in orig.docs(spark).select("doc_id", "lang").collect()
    }
    expect = {}
    for d in matched - set(victims):
        expect[langs[d]] = expect.get(langs[d], 0) + 1
    got = {
        r["value"]: r["n"]
        for r in facet_counts(spark, mut, Q, "lang").collect()
        if r["n"] > 0
    }
    assert got == expect


def test_phrase_and_dismax_exclude(spark, setup):
    orig, mut, victims = setup
    phr = '"read json"'
    base = {
        r["doc_id"] for r in match_ids(spark, orig, phr).collect()
    }
    got = {r["doc_id"] for r in match_ids(spark, mut, phr).collect()}
    assert got == base - set(victims) and got
    rb = [
        (r["doc_id"], r["score"])
        for r in search_phrase(
            spark, orig, "read json", k=None, with_stored=False
        ).collect()
        if r["doc_id"] not in victims
    ]
    rg = [
        (r["doc_id"], r["score"])
        for r in search_phrase(
            spark, mut, "read json", k=5, with_stored=False
        ).collect()
    ]
    assert rg == rb[:5]
    qf = {"content": 1.0, "path": 2.0}
    db = [
        (r["doc_id"], r["score"])
        for r in search_dismax(
            spark, orig, Q, qf, tie=0.1, k=None, with_stored=False
        ).collect()
        if r["doc_id"] not in victims
    ]
    dg = [
        (r["doc_id"], r["score"])
        for r in search_dismax(
            spark, mut, Q, qf, tie=0.1, k=6, with_stored=False
        ).collect()
    ]
    assert dg == db[:6]


def test_batch_matches_single_on_deleted_index(spark, setup):
    _, mut, _ = setup
    reqs = {
        "a": Q,
        "b": {"q": "import parse", "op": "AND"},
        "c": {"q": Q, "filters": {"lang": "python"}},
        "d": '"read json"',
        "e": "lang:python",
        "f": "lang:python -import",
        "g": "lang:python -column",
    }
    batch = search_many(spark, mut, reqs, k=5).collect()
    by_q = {}
    for r in batch:
        by_q.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    singles = {
        "a": search(spark, mut, Q, k=5, with_stored=False),
        "b": search(spark, mut, "import parse", k=5, op="AND", with_stored=False),
        "c": search(spark, mut, Q, k=5, filters={"lang": "python"}, with_stored=False),
        "d": search_phrase(spark, mut, "read json", k=5, with_stored=False),
        # pure filters: the batch serves doc ids at score 0.0
        "e": keyword_filter(spark, mut, {"lang": "python"}, k=5).select(
            "doc_id", F.lit(0.0).alias("score")
        ),
        "f": keyword_filter(
            spark, mut, {"lang": "python"}, k=5, excluded={"import"}
        ).select("doc_id", F.lit(0.0).alias("score")),
        # every python doc posts "import"; about a sixth lack "column"
        "g": keyword_filter(
            spark, mut, {"lang": "python"}, k=5, excluded={"column"}
        ).select("doc_id", F.lit(0.0).alias("score")),
    }
    assert by_q["e"] and by_q["g"]
    for qid, df in singles.items():
        assert by_q.get(qid, []) == [
            (r["doc_id"], r["score"]) for r in df.collect()
        ], qid


def test_cursor_sorted_rtget_elevation(spark, setup):
    orig, mut, victims = setup
    # cursor paging: pages drain the delete-filtered ranking (TAAT scores)
    base = [p for p in _ranked(spark, orig, mode="taat") if p[0] not in victims]
    p1 = search_after(spark, mut, Q, cursor=None, k=4).collect()
    c = (float(p1[-1]["score"]), int(p1[-1]["doc_id"]))
    p2 = search_after(spark, mut, Q, cursor=c, k=4).collect()
    got = [(r["doc_id"], r["score"]) for r in list(p1) + list(p2)]
    assert got == base[:8]
    # sorted retrieval rides match_ids
    rows = search_sorted(spark, mut, Q, "path", k=200).collect()
    assert {r["doc_id"] for r in rows}.isdisjoint(victims) and rows
    # realtime get: deleted ids gone, live ids served
    live_probe = [d for d in range(20) if d not in victims][:2]
    got_ids = {
        r["doc_id"]
        for r in realtime_get(spark, mut, victims + live_probe).collect()
    }
    assert got_ids == set(live_probe)
    # elevation: a deleted pinned id is gone; live pins still lead
    pin_live = base[5][0]
    elev = search_elevated(
        spark, mut, Q, {Q: [victims[0], pin_live]}, k=5
    ).collect()
    assert [r["doc_id"] for r in elev][0] == pin_live
    assert victims[0] not in {r["doc_id"] for r in elev}
    assert len(elev) == 5


@pytest.mark.usefixtures("distributed_tier")
def test_delete_by_query_and_scan_gating(spark, setup, tmp_path):
    orig, mut, victims = setup
    # plan gating: the tombstone term joins the scan ONLY with deletes
    clean_plan = search(
        spark, orig, Q, k=5, with_stored=False
    )._jdf.queryExecution().executedPlan().toString()
    del_plan = search(
        spark, mut, Q, k=5, with_stored=False
    )._jdf.queryExecution().executedPlan().toString()
    assert DELETED_TERM not in clean_plan
    assert DELETED_TERM in del_plan
    # deleteByQuery tombstones the full match set
    dbq_dir = str(tmp_path / "dbq")
    snapshot_index(orig.path, dbq_dir)
    matched = {r["doc_id"] for r in match_ids(spark, orig, "httpClient").collect()}
    assert matched
    ix2 = delete_by_query(spark, dbq_dir, "httpClient")
    assert not search(spark, ix2, "httpClient", k=5, with_stored=False).collect()
    rest = {r["doc_id"] for r in match_ids(spark, ix2, "*:*").collect()}
    assert rest == set(range(N)) - matched
    # snapshots carry tombstones (they live inside the postings dir)
    snap2 = snapshot_index(dbq_dir, str(tmp_path / "snap2"))
    rix = restore_index(snap2)
    assert rix.n_deleted == ix2.n_deleted
    assert not search(spark, rix, "httpClient", k=5, with_stored=False).collect()


# ---------------------------------------------------------- compact fold


def test_compact_folds_to_fresh_build(spark, setup, tmp_path):
    orig, mut, victims = setup
    fold_dir = str(tmp_path / "fold")
    snapshot_index(mut.path, fold_dir)
    folded = compact_index(spark, restore_index(fold_dir))
    # fresh build of the reduced corpus (same keys minus the victims')
    gone_keys = {
        (r["repo"], r["path"], r["commit"])
        for r in orig.docs(spark)
        .filter(F.col("doc_id").isin(victims))
        .collect()
    }
    reduced = synth_corpus(spark, N, partitions=4).withColumn(
        "_k", F.concat_ws("\x00", "repo", "path", "commit")
    ).filter(
        ~F.col("_k").isin([("\x00".join(k)) for k in gone_keys])
    ).drop("_k")
    fresh = build_index(spark, reduced, SPEC, str(tmp_path / "fresh"))
    # meta stats equal the fresh build exactly
    assert folded.n_deleted == 0
    assert folded.n_docs == fresh.n_docs == N - len(victims)
    assert folded.total_tokens == fresh.total_tokens
    assert folded.avgdl == pytest.approx(fresh.avgdl, rel=0, abs=0)
    assert folded.field_tokens == fresh.field_tokens
    # dictionary identical (term -> df), tombstone term gone
    fd = {r["term"]: r["df"] for r in folded.term_dict(spark).collect()}
    xd = {r["term"]: r["df"] for r in fresh.term_dict(spark).collect()}
    assert DELETED_TERM not in fd
    assert fd == xd
    # ranking equal on stored keys + exact scores (ids differ by design)
    for q, kw in ((Q, {}), ("import parse", {"op": "AND"})):
        a = sorted(
            (r["repo"], r["path"], r["commit"], round(r["score"], 9))
            for r in search(spark, folded, q, k=None, **kw).collect()
        )
        b = sorted(
            (r["repo"], r["path"], r["commit"], round(r["score"], 9))
            for r in search(spark, fresh, q, k=None, **kw).collect()
        )
        assert a == b and a
    # ids never reused: meta next_doc_id survives the fold, appends extend it
    with open(os.path.join(fold_dir, "meta.json")) as fh:
        meta = json.load(fh)
    assert int(meta["next_doc_id"]) == N
    extra = (
        synth_corpus(spark, N, partitions=2)
        .limit(20)
        .withColumn("commit", F.concat(F.col("commit"), F.lit("x")))
    )
    grown = append_documents(spark, fold_dir, extra)
    new_ids = {
        r["doc_id"]
        for r in grown.docs(spark).select("doc_id").collect()
    }
    assert len(new_ids) == folded.n_docs + 20
    assert min(i for i in new_ids if i >= N) >= N  # fresh ids above the fold


# -------------------------------------------------------------- overwrite


def test_overwrite_upsert(spark, tmp_path):
    base_dir = str(tmp_path / "ups")
    corpus = synth_corpus(spark, 150, partitions=4).cache()
    build_index(spark, corpus, SPEC, base_dir)
    # v2 of 20 docs: same uniqueKey, new content with a marker token
    changed = (
        corpus.filter(F.xxhash64("path") % 7 == 0)
        .limit(20)
        .withColumn(
            "content",
            F.concat(F.lit("zzreplaced marker "), F.col("content")),
        )
    ).cache()
    n_changed = changed.count()
    assert n_changed
    up = append_documents(spark, base_dir, changed, overwrite=True)
    assert up.n_deleted == n_changed
    # the marker matches exactly the replaced docs; the old versions are gone
    hits = search(spark, up, "zzreplaced", k=None, with_stored=True).collect()
    assert len(hits) == n_changed
    keys = {(r["repo"], r["path"], r["commit"]) for r in hits}
    ck = {
        (r["repo"], r["path"], r["commit"])
        for r in changed.select("repo", "path", "commit").collect()
    }
    assert keys == ck
    # docs rows of the replaced versions stay on disk until compact (Lucene
    # ghosts); match-all serves exactly docs minus tombstones
    all_ids = {r["doc_id"] for r in up.docs(spark).select("doc_id").collect()}
    gone = {r["doc_id"] for r in up.deleted_ids(spark).collect()}
    assert len(all_ids) == 150 + n_changed and len(gone) == n_changed
    assert {
        r["doc_id"] for r in match_ids(spark, up, "*:*").collect()
    } == all_ids - gone
    # after compact, ranking equals a fresh build of the v2 corpus
    folded = compact_index(spark, up)
    v2 = corpus.join(
        changed.select("repo", "path", "commit"),
        ["repo", "path", "commit"],
        "left_anti",
    ).unionByName(changed)
    fresh = build_index(spark, v2, SPEC, str(tmp_path / "fresh2"))
    a = sorted(
        (r["path"], r["commit"], round(r["score"], 9))
        for r in search(spark, folded, "import parse", k=None).collect()
    )
    b = sorted(
        (r["path"], r["commit"], round(r["score"], 9))
        for r in search(spark, fresh, "import parse", k=None).collect()
    )
    assert a == b and a
    corpus.unpersist()
    changed.unpersist()


def test_overwrite_rejected_without_stored_keys(spark, tmp_path):
    spec = IndexSpec(num_shards=2, stored_fields=("lang",))
    d = str(tmp_path / "nk")
    build_index(spark, synth_corpus(spark, 50, partitions=2), spec, d)
    with pytest.raises(IndexSpecError, match="stored"):
        append_documents(
            spark, d, synth_corpus(spark, 10, partitions=1), overwrite=True
        )
