"""Dedup / similarity operator equivalences:

* banded simhash pairs == the quadratic all-pairs formulation (pigeonhole is
  LOSSLESS);
* hash-mode (xxhash64) MinHash LSH finds the same verified pairs as the
  dense-id oracle mode on a clone-heavy fixture (exact clones collide in
  every band under any id assignment);
* LSH-routed embedding near-pairs ⊆ the exact quadratic pairs, and finds all
  exact-duplicate vectors (same bucket by construction);
* exact_duplicates bounds the member list while keeping the true count.
"""

import pytest
from pyspark.sql import functions as F

from cascading_solr_spark.corpus import synth_corpus
from cascading_solr_spark.operators import dedup, similarity


@pytest.fixture(scope="module")
def docs(spark):
    base = synth_corpus(spark, 60, partitions=2).selectExpr(
        "cast(crc32(commit) as long) as doc_id", "content as text"
    )
    clones = base.limit(10).select(
        (F.col("doc_id") + 10_000_000_000).alias("doc_id"), "text"
    )
    return base.union(clones).persist()


def test_simhash_banded_equals_quadratic(spark, docs):
    banded = sorted(
        map(tuple, dedup.simhash_near_pairs(docs, "text", max_hamming=2).collect())
    )
    s = dedup.simhash(docs, "text")
    a, b = s.alias("a"), s.alias("b")
    ham = F.bit_count(
        F.col("a.simhash").bitwiseXOR(F.col("b.simhash")).cast("long")
    )
    quad = sorted(
        map(
            tuple,
            a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                ham.alias("hamming"),
            )
            .filter(F.col("hamming") <= 2)
            .collect(),
        )
    )
    assert banded == quad
    assert banded  # clones guarantee at least the 10 zero-distance pairs


def test_minhash_hash_mode_matches_dense_on_clones(spark, docs):
    dense = sorted(
        map(
            tuple,
            dedup.minhash_lsh_pairs(docs, "text", threshold=0.5).select(
                "doc_a", "doc_b"
            ).collect(),
        )
    )
    hashed = sorted(
        map(
            tuple,
            dedup.minhash_lsh_pairs(
                docs, "text", threshold=0.5, id_mode="hash"
            ).select("doc_a", "doc_b").collect(),
        )
    )
    assert dense == hashed
    assert len(dense) >= 10


def test_embedding_lsh_pairs_subset_of_exact(spark):
    emb = spark.range(40).selectExpr(
        "id as vec_id",
        "transform(sequence(1, 6), d -> cast(pmod(id * d, 9) - 4 as double)) "
        "as embedding",
    )
    # add exact-duplicate vectors (vec_id shifted)
    dup = emb.limit(5).select((F.col("vec_id") + 1000).alias("vec_id"), "embedding")
    emb = emb.union(dup)
    exact = {
        (r["id_a"], r["id_b"])
        for r in similarity.embedding_near_pairs(emb, threshold=0.9).collect()
    }
    routed = {
        (r["id_a"], r["id_b"])
        for r in similarity.embedding_near_pairs_lsh(emb, threshold=0.9).collect()
    }
    assert routed <= exact
    # identical vectors share every hyperplane side -> always found
    dup_pairs = {(i, i + 1000) for i in range(5)}
    assert dup_pairs <= routed


def test_exact_duplicates_caps_members_keeps_count(spark):
    rows = [(i, "same text body") for i in range(50)] + [(99, "unique")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup.exact_duplicates(df, "text", max_ids=7).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_dups"] == 50
    assert r["keep_doc_id"] == 0
    assert r["doc_ids"] == list(range(7))


def test_ann_indexed_matches_recompute_path(spark, tmp_path):
    emb = spark.range(300).selectExpr(
        "id as vec_id",
        "transform(sequence(1, 8), d -> cast(pmod(id * d, 13) - 6 as double)) "
        "as embedding",
    )
    ann_dir = str(tmp_path / "ann")
    similarity.build_ann_index(emb, ann_dir)
    qv = [2.0, -1.0, 0.5, 3.0, -0.25, 1.0, -2.0, 0.75]
    got = similarity.ann_lsh_topk_indexed(spark, ann_dir, qv, k=10, probes=1)
    want = similarity.ann_lsh_topk(emb, qv, k=10)
    assert [
        (r["vec_id"], r["cos_sim"]) for r in got.collect()
    ] == [(r["vec_id"], r["cos_sim"]) for r in want.collect()]


def test_ivf_index_full_probe_equals_brute(spark, tmp_path):
    """IVF with nprobe=n_lists scans every list — must equal the exact
    brute-force ranking; small nprobe returns k rows from probed lists
    only (partition-pruned scan)."""
    from cascading_solr_spark.operators.similarity import (
        ann_ivf_topk,
        build_ivf_index,
        cosine_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = str(tmp_path / "ivf")
    cents = build_ivf_index(emb, out, n_lists=8, max_iter=5)
    assert len(cents) == 8 and len(cents[0]) == 64
    qv = [r["embedding"] for r in emb.filter("vec_id = 7").collect()][0]
    qv = [float(x) for x in qv]
    brute = [
        (r["vec_id"], r["cos_sim"])
        for r in cosine_topk(emb, qv, k=10).collect()
    ]
    full = [
        (r["vec_id"], r["cos_sim"])
        for r in ann_ivf_topk(spark, out, qv, k=10, nprobe=8).collect()
    ]
    assert full == brute
    # small probe: k rows, subset-scored identically, self found (it lives
    # in the probed nearest list by construction)
    near = ann_ivf_topk(spark, out, qv, k=10, nprobe=2)
    rows = near.collect()
    assert len(rows) == 10
    assert rows[0]["vec_id"] == 7 and rows[0]["cos_sim"] == 1.0
    # partition pruning reaches the scan
    plan = near._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "list" in plan


def test_connected_components_brute_force_parity(spark):
    # a chain (1-2-3), a triangle (10-11-12 pairwise), an isolated pair, and
    # a 2-hop star — labels must equal the min id reachable, computed here
    # by brute-force closure on the driver
    edges = [
        (2, 1), (2, 3),
        (10, 11), (11, 12), (10, 12),
        (40, 41),
        (50, 51), (50, 52), (50, 53),
    ]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {
        (r.doc_id, r.component)
        for r in dedup.connected_components(pairs).collect()
    }
    # brute force: union-find
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    want = {(x, min(y for y in parent if find(y) == find(x))) for x in parent}
    assert got == want
    # every node assigned exactly once
    assert len({d for d, _ in got}) == len(got)


def test_drop_near_duplicates_keeps_one_per_cluster(spark, docs):
    pairs = dedup.minhash_lsh_pairs(docs, "text", threshold=0.5)
    kept = dedup.drop_near_duplicates(docs, pairs)
    comp = dedup.connected_components(pairs)
    n_docs = docs.count()
    n_paired = comp.count()
    n_clusters = comp.select("component").distinct().count()
    # unpaired docs all survive; each cluster contributes exactly one
    assert kept.count() == n_docs - n_paired + n_clusters
    # the survivor of each cluster is its canonical min doc_id
    survivors = {r.doc_id for r in kept.join(
        comp, "doc_id").select("doc_id").collect()}
    canon = {r.component for r in comp.select("component").distinct().collect()}
    assert survivors == canon


def test_failed_materialization_leaks_no_persisted_frames(
    spark, docs, monkeypatch
):
    # every frame an operator persists is registered before its eager
    # count, so a call that fails while materializing leaves its caches to
    # the next call's release instead of to the CacheManager forever
    frame_cls = type(docs)  # the session's concrete DataFrame class

    def call():
        dedup.minhash_lsh_pairs(docs, "text").collect()

    persistent = spark.sparkContext._jsc.getPersistentRDDs
    call()
    clean = persistent().size()
    real_count, raised = frame_cls.count, []

    def count_then_raise(self):
        n = real_count(self)
        if not raised:
            raised.append(n)
            raise RuntimeError("injected failure after materialization")
        return n

    monkeypatch.setattr(frame_cls, "count", count_then_raise)
    with pytest.raises(RuntimeError, match="injected"):
        call()
    monkeypatch.undo()
    call()
    assert persistent().size() == clean


def test_persist_registry_is_thread_safe(spark):
    # registrations from more threads than cores all land, and one swap
    # releases every one of them exactly once
    import sys
    import threading

    released = []

    class Handle:
        def unpersist(self, blocking):
            released.append(self)

    class Frame:
        def __init__(self):
            self._jdf = Handle()

    tag = "registry_stress"
    dedup._swap_persisted(tag, spark)
    n_threads, per_thread = 16, 200
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        workers = [
            threading.Thread(
                target=lambda: [
                    dedup._register(tag, spark, Frame())
                    for _ in range(per_thread)
                ]
            )
            for _ in range(n_threads)
        ]
        for w in workers:
            w.start()
        for w in workers:
            w.join(timeout=60)
            assert not w.is_alive()
    finally:
        sys.setswitchinterval(interval)
    dedup._swap_persisted(tag, spark)
    assert len(released) == len(set(map(id, released))) == n_threads * per_thread
    dedup._swap_persisted(tag, spark)
    assert len(released) == n_threads * per_thread
