"""Headline benchmark: index-build throughput + query latency.

Runs at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] (default: the CPUs this process may run on) with a
$BENCH_DRIVER_MEM driver heap (default: a share of MemTotal).  Prints ONE JSON line:
{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}
plus informative extras (build throughput in files/sec, query p95).

The build benchmark indexes BOTH the driver-provided `documents` table and a
deterministic synthetic source-code corpus (BASELINE.json input_hint shape) —
the latter is the north-rule workload (code-aware analyzer, hot keywords,
salted shuffle actually exercised).  bench_scaling.py reuses this module at
two parallelism levels for the N-vs-4N efficiency figure.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

from pyspark.sql import SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from cascading_solr_spark.corpus import synth_corpus
from cascading_solr_spark.indexing.build import build_index
from cascading_solr_spark.operators import dedup, similarity
from cascading_solr_spark.query.naive import bm25_topk_df
from cascading_solr_spark.query.search import search
from cascading_solr_spark.spec import IndexSpec

QUERY_SET = [
    "parse buffer",
    "import",
    "httpClient retry",
    "readJson batch",
    "merge sort stream count",
]


#: share of MemTotal given to the driver heap (local mode runs every
#: executor inside it) when BENCH_DRIVER_MEM is unset, clamped so a small
#: host still starts and a large one is not claimed wholesale
DRIVER_MEM_SHARE = 0.25
DRIVER_MEM_MIN_MB = 1024
DRIVER_MEM_MAX_MB = 32768


def host_cpus() -> str:
    """$SPARK_GRAFT_CPUS, else the CPUs this process may run on."""
    return os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))


def driver_memory() -> str:
    """$BENCH_DRIVER_MEM, else DRIVER_MEM_SHARE of the host's MemTotal."""
    if os.environ.get("BENCH_DRIVER_MEM"):
        return os.environ["BENCH_DRIVER_MEM"]
    mem_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
                break
    mem_mb = int(mem_kb / 1024 * DRIVER_MEM_SHARE)
    return f"{max(DRIVER_MEM_MIN_MB, min(DRIVER_MEM_MAX_MB, mem_mb))}m"


def make_spark(cpus: str) -> SparkSession:
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("cascading_solr_spark-bench")
        .config("spark.sql.shuffle.partitions", str(max(int(cpus), 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.driver.memory", driver_memory())
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def timed(fn, repeat: int = 1) -> float:
    """Wall seconds; with repeat > 1, the MIN over that many runs.

    Rationale (BENCH/SCALING.md): host noise on this VM is strictly
    additive (co-tenant load), so the minimum is the best estimator of the
    true cost.  Sub-5s queries run min-of-3 — single samples made the r3
    dedup_minhash_lsh "regression" unattributable; heavyweight builds stay
    single-sample (their length averages noise out)."""
    best = float("inf")
    for _ in range(repeat):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return best


def run_bench(spark: SparkSession, sf_dir: str, n_code_files: int) -> dict:
    cpus = spark.sparkContext.defaultParallelism
    timings: dict[str, float] = {}
    work = tempfile.mkdtemp(prefix="css_bench_")

    # ---- 1. synthetic source-code corpus (input_hint shape), build timed ----
    corpus_path = os.path.join(work, "corpus")
    synth_corpus(spark, n_code_files, partitions=max(cpus, 8)).write.parquet(
        corpus_path
    )
    corpus = spark.read.parquet(corpus_path)
    spec = IndexSpec(num_shards=max(cpus, 8), salt_buckets=8)
    ix_dir = os.path.join(work, "ix_code")
    timings["build_code_corpus"] = timed(
        lambda: build_index(spark, corpus, spec, ix_dir)
    )
    files_per_sec = n_code_files / timings["build_code_corpus"]

    # ---- 2. documents-table index build ----
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    n_docs = docs.count()
    doc_spec = IndexSpec(
        content_field="text", key_fields=("doc_id",), doc_id_field="doc_id",
        stored_fields=("lang", "source", "textlen", "docdate", "text"),
        keyword_fields=("lang", "source"),
        text_fields=("title",),  # driver-shaped: eDisMax extra field (r5d)
        num_shards=max(cpus // 4, 4),
        positions=True,  # driver-shaped: the docs index is positional (r5c)
    )
    ix_docs_dir = os.path.join(work, "ix_docs")
    from pyspark.sql import functions as _F

    docs_src = (
        docs.withColumn("textlen", _F.length("text"))
        .withColumn(
            "docdate",
            _F.date_add(
                _F.to_date(_F.lit("2020-01-01")),
                _F.pmod(_F.col("doc_id") * 37, _F.lit(1100)).cast("int"),
            ),
        )
        .withColumn(
            "title",
            _F.concat_ws(" ", _F.slice(_F.split(_F.col("text"), " "), 1, 5)),
        )
    )
    timings["build_documents"] = timed(
        lambda: build_index(spark, docs_src, doc_spec, ix_docs_dir)
    )
    # facet + spellcheck over the documents index (driver-shaped spec)
    from cascading_solr_spark.indexing.build import Index as _Index
    from cascading_solr_spark.query.search import facet_counts, suggest_terms

    ix_docs = _Index.load(ix_docs_dir)
    timings["facet_lang"] = timed(
        lambda: facet_counts(spark, ix_docs, "spark join", "lang").collect(),
        repeat=3,
    )
    # every facet.field of the request in ONE pass (1 match job + 1
    # prefix-OR-pruned scan) vs the 2x facet_counts it replaces
    from cascading_solr_spark.query.search import facet_fields_counts

    timings["facet_two_fields_one_pass"] = timed(
        lambda: facet_fields_counts(
            spark, ix_docs, "spark join", ["lang", "source"]
        ).collect(),
        repeat=3,
    )
    timings["facet_two_fields_two_calls"] = timed(
        lambda: (
            facet_counts(spark, ix_docs, "spark join", "lang").collect(),
            facet_counts(spark, ix_docs, "spark join", "source").collect(),
        ),
        repeat=3,
    )
    # eDisMax multi-field ranked retrieval (qf=text^0.5 title^1.2, tie=0.1)
    from cascading_solr_spark.query.search import search_dismax

    timings["q_dismax"] = timed(
        lambda: search_dismax(
            spark, ix_docs, "spark join", {"text": 0.5, "title": 1.2},
            tie=0.1, k=10, with_stored=False,
        ).collect(),
        repeat=3,
    )
    # scale path (ngram candidate index) vs the full-dict oracle scan
    timings["spellcheck_ngram"] = timed(
        lambda: suggest_terms(spark, ix_docs, "sparc", k=5, mode="ngram")
        .collect(),
        repeat=3,
    )
    timings["spellcheck_scan"] = timed(
        lambda: suggest_terms(spark, ix_docs, "sparc", k=5, mode="scan")
        .collect(),
        repeat=3,
    )
    # round-4 /browse components over the docs index
    from cascading_solr_spark.query.search import (
        facet_query_counts, facet_range_counts, highlight,
    )

    timings["facet_query"] = timed(
        lambda: facet_query_counts(
            spark, ix_docs, "spark join",
            {"es_docs": "lang:es", "with_stream": "stream"},
        ).collect(),
        repeat=3,
    )
    timings["facet_range"] = timed(
        lambda: facet_range_counts(
            spark, ix_docs, "spark join", "textlen", 0, 4000, 500
        ).collect(),
        repeat=3,
    )
    from cascading_solr_spark.query.search import facet_range_counts_date

    timings["facet_range_date"] = timed(
        lambda: facet_range_counts_date(
            spark, ix_docs, "spark join", "docdate",
            "2020-03-01", "2022-03-01", 3, other=True,
        ).collect(),
        repeat=3,
    )
    timings["highlight_topk"] = timed(
        lambda: highlight(spark, ix_docs, "spark join", k=10).collect(),
        repeat=3,
    )
    from cascading_solr_spark.query.search import (
        facet_pivot_counts,
        search_sorted,
        spellcheck_collate,
        stats_field,
        term_vectors,
        terms_component,
    )

    timings["facet_pivot"] = timed(
        lambda: facet_pivot_counts(
            spark, ix_docs, "spark join", ("lang", "source")
        ).collect(),
        repeat=3,
    )
    timings["stats_textlen"] = timed(
        lambda: stats_field(spark, ix_docs, "spark join", "textlen").collect(),
        repeat=3,
    )
    timings["sorted_query"] = timed(
        lambda: search_sorted(
            spark, ix_docs, "spark join", "textlen", k=10
        ).collect(),
        repeat=3,
    )
    timings["paged_query"] = timed(
        lambda: search(
            spark, ix_docs, "spark join", k=10, start=10, with_stored=False
        ).collect(),
        repeat=3,
    )
    # deep paging: offset start=500 (per-shard fetch grows with depth) vs a
    # cursor at the same depth (flat page-1 cost — the cursorMark property;
    # the depth-500 cursor is derived OUTSIDE the timed region)
    from cascading_solr_spark.query.search import next_cursor, search_after

    timings["paged_query_deep500"] = timed(
        lambda: search(
            spark, ix_docs, "spark join", k=10, start=500, with_stored=False
        ).collect(),
        repeat=3,
    )
    _deep_rows = search(
        spark, ix_docs, "spark join", k=500, mode="taat", with_stored=False
    ).collect()
    _deep_cursor = next_cursor(_deep_rows)
    timings["cursor_page_first"] = timed(
        lambda: search_after(
            spark, ix_docs, "spark join", k=10
        ).collect(),
        repeat=3,
    )
    timings["cursor_page_deep500"] = timed(
        lambda: search_after(
            spark, ix_docs, "spark join", cursor=_deep_cursor, k=10
        ).collect(),
        repeat=3,
    )
    timings["terms_browse"] = timed(
        lambda: terms_component(spark, ix_docs, prefix="s", k=10).collect(),
        repeat=3,
    )
    timings["collate"] = timed(
        lambda: spellcheck_collate(spark, ix_docs, "sparc join").collect(),
        repeat=3,
    )
    timings["term_vectors_doc0"] = timed(
        lambda: term_vectors(spark, ix_docs, 0).collect(), repeat=3
    )
    from cascading_solr_spark.query.search import more_like_this

    _mlt_src = docs.filter(_F.col("doc_id") == 0).collect()[0]["text"]
    timings["mlt_doc0"] = timed(
        lambda: more_like_this(
            spark, ix_docs, _mlt_src, k=10, max_terms=10, exclude_doc_id=0
        ).collect(),
        repeat=3,
    )
    from cascading_solr_spark.query.search import (
        explain_score,
        realtime_get,
        search_elevated,
    )

    timings["elevate"] = timed(
        lambda: search_elevated(
            spark, ix_docs, "spark join",
            {"spark join": [3, 5, (1, True)]}, k=10,
        ).collect(),
        repeat=3,
    )
    timings["explain_top1"] = timed(
        lambda: explain_score(spark, ix_docs, "spark join", 3).collect(),
        repeat=3,
    )
    timings["rt_get"] = timed(
        lambda: realtime_get(spark, ix_docs, [1, 2, 3, 5, 8]).collect(),
        repeat=3,
    )
    from cascading_solr_spark.query.search import search_grouped, search_phrase

    # positional surface (round 5c): exact phrase, grouping, mm
    timings["phrase_query"] = timed(
        lambda: search_phrase(
            spark, ix_docs, "merge sort", k=10, with_stored=False
        ).collect(),
        repeat=3,
    )
    timings["phrase_query_slop2"] = timed(
        lambda: search_phrase(
            spark, ix_docs, "merge sort", k=10, with_stored=False, slop=2
        ).collect(),
        repeat=3,
    )
    timings["grouped_query"] = timed(
        lambda: search_grouped(
            spark, ix_docs, "spark join", "lang", group_limit=2, k_groups=5
        ).collect(),
        repeat=3,
    )
    timings["min_match_query"] = timed(
        lambda: search(
            spark, ix_docs, "merge sort window batch", k=10,
            with_stored=False, min_match=3,
        ).collect(),
        repeat=3,
    )
    # Lucene-parser clause surface (round 5g): MUST_NOT exclusion, boost,
    # wildcard constant-score expansion, fuzzy ball, keyword range group
    timings["query_negation"] = timed(
        lambda: search(
            spark, ix_docs, "spark join -merge", k=10, with_stored=False
        ).collect(),
        repeat=3,
    )
    timings["query_boosted"] = timed(
        lambda: search(
            spark, ix_docs, "spark join^2", k=10, with_stored=False
        ).collect(),
        repeat=3,
    )
    timings["query_wildcard"] = timed(
        lambda: search(
            spark, ix_docs, "join s*", k=10, with_stored=False
        ).collect(),
        repeat=3,
    )
    timings["query_fuzzy"] = timed(
        lambda: search(
            spark, ix_docs, "join xerge~1", k=10, with_stored=False
        ).collect(),
        repeat=3,
    )
    timings["query_range_fq"] = timed(
        lambda: search(
            spark, ix_docs, "spark join lang:[de TO es]", k=10,
            with_stored=False,
        ).collect(),
        repeat=3,
    )
    timings["query_doc_filter"] = timed(
        lambda: search(
            spark, ix_docs, "spark join", k=10, with_stored=False,
            doc_filter="textlen >= 300",
        ).collect(),
        repeat=3,
    )
    from cascading_solr_spark.query.boolean import search_boolean

    timings["query_boolean_tree"] = timed(
        lambda: search_boolean(
            spark, ix_docs, "(spark AND join) OR (merge AND sort)", k=10
        ).collect(),
        repeat=3,
    )
    # function-query surface (round 5h): edismax bf boost, sort-by-function,
    # {!join} fq
    from cascading_solr_spark.query.search import (
        search_boosted,
        search_joined,
        sort_by_function,
    )

    timings["query_bf_boost"] = timed(
        lambda: search_boosted(
            spark, ix_docs, "spark join", bf="div(textlen,100)", k=10
        ).collect(),
        repeat=3,
    )
    timings["sort_by_function"] = timed(
        lambda: sort_by_function(
            spark, ix_docs, "spark join", "recip(textlen,1,1000,100)",
            ascending=False, k=10,
        ).collect(),
        repeat=3,
    )
    timings["query_join_fq"] = timed(
        lambda: search_joined(
            spark, ix_docs, "spark join", '"merge sort"', "source", "source",
            k=10,
        ).collect(),
        repeat=3,
    )

    # ---- 3. query latency over the compressed code index ----
    from cascading_solr_spark.indexing.build import Index

    ix = Index.load(ix_dir)
    lat: list[float] = []
    for mode in ("maxscore", "taat"):
        for q in QUERY_SET:
            t = timed(
                lambda: search(spark, ix, q, k=10, mode=mode, with_stored=False)
                .collect(),
                repeat=3,
            )
            lat.append(t)
            timings[f"q_{mode}_{q.split()[0]}"] = t
    timings["query_p95"] = (
        statistics.quantiles(lat, n=20)[18] if len(lat) >= 2 else lat[0]
    )
    # batch path: all queries in one distributed pass
    from cascading_solr_spark.query.search import search_many

    qset = {f"q{i}": q for i, q in enumerate(QUERY_SET)}
    timings["qbatch_all"] = timed(
        lambda: search_many(spark, ix, qset, k=10).collect(), repeat=3
    )

    # ---- 3b. filtered + selective-term queries over the code index ----
    from pyspark.sql import functions as F

    # decode-skip trace terms: per-SHARD df must exceed k for θ to activate
    # (k=10 over num_shards shards -> global df must be >= ~32·k; the round-2
    # trace picked df 20-200 and every shard had < k candidates, so nothing
    # was ever pruned and blocks_skipped reported 0 on a kernel that provably
    # skips — the bug was the workload, not the kernel)
    lo = 64 * 10  # ≈ 2·num_shards·k: comfortably > k candidates per shard
    hi = max(lo + 1, min(8 * lo, n_code_files // 4))  # stay SELECTIVE (df << N)
    rare = [
        r["term"]
        for r in ix.term_dict(spark)
        .filter(
            (F.col("df") >= lo) & (F.col("df") <= hi)
            & ~F.col("term").contains(":")
        )
        .orderBy("term")
        .limit(2)
        .collect()
    ]
    sel_query = " ".join(rare + ["import"])
    timings["q_selective_mix"] = timed(
        lambda: search(spark, ix, sel_query, k=10, with_stored=False).collect(),
        repeat=3,
    )
    timings["q_selective_mix_taat"] = timed(
        lambda: search(
            spark, ix, sel_query, k=10, mode="taat", with_stored=False
        ).collect(),
        repeat=3,
    )
    # decode-skip trace on a DEDICATED single-shard, unsalted index: at 100 TB
    # a shard's posting row spans many blocks ((N/shards)/salts >> block), but
    # the 32-shard x 8-salt bench index splits every hot row below one block —
    # block skipping structurally cannot fire there (round-2's zero-skip
    # report).  num_shards=1 + no hot salting reproduces the at-scale row
    # shape: 'import' holds all 20k docs in ~160 blocks.
    from cascading_solr_spark.codec import bm25_idf
    from cascading_solr_spark.query.search import _taat_kernel, term_dfs
    from cascading_solr_spark.query.wand import maxscore_kernel

    from cascading_solr_spark.analyzer import analyze_query

    trace_spec = IndexSpec(num_shards=1, salt_buckets=1, hot_term_df_ratio=1.1)
    trace_dir = os.path.join(work, "ix_trace")
    timings["trace_build_1shard"] = timed(
        lambda: build_index(spark, corpus, trace_spec, trace_dir)
    )
    from cascading_solr_spark.indexing.build import Index as _Ix

    trix = _Ix.load(trace_dir)
    terms = analyze_query(sel_query)
    dfs_map = term_dfs(spark, trix, terms)
    idf = {t: bm25_idf(v, trix.n_docs) for t, v in dfs_map.items()}
    pdf0 = trix.postings(spark).filter(F.col("term").isin(terms)).toPandas()
    skip_counters: dict = {}
    ms_kernel = maxscore_kernel(
        idf, trix.avgdl, trace_spec.k1, trace_spec.b, 10,
        trace_spec.block_size, counters=skip_counters,
    )
    t0 = time.perf_counter()
    ms_kernel(pdf0)
    kernel_maxscore_s = time.perf_counter() - t0
    taat_kernel = _taat_kernel(
        idf, trix.avgdl, trace_spec.k1, trace_spec.b, 10, trace_spec.block_size
    )
    t0 = time.perf_counter()
    taat_kernel(pdf0)
    kernel_taat_s = time.perf_counter() - t0

    # ---- 4. operator headliners on the driver tables ----
    timings["naive_bm25_documents"] = timed(
        lambda: bm25_topk_df(docs, "spark join stream", k=10, content_col="text")
        .collect(),
        repeat=3,
    )
    timings["dedup_minhash_lsh"] = timed(
        lambda: dedup.minhash_lsh_pairs(docs, "text", threshold=0.5).count(),
        repeat=3,
    )
    timings["dedup_minhash_lsh_hashmode"] = timed(
        lambda: dedup.minhash_lsh_pairs(
            docs, "text", threshold=0.5, id_mode="hash"
        ).count(),
        repeat=3,
    )
    def _components_end_to_end():
        pairs = dedup.minhash_lsh_pairs(
            docs, "text", threshold=0.5, id_mode="hash"
        ).persist()
        try:
            n = dedup.connected_components(pairs).count()
        finally:
            pairs.unpersist()
        return n

    # pairs → clusters → canonical ids (hash-mode pairs + hash-min CC);
    # the full keep-one-per-cluster dedup path a pipeline actually runs
    timings["dedup_components_e2e"] = timed(_components_end_to_end, repeat=3)
    timings["dedup_simhash_pairs"] = timed(
        lambda: dedup.simhash_near_pairs(
            docs.select("doc_id", "text"), "text", max_hamming=1
        ).count(),
        repeat=3,
    )
    timings["dedup_simhash_pairs_hashmode"] = timed(
        lambda: dedup.simhash_near_pairs(
            docs.select("doc_id", "text"), "text", max_hamming=1,
            id_mode="hash",
        ).count(),
        repeat=3,
    )
    from cascading_solr_spark.operators import textstats

    timings["fingerprint_dense"] = timed(
        lambda: textstats.fingerprint(docs, "text").count(), repeat=3
    )
    timings["fingerprint_hashmode"] = timed(
        lambda: textstats.fingerprint(docs, "text", id_mode="hash").count(),
        repeat=3,
    )
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    emb_d = emb.withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    timings["sim_cosine_topk"] = timed(
        lambda: similarity.cosine_topk_to_row(emb, query_id=0, k=10).collect(),
        repeat=3,
    )
    timings["sim_near_pairs_lsh"] = timed(
        lambda: similarity.embedding_near_pairs_lsh(emb_d, threshold=0.3)
        .count(),
        repeat=3,
    )
    # the 100 TB config: more planes (smaller buckets -> bounded within-
    # bucket pair blowup) x more tables (recall back via banded OR)
    timings["sim_near_pairs_lsh_scale"] = timed(
        lambda: similarity.embedding_near_pairs_lsh(
            emb_d, threshold=0.3, n_planes=12, n_tables=2
        ).count(),
        repeat=3,
    )
    # ANN: build bucket-partitioned indexes, sweep the recall/latency curve
    # vs exact brute force (recall@10 over a deterministic query vector)
    qv = [((7 * d + 3) % 11 - 5) / 2.0 for d in range(64)]
    exact_ids = {
        r["vec_id"] for r in similarity.cosine_topk(emb_d, qv, k=10).collect()
    }

    def ann_point(ann_dir: str, probes: int, n_tables: int) -> dict:
        rows: list = []
        def probe() -> None:
            rows.clear()
            rows.extend(
                similarity.ann_lsh_topk_indexed(
                    spark, ann_dir, qv, k=10, probes=probes, n_tables=n_tables
                ).collect()
            )

        sec = timed(probe, repeat=3)
        rec = len(exact_ids & {r["vec_id"] for r in rows}) / max(1, len(exact_ids))
        return {"recall_at_10": round(rec, 3), "sec": round(sec, 4)}

    ann_dir = os.path.join(work, "ann")
    timings["ann_build"] = timed(
        lambda: similarity.build_ann_index(emb_d, ann_dir)
    )
    ann2_dir = os.path.join(work, "ann_t2")
    timings["ann_build_t2"] = timed(
        lambda: similarity.build_ann_index(emb_d, ann2_dir, n_tables=2)
    )
    ann_curve = {
        "t1_p1": ann_point(ann_dir, 1, 1),
        "t1_p2": ann_point(ann_dir, 2, 1),
        "t1_p3": ann_point(ann_dir, 3, 1),
        "t2_p2": ann_point(ann2_dir, 2, 2),
        "t2_p3": ann_point(ann2_dir, 3, 2),
    }
    # headline = the driver-query config (2 tables, hamming-2 multiprobe)
    timings["ann_query"] = ann_curve["t2_p3"]["sec"]
    ann_recall = ann_curve["t2_p3"]["recall_at_10"]
    # IVF variant (k-means coarse quantizer): the data-adaptive scale path
    ivf_dir = os.path.join(work, "ivf")
    timings["ann_ivf_build"] = timed(
        lambda: similarity.build_ivf_index(emb_d, ivf_dir, n_lists=16)
    )
    ivf_rows: list = []

    def ivf_probe() -> None:
        ivf_rows.clear()
        ivf_rows.extend(
            similarity.ann_ivf_topk(spark, ivf_dir, qv, k=10, nprobe=4).collect()
        )

    timings["ann_ivf_query"] = timed(ivf_probe, repeat=3)
    ivf_recall = len(
        exact_ids & {r["vec_id"] for r in ivf_rows}
    ) / max(1, len(exact_ids))

    # ---- 5. incremental append throughput (segment refresh path) ----
    from cascading_solr_spark.indexing.append import append_documents

    def mk_delta(n: int, tag: str):
        return synth_corpus(spark, n, partitions=max(cpus, 8)).select(
            F.col("repo"), F.concat(F.col("path"), F.lit(tag)).alias("path"),
            F.col("commit"), F.col("lang"), F.col("content"),
        )

    n_d1, n_d2 = n_code_files // 10, n_code_files // 4
    # three DISTINCT 2k batches, min taken: appends are O(batch) (corrupt-
    # postings test), so each run costs the same and the min estimates the
    # steady-state micro-batch rate net of the first-append JIT/warm-up
    tags = iter([".v2a", ".v2b", ".v2c"])
    timings["append_delta"] = timed(
        lambda: append_documents(spark, ix_dir, mk_delta(n_d1, next(tags))),
        repeat=3,
    )
    timings["append_delta_2"] = timed(
        lambda: append_documents(spark, ix_dir, mk_delta(n_d2, ".v3"))
    )
    append_files_per_sec = n_d1 / timings["append_delta"]
    append_fps_large = n_d2 / timings["append_delta_2"]

    # ---- 6. deletes: tombstone write + query latency with deletes live ----
    from cascading_solr_spark.indexing.delete import delete_documents

    # the tombstone overhead baseline must be the SAME index state (base +
    # both appended deltas) immediately before the delete — comparing
    # against q_maxscore_parse (pristine pre-append index, fewer docs and
    # segments) conflates append fragmentation with tombstone cost
    ix_pre = Index.load(ix_dir)
    timings["query_pre_delete"] = timed(
        lambda: search(
            spark, ix_pre, "parse buffer", k=10, with_stored=False
        ).collect(),
        repeat=3,
    )
    n_del = max(200, n_code_files // 100)
    del_ids = list(range(0, n_del * 7, 7))  # spread across shards/blocks
    timings["delete_batch"] = timed(
        lambda: delete_documents(spark, ix_dir, del_ids)
    )
    ix_del = Index.load(ix_dir)
    timings["query_with_deletes"] = timed(
        lambda: search(
            spark, ix_del, "parse buffer", k=10, with_stored=False
        ).collect(),
        repeat=3,
    )

    shutil.rmtree(work, ignore_errors=True)
    total = sum(v for v in timings.values() if not v != v)
    return {
        "metric": "headline suite wall time (index builds + query set + operators)",
        "value": round(total, 3),
        "unit": "sec",
        "queries": {k: round(v, 4) for k, v in timings.items()},
        "sf": sf_dir.rstrip("/").split("sf")[-1],
        "cpus": cpus,
        "code_corpus_files": n_code_files,
        "build_files_per_sec": round(files_per_sec, 2),
        "append_files_per_sec": round(append_files_per_sec, 2),
        "append_files_per_sec_large_batch": round(append_fps_large, 2),
        "documents_rows": n_docs,
        "selective_query": sel_query,
        "decode_skip": skip_counters,
        # in-process kernel wall time on the SAME single-shard postings:
        # MaxScore's decode-skipping vs exhaustive TAAT, job overhead excluded
        "kernel_maxscore_vs_taat": {
            "maxscore_s": round(kernel_maxscore_s, 4),
            "taat_s": round(kernel_taat_s, 4),
            "speedup": round(kernel_taat_s / max(kernel_maxscore_s, 1e-9), 2),
        },
        # TAAT decodes everything; MaxScore skips — the latency delta the
        # decode-skip trace quantifies in blocks
        "maxscore_vs_taat": {
            "hot_import": round(
                timings["q_taat_import"] / timings["q_maxscore_import"], 3
            ),
            "selective_mix": round(
                timings["q_selective_mix_taat"] / timings["q_selective_mix"], 3
            ),
        },
        "ann_recall_at_10": round(ann_recall, 3),
        "ann_ivf_recall_at_10": round(ivf_recall, 3),
        "ann_curve": ann_curve,
        # cursorMark property: page ~50 by cursor costs ~page 1, while
        # offset start=500 pays the growing per-shard fetch
        "cursor_paging": {
            "cursor_deep_vs_first": round(
                timings["cursor_page_deep500"]
                / max(timings["cursor_page_first"], 1e-9),
                3,
            ),
            "offset_deep_vs_cursor_deep": round(
                timings["paged_query_deep500"]
                / max(timings["cursor_page_deep500"], 1e-9),
                3,
            ),
        },
        # tombstone overhead on the hot query path: with-deletes latency
        # over the same-query latency on the identical pre-delete index
        # state (base + appended deltas)
        "delete_query_overhead": round(
            timings["query_with_deletes"]
            / max(timings["query_pre_delete"], 1e-9),
            3,
        ),
        "repeat_policy": "sub-5s queries + appends: min of 3 (additive-noise"
        " estimator, BENCH/SCALING.md); index builds: single sample",
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = host_cpus()
    n_files = int(os.environ.get("BENCH_CORPUS_ROWS", "20000"))
    spark = make_spark(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    result = run_bench(spark, sf_dir, n_files)
    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()
