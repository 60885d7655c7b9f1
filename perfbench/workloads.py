"""The two workloads.  Each runs a closed loop with one client: the next
operation starts only after the previous one returned its collected result.

Every workload function takes a :class:`Ctx`, prepares its inputs from the
seed inside the ``setup`` span, runs operations of one kind inside the
``measure`` span until ``seconds`` have passed (each in an ``op`` span),
and checks outputs through the ledger.  It returns the number of work
items the measured phase completed; the figures it prints under their own
names go into ``ctx.figures`` and values only the workload can compute for
the traced run go into ``ctx.layer``.

A traced run must report every per-layer metric, so after its measured
phase it gives each layer the workload does not otherwise enter one pass
on the workload's own data (the ``cover`` span): ``ingest`` compacts its
index, runs the dedup pass and covers the request mix; ``query`` covers
one write round, compaction and dedup.
"""

from __future__ import annotations

import hashlib
import os
import time
from dataclasses import dataclass, field

import numpy as np

from perfbench import corpus
from perfbench.harness import WORK, Ledger, Tracer, dir_bytes, median, quantile

#: input sizes, chosen so an untraced run (session start, set-up, the
#: measured phase, checks) takes 50-65 s on an unloaded 4-core host
INDEX_FILES = 400
APPEND_FILES = 200
DELETE_IDS = 40
DEDUP_DOCS = 300
DEDUP_COPY_FRACTION = 0.1
BATCH_QUERIES = 32
K = 10


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    trace: bool
    tracer: Tracer
    ledger: Ledger
    nproc: int
    #: workload figures printed under their own names (both modes)
    figures: dict = field(default_factory=dict)
    #: per-layer values computed by the workload (traced run)
    layer: dict = field(default_factory=dict)

    def spec(self):
        """One index layout for both workloads: positions for phrases, a
        ``lang`` keyword field for facets, ``path`` as a second text field
        for dismax."""
        from cascading_solr_spark import IndexSpec

        return IndexSpec(num_shards=self.nproc, positions=True,
                         keyword_fields=("lang",), text_fields=("path",))


def _write_files(ctx: Ctx, pdf, name: str, files: int):
    """Write a pandas frame to ``files`` parquet files under the work dir
    (a small local frame arrives as one partition); read it back."""
    path = os.path.join(WORK, name)
    ctx.spark.createDataFrame(pdf).repartition(files).write.mode(
        "overwrite"
    ).parquet(path)
    return ctx.spark.read.parquet(path)


def _sha(text: str) -> str:
    return hashlib.sha256(text.encode("utf-8")).hexdigest()


def _keyed(pdf) -> dict:
    return {
        (r.repo, r.path, r.commit): r.content for r in pdf.itertuples(index=False)
    }


def _check_sha256(ctx: Ctx, ix, content_by_key: dict, n_sample: int = 8) -> None:
    """Stored sha256 of sampled docs equals the sha256 of their source."""
    from pyspark.sql import functions as F

    keys = list(content_by_key)
    rng = np.random.default_rng([ctx.seed, 11])
    picks = [keys[int(i)] for i in rng.choice(len(keys), size=min(n_sample, len(keys)), replace=False)]
    cond = None
    for repo, path, commit in picks:
        c = (F.col("repo") == repo) & (F.col("path") == path) & (F.col("commit") == commit)
        cond = c if cond is None else (cond | c)
    rows = ix.docs(ctx.spark).filter(cond).select("repo", "path", "commit", "sha256").collect()
    got = {(r["repo"], r["path"], r["commit"]): r["sha256"] for r in rows}
    ctx.ledger.check(
        len(got) == len(picks)
        and all(got[k] == _sha(content_by_key[k]) for k in picks),
        f"sha256 round trip of {len(picks)} sampled docs",
    )


def _check_postings_decode(ctx: Ctx, ix, n_ids: int) -> None:
    """Doc ids decoded from sampled posting rows are ascending, below the
    number of ids ever assigned, and as many as the row's ``n_docs``."""
    from cascading_solr_spark.codec import decode_doc_ids

    rows = ix.postings(ctx.spark).select("doc_ids", "n_docs").limit(50).collect()
    ok = bool(rows)
    for r in rows:
        ids = decode_doc_ids(r["doc_ids"], int(r["n_docs"]), ix.spec.block_size)
        ok &= len(ids) == int(r["n_docs"]) and bool(np.all(np.diff(ids) > 0))
        ok &= bool(ids.min() >= 0 and ids.max() < n_ids)
    ctx.ledger.check(ok, "posting rows decode to sorted in-range doc ids")


def _terms_by_band(pdf) -> dict[str, list[str]]:
    """Content terms of the corpus split by df band: hot (salted at
    build), mid (from k up to the default salting threshold), and rare
    (global df below k, so every shard holds fewer than k of its postings
    and top-k pruning has no threshold to use)."""
    from collections import Counter

    from cascading_solr_spark import IndexSpec
    from cascading_solr_spark.analyzer import tokenize

    d = Counter(t for text in pdf["content"] for t in set(tokenize(text)))
    words = sorted(t for t in d if not t.isdigit())
    hot_df = IndexSpec().hot_term_df_ratio * len(pdf)
    # only terms in at least half the docs, so every seed's hot term has
    # about as many postings (all are far above the salting threshold)
    hot = [t for t in words if d[t] >= len(pdf) // 2]
    mid = [t for t in words if K <= d[t] <= hot_df]
    rare = [t for t in words if 2 <= d[t] < K]
    return {"hot": hot, "mid": mid, "rare": rare}


def _pick(rng, pool: list[str], n: int) -> list[str]:
    return [pool[int(i)] for i in rng.choice(len(pool), size=n, replace=False)]


def _build(ctx: Ctx, src, path: str):
    """``build_index`` in a ``build`` span; keeps its phase profile."""
    from cascading_solr_spark.indexing import build_index
    from cascading_solr_spark.indexing.build import LAST_BUILD_PROFILE

    with ctx.tracer.span("build"):
        ix = ctx.ledger.op(build_index, ctx.spark, src, ctx.spec(), path)
    if ix is None:
        raise RuntimeError("build_index failed: " + ctx.ledger.errors[-1])
    p = LAST_BUILD_PROFILE
    ctx.layer.update({
        "build.doc_ids_s": p.get("doc_ids", 0.0),
        "build.hot_detect_s": p.get("hot_detect", 0.0),
        "build.postings_write_s": p.get("postings_write", 0.0),
        "build.lineage_dict_s": p.get("lineage+dict", 0.0),
    })
    return ix


def _index_sizes(ctx: Ctx, ix, source_bytes: int) -> None:
    sizes = {
        "index.postings_bytes": dir_bytes(ix.postings_path),
        "index.dict_bytes": dir_bytes(ix.dict_path),
        "index.docs_bytes": dir_bytes(ix.docs_path),
    }
    ctx.layer.update(sizes)
    ratio = sum(sizes.values()) / max(1, source_bytes)
    ctx.layer["index.bytes_per_source_byte"] = ratio
    ctx.figures["index_bytes_per_source_byte"] = ratio


def _fixture(ctx: Ctx):
    """The set-up both workloads share: the seeded corpus written to one
    parquet file per core, a fresh index built from it, and the corpus
    terms by df band."""
    pdf = corpus.code_files(ctx.seed, INDEX_FILES)
    src = _write_files(ctx, pdf, "corpus", files=ctx.nproc)
    ix = _build(ctx, src, os.path.join(WORK, "ix"))
    _index_sizes(ctx, ix, int(pdf["content"].str.len().sum()))
    return pdf, ix, _terms_by_band(pdf)


# ------------------------------------------------------------------ ingest


def _write_round(ctx: Ctx, ix, n: int, rng, bands: dict, deleted: set):
    """One write round: ``append_documents`` of a seeded batch of new
    files, ``delete_documents`` of seeded live ids, then a ranked query
    on the returned handle.  ``deleted`` collects every id deleted so far.
    Returns the handle and the appended files by key."""
    from cascading_solr_spark.indexing import append_documents, delete_documents
    from cascading_solr_spark.indexing.build import LAST_BUILD_PROFILE
    from cascading_solr_spark.query import search

    spark, tr, led = ctx.spark, ctx.tracer, ctx.ledger
    bpdf = corpus.code_files(ctx.seed, APPEND_FILES, tag=f"a{n}-")
    batch = spark.createDataFrame(bpdf)
    with tr.span("append"):
        ix = led.op(append_documents, spark, ix.path, batch) or ix
    p = LAST_BUILD_PROFILE
    ctx.layer.update({
        "append.doc_ids_s": p.get("a_doc_ids", 0.0),
        "append.postings_s": p.get("a_postings", 0.0),
        "append.dict_stats_s": p.get("a_dict+stats", 0.0),
    })
    live = sorted(set(range(ix.n_docs)) - deleted)
    ids = sorted(int(i) for i in rng.choice(live, size=DELETE_IDS, replace=False))
    deleted.update(ids)
    with tr.span("delete"):
        ix = led.op(delete_documents, spark, ix.path, ids) or ix
    q = " ".join(_pick(rng, bands["hot"], 1) + _pick(rng, bands["mid"], 1)
                 + _pick(rng, bands["rare"], 1))
    with tr.span("query_after_write"):
        rows = led.op(lambda: search(spark, ix, q, k=K).collect())
    if rows is not None:
        led.check(not ({int(r["doc_id"]) for r in rows} & deleted),
                  "no deleted id in a query after delete")
    return ix, _keyed(bpdf)


def _compact(ctx: Ctx, ix, live: int):
    """``compact_index``; the compacted index counts exactly ``live`` docs."""
    from cascading_solr_spark.indexing.compact import compact_index

    with ctx.tracer.span("compact"):
        ix = ctx.ledger.op(compact_index, ctx.spark, ix) or ix
    ctx.ledger.check(ix.n_docs == live, "compacted n_docs counts live docs")
    ctx.layer["compact.bytes_rewritten"] = dir_bytes(ix.postings_path)
    return ix


# --------------------------------------------------------------------- dedup


def _components(pairs: list[tuple[int, int]]) -> dict[int, int]:
    """Union-find: doc id -> smallest id of its component."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def _dedup(ctx: Ctx) -> None:
    """Over a seeded corpus with injected near copies: MinHash LSH pairs ->
    connected components -> drop near duplicates, plus SimHash pairs and
    MinHash signatures; checks recall against the injected pairs and that
    one doc per cluster is kept."""
    from cascading_solr_spark.operators import dedup as dd

    tr, led = ctx.tracer, ctx.ledger
    pdf, truth = corpus.with_near_copies(ctx.seed, DEDUP_DOCS, DEDUP_COPY_FRACTION)
    docs = _write_files(ctx, pdf, "dedup_docs", files=ctx.nproc)
    with tr.span("dedup"):
        with tr.span("dedup.lsh_pairs"):
            rows = led.op(lambda: dd.minhash_lsh_pairs(
                docs, "text", threshold=0.5, id_mode="hash"
            ).select("doc_a", "doc_b").collect())
        found = {tuple(sorted((int(r[0]), int(r[1])))) for r in rows or []}
        pairs = ctx.spark.createDataFrame(sorted(found), "doc_a long, doc_b long")
        with tr.span("dedup.components"):
            led.op(lambda: dd.connected_components(pairs).collect())
        with tr.span("dedup.drop"):
            kept = led.op(lambda: dd.drop_near_duplicates(docs, pairs).count())
        with tr.span("dedup.simhash_pairs"):
            led.op(lambda: dd.simhash_near_pairs(docs, "text", id_mode="hash").count())
    with tr.span("dedup.minhash_signatures"):
        led.op(lambda: dd.minhash_signatures(docs, "text", id_mode="hash").count())
    recall = len(found & truth) / len(truth) if truth else 1.0
    led.check(recall >= 0.9, f"minhash pair recall {recall:.3f} vs injected copies")
    losers = sum(1 for x, root in _components(sorted(found)).items() if x != root)
    led.check(kept == DEDUP_DOCS - losers, "drop_near_duplicates keeps one doc per cluster")
    ctx.layer["dedup.pairs_out"] = len(found)
    ctx.layer["dedup.pair_recall"] = recall
    ctx.figures["dedup_pair_recall"] = recall


# --------------------------------------------------------------------- query


def _phrases(pdf, rng, n: int = 16) -> list[str]:
    """Two-token phrases taken from seeded docs (always present)."""
    from cascading_solr_spark.analyzer import tokenize_with_positions

    out = []
    for i in rng.choice(len(pdf), size=n, replace=False):
        toks = tokenize_with_positions(pdf["content"].iloc[int(i)])
        by_pos: dict[int, str] = {}
        for t, p in toks:
            by_pos.setdefault(p, t)
        starts = [p for p in by_pos if p + 1 in by_pos and by_pos[p].isalpha()
                  and by_pos[p + 1].isalpha()]
        p = starts[int(rng.integers(0, len(starts)))]
        out.append(f"{by_pos[p]} {by_pos[p + 1]}")
    return out


def _request_cycle(pdf, bands: dict, rng) -> list[tuple[str, str]]:
    """One cycle of the request mix: (kind, query text)."""
    hot, mid, rare = bands["hot"], bands["mid"], bands["rare"]
    phrases = _phrases(pdf, rng)
    a, b, c, d = _pick(rng, mid, 4)
    return [
        ("term", " ".join(_pick(rng, hot, 1) + _pick(rng, mid, 2))),
        ("and", f"{a} {b}"),
        ("dismax", " ".join(_pick(rng, mid, 2))),
        ("term", " ".join(_pick(rng, mid, 1) + _pick(rng, rare, 2))),
        ("phrase", phrases[int(rng.integers(0, len(phrases)))]),
        ("mm", " ".join(_pick(rng, mid, 3))),
        ("boolean", f"({a} AND {b}) OR ({c} AND NOT {d})"),
        ("facet", " ".join(_pick(rng, mid, 2))),
        ("term", " ".join(_pick(rng, rare, 3))),
    ]


def _batch_queries(bands: dict, rng, n: int) -> dict[str, str]:
    return {f"b{i}": " ".join(_pick(rng, bands["mid"], 2) + _pick(rng, bands["rare"], 1))
            for i in range(n)}


def _run_request(spark, ix, kind: str, q: str):
    from cascading_solr_spark.query import facet_counts, search
    from cascading_solr_spark.query.boolean import search_boolean
    from cascading_solr_spark.query.search import search_dismax, search_phrase

    if kind == "term":
        return search(spark, ix, q, k=K).collect()
    if kind == "and":
        return search(spark, ix, q, k=K, op="AND").collect()
    if kind == "mm":
        return search(spark, ix, q, k=K, min_match="75%").collect()
    if kind == "dismax":
        return search_dismax(spark, ix, q, qf={"content": 1.0, "path": 2.0}, k=K).collect()
    if kind == "phrase":
        return search_phrase(spark, ix, q, k=K).collect()
    if kind == "boolean":
        return search_boolean(spark, ix, q, k=K).collect()
    if kind == "facet":
        return facet_counts(spark, ix, q, "lang").collect()
    raise ValueError(kind)


def _request(ctx: Ctx, ix, kind: str, q: str):
    with ctx.tracer.span(f"req.{kind}"):
        return ctx.ledger.op(_run_request, ctx.spark, ix, kind, q)


def _batch(ctx: Ctx, ix, queries: dict) -> None:
    from cascading_solr_spark.query import search_many

    with ctx.tracer.span("batch") as sp:
        out = ctx.ledger.op(lambda: search_many(ctx.spark, ix, queries, k=K).collect())
    ctx.ledger.check(out is not None and len({r["query_id"] for r in out}) == len(queries),
                     "search_many answers every query")
    ctx.figures["batch_queries_per_s"] = len(queries) / sp.seconds
    ctx.layer["batch.queries_per_s"] = ctx.figures["batch_queries_per_s"]


def _ranked_ids(rows) -> list[int]:
    """Doc ids in (score desc, doc_id asc) order with scores rounded so a
    last-digit float difference between engines cannot flip a tie."""
    return [
        int(r["doc_id"])
        for r in sorted(rows, key=lambda r: (-round(float(r["score"]), 9), int(r["doc_id"])))
    ]


def _kernel_layers(ctx: Ctx, ix, cycle) -> None:
    """In-process codec and scoring kernels over the postings rows of the
    mix's ranked queries (fetched once, then timed without Spark)."""
    from pyspark.sql import functions as F

    from cascading_solr_spark.analyzer import analyze_query
    from cascading_solr_spark.codec import bm25_idf, decode_doc_ids, decode_varint
    from cascading_solr_spark.query.search import _taat_kernel, term_dfs
    from cascading_solr_spark.query.wand import maxscore_kernel

    spark, spec = ctx.spark, ix.spec
    queries = [q for kind, q in cycle if kind == "term"]
    terms = sorted({t for q in queries for t in analyze_query(q)})
    t0 = time.perf_counter()
    for q in queries:
        term_dfs(spark, ix, analyze_query(q))
    dfs_ms = (time.perf_counter() - t0) * 1000.0 / len(queries)
    pdf = ix.postings(spark).filter(F.col("term").isin(terms)).toPandas()
    rows = list(pdf.itertuples(index=False))
    t0 = time.perf_counter()
    n_docs = 0
    for r in rows:
        n = int(r.n_docs)
        decode_doc_ids(r.doc_ids, n, spec.block_size)
        decode_varint(r.tfs, n)
        decode_varint(r.dls, n)
        n_docs += n
    decode_s = time.perf_counter() - t0
    wand_ms, taat_ms, counters = [], [], {}
    for q in queries:
        qt = analyze_query(q)
        idf = {t: bm25_idf(df, ix.n_docs) for t, df in term_dfs(spark, ix, qt).items()}
        for _, part in pdf[pdf["term"].isin(qt)].groupby("shard"):
            ms = maxscore_kernel(idf, ix.avgdl, spec.k1, spec.b, K, spec.block_size,
                                 counters=counters)
            t0 = time.perf_counter()
            ms(part)
            wand_ms.append((time.perf_counter() - t0) * 1000.0)
            ta = _taat_kernel(idf, ix.avgdl, spec.k1, spec.b, K, spec.block_size)
            t0 = time.perf_counter()
            ta(part)
            taat_ms.append((time.perf_counter() - t0) * 1000.0)
    dec, skip = counters.get("blocks_decoded", 0), counters.get("blocks_skipped", 0)
    ctx.layer.update({
        "search.term_dfs_ms": dfs_ms,
        "codec.decode_docs_per_s": n_docs / decode_s if decode_s else 0.0,
        "wand.kernel_ms": sum(wand_ms),
        "taat.kernel_ms": sum(taat_ms),
        "wand.blocks_total": dec + skip,
        "wand.blocks_skipped_ratio": skip / (dec + skip) if dec + skip else 0.0,
    })


def _request_cover(ctx: Ctx, ix, pdf, bands: dict, rng) -> None:
    """One cycle of the request mix, an 8-query batch and the kernels."""
    cycle = _request_cycle(pdf, bands, rng)
    for kind, q in cycle:
        _request(ctx, ix, kind, q)
    _batch(ctx, ix, _batch_queries(bands, rng, 8))
    _kernel_layers(ctx, ix, cycle)


# ----------------------------------------------------------------- workloads


def ingest_workload(ctx: Ctx) -> int:
    """Write rounds on the set-up index until ``seconds`` have passed; one
    op is one round of append, delete and a query after the write.  Set-up
    runs one round first, so the measured rounds do not pay the mutators'
    first-call cost.  The traced run then compacts the index and runs the
    dedup pass, which cost 10-15 s each, and covers the request mix."""
    tr = ctx.tracer
    rng = np.random.default_rng([ctx.seed, 5])
    deleted: set = set()
    with tr.span("setup"):
        pdf, ix, bands = _fixture(ctx)
        with tr.span("warm"):
            ix, appended = _write_round(ctx, ix, 0, rng, bands, deleted)
    rounds = 0
    with tr.span("measure"):
        t0 = time.perf_counter()
        while not rounds or time.perf_counter() - t0 < ctx.seconds:
            rounds += 1
            with tr.span("op"):
                ix, batch = _write_round(ctx, ix, rounds, rng, bands, deleted)
            appended.update(batch)
    _check_sha256(ctx, ix, appended)
    _check_postings_decode(ctx, ix, ix.n_docs)
    if ctx.trace:
        ctx.layer["index.segments"] = ix.lineage(ctx.spark).select("segment").distinct().count()
        with tr.span("cover"):
            ix = _compact(ctx, ix, ix.n_docs - len(deleted))
            _dedup(ctx)
            _request_cover(ctx, ix, pdf, bands, rng)
    return rounds * APPEND_FILES


def query_workload(ctx: Ctx) -> int:
    """A seeded request mix on the set-up index, plus one batch.  The
    measured phase runs the batch, then requests of the mix in turn until
    ``seconds`` have passed; one op is one request."""
    from cascading_solr_spark.query import bm25_topk_df, search

    spark, tr, led = ctx.spark, ctx.tracer, ctx.ledger
    rng = np.random.default_rng([ctx.seed, 3])
    with tr.span("setup"):
        pdf, ix, bands = _fixture(ctx)
        cycle = _request_cycle(pdf, bands, rng)
        # expected answers of the sampled ranked queries, from the naive
        # Catalyst twin over the same docs (doc ids joined from the index)
        with tr.span("expected"):
            ids = ix.docs(spark).select("repo", "path", "commit", "doc_id").toPandas()
            docs = spark.createDataFrame(
                ids.merge(pdf, on=["repo", "path", "commit"])[["doc_id", "content"]])
            checked = [q for kind, q in cycle if kind == "term"][:2]
            expected = {
                q: _ranked_ids(bm25_topk_df(docs, q, k=K, content_col="content",
                                            round_to=None).collect())
                for q in checked
            }
        batch = _batch_queries(bands, rng, BATCH_QUERIES)
        # the first query of a session is several times slower than the rest
        with tr.span("warm"):
            _run_request(spark, ix, "term", cycle[0][1])
    n_req = 0
    with tr.span("measure"):
        t0 = time.perf_counter()
        _batch(ctx, ix, batch)
        while not n_req or time.perf_counter() - t0 < ctx.seconds:
            kind, q = cycle[n_req % len(cycle)]
            with tr.span("op"):
                rows = _request(ctx, ix, kind, q)
            n_req += 1
            if q in expected and rows is not None:
                led.check(_ranked_ids(rows) == expected[q],
                          f"ranked query {q!r} rank-identical to bm25_topk_df")
    absent = "zzqx" + "".join(chr(97 + int(c)) for c in str(ctx.seed))
    zero = search(spark, ix, absent, k=K)
    hit = search(spark, ix, cycle[0][1], k=K)
    led.check(zero.schema.simpleString() == hit.schema.simpleString() and zero.count() == 0,
              f"zero-hit query returns 0 rows with the hit schema "
              f"({zero.schema.simpleString()} vs {hit.schema.simpleString()})")
    _check_sha256(ctx, ix, _keyed(pdf))
    ms = [s * 1000.0 for s in tr.seconds("op")]
    ctx.figures["query_p50_ms"] = median(ms)
    ctx.figures["query_p90_ms"] = quantile(ms, 0.9)
    if ctx.trace:
        _kernel_layers(ctx, ix, cycle)
        with tr.span("cover"):
            deleted: set = set()
            ix, _ = _write_round(ctx, ix, 0, rng, bands, deleted)
            ctx.layer["index.segments"] = ix.lineage(spark).select("segment").distinct().count()
            _compact(ctx, ix, ix.n_docs - len(deleted))
            _dedup(ctx)
    return n_req + len(batch)


WORKLOADS = {"ingest": ingest_workload, "query": query_workload}
