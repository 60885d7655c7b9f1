"""Block-max MaxScore kernel: exact top-k BM25 with decode-skipping pruning.

Public-literature algorithms: MaxScore (Turtle & Flood 1995) with the
block-max refinement of Block-Max WAND (Ding & Suel, SIGIR 2011) — see
PAPERS.md.  The reference relies on Lucene's internal scorers for this; we
implement the same pruning ideas numpy-vectorized (term-at-a-time, so the
inner loops are bulk array ops, not per-document Python).

The build stores per-block (max_tf, min_dl) and per-block byte offsets with
block-local delta restarts (indexing/build.py assembler), so pruning happens
BEFORE decompression:

* per-block upper bound ub_b = idf · tf_norm(max_tf_b, min_dl_b) is computed
  from stored metadata only (tf_norm is monotone ↑ in tf and ↓ in dl);
* a whole posting row of a non-essential term is skipped with ZERO decode
  when max(acc) + max_b(ub_b) + rem_after < θ;
* otherwise only candidate blocks are varint-decoded (doc ids first; tf/dl
  buffers only for blocks that still hold surviving documents).

Exactness argument (why pruning never changes the top-k):

* terms are processed in descending max-contribution order
  M_t = idf_t · max_b ub_b;
* θ = current kth-largest accumulated score, a lower bound of the final
  kth-best score (accumulated scores only grow);
* a document first appearing in term t can finally score at most
  rem(t) = Σ M_t..end; if rem(t) < θ it can never enter the top-k, so
  postings for unseen docs are skipped (MaxScore);
* a seen document's posting in block b can be skipped when
  acc[doc] + ub_b + rem(t+1) < θ — its final score is then provably below
  θ.  Skipping understates only the scores of documents already provably
  outside the top-k, so every emitted (doc_id, score) is exact and
  rank-identical to exhaustive TAAT (asserted in tests).

Keyword filters (``field:value`` terms, indexing/build.py keyword_term)
restrict the candidate set BEFORE accumulation; BM25 statistics stay global
(Lucene/Solr fq semantics: a filter query never changes scoring).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from cascading_solr_spark.codec import (
    DELETED_TERM,
    bm25_tf_norm,
    block_value_counts,
    decode_doc_ids,
    decode_selected_blocks,
    decode_varint,
    restart_cumsum,
)

RESULT_SCHEMA = "doc_id long, score double"

_EMPTY = pd.DataFrame({"doc_id": [], "score": []}).astype(
    {"doc_id": "int64", "score": "float64"}
)


def _topk_theta(scores: np.ndarray, k: int) -> float:
    if len(scores) < k:
        return -np.inf
    return float(np.partition(scores, len(scores) - k)[len(scores) - k])


def _member(ids: np.ndarray, sorted_arr: np.ndarray) -> np.ndarray:
    """Boolean membership of ``ids`` in a sorted unique array."""
    if not len(sorted_arr) or not len(ids):
        return np.zeros(len(ids), dtype=bool)
    pos = np.minimum(np.searchsorted(sorted_arr, ids), len(sorted_arr) - 1)
    return sorted_arr[pos] == ids


def topk_ties(
    ids: np.ndarray, scores: np.ndarray, k: int
) -> tuple[np.ndarray, np.ndarray]:
    """Exact local top-k under the documented (score desc, doc_id asc) order.

    A bare ``argpartition`` picks an ARBITRARY member of the score class tied
    at the k boundary — byte-identical duplicate docs produce exact BM25
    ties, so shard results would be nondeterministic.  Here the boundary tie
    class is resolved explicitly: everything strictly above the kth score
    survives, the remaining slots go to the tied docs with the smallest ids
    (tolerance-free float comparison: tied scores come from identical
    arithmetic, so they are bit-equal)."""
    if len(ids) <= k:
        return ids, scores
    kth = np.partition(scores, len(scores) - k)[len(scores) - k]
    above = scores > kth
    tied_ids = np.sort(ids[scores == kth])[: k - int(above.sum())]
    keep_ids = np.concatenate([ids[above], tied_ids])
    keep_scores = np.concatenate(
        [scores[above], np.full(len(tied_ids), kth, dtype=scores.dtype)]
    )
    return keep_ids, keep_scores


def finish_topk(
    ids: np.ndarray | None = None,
    scores: np.ndarray | None = None,
    k: int | None = None,
    cursor: tuple[float, int] | None = None,
) -> pd.DataFrame:
    """Every scoring kernel's shard result: the (doc_id long, score double)
    frame of the local top-k in (score desc, doc_id asc) order.

    ``cursor`` = (score, doc_id) keeps only docs STRICTLY AFTER that point
    in the global order (cursorMark paging) and runs BEFORE top-k
    selection, so the shard still emits its best k eligible docs.
    ``k=None`` keeps every doc.  No ids (or none surviving) gives the typed
    empty frame, so a zero-hit shard keeps the result schema."""
    if ids is None or not len(ids):
        return _EMPTY.copy()
    if cursor is not None:
        cs, cd = cursor
        elig = (scores < cs) | ((scores == cs) & (ids > cd))
        ids, scores = ids[elig], scores[elig]
    if k is not None:
        ids, scores = topk_ties(ids, scores, k)
    order = np.lexsort((ids, -scores))
    return pd.DataFrame({"doc_id": ids[order], "score": scores[order]})


def shard_kernel(score_rows):
    """Adapt a ``score_rows(rows) -> frame`` scorer to ``applyInPandas``.

    The returned callable takes one shard's pandas frame; its ``.rows``
    attribute is ``score_rows`` itself, taking a pre-extracted
    ``itertuples`` list (the batch path groups rows per query without
    re-slicing frames)."""

    def score(pdf: pd.DataFrame) -> pd.DataFrame:
        return score_rows(list(pdf.itertuples(index=False)))

    score.rows = score_rows
    return score


def decode_filter_ids(rows: list, block_size: int) -> np.ndarray:
    """Full doc-id decode of one filter term's posting rows -> sorted array."""
    parts = [
        decode_doc_ids(r.doc_ids, int(r.n_docs), block_size) for r in rows
    ]
    if not parts:
        return np.empty(0, dtype=np.int64)
    return np.sort(np.concatenate(parts))


def blockwise_filter_ids(
    rows: list,
    seed: np.ndarray,
    block_size: int,
    counters: dict | None = None,
) -> np.ndarray:
    """Members of sorted ``seed`` present in one filter term's postings,
    decoding ONLY blocks whose id range can contain a seed member.

    This is the block-granular filter intersection: a low-selectivity filter
    term (``lang:en`` matches ~half the corpus) intersected against an
    already-small candidate set touches a handful of its blocks via the
    stored ``block_last_id`` edges (searchsorted — the same skip structure
    the scoring kernel uses) instead of varint-decoding millions of rows."""

    def bump(key: str, n: int) -> None:
        if counters is not None:
            counters[key] = counters.get(key, 0) + n

    parts: list[np.ndarray] = []
    for r in rows:
        n, nb = int(r.n_docs), int(r.n_blocks)
        edges = np.asarray(r.block_last_id, dtype=np.int64)
        hi = np.searchsorted(seed, edges, side="right")
        lo = np.concatenate(([0], hi[:-1]))
        has = hi > lo
        if not has.any():
            bump("filter_blocks_skipped", nb)
            continue
        vals, kept = decode_selected_blocks(
            r.doc_ids, r.boffs_ids, n, block_size, has
        )
        bump("filter_blocks_decoded", len(kept))
        bump("filter_blocks_skipped", nb - len(kept))
        counts = block_value_counts(n, nb, block_size)[kept]
        kstarts = np.zeros(len(kept), dtype=np.int64)
        np.cumsum(counts[:-1], out=kstarts[1:])
        parts.append(restart_cumsum(vals.astype(np.int64), kstarts))
    if not parts:
        return np.empty(0, dtype=np.int64)
    ids = np.concatenate(parts)
    ids.sort()
    return ids[_member(ids, seed)]


def allowed_ids(
    pdf_rows: list,
    filter_terms: set,
    block_size: int,
    counters: dict | None = None,
) -> np.ndarray | None:
    """Intersection of the filter clauses' doc-id sets (None = no filters).

    ``filter_terms`` members are single terms (strings) or GROUPS
    (frozensets of terms — a keyword RANGE filter ``lang:[aa TO ez]``
    expands to one group): semantics are AND across members, OR within a
    group — exactly Solr's fq composition.

    The MOST selective clause (fewest total postings in this shard) is
    decoded fully; every subsequent clause intersects at block granularity
    against the running candidate set (blockwise_filter_ids, unioned over
    a group's terms), so broad filters never pay a full decode.  Returns
    an empty array when any clause has no postings in the shard — the
    zero-hit short-circuit for that shard."""
    if not filter_terms:
        return None
    groups: list[frozenset] = [
        frozenset([g]) if isinstance(g, str) else frozenset(g)
        for g in filter_terms
    ]
    want = {t for g in groups for t in g}
    by_term: dict[str, list] = {t: [] for t in want}
    for r in pdf_rows:
        if r.term in by_term:
            by_term[r.term].append(r)

    def _size(g: frozenset) -> int:
        return sum(int(r.n_docs) for t in g for r in by_term[t])

    order = sorted(groups, key=lambda g: (_size(g), sorted(g)))
    allowed: np.ndarray | None = None
    for g in order:
        rows = [r for t in sorted(g) for r in by_term[t]]
        if not rows:
            return np.empty(0, dtype=np.int64)
        if allowed is None:
            allowed = decode_filter_ids(rows, block_size)
            if len(g) > 1:
                # a doc may post several of the group's terms — the allowed
                # set is a SET (keyword_filter returns it as rows directly)
                allowed = np.unique(allowed)
            if counters is not None:
                counters["filter_blocks_decoded"] = counters.get(
                    "filter_blocks_decoded", 0
                ) + sum(int(r.n_blocks) for r in rows)
        else:
            if len(g) == 1:
                allowed = blockwise_filter_ids(
                    rows, allowed, block_size, counters
                )
            else:
                # OR within the group: union of per-term blockwise
                # intersections against the running candidate set
                parts = [
                    blockwise_filter_ids(
                        by_term[t], allowed, block_size, counters
                    )
                    for t in sorted(g)
                    if by_term[t]
                ]
                allowed = (
                    np.unique(np.concatenate(parts))
                    if parts
                    else np.empty(0, dtype=np.int64)
                )
        if not len(allowed):
            return allowed
    return allowed


def denied_ids(
    pdf_rows: list,
    block_size: int,
    excluded_terms: set[str] | None = None,
) -> np.ndarray | None:
    """Sorted unique DENIED doc ids in this shard's rows (None = nothing to
    deny): delete tombstones (the scan only includes ``DELETED_TERM`` when
    the index has deletes, so a delete-free index pays nothing here) plus,
    when ``excluded_terms`` is given, every doc posting one of those terms
    — the Lucene prohibited-clause (``-term`` / ReqExclScorer) analogue.
    Sharding is by doc id, so an excluded term's postings for THIS shard
    are exactly the shard's excluded docs: prohibition is shard-local,
    never a cross-shard join.

    The Lucene liveDocs analogue: every kernel drops these ids BEFORE
    accumulation / top-k selection, so denied docs can never raise θ or
    occupy a result slot, while df/avgdl statistics stay unchanged (scores
    of surviving docs are bit-identical across a delete).  Cost is one
    filter-term-shaped decode per shard, bounded by the denied count —
    compaction folds the tombstone part back to zero."""
    deny = excluded_terms or set()
    parts = [
        decode_doc_ids(r.doc_ids, int(r.n_docs), block_size)
        for r in pdf_rows
        if r.term == DELETED_TERM or r.term in deny
    ]
    if not parts:
        return None
    return np.unique(np.concatenate(parts))


def strip_denied(
    ids: np.ndarray, denied: np.ndarray | None
) -> np.ndarray:
    """Boolean keep-mask over ``ids`` excluding tombstoned docs."""
    if denied is None or not len(ids):
        return np.ones(len(ids), dtype=bool)
    return ~_member(ids, denied)


def match_set(
    rows: list,
    clauses: list,
    block_size: int,
    filter_terms: set | None = None,
    excluded_terms: set[str] | None = None,
    require_n: int = 1,
) -> np.ndarray:
    """Every match-only kernel's shard result: the sorted unique int64 ids
    of the docs in this shard's posting ``rows`` that match — no scores.

    A clause is a set of terms; a doc matches it when it posts ANY of them
    (a plain term is a one-term clause, a wildcard expansion a multi-term
    one).  A doc matches the query when it matches at least ``require_n``
    clauses (1 = OR, all = AND, between = mm), passes every filter clause
    (:func:`allowed_ids` — fq semantics) and is neither tombstoned nor
    posting an excluded term (:func:`denied_ids`).  With no clauses the
    result is the filter intersection alone (a pure filter query), and
    empty when there is no filter either."""
    allowed = allowed_ids(rows, filter_terms or set(), block_size)
    if allowed is not None and not len(allowed):
        return allowed
    if clauses:
        parts = []
        for c in clauses:
            cparts = [
                decode_doc_ids(r.doc_ids, int(r.n_docs), block_size)
                for r in rows
                if r.term in c
            ]
            if cparts:
                # each (term, doc) posting exists once, and a multi-term
                # clause counts each of its docs once, so the per-doc
                # count below is the number of matched clauses
                ids = np.concatenate(cparts)
                parts.append(np.unique(ids) if len(c) > 1 else ids)
        if not parts:
            return np.empty(0, dtype=np.int64)
        ids, cnt = np.unique(np.concatenate(parts), return_counts=True)
        if require_n > 1:
            ids = ids[cnt >= require_n]
        if allowed is not None:
            ids = ids[_member(ids, allowed)]
    elif allowed is None:
        return np.empty(0, dtype=np.int64)
    else:
        ids = allowed
    return ids[strip_denied(ids, denied_ids(rows, block_size, excluded_terms))]


def row_cache_key(r) -> tuple:
    """Content-stable decode-cache key for one posting row: segments cover
    disjoint doc-id ranges, so the trailing block_last_id makes
    (term, salt, n_docs, last_id) unique per row within a partition —
    safe across row lifetimes, unlike an id(row) key (CPython id reuse)."""
    last = r.block_last_id
    return (r.term, int(r.salt), int(r.n_docs), int(last[len(last) - 1]))


def maxscore_kernel(
    idf: dict[str, float],
    avgdl: float,
    k1: float,
    b: float,
    k: int,
    block_size: int = 128,
    filter_terms: set[str] | None = None,
    counters: dict | None = None,
    decode_cache: dict | None = None,
    excluded_terms: set[str] | None = None,
):
    """Build the per-shard applyInPandas scorer (same contract as TAAT).

    ``counters`` (optional, in-process use only: tests/bench tracing) is
    updated in place with rows/blocks decoded vs skipped.

    ``decode_cache`` (optional) memoizes FULL row decodes — the batch-query
    path (search_many) scores many queries over one partition and shares the
    cache so a term essential to several queries decompresses once.  Keys
    are ROW CONTENT, not ``id(row)``: (term, salt, n_docs, last doc id) —
    unique per posting row within a partition because segments cover
    disjoint doc-id ranges, and safe across row lifetimes (an id() key
    could silently alias a recycled CPython object).  Pruned partial
    decodes are never cached (they are the cheap path already).

    Returns a :func:`shard_kernel`."""
    filter_terms = filter_terms or set()

    def bump(key: str, n: int = 1) -> None:
        if counters is not None:
            counters[key] = counters.get(key, 0) + n

    cache_key = row_cache_key

    def score_rows(rows: list) -> pd.DataFrame:
        allowed = allowed_ids(rows, filter_terms, block_size, counters)
        if allowed is not None and not len(allowed):
            return finish_topk()
        # tombstones (only present in the scan when the index has deletes)
        # and prohibited-term postings: stripped in the ESSENTIAL branch,
        # i.e. before any doc enters the accumulator — θ then only ever
        # reflects eligible docs, so MaxScore pruning stays exact.  The
        # non-essential branch touches only already-accumulated (eligible)
        # docs and needs no mask.
        denied = denied_ids(rows, block_size, excluded_terms)

        # group scoring rows (one per salt/segment) by term, each term's
        # rows in canonical content order (accumulation-order determinism
        # across jobs — same reason as the TAAT kernel's row sort)
        segs: dict[str, list] = {}
        for row in rows:
            if row.term in idf:
                segs.setdefault(row.term, []).append(row)
        if not segs:
            return finish_topk()
        for trows in segs.values():
            trows.sort(key=row_cache_key)

        # per-term max possible contribution from stored block metadata only
        row_ubs: dict[int, np.ndarray] = {}  # id(row) -> per-block ub
        terms = []
        for t, trows in segs.items():
            m = 0.0
            for r in trows:
                ub = idf[t] * bm25_tf_norm(
                    np.asarray(r.block_max_tf, dtype=np.int64),
                    np.asarray(r.block_min_dl, dtype=np.int64),
                    avgdl, k1, b,
                )
                row_ubs[id(r)] = ub
                m = max(m, float(ub.max()))
            terms.append((m, t))
        # ties in max contribution break on the term string: the processing
        # order (and so the float accumulation order) is canonical across
        # jobs regardless of row arrival order
        terms.sort(key=lambda x: (-x[0], x[1]))
        maxes = np.array([m for m, _ in terms])
        # rem_incl[i] = sum of maxes from i to end
        rem_incl = np.cumsum(maxes[::-1])[::-1]

        acc_ids = np.empty(0, dtype=np.int64)
        acc = np.empty(0, dtype=np.float64)

        for i, (_, t) in enumerate(terms):
            theta = _topk_theta(acc, k)
            rem_after = float(rem_incl[i]) - float(maxes[i])
            essential = theta == -np.inf or float(rem_incl[i]) >= theta
            ids_parts, contrib_parts = [], []
            for r in segs[t]:
                n = int(r.n_docs)
                nb = int(r.n_blocks)
                if essential:
                    ck = cache_key(r) if decode_cache is not None else None
                    cached = (
                        decode_cache.get(ck)
                        if decode_cache is not None
                        else None
                    )
                    if cached is None:
                        ids = decode_doc_ids(r.doc_ids, n, block_size)
                        tfs = decode_varint(r.tfs, n)
                        dls = decode_varint(r.dls, n)
                        if decode_cache is not None:
                            decode_cache[ck] = (ids, tfs, dls)
                    else:
                        ids, tfs, dls = cached
                        bump("rows_decode_cached")
                    contrib = idf[t] * bm25_tf_norm(tfs, dls, avgdl, k1, b)
                    if allowed is not None:
                        keep = _member(ids, allowed)
                        ids, contrib = ids[keep], contrib[keep]
                    if denied is not None:
                        keep = strip_denied(ids, denied)
                        ids, contrib = ids[keep], contrib[keep]
                    bump("blocks_decoded", nb)
                    bump("rows_decoded")
                    ids_parts.append(ids)
                    contrib_parts.append(contrib)
                    continue

                # non-essential term: only docs already accumulated matter,
                # and pruning runs BEFORE any decompression.  Blocks partition
                # the group's doc-id range and store their last id, so the
                # accumulated docs are located per block by searchsorted:
                # blocks holding none are skipped outright, the rest must
                # also beat θ from their best resident accumulator.
                ub = row_ubs[id(r)]
                edges = np.asarray(r.block_last_id, dtype=np.int64)
                hi = np.searchsorted(acc_ids, edges, side="right")
                lo = np.concatenate(([0], hi[:-1]))
                has = hi > lo
                if not has.any():
                    bump("rows_skipped")
                    continue
                # vectorized per-block max of resident accumulators: the
                # non-empty [lo, hi) ranges partition a prefix of acc, so one
                # reduceat covers them (a trailing sentinel cuts off the tail)
                lo_h, hi_h = lo[has], hi[has]
                if hi_h[-1] < len(acc):
                    seg = np.maximum.reduceat(acc, np.append(lo_h, hi_h[-1]))[:-1]
                else:
                    seg = np.maximum.reduceat(acc, lo_h)
                block_max_acc = np.full(nb, -np.inf)
                block_max_acc[has] = seg
                cand = has & (block_max_acc + ub + rem_after >= theta)
                if not cand.any():
                    bump("rows_skipped")
                    continue
                vals, kept = decode_selected_blocks(
                    r.doc_ids, r.boffs_ids, n, block_size, cand
                )
                bump("blocks_decoded", len(kept))
                bump("blocks_skipped", nb - len(kept))
                bump("rows_decoded")
                counts = block_value_counts(n, nb, block_size)[kept]
                kstarts = np.zeros(len(kept), dtype=np.int64)
                np.cumsum(counts[:-1], out=kstarts[1:])
                ids = restart_cumsum(vals.astype(np.int64), kstarts)
                pib = np.arange(len(ids)) - np.repeat(kstarts, counts)
                bidx = np.repeat(kept, counts)
                pos = (
                    np.minimum(np.searchsorted(acc_ids, ids), len(acc_ids) - 1)
                    if len(acc_ids)
                    else np.zeros(len(ids), dtype=np.int64)
                )
                seen = (acc_ids[pos] == ids) if len(acc_ids) else np.zeros(
                    len(ids), dtype=bool
                )
                cur = np.where(seen, acc[pos] if len(acc) else 0.0, 0.0)
                keep = seen & (cur + ub[bidx] + rem_after >= theta)
                if not keep.any():
                    continue
                ids_k, pib_k, bidx_k = ids[keep], pib[keep], bidx[keep]
                # decode tf/dl only for blocks that still hold survivors
                live = np.zeros(nb, dtype=bool)
                live[bidx_k] = True
                tf_vals, tkept = decode_selected_blocks(
                    r.tfs, r.boffs_tfs, n, block_size, live
                )
                dl_vals, _ = decode_selected_blocks(
                    r.dls, r.boffs_dls, n, block_size, live
                )
                tcounts = block_value_counts(n, nb, block_size)[tkept]
                toff = np.zeros(len(tkept), dtype=np.int64)
                np.cumsum(tcounts[:-1], out=toff[1:])
                # value position = its block's offset in the live concat + pib
                rank = np.searchsorted(tkept, bidx_k)
                vpos = toff[rank] + pib_k
                contrib = idf[t] * bm25_tf_norm(
                    tf_vals[vpos], dl_vals[vpos], avgdl, k1, b
                )
                ids_parts.append(ids_k)
                contrib_parts.append(contrib)
            new_ids = np.concatenate(ids_parts) if ids_parts else np.empty(0, np.int64)
            new_contrib = (
                np.concatenate(contrib_parts) if contrib_parts else np.empty(0)
            )
            if not len(new_ids):
                continue
            # merge into accumulator
            merged = np.concatenate([acc_ids, new_ids])
            weights = np.concatenate([acc, new_contrib])
            uniq, inv = np.unique(merged, return_inverse=True)
            out = np.zeros(len(uniq), dtype=np.float64)
            np.add.at(out, inv, weights)
            acc_ids, acc = uniq, out

        return finish_topk(acc_ids, acc, k)

    return shard_kernel(score_rows)
