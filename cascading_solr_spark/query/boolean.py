"""Nested boolean queries — ``(a AND b) OR (c AND NOT d)``.

The reference's embedded Solr accepts arbitrarily nested boolean query
strings through the Lucene parser on every handler (solrconfig.xml:766-774);
the flat engine surface (:mod:`.search`) covers the un-parenthesised forms.
This module adds the parenthesised tree.

Semantics — documented deviation: STRUCTURED boolean algebra with standard
precedence (NOT > AND > OR, parens group; a bare juncture between clauses
is the default operator), not Lucene's flat clause-modifier parse (where
``a OR -b`` silently becomes SHOULD(a) MUST_NOT(b)).  The structured form
is strictly more predictable and is what Solr users MEAN by parens;
deviations only arise for queries that are ambiguous under Lucene's parser
anyway.

Scoring follows BooleanWeight RECURSIVELY: an AND node scores the sum of
its children; an OR node scores the sum of its MATCHING children only (a
doc matching ``a, b, d`` under ``(a AND b) OR (c AND d)`` gets no credit
for the unsatisfied branch's ``d`` — exactly Lucene's disjunction sum);
NOT contributes 0.  Statistics are global — the flat engine's rule.
A ``field:value`` leaf SCORES like any term query (idf·tf_norm with tf=1
— Lucene scores q-position StrField terms), unlike the flat surface's
``parse_query``, which treats q-position keyword tokens as non-scoring fq;
both behaviors exist in real Solr depending on where the clause sits.

Execution is ONE per-shard Arrow kernel over the pruned postings scan:
sharding is by doc id, so every leaf's match set for shard s lives in shard
s — the whole tree evaluates SHARD-LOCALLY on numpy boolean vectors over
the shard's candidate universe (docs matching ≥1 positive leaf), then the
shard emits its local top-k and the global merge takes k.  A subtree whose
satisfaction does not require any positive leaf (``a OR NOT b``) would
need the match-all universe; such queries are rejected loudly rather than
silently mis-answered (Solr's own pure-negative handling is special-cased
the same way — see match_ids' top-level rewrite).

Reference: embedded Solr query parser surface (AbstractSolrSchemeTest.java
exercises field:value and keyword forms; the parser itself is public
Lucene).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from cascading_solr_spark.analyzer import analyze_query
from cascading_solr_spark.codec import bm25_idf, bm25_tf_norm, decode_doc_ids, decode_varint
from cascading_solr_spark.indexing.build import KW_SEP, Index
from cascading_solr_spark.query.search import (
    _merge_topk,
    _respond,
    term_dfs,
)
from cascading_solr_spark.query.wand import (
    denied_ids,
    finish_topk,
    row_cache_key,
    shard_kernel,
    strip_denied,
)


# ---- AST ----


@dataclass(frozen=True)
class Leaf:
    """One positive clause: the OR-set of index terms one query token
    resolves to (analyzed forms of a text token, or one field:value)."""
    terms: frozenset


@dataclass(frozen=True)
class Not:
    child: object


@dataclass(frozen=True)
class And:
    children: tuple


@dataclass(frozen=True)
class Or:
    children: tuple


_TOKEN_RE = re.compile(r"\(|\)|[^\s()]+")


def parse_boolean(
    query: str, keyword_fields: tuple[str, ...], default_op: str = "OR"
) -> object:
    """Recursive-descent parse of a nested boolean query string.

    Grammar (precedence low->high): ``or := and ((OR|juncture) and)*``,
    ``and := unary (AND unary)*``, ``unary := NOT unary | -unary |
    ( or ) | term``.  A bare juncture (whitespace between clauses) is
    ``default_op``.  Terms: ``field:value`` over keyword fields, else
    analyzed text (a multi-form token — camelCase — becomes the OR of its
    forms, one leaf).  Multi-term syntax (wildcard/fuzzy/ranges/phrases)
    inside a tree is rejected loudly — compose those with the flat surface.
    """
    toks = _TOKEN_RE.findall(query)
    fields = set(keyword_fields)
    pos = 0

    def peek():
        return toks[pos] if pos < len(toks) else None

    def take():
        nonlocal pos
        t = toks[pos]
        pos += 1
        return t

    def parse_or():
        children = [parse_and()]
        while True:
            t = peek()
            if t == "OR":
                take()
                children.append(parse_and())
            elif t is not None and t != ")" and default_op.upper() != "AND":
                children.append(parse_and())
            elif t is not None and t != ")":
                # default AND: juncture binds at the AND level
                break
            else:
                break
        return children[0] if len(children) == 1 else Or(tuple(children))

    def parse_and():
        children = [parse_unary()]
        while True:
            t = peek()
            if t == "AND":
                take()
                children.append(parse_unary())
            elif (
                t is not None
                and t not in (")", "OR")
                and default_op.upper() == "AND"
            ):
                children.append(parse_unary())
            else:
                break
        return children[0] if len(children) == 1 else And(tuple(children))

    def parse_unary():
        t = peek()
        if t is None:
            raise ValueError(f"unexpected end of boolean query: {query!r}")
        if t == "NOT":
            take()
            return Not(parse_unary())
        if t.startswith("-") and len(t) > 1:
            take()
            toks.insert(pos, t[1:])
            return Not(parse_unary())
        if t == "(":
            take()
            node = parse_or()
            if peek() != ")":
                raise ValueError(f"unbalanced parens in {query!r}")
            take()
            return node
        tok = take()
        if any(c in tok for c in "*?~[]{}\"^"):
            raise ValueError(
                f"multi-term syntax {tok!r} is not supported inside a "
                "boolean tree — use the flat query surface"
            )
        if KW_SEP in tok:
            f, v = tok.split(KW_SEP, 1)
            if f in fields and v:
                return Leaf(frozenset([f"{f}{KW_SEP}{v}"]))
        forms = analyze_query(tok)
        if not forms:
            raise ValueError(f"token {tok!r} analyzes to nothing")
        return Leaf(frozenset(forms))

    node = parse_or()
    if pos != len(toks):
        raise ValueError(f"trailing tokens in boolean query {query!r}")
    _require_positive(node, query)
    return node


def _require_positive(node, query: str) -> None:
    """Reject trees whose satisfaction does not REQUIRE a positive leaf.

    ``grounded``: Leaf yes; NOT never; AND if ANY child grounded; OR if
    EVERY child grounded.  If the root is grounded, every satisfying doc
    matches ≥1 non-negated leaf (induction: a grounded AND forces its
    grounded child; a grounded OR's satisfied branch is grounded), so the
    kernel's candidate universe — the union of the non-negated leaves'
    match sets — is COMPLETE and the shard-local evaluation exact.
    ``a OR NOT b`` is ungrounded (needs match-all) — rejected loudly,
    like Solr special-cases only the TOP-LEVEL pure-negative (which the
    flat surface serves).  Double negation is rejected too (it flips leaf
    parity; keep the grounding argument one-level and obvious)."""
    def no_double_not(n, under_not: bool = False) -> None:
        if isinstance(n, Not):
            if under_not:
                raise ValueError(
                    f"NOT under NOT in {query!r} is not supported — "
                    "rewrite with De Morgan"
                )
            no_double_not(n.child, True)
        elif not isinstance(n, Leaf):
            for c in n.children:
                no_double_not(c, under_not)

    def grounded(n) -> bool:
        if isinstance(n, Leaf):
            return True
        if isinstance(n, Not):
            return False
        kids = [grounded(c) for c in n.children]
        return any(kids) if isinstance(n, And) else all(kids)

    no_double_not(node)
    if not grounded(node):
        raise ValueError(
            "boolean query without a positive requirement "
            f"(e.g. 'a OR NOT b') is not supported: {query!r} — "
            "only the top-level pure-negative form is (flat surface)"
        )


def _leaves(node) -> list[Leaf]:
    if isinstance(node, Leaf):
        return [node]
    if isinstance(node, Not):
        return _leaves(node.child)
    out: list[Leaf] = []
    for c in node.children:
        out.extend(_leaves(c))
    return out


def _positive_leaves(node, negated: bool = False) -> set:
    """Leaves reachable WITHOUT crossing a NOT — the scoring set."""
    if isinstance(node, Leaf):
        return set() if negated else {node}
    if isinstance(node, Not):
        return _positive_leaves(node.child, True)
    out: set = set()
    for c in node.children:
        out |= _positive_leaves(c, negated)
    return out


def boolean_kernel(
    node,
    idf: dict[str, float],
    avgdl: float,
    k1: float,
    b: float,
    k: int | None,
    block_size: int,
):
    """Per-shard scorer: evaluate the tree on boolean vectors over the
    shard's candidate universe, score = Σ contributions of matched
    positive leaves, mask by satisfaction, local top-k."""
    leaves = _leaves(node)
    scoring = _positive_leaves(node)

    def score_rows(rows: list) -> pd.DataFrame:
        rows = sorted(rows, key=row_cache_key)
        denied = denied_ids(rows, block_size)
        by_term: dict[str, list] = {}
        for r in rows:
            by_term.setdefault(r.term, []).append(r)

        # per-leaf sorted unique ids (and contributions for scoring leaves)
        leaf_ids: dict[Leaf, np.ndarray] = {}
        leaf_contrib: dict[Leaf, np.ndarray] = {}
        for lf in leaves:
            parts, contribs = [], []
            want_score = lf in scoring
            for t in sorted(lf.terms):
                for r in by_term.get(t, []):
                    n = int(r.n_docs)
                    ids = decode_doc_ids(r.doc_ids, n, block_size)
                    parts.append(ids)
                    if want_score and t in idf:
                        tfs = decode_varint(r.tfs, n)
                        dls = decode_varint(r.dls, n)
                        contribs.append(
                            idf[t] * bm25_tf_norm(tfs, dls, avgdl, k1, b)
                        )
                    elif want_score:
                        contribs.append(np.zeros(len(ids)))
            if not parts:
                leaf_ids[lf] = np.empty(0, dtype=np.int64)
                leaf_contrib[lf] = np.empty(0, dtype=np.float64)
                continue
            ids = np.concatenate(parts)
            if want_score:
                contrib = np.concatenate(contribs)
                # a leaf's forms may co-occur in a doc (camelCase whole +
                # parts): contributions of the leaf's terms SUM per doc —
                # same additive rule as the flat OR surface
                uniq, inv = np.unique(ids, return_inverse=True)
                acc = np.zeros(len(uniq), dtype=np.float64)
                np.add.at(acc, inv, contrib)
                leaf_ids[lf], leaf_contrib[lf] = uniq, acc
            else:
                leaf_ids[lf] = np.unique(ids)
                leaf_contrib[lf] = np.empty(0, dtype=np.float64)

        universe = (
            np.unique(np.concatenate([leaf_ids[lf] for lf in scoring]))
            if scoring
            else np.empty(0, dtype=np.int64)
        )
        if denied is not None and len(universe):
            universe = universe[strip_denied(universe, denied)]
        if not len(universe):
            return finish_topk()

        def member(lf: Leaf) -> np.ndarray:
            ids = leaf_ids[lf]
            if not len(ids):
                return np.zeros(len(universe), dtype=bool)
            pos = np.minimum(np.searchsorted(ids, universe), len(ids) - 1)
            return ids[pos] == universe

        memb = {lf: member(lf) for lf in leaves}

        def dense(lf: Leaf) -> np.ndarray:
            """Leaf contributions as a dense vector over the universe."""
            out = np.zeros(len(universe), dtype=np.float64)
            ids, acc = leaf_ids[lf], leaf_contrib[lf]
            if len(acc) != len(ids):  # NOT-guarded leaf: no contributions
                return out
            if len(ids):
                # leaf ids ⊆ universe except denied docs (stripped from
                # the universe only) — mask by actual membership
                pos = np.minimum(
                    np.searchsorted(universe, ids), len(universe) - 1
                )
                inside = universe[pos] == ids
                out[pos[inside]] = acc[inside]
            return out

        def eval_node(n) -> tuple[np.ndarray, np.ndarray]:
            """(satisfied, score) vectors — Lucene BooleanWeight: AND sums
            all children, OR sums MATCHING children only, NOT scores 0."""
            if isinstance(n, Leaf):
                return memb[n], dense(n)
            if isinstance(n, Not):
                s, _ = eval_node(n.child)
                return ~s, np.zeros(len(universe), dtype=np.float64)
            pairs = [eval_node(c) for c in n.children]
            s = pairs[0][0].copy()
            if isinstance(n, And):
                sc = pairs[0][1].copy()
                for cs, cc in pairs[1:]:
                    s &= cs
                    sc += cc
            else:
                sc = np.where(pairs[0][0], pairs[0][1], 0.0)
                for cs, cc in pairs[1:]:
                    s |= cs
                    sc += np.where(cs, cc, 0.0)
            return s, sc

        keep, score_all = eval_node(node)
        return finish_topk(universe[keep], score_all[keep], k)

    return shard_kernel(score_rows)


#: the kernel's postings projection: ids, tfs and dls, no positions
_BOOLEAN_COLS = [
    "shard", "term", "salt", "n_docs", "n_blocks",
    "doc_ids", "boffs_ids", "block_last_id", "tfs", "dls",
]


def search_boolean(
    spark: SparkSession,
    index: Index,
    query: str,
    k: int | None = 10,
    with_stored: bool = False,
    default_op: str = "OR",
) -> DataFrame:
    """Ranked retrieval for a NESTED boolean query string — see the module
    docstring for semantics.  Returns (doc_id, score[, stored])."""
    node = parse_boolean(query, index.spec.keyword_fields, default_op)
    all_terms = sorted({t for lf in _leaves(node) for t in lf.terms})
    dfs = term_dfs(spark, index, all_terms)
    spec = index.spec
    idf = {t: bm25_idf(d, index.n_docs) for t, d in dfs.items()}

    def scored(kk: int | None, skip: int):
        kernel = boolean_kernel(
            node, idf, index.avgdl, spec.k1, spec.b, kk, spec.block_size
        )
        return _merge_topk(
            spark, index, all_terms, _BOOLEAN_COLS, kernel, kk, skip
        )

    # the kernel's universe is the union of the positive leaves' postings:
    # with no term posted anywhere the answer is empty, exactly
    return _respond(
        spark, index, None, scored if dfs else None, k,
        with_stored=with_stored,
    )


def boolean_match_ids(
    spark: SparkSession,
    index: Index,
    query: str,
    default_op: str = "OR",
) -> DataFrame:
    """Match set of a nested boolean query (no scores)."""
    return search_boolean(
        spark, index, query, k=None, with_stored=False, default_op=default_op
    ).select("doc_id")
