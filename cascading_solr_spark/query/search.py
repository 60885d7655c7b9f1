"""Top-k BM25 search over the compressed sharded index.

Reproduces the reference's query semantics (SURVEY.md §2.2, defined by the
embedded Solr config it targets and exercised in
AbstractSolrSchemeTest.java:148-176):

* Q1/Q2 default-field keyword search, query analyzed with the SAME chain as
  the index (analyzer.analyze_query);
* Q3 field-scoped exact filters (``cat:Japanese``,
  AbstractSolrSchemeTest.java:163-169) served INDEX-SIDE from keyword-field
  postings (StrField / multi-valued membership, schema.xml:104,288) and
  composable with ranking — Lucene/Solr fq semantics: filters restrict the
  candidate set, scoring statistics stay global;
* Q4 boolean-OR multi-term combination (solrconfig.xml:766-774 default OR);
* Q5 top-k ranked retrieval (default rows=10, solrconfig.xml:772);
* Q6 BM25 scoring k1=1.2 b=0.75 (north_star mandate; the reference schema
  defers to Lucene's default similarity, schema.xml:1097-1105);
* Q7 zero-hit short-circuit (term absent -> empty result);
* Q8 stored-field retrieval via doc-store join, sha256 round-trip invariant —
  PARTITION-PRUNED: shard = doc_id % num_shards is derivable from the top-k
  ids, so the stored fetch reads only the touched shard dirs (and row-group
  prunes on doc_id inside them), never a full docs scan;
* query-time synonym expansion (SynonymFilter expand=true analogue,
  schema.xml:432-437): each expansion is scored as an additional OR term.

One path serves every ranked and matching entry point:

1. :func:`plan_query` parses the query string into a :class:`QueryPlan`
   (ranges, prohibited clauses, boosts, ``field:value`` filters, AND/``+``,
   wildcard/fuzzy tokens, analyzed + synonym terms) — pure, no Spark job;
2. :func:`_resolve` expands the plan's dictionary-dependent clauses (range
   filter groups, excluded terms, constant-score wildcard groups), and
   :func:`term_dfs` fetches global document frequencies;
3. each shard partition scores its local postings in one Arrow-vectorized
   kernel: block-max MaxScore with decode-skipping pruning (query/wand.py)
   for a plain OR top-k, else the exact clause scorer
   (:func:`_clause_kernel`: per clause ``max + tie·(sum − max)``, clauses
   summed, AND/mm clause-count floor — TAAT is one clause per term,
   DisMax one clause per query term over its qf fields); every kernel
   ends in wand.finish_topk (cursor, local top-k, rank order);
4. a global order-merge takes the final k.  Ties broken (score desc,
   doc_id asc) for deterministic rank-identity.

Every ranked entry point (:func:`search`, :func:`search_dismax`,
:func:`search_after`, :func:`search_phrase`, ``boolean.search_boolean``)
builds only its query and kernel, and answers through ONE request shell,
:func:`_respond` — the one place for paging (``start``/``k``), the
``doc_filter`` fq post-filter, the match-all and pure-filter legs, the
zero-hit answer, the stored fetch and ``fl``.

Step 3 and every other per-shard kernel — the match sets, the phrase
match, the batch scorer of :func:`search_many`, the (tf, dl) probe of
:func:`_doc_scores_for_ids` — run through ONE shard executor,
:func:`_run_shards`, the analogue of Solr's distributed search (each
shard runs the same collector, one coordinator merges).  It is the one
place that picks a tier, with the same result on both, rows and schema
alike:

* **driver-local** — a bounded caller (a k-bounded request, a facet
  count, a tiny id probe) whose candidate row groups, by the handle's
  parquet footer index (:meth:`Index.footers`: per row group the term or
  doc_id [min, max] and its projected bytes), are under
  ``Index.LOCAL_SCAN_MAX_BYTES``.  pyarrow reads exactly those row groups
  on the driver and the kernel runs once per shard in-process on the frame
  ``applyInPandas`` would hand it; no Spark job runs.  On a small index a
  request is otherwise mostly Spark overhead (scheduling, a shuffle and a
  Python task wave).
* **distributed** — every unbounded caller (``k=None``, :func:`match_ids`,
  :func:`phrase_match_ids`, :func:`keyword_filter`) and everything over the
  cap: one term-pruned postings scan and ``groupBy("shard").applyInPandas``.

Step 4 (:func:`_merge_topk`) merges either tier's output: a lexsort over
the driver frames, or a global sort and limit over the distributed one.
:func:`_match_set` is the match consumers' entry (the facet counts, the
unscored pages): every :class:`MatchKernel` shape — a phrase and match-all
included — goes through the executor; only a ``doc_filter`` match is a
distributed frame from the start.  The stored fetch (:func:`_fetch_stored`)
takes the same driver/distributed choice over the docs table.

Scale notes: the postings scan is filtered term IN (...) — row-group pruning
works because postings files are sorted by term, on both tiers; on the
distributed tier all shards scan in parallel and only ``shards × salts ×
terms`` tiny top-k rows reach the global merge.
"""

from __future__ import annotations

import functools
import operator
import re
from collections import Counter
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cascading_solr_spark.analyzer import analyze_query, tokenize_with_positions
from cascading_solr_spark.codec import (
    DELETED_TERM,
    bm25_idf,
    bm25_tf_norm,
    block_value_counts,
    decode_doc_ids,
    decode_positions,
    decode_selected_blocks,
    decode_varint,
    restart_cumsum,
)
from cascading_solr_spark.indexing.build import (
    KW_SEP,
    POSTINGS_SCHEMA,
    Index,
    Prefixes,
    local_frame,
    posting_pairs,
)
from cascading_solr_spark.query.wand import (
    RESULT_SCHEMA as _RESULT_SCHEMA,
)
from cascading_solr_spark.query.wand import (
    _member,
    allowed_ids,
    blockwise_filter_ids,
    decode_filter_ids,
    denied_ids,
    finish_topk,
    match_set,
    maxscore_kernel,
    row_cache_key,
    shard_kernel,
    strip_denied,
)


#: _RESULT_SCHEMA as a StructType (built without a JVM parse)
_RESULT_STRUCT = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("score", T.DoubleType()),
])

# Scoring-kernel projection: every postings column EXCEPT the positional
# payload (pos / boffs_pos, present when spec.positions).  Ranked and
# match kernels never touch positions, so on a positional index their
# parquet scans must not read the (corpus-token-sized) pos binaries —
# only the phrase kernel selects them.
_SCORE_COLS = [c.split()[0] for c in POSTINGS_SCHEMA.split(", ")]


def _scan_terms(index: Index, terms) -> list[str]:
    """Term IN-list for a pruned postings scan: the query/filter terms plus
    the delete-tombstone term IFF the index has deletes.  A delete-free
    index therefore plans byte-identically (no extra term, no extra row
    groups read); with deletes, each shard's kernel receives its tombstone
    rows in the same scan and excludes them in-process — no extra job, no
    broadcast.  Filter GROUPS (frozensets — range filters) flatten into
    their member terms."""
    out = sorted(_flat_terms(terms))
    if index.has_deletes:
        out.append(DELETED_TERM)
    return out


# Match-only projection: the id-side columns.  tfs/dls, their block
# offsets and the block-max stats never leave the parquet footer.
_ID_COLS = [
    "shard", "term", "n_docs", "n_blocks", "doc_ids", "boffs_ids",
    "block_last_id",
]


def _run_shards(
    spark: SparkSession,
    index: Index,
    terms,
    columns: list[str],
    kernel,
    schema: str,
    bounded: bool,
    shards: set[int] | None = None,
) -> list[pd.DataFrame] | DataFrame:
    """The shard executor: ``kernel`` over each shard's postings rows of
    ``terms`` (:func:`_scan_terms` adds the tombstones) projected to
    ``columns``, in the ``shards`` dirs only when given.  Sharding is by doc
    id, so every kernel is shard-local.  The one place a postings kernel's
    tier is chosen:

    * **driver-local** — a ``bounded`` caller whose candidate row groups are
      under ``Index.LOCAL_SCAN_MAX_BYTES`` (:meth:`Index.read_local`):
      pyarrow reads exactly those row groups and the kernel runs once per
      shard in-process on the frame ``applyInPandas`` would hand it
      (:func:`_udf_frame`).  Returns the kernel frames in shard order; no
      Spark job runs.
    * **distributed** — everything else: one term-pruned postings scan,
      ``groupBy("shard").applyInPandas(kernel, schema)``."""
    scan = _scan_terms(index, terms)
    if bounded:
        got = index.read_local("postings", scan, columns, shards)
        if got is not None:
            return [kernel(_udf_frame(got[s])) for s in sorted(got)]
    rows = index.postings(spark).filter(F.col("term").isin(scan))
    if shards is not None:
        rows = rows.filter(F.col("shard").isin(sorted(shards)))
    return rows.select(*columns).groupBy("shard").applyInPandas(kernel, schema)


def _column(parts: list[pd.DataFrame], name: str, dtype) -> np.ndarray:
    """Column ``name`` of the driver-side kernel frames, concatenated."""
    return np.concatenate(
        [np.empty(0, dtype=dtype)]
        + [p[name].to_numpy(dtype=dtype) for p in parts]
    )


class MatchKernel(NamedTuple):
    """A resolved match the shard executor runs on either tier: the
    arguments of one :func:`wand.match_set` call per shard (clauses, filter
    terms or groups, excluded terms, the matched-clause floor), or, with
    ``phrase`` set to (position terms, slop), the match-only phrase kernel
    (:func:`_phrase_kernel`) under the filter terms.  With no clause, no
    filter and no phrase it is the match-all shape (:attr:`all_docs`)."""

    clauses: list
    filters: set = frozenset()
    excluded: set = frozenset()
    require_n: int = 1
    phrase: tuple | None = None

    def terms(self) -> set:
        """Every term or filter group the kernel reads."""
        return (
            set(self.filters) | set(self.excluded)
            | {t for c in self.clauses for t in c}
            | set(self.phrase[0] if self.phrase else ())
        )

    @property
    def all_docs(self) -> bool:
        """MatchAllDocsQuery (``*:*``, and the pure-negative rewrite
        ``*:* AND NOT ...``): every live doc minus the excluded ones."""
        return not self.clauses and not self.filters and not self.phrase

    def kernel(self, block_size: int):
        """(column projection, per-shard kernel): the kernel maps one
        shard's posting rows to a (doc_id) frame of its sorted match ids —
        for the all-docs shape, of the ids its rows deny (tombstones and
        excluded terms)."""
        if self.phrase:
            terms, slop = self.phrase
            # match-only: the scoring arguments (idf, avgdl, k1, b) are unused
            return _PHRASE_MATCH_COLS, _phrase_kernel(
                terms, 0.0, 1.0, 0.0, 0.0, None, block_size, self.filters,
                match_only=True, slop=slop,
            )

        def run(pdf: pd.DataFrame) -> pd.DataFrame:
            rows = list(pdf.itertuples(index=False))
            if self.all_docs:
                ids = denied_ids(rows, block_size, self.excluded)
            else:
                ids = match_set(
                    rows, self.clauses, block_size, self.filters,
                    self.excluded, self.require_n,
                )
            if ids is None:  # nothing denied
                ids = np.empty(0, dtype=np.int64)
            return pd.DataFrame({"doc_id": ids})

        return _ID_COLS, run


#: a resolved match set: a kernel either tier runs (match-all and phrase
#: included), None for a zero-hit query, or the distributed frame of a
#: ``doc_filter`` semi-join
Match = MatchKernel | DataFrame | None


def _match_shards(
    spark: SparkSession, index: Index, m: MatchKernel, bounded: bool
) -> list[pd.DataFrame] | DataFrame:
    """``m``'s per-shard (doc_id) frames through the shard executor."""
    columns, kernel = m.kernel(index.spec.block_size)
    return _run_shards(
        spark, index, m.terms(), columns, kernel, "doc_id long", bounded
    )


def _match_set(
    spark: SparkSession, index: Index, m: Match
) -> np.ndarray | DataFrame:
    """The match set of every bounded match consumer: a sorted int64 array
    when the shard executor serves ``m`` on the driver — the all-docs shape
    starts from the docs table's ``doc_id`` column and strips the denied
    ids — else (a ``doc_filter`` match, or over the cap) the distributed
    frame of :func:`_run_match`."""
    if m is None:
        return np.empty(0, dtype=np.int64)
    if isinstance(m, MatchKernel):
        live = index.read_local("docs", None, ["doc_id"]) if m.all_docs else {}
        parts = None if live is None else _match_shards(spark, index, m, True)
        if isinstance(parts, list):
            ids = np.unique(_column(parts, "doc_id", np.int64))
            if not m.all_docs:
                return ids
            every = np.unique(np.concatenate(
                [np.empty(0, dtype=np.int64)]
                + [t.column("doc_id").to_numpy() for t in live.values()]
            ))
            return every[strip_denied(every, ids)]
    return _run_match(spark, index, m)


def _empty_ids(spark: SparkSession) -> DataFrame:
    """Empty (doc_id long) match set.  A ``local_frame``: collecting it, or
    joining against it, runs no Spark job, so a zero-hit match path costs
    one small driver-side frame build and nothing on the cluster."""
    return local_frame(spark, [], "doc_id long")


_QUOTED_RE = re.compile(r'^"([^"]*)"(?:~(\d+))?$')


def parse_quoted(qs: str) -> tuple[str, int] | None:
    """``'"exact phrase"'`` -> ("exact phrase", 0); ``'"a b"~2'`` ->
    ("a b", 2) — the Lucene quoted/sloppy phrase forms.  None when the
    query string is not a single fully-quoted phrase."""
    m = _QUOTED_RE.match(qs)
    if not m:
        return None
    return m.group(1), int(m.group(2) or 0)


def filter_terms_of(filters: dict[str, str] | None) -> set[str]:
    """``{"cat": "Japanese"}`` -> ``{"cat:Japanese"}`` (keyword_term format)."""
    if not filters:
        return set()
    return {f"{field}{KW_SEP}{value}" for field, value in filters.items()}


def parse_query(
    query: str, keyword_fields: tuple[str, ...]
) -> tuple[str, set[str]]:
    """Split Lucene-parser-style ``field:value`` tokens out of a query string.

    The reference exercises exactly this form — ``q=cat:Japanese`` through
    Solr's query parser (AbstractSolrSchemeTest.java:163-165,
    solrconfig.xml:766-774).  A whitespace token ``field:value`` whose field
    is one of the spec's keyword_fields becomes an exact index-side filter
    term (case-preserving, StrField semantics); everything else stays query
    text for the analyzer.  Repeated fields AND together (fq semantics).
    Returns ``(remaining_text, filter_terms)``."""
    fields = set(keyword_fields)
    fterms: set[str] = set()
    rest: list[str] = []
    for tok in query.split():
        if KW_SEP in tok:
            f, v = tok.split(KW_SEP, 1)
            if f in fields and v:
                fterms.add(f"{f}{KW_SEP}{v}")
                continue
        rest.append(tok)
    return " ".join(rest), fterms


def query_op(query: str, default: str = "OR") -> tuple[str, str]:
    """Lucene-parser boolean syntax in the query string: a standalone
    uppercase ``AND`` token, or every term carrying a ``+`` required prefix,
    forces conjunctive matching (schema.xml:239 default OR overridden the
    way q.op / +term does).  Returns ``(query_without_operators, op)``.
    Mixed required/optional (some terms ``+``-prefixed, some not) is
    resolved conservatively as full conjunction — documented, not hidden."""
    toks = [t for t in query.split() if t]
    words = [t for t in toks if t != "AND"]
    has_and = len(words) != len(toks)
    plus = [t for t in words if t.startswith("+") and len(t) > 1]
    stripped = [t.lstrip("+") if t.startswith("+") else t for t in words]
    op = "AND" if (has_and or plus) else default
    return " ".join(stripped), op


def _flat_terms(fterms) -> set[str]:
    """Flatten a filter-clause set (strings + frozenset groups) to its
    member terms — for scan IN-lists and row grouping; the AND/OR clause
    structure stays with the original set (wand.allowed_ids)."""
    out: set[str] = set()
    for t in fterms:
        if isinstance(t, str):
            out.add(t)
        else:
            out.update(t)
    return out


def parse_prohibited(query: str) -> tuple[str, list[str]]:
    """Lucene-parser prohibited clauses in the query string: ``-token`` and
    the standalone uppercase ``NOT token`` form (the Solr query parser
    treats both as MUST_NOT).  Returns ``(query_without_prohibited,
    prohibited_tokens)`` — the prohibited tokens are RAW (un-analyzed;
    resolve them with :func:`excluded_terms_of`).  Must run BEFORE the
    analyzer sees the string: the tokenizer drops punctuation, so an
    unparsed ``-foo`` would silently match ``foo`` POSITIVELY.

    A quoted prohibited phrase (``-"a b"``) is not supported (exact top-k
    under phrase exclusion needs a positional verify per candidate) —
    rejected loudly, never silently dropped."""
    toks = [t for t in query.split() if t]
    rest: list[str] = []
    neg: list[str] = []
    i = 0
    while i < len(toks):
        t = toks[i]
        if t == "NOT" and i + 1 < len(toks):
            neg.append(toks[i + 1])
            i += 2
            continue
        if t.startswith("-") and len(t) > 1:
            neg.append(t[1:])
            i += 1
            continue
        rest.append(t)
        i += 1
    for t in neg:
        if t.startswith('"') or t.endswith('"'):
            raise ValueError(
                f"prohibited phrase clause {t!r} is not supported "
                "(only -term / -field:value)"
            )
    return " ".join(rest), neg


_BOOST_RE = re.compile(r"^(.+?)\^(\d+(?:\.\d+)?)$")

#: Lucene's BooleanQuery.maxClauseCount default — the expansion cap for
#: multi-term (wildcard / fuzzy) rewrites
MAX_EXPANSIONS = 1024


def is_wildcard(tok: str) -> bool:
    """True for Lucene wildcard syntax (``*`` / ``?`` anywhere in the
    token — PrefixQuery is the trailing-``*`` special case)."""
    return "*" in tok or "?" in tok


_FUZZY_RE = re.compile(r"^(.+?)~(\d*)$")


def is_multiterm(tok: str) -> bool:
    """True for any multi-term clause syntax: wildcard (``tur*``/``b?f``)
    or fuzzy (``roam~1`` / bare ``roam~`` = 2 edits, Lucene's default)."""
    return is_wildcard(tok) or ("~" in tok and not tok.startswith('"'))


def split_wildcards(qtext: str) -> tuple[str, list[str]]:
    """Pull multi-term clause tokens (wildcard AND fuzzy) out of
    analyzed-bound query text — they must never reach the analyzer, whose
    tokenizer drops ``*``/``?``/``~`` (a fuzzy ``roam~1`` would otherwise
    positively match the literal terms ``roam`` and ``1``).  Returns
    (remaining_text, multiterm_tokens).  Malformed fuzzy syntax
    (``roam~0.8`` — the deprecated float-similarity form) is rejected
    loudly, never silently analyzed."""
    rest, wild = [], []
    for tok in qtext.split():
        # the literal match-all token is not a wildcard clause (a mixed
        # '*:* term' query is the OR-with-everything degenerate — the
        # match-all part adds nothing to ranked retrieval)
        if tok == "*:*" or not is_multiterm(tok):
            rest.append(tok)
            continue
        if not is_wildcard(tok) and not _FUZZY_RE.match(tok):
            raise ValueError(
                f"unsupported fuzzy syntax {tok!r} — use term~N with "
                "N in 0..2 (the float-similarity form is not supported)"
            )
        wild.append(tok)
    return " ".join(rest), wild


def _levenshtein(a: str, b: str) -> int:
    """Classic (non-Damerau) Levenshtein — the same metric as Spark's and
    DuckDB's ``levenshtein`` builtins, so the driver-cache fuzzy path and
    the distributed path return identical expansions."""
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


def expand_fuzzy(
    spark: SparkSession,
    index: Index,
    token: str,
    max_expansions: int = MAX_EXPANSIONS,
) -> list[str]:
    """Dictionary expansion of a fuzzy clause (``roam~1``; bare ``roam~``
    = 2 edits, Lucene's FuzzyQuery default): every dict term within
    maxEdits CLASSIC Levenshtein edits of the lowercased token.

    Documented deviations from Lucene: distance is classic Levenshtein
    (Spark's and DuckDB's builtin — Lucene defaults to Damerau, counting a
    transposition as one edit), and ALL matching terms join the
    constant-score clause (Lucene's default rewrite keeps the top 50 by
    blended frequency) — capped at ``max_expansions`` like the wildcard
    path.  Candidates come from the spellcheck ngram table when present
    (the provable no-miss gram bound — see :func:`ngram_candidates`), else
    a full dict scan of the single narrow term column."""
    m = _FUZZY_RE.match(token)
    if not m:
        raise ValueError(f"not a fuzzy clause: {token!r}")
    q = m.group(1).lower()
    edits = int(m.group(2)) if m.group(2) else 2
    if edits > 2:
        raise ValueError(
            f"fuzzy edits must be 0..2 (Lucene's LevenshteinAutomata "
            f"bound): {token!r}"
        )
    if KW_SEP in q:
        raise ValueError(f"fuzzy on a keyword field is not supported: {q!r}")
    if edits == 0:
        d0 = index.term_dict(spark)
        if d0 is not None and not term_dfs(spark, index, [q]):
            return []
        return [q]
    d = index.term_dict(spark)
    if d is None:
        raise ValueError("fuzzy queries need the dict table (pre-dict index)")
    cache = index.dict_cache(spark)
    if cache is not None and len(cache) <= 50_000:
        # small vocabulary: expand driver-side from the dict cache — zero
        # Spark jobs (the ngram job costs a scan+shuffle round-trip that
        # dominates fuzzy latency at bench scale); same classic-Levenshtein
        # ball, length-difference prefilter keeps the sweep linear
        terms = sorted(
            t
            for t in cache
            if KW_SEP not in t
            and t != DELETED_TERM
            and abs(len(t) - len(q)) <= edits
            and _levenshtein(t, q) <= edits
        )[: max_expansions + 1]
        if len(terms) > max_expansions:
            raise ValueError(
                f"fuzzy {token!r} expands to more than {max_expansions} "
                "terms (maxBooleanClauses) — lower the edit distance"
            )
        return terms
    cand = ngram_candidates(spark, index, q, edits)
    base = cand if cand is not None else d.select("term")
    rows = (
        base.filter(
            ~F.col("term").contains(KW_SEP)
            & (F.col("term") != DELETED_TERM)
            & (F.levenshtein(F.col("term"), F.lit(q)) <= edits)
        )
        .select("term")
        .limit(max_expansions + 1)
        .collect()
    )
    terms = sorted(r["term"] for r in rows)
    if len(terms) > max_expansions:
        raise ValueError(
            f"fuzzy {token!r} expands to more than {max_expansions} terms "
            "(maxBooleanClauses) — lower the edit distance"
        )
    return terms


_RANGE_RE = re.compile(
    r"(-?)([A-Za-z_][\w.]*):([\[\{])(\S+)\s+TO\s+(\S+)([\]\}])"
)


def parse_ranges(
    qs: str, keyword_fields: tuple[str, ...]
) -> tuple[str, list[tuple], list[tuple]]:
    """Lucene range syntax over keyword (StrField) fields in the query
    string: ``lang:[aa TO ez]`` (inclusive), ``{a TO b}`` (exclusive),
    ``*`` for an open end, leading ``-`` for a prohibited range.  StrField
    semantics: LEXICOGRAPHIC order on the raw stored value, exactly Solr's
    string-field range query.  Values with whitespace are not addressable
    by this form (Solr quotes them; unsupported — documented).

    Returns ``(rest, ranges, neg_ranges)`` with each range a
    ``(field, lo, hi, incl_lo, incl_hi)`` tuple.  A range on a non-keyword
    field is rejected loudly (Solr errors on undefined fields too)."""
    ranges: list[tuple] = []
    neg: list[tuple] = []
    fields = set(keyword_fields)

    def repl(m: re.Match) -> str:
        if m.group(2) not in fields:
            raise ValueError(
                f"range query on non-keyword field {m.group(2)!r} "
                f"(keyword fields: {sorted(fields)})"
            )
        r = (
            m.group(2), m.group(4), m.group(5),
            m.group(3) == "[", m.group(6) == "]",
        )
        (neg if m.group(1) else ranges).append(r)
        return " "
    rest = _RANGE_RE.sub(repl, qs)
    return " ".join(rest.split()), ranges, neg


def expand_keyword_range(
    spark: SparkSession,
    index: Index,
    rng: tuple,
    max_expansions: int = MAX_EXPANSIONS,
) -> frozenset:
    """Expand one keyword range to its concrete ``field:value`` index terms
    via the term-sorted dict (range predicate prunes row groups; the
    driver dict cache serves small vocabularies with zero jobs).  The
    result is a filter GROUP: OR within, AND against the other filters —
    wand.allowed_ids composes it blockwise like any fq."""
    field, lo, hi, incl_lo, incl_hi = rng
    prefix = field + KW_SEP

    def _in_range(term: str) -> bool:
        v = term[len(prefix):]
        if lo != "*" and (v < lo or (v == lo and not incl_lo)):
            return False
        if hi != "*" and (v > hi or (v == hi and not incl_hi)):
            return False
        return True

    cache = index.dict_cache(spark)
    if cache is not None:
        terms = sorted(
            t for t in cache if t.startswith(prefix) and _in_range(t)
        )[: max_expansions + 1]
    else:
        d = index.term_dict(spark)
        if d is None:
            raise ValueError(
                "range queries need the dict table (pre-dict index)"
            )
        cond = F.col("term").startswith(prefix)
        if lo != "*":
            bound = prefix + lo
            cond &= (
                F.col("term") >= bound if incl_lo else F.col("term") > bound
            )
        if hi != "*":
            bound = prefix + hi
            cond &= (
                F.col("term") <= bound if incl_hi else F.col("term") < bound
            )
        rows = (
            d.filter(cond).select("term").limit(max_expansions + 1).collect()
        )
        terms = sorted(r["term"] for r in rows)
    if len(terms) > max_expansions:
        raise ValueError(
            f"range {field}:[{lo} TO {hi}] expands to more than "
            f"{max_expansions} terms — narrow the range"
        )
    return frozenset(terms)


def expand_multiterm(
    spark: SparkSession,
    index: Index,
    token: str,
    max_expansions: int = MAX_EXPANSIONS,
) -> list[str]:
    """Dispatch a multi-term clause token to its expansion: wildcard
    (dict pattern walk) or fuzzy (Levenshtein ball)."""
    if is_wildcard(token):
        return expand_wildcard(spark, index, token, max_expansions)
    return expand_fuzzy(spark, index, token, max_expansions)


def expand_wildcard(
    spark: SparkSession,
    index: Index,
    pattern: str,
    max_expansions: int = MAX_EXPANSIONS,
) -> list[str]:
    """Dictionary expansion of a wildcard pattern — the MultiTermQuery
    rewrite's term enumeration (Lucene walks the term dictionary; this
    walks the build's term-sorted ``dict`` table).

    The pattern is lowercased but NOT analyzed (Solr's multiterm analysis
    rule for wildcards), and matches bare content-field terms only —
    a wildcard on a keyword field (``lang:e*``) is rejected loudly.  A
    literal prefix before the first wildcard becomes a dict range predicate
    (``term >= p AND term < p + chr(MAX)``) that prunes row groups of the
    term-sorted dict files; a LEADING wildcard degrades to a full dict scan
    (Solr disallows it by default for the same reason) — supported but the
    cost is the vocabulary, not the corpus.  More than ``max_expansions``
    matching terms raises (Lucene's TooManyClauses).  Small vocabularies
    are served from the driver-side dict cache — zero Spark jobs."""
    pat = pattern.lower().strip()
    if KW_SEP in pat:
        raise ValueError(
            f"wildcard on a keyword field is not supported: {pat!r}"
        )
    if not pat.strip("*?"):
        raise ValueError(
            f"bare wildcard {pat!r} matches everything — use q='*:*'"
        )
    rx = re.compile(
        "^"
        + "".join(
            ".*" if c == "*" else "." if c == "?" else re.escape(c)
            for c in pat
        )
        + "$"
    )
    cache = index.dict_cache(spark)
    if cache is not None:
        terms = sorted(
            t
            for t in cache
            if KW_SEP not in t and t != DELETED_TERM and rx.match(t)
        )[: max_expansions + 1]
    else:
        d = index.term_dict(spark)
        if d is None:
            raise ValueError(
                "wildcard queries need the dict table (pre-dict index)"
            )
        cond = (
            ~F.col("term").contains(KW_SEP)
            & (F.col("term") != DELETED_TERM)
            & F.col("term").rlike(rx.pattern)
        )
        prefix = re.split(r"[*?]", pat, maxsplit=1)[0]
        if prefix:
            cond = (
                (F.col("term") >= prefix)
                & (F.col("term") < prefix + "￿")
                & cond
            )
        rows = (
            d.filter(cond).select("term").limit(max_expansions + 1).collect()
        )
        terms = sorted(r["term"] for r in rows)
    if len(terms) > max_expansions:
        raise ValueError(
            f"wildcard {pattern!r} expands to more than {max_expansions} "
            "terms (maxBooleanClauses) — narrow the pattern"
        )
    return terms


def parse_boosts(query: str) -> tuple[str, dict[str, float]]:
    """Lucene-parser per-term boosts in the query string: ``term^2`` /
    ``term^2.5``.  Returns ``(query_without_boost_syntax, {raw_token:
    boost})`` — tokens are RAW (pre-analysis; resolve with
    :func:`boost_weights_of`).  Must run before the analyzer sees the
    string (the tokenizer drops ``^``, so ``foo^2`` would otherwise match
    the literal term ``2``).  A non-positive boost is rejected (Lucene
    requires boost > 0).  Duplicate boosted tokens: the last boost wins
    (query clauses collapse per distinct term in this engine — the
    documented dedupe rule — so boosts collapse with them)."""
    out: list[str] = []
    boosts: dict[str, float] = {}
    for tok in query.split():
        m = _BOOST_RE.match(tok)
        if m and not tok.startswith('"'):
            b = float(m.group(2))
            if b <= 0:
                raise ValueError(f"boost must be > 0 (got {tok!r})")
            boosts[m.group(1)] = b
            out.append(m.group(1))
        else:
            out.append(tok)
    return " ".join(out), boosts


def boost_weights_of(raw_boosts: dict[str, float]) -> dict[str, float]:
    """Resolve raw boosted tokens to per-ANALYZED-term weight multipliers:
    every analyzed form of a boosted token inherits its boost (Lucene
    multiplies the rewritten sub-query's weight; with this engine's
    flat-OR rewrite that is a per-form idf multiplier).  ``+``-required
    prefixes are transparent (``+foo^2``)."""
    w: dict[str, float] = {}
    for tok, b in raw_boosts.items():
        for t in analyze_query(tok.lstrip("+")):
            w[t] = b
    return w


def excluded_terms_of(
    neg_tokens: list[str], keyword_fields: tuple[str, ...]
) -> set[str]:
    """Resolve raw prohibited tokens to index terms: ``-field:value`` with a
    keyword field becomes the exact keyword term (StrField semantics, same
    parse as :func:`parse_query`); anything else is analyzed, and the doc
    is excluded when it matches ANY resulting form.  (A multi-form analyzed
    token — camelCase ``-TurboWriter`` → {turbo, writer, turbowriter} —
    therefore excludes MORE than Lucene's structured sub-query would;
    conservative over-exclusion, documented not hidden.)"""
    fields = set(keyword_fields)
    ex: set[str] = set()
    for tok in neg_tokens:
        m = _BOOST_RE.match(tok)
        if m:  # a boost on a prohibited clause is meaningless — strip it
            tok = m.group(1)
        if KW_SEP in tok:
            f, v = tok.split(KW_SEP, 1)
            if f in fields and v:
                ex.add(f"{f}{KW_SEP}{v}")
                continue
        ex.update(analyze_query(tok))
    return ex


class QueryPlan(NamedTuple):
    """One query string parsed into its clauses (:func:`plan_query`).

    The first seven fields are what a scoring kernel reads (batch_kernel
    takes a plan as is).  ``excluded`` and ``groups`` stay empty until
    :func:`_resolve` expands the raw clause syntax in the last five fields
    against the index dictionary.  A phrase plan (``slop`` set) carries the
    phrase's position terms in ``terms``."""

    terms: list[str]
    #: fq clauses: ``filters=`` plus q-string ``field:value`` terms, and
    #: once resolved, one frozenset group per keyword range
    filters: set = frozenset()
    conjunctive: bool = False
    #: per-analyzed-term boost multipliers (``term^2``)
    weights: dict = {}
    #: prohibited index terms (resolved)
    excluded: set = frozenset()
    #: constant-score clauses ``(member_terms, weight)`` (resolved)
    groups: list = ()
    slop: int | None = None
    #: query text left after range, prohibited and boost syntax
    text: str = ""
    prohibited: list = ()
    ranges: list = ()
    neg_ranges: list = ()
    #: wildcard / fuzzy tokens with their clause weight
    multiterm: list = ()

    @property
    def match_all(self) -> bool:
        """MatchAllDocsQuery: ``*:*``, or a pure-negative query (Solr's
        top-level rewrite to ``*:* AND NOT ...``)."""
        return self.text == "*:*" or (
            not self.text and bool(self.prohibited or self.neg_ranges)
        )

    @property
    def filter_only(self) -> bool:
        """A pure filter query: fq clauses and no clause that scores."""
        return bool(self.filters) and not self.terms and not self.groups

    @property
    def n_required(self) -> int:
        """Clause count an AND query must match: distinct terms plus
        constant-score groups (an empty expansion still counts)."""
        return len(set(self.terms)) + len(self.groups)


def plan_query(
    query: str,
    keyword_fields: tuple[str, ...],
    filters: dict[str, str] | None = None,
    synonyms: dict[str, list[str]] | None = None,
    op: str = "OR",
) -> QueryPlan:
    """Parse a query string into a :class:`QueryPlan` — pure, no Spark job.

    The Lucene-parser steps run in the one order every ranked and matching
    path needs: keyword ranges, prohibited clauses and boosts come out
    before anything is analyzed (the tokenizer would drop their syntax and
    match the bare token positively), then q-string ``field:value``
    filters, the ``AND``/``+term`` operator, and multi-term tokens; the
    rest is analyzed and synonym-expanded.  Dictionary expansions are left
    to :func:`_resolve` and :func:`_const_groups`."""
    text, ranges, neg_ranges = parse_ranges(query.strip(), keyword_fields)
    text, prohibited = parse_prohibited(text)
    text, boosts = parse_boosts(text)
    qtext, fterms = parse_query(text, keyword_fields)
    qtext, op = query_op(qtext, default=op)
    qtext, multiterm = split_wildcards(qtext)
    return QueryPlan(
        terms=expand_terms(qtext, synonyms),
        filters=filter_terms_of(filters) | fterms,
        conjunctive=op.upper() == "AND",
        weights=boost_weights_of(
            {t: w for t, w in boosts.items() if not is_multiterm(t)}
        ),
        text=text,
        prohibited=prohibited,
        ranges=ranges,
        neg_ranges=neg_ranges,
        multiterm=[(tok, float(boosts.get(tok, 1.0))) for tok in multiterm],
    )


def _const_groups(
    spark: SparkSession, index: Index, plan: QueryPlan
) -> list[tuple[frozenset, float]]:
    """Dictionary expansion of the plan's wildcard / fuzzy tokens into
    constant-score clauses (Solr's rewrite for multi-term queries), in
    query order; a boost on the token is the clause weight."""
    return [
        (frozenset(expand_multiterm(spark, index, tok)), w)
        for tok, w in plan.multiterm
    ]


def _resolve(spark: SparkSession, index: Index, plan: QueryPlan) -> QueryPlan:
    """The plan with its dictionary-dependent clauses expanded: prohibited
    tokens and ranges to excluded index terms, keyword ranges to filter
    groups, multi-term tokens to constant-score groups.  Each expansion is
    a Spark job unless the handle's dict cache serves it."""
    excluded = resolve_excluded(spark, index, plan.prohibited)
    ranges = {expand_keyword_range(spark, index, r) for r in plan.ranges}
    for r in plan.neg_ranges:  # a prohibited range excludes its expansion
        excluded |= expand_keyword_range(spark, index, r)
    return plan._replace(
        filters=plan.filters | ranges,
        excluded=excluded,
        groups=_const_groups(spark, index, plan),
    )


def _clause_kernel(
    terms: dict[str, tuple[float, float, object]],
    tie: float,
    k1: float,
    b: float,
    k: int | None,
    block_size: int,
    filter_terms: set[str] | None = None,
    require_n: int | None = None,
    cursor: tuple[float, int] | None = None,
    decode_cache: dict | None = None,
    excluded_terms: set[str] | None = None,
    const_groups: list[tuple[frozenset, float]] | None = None,
):
    """Exact clause scorer for one shard — TAAT, AND, mm, constant-score
    groups, cursor paging and DisMax all run here.

    ``terms`` maps each posting term to ``(weight, avgdl, clause)``: its
    contribution to a doc is ``weight · tf_norm(tf, dl, avgdl)`` (weight =
    idf times boosts), and ``clause`` keys the query clause it scores for.
    Per clause and doc the score is DisMax's ``max + tie · (sum − max)``
    over the clause's terms (Lucene DisjunctionMaxQuery); a one-term clause
    passes its contribution through unchanged — each (term, doc) posting
    exists once, so max = sum = the contribution.  TAAT is the case of one
    clause per term.

    ``const_groups`` are CONSTANT-SCORE clauses — the multi-term
    (wildcard/fuzzy) rewrite, Lucene's CONSTANT_SCORE_REWRITE: each
    ``(member_terms, weight)`` adds ``weight`` exactly once per doc posting
    ANY member term.

    A doc's score is the sum of its clause scores.  With ``require_n`` only
    docs matching at least that many clauses survive (AND = all clauses, mm
    = the eDisMax floor): a doc appears once per matched clause, so the
    per-doc count IS the matched-clause count, and sharding by doc keeps the
    conjunction an index-side intersection.  ``excluded_terms`` are
    prohibited clauses (Lucene ``-term``): docs posting any of them are
    stripped with the tombstones (wand.denied_ids) before cursor and top-k
    selection (wand.finish_topk).  ``decode_cache``
    memoizes full (ids, tfs, dls) row decodes by row content
    (wand.row_cache_key), shared across the queries of one batch_kernel
    call.

    The summation order is part of the contract: a doc's clause scores add
    in ascending clause-key order (TAAT keys clauses by term, DisMax by
    query position), constant-score groups last in query order, and a
    clause's terms combine in canonical row order (row_cache_key sort).  A
    doc's float64 score is therefore bit-identical across separate jobs
    whatever the shuffle row arrival order — cursorMark equality and
    explain_score's scalar sum rely on it, not on luck."""
    filter_terms = filter_terms or set()
    width = Counter(c for _, _, c in terms.values())

    def score_rows(rows: list) -> pd.DataFrame:
        rows = sorted(rows, key=row_cache_key)
        allowed = allowed_ids(rows, filter_terms, block_size)
        if allowed is not None and not len(allowed):
            return finish_topk()
        denied = denied_ids(rows, block_size, excluded_terms)
        clause_ids: dict[object, list[np.ndarray]] = {}
        clause_contrib: dict[object, list[np.ndarray]] = {}
        for row in rows:
            if row.term not in terms:
                continue
            weight, avgdl, clause = terms[row.term]
            n = int(row.n_docs)
            ck = row_cache_key(row) if decode_cache is not None else None
            cached = decode_cache.get(ck) if decode_cache is not None else None
            if cached is None:
                ids = decode_doc_ids(row.doc_ids, n, block_size)
                tfs = decode_varint(row.tfs, n)
                dls = decode_varint(row.dls, n)
                if decode_cache is not None:
                    decode_cache[ck] = (ids, tfs, dls)
            else:
                ids, tfs, dls = cached
            contrib = weight * bm25_tf_norm(tfs, dls, avgdl, k1, b)
            if allowed is not None:
                keep = _member(ids, allowed)
                ids, contrib = ids[keep], contrib[keep]
            clause_ids.setdefault(clause, []).append(ids)
            clause_contrib.setdefault(clause, []).append(contrib)
        all_ids: list[np.ndarray] = []
        all_scores: list[np.ndarray] = []
        for clause in sorted(clause_ids):
            ids, contrib = clause_ids[clause], clause_contrib[clause]
            if width[clause] > 1:
                uniq, inv = np.unique(np.concatenate(ids), return_inverse=True)
                c = np.concatenate(contrib)
                mx = np.zeros(len(uniq), dtype=np.float64)
                np.maximum.at(mx, inv, c)  # contribs > 0 (idf, boost > 0)
                if tie:
                    sm = np.zeros(len(uniq), dtype=np.float64)
                    np.add.at(sm, inv, c)
                    mx = mx + tie * (sm - mx)
                ids, contrib = [uniq], [mx]
            all_ids += ids
            all_scores += contrib
        for gterms, w in const_groups or ():
            parts = [
                decode_doc_ids(row.doc_ids, int(row.n_docs), block_size)
                for row in rows
                if row.term in gterms
            ]
            if not parts:
                continue
            gids = np.unique(np.concatenate(parts))
            if allowed is not None:
                gids = gids[_member(gids, allowed)]
            if len(gids):
                all_ids.append(gids)
                all_scores.append(np.full(len(gids), float(w)))
        if not all_ids:
            return finish_topk()
        uniq, inv = np.unique(np.concatenate(all_ids), return_inverse=True)
        acc = np.zeros(len(uniq), dtype=np.float64)
        np.add.at(acc, inv, np.concatenate(all_scores))
        if require_n is not None:
            cnt = np.zeros(len(uniq), dtype=np.int64)
            np.add.at(cnt, inv, 1)
            keep = cnt >= require_n
            uniq, acc = uniq[keep], acc[keep]
        if denied is not None:
            # denied docs leave the exhaustive accumulator BEFORE cursor and
            # top-k selection (Lucene liveDocs: stats stay global, a deleted
            # doc never occupies a result slot)
            keep = strip_denied(uniq, denied)
            uniq, acc = uniq[keep], acc[keep]
        return finish_topk(uniq, acc, k, cursor)

    return shard_kernel(score_rows)


def _taat_kernel(
    idf: dict[str, float],
    avgdl: float,
    k1: float,
    b: float,
    k: int | None,
    block_size: int,
    filter_terms: set[str] | None = None,
    require_n_terms: int | None = None,
    cursor: tuple[float, int] | None = None,
    decode_cache: dict | None = None,
    excluded_terms: set[str] | None = None,
    const_groups: list[tuple[frozenset, float]] | None = None,
):
    """Exact term-at-a-time scorer for one shard: :func:`_clause_kernel`
    with one clause per term, so a doc's term contributions add in term
    order and its constant-score groups after them, in query order."""
    return _clause_kernel(
        {t: (w, avgdl, t) for t, w in idf.items()}, 0.0, k1, b, k,
        block_size, filter_terms, require_n_terms, cursor, decode_cache,
        excluded_terms, const_groups,
    )


def _rank_kernel(
    plan: QueryPlan,
    idf: dict[str, float],
    avgdl: float,
    k1: float,
    b: float,
    k: int | None,
    block_size: int,
    mm: int | None = None,
    cursor: tuple[float, int] | None = None,
    exhaustive: bool = False,
    decode_cache: dict | None = None,
    counters: dict | None = None,
):
    """Per-shard scorer of a resolved plan (``idf`` with boosts applied).

    Block-max MaxScore serves a plain OR top-k.  Every other shape runs the
    exact clause scorer: MaxScore's θ pruning is unsound under a
    match-count floor (AND, ``mm``: θ from docs that may fail the floor
    over-prunes) and under a cursor (θ comes from already-returned docs),
    its per-term bounds do not model a once-per-doc constant-score clause,
    and k=None leaves nothing to prune against.  ``exhaustive`` forces the
    clause scorer (``mode="taat"``, cursor paging)."""
    live = [g for g in plan.groups if g[0]]
    if plan.conjunctive or mm is not None or live or exhaustive or k is None:
        return _taat_kernel(
            idf, avgdl, k1, b, k, block_size, plan.filters,
            require_n_terms=plan.n_required if plan.conjunctive else mm,
            cursor=cursor, decode_cache=decode_cache,
            excluded_terms=plan.excluded, const_groups=live,
        )
    return maxscore_kernel(
        idf, avgdl, k1, b, k, block_size, plan.filters, counters=counters,
        decode_cache=decode_cache, excluded_terms=plan.excluded,
    )


def _zero_hit(plan: QueryPlan, dfs: dict, mm: int | None = None) -> bool:
    """Q7 short-circuit of a resolved plan: no clause has postings anywhere,
    or AND / ``mm`` needs more clauses than have postings (a df=0 term or
    an empty wildcard expansion empties the conjunction)."""
    reachable = len(dfs) + sum(1 for g, _ in plan.groups if g)
    need = plan.n_required if plan.conjunctive else mm
    return not reachable or (need is not None and reachable < need)


def _plan_terms(plan: QueryPlan, dfs: dict) -> list:
    """The resolved plan's scan terms: scoring terms with postings, filter
    and prohibited terms, wildcard expansions."""
    expansion = [t for g, _ in plan.groups for t in g]
    return list(dfs) + list(plan.filters) + list(plan.excluded) + expansion


def _udf_frame(table) -> pd.DataFrame:
    """An Arrow table of postings rows as the pandas frame ``applyInPandas``
    hands a kernel: pyspark converts each column with these ``to_pandas``
    options, and for the postings column types (ints without nulls,
    strings, binaries, arrays of ints) its converters change nothing else —
    binaries stay ``bytes``, arrays stay numpy arrays."""
    return table.to_pandas(
        date_as_object=True, coerce_temporal_nanoseconds=True
    )


#: a ranked top-k: a frame, or driver-merged (doc_id, score) rows
Ranked = DataFrame | list


def _frame(spark: SparkSession, top: Ranked) -> DataFrame:
    """A ranked top-k as a (doc_id, score) frame: driver rows become a
    ``local_frame``.  Ranked entry points call this only when they return
    the top-k itself; the stored fetch takes driver rows as they are and
    skips building a frame it would collect straight back."""
    if isinstance(top, list):
        return local_frame(spark, top, _RESULT_SCHEMA)
    return top


def _rows(top: Ranked) -> list[tuple[int, float]]:
    """A ranked top-k's (doc_id, score) rows: driver rows as they are, a
    frame collected."""
    if isinstance(top, list):
        return top
    return [(int(r["doc_id"]), float(r["score"])) for r in top.collect()]


def _merge_topk(
    spark: SparkSession,
    index: Index,
    terms: list,
    columns: list[str],
    kernel,
    k: int | None,
    start: int = 0,
    schema: str = _RESULT_SCHEMA,
    by: str | None = None,
) -> Ranked:
    """Rows ``[start, k)`` of the (score desc, doc_id asc) order of
    ``kernel``'s local top-k over each shard's postings rows of ``terms``
    (projected to ``columns``), every row from ``start`` on for k=None;
    with ``by``, the first ``k`` rows per value of the ``by`` column (the
    batch scorer's ``query_id``; ``k`` set, ``start`` 0).

    The shard executor (:func:`_run_shards`) picks the tier — the driver
    for a bounded request (``k`` set) under the cap — and this is only the
    merge: a lexsort over the driver frames, whose rows come back as
    driver rows (:func:`_frame` makes them a ``local_frame``); else a
    global sort, limit and offset over the distributed frame (a per-``by``
    row_number window)."""
    top = _run_shards(
        spark, index, terms, columns, kernel, schema, bounded=k is not None
    )
    if isinstance(top, list):
        ids = _column(top, "doc_id", np.int64)
        scores = _column(top, "score", np.float64)
        if by is None:
            order = np.lexsort((ids, -scores))[start:k]
            return list(zip(ids[order].tolist(), scores[order].tolist()))
        keys = _column(top, by, str)
        order = np.lexsort((ids, -scores, keys))
        ids, scores, keys = ids[order], scores[order], keys[order]
        # rank within a key: the distance from the key's first row
        heads = np.flatnonzero(np.r_[True, keys[1:] != keys[:-1]])
        n = len(keys)
        rank = np.arange(n) - np.repeat(heads, np.diff(np.r_[heads, n]))
        keep = rank < k
        return list(zip(
            keys[keep].tolist(), ids[keep].tolist(), scores[keep].tolist()
        ))
    order = [F.desc("score"), F.asc("doc_id")]
    if by is not None:
        rn = F.row_number().over(Window.partitionBy(by).orderBy(*order))
        return top.withColumn("_rn", rn).filter(F.col("_rn") <= k).drop("_rn")
    top = top.orderBy(*order)
    if k is not None:
        top = top.limit(k)
    return top.offset(start) if start else top


def _ranked_top(
    spark: SparkSession,
    index: Index,
    plan: QueryPlan,
    dfs: dict,
    k: int | None,
    mm: int | None = None,
    cursor: tuple[float, int] | None = None,
    exhaustive: bool = False,
    start: int = 0,
) -> Ranked:
    """Ranked (doc_id, score) top of a resolved plan whose terms have
    global document frequencies ``dfs`` — rows ``[start, k)`` of the shard
    fan-out (:func:`_merge_topk`) shared by :func:`search` and
    :func:`search_after`.  A per-term boost multiplies
    the term's idf, exactly Lucene's boost placement: every bound,
    MaxScore block maxima included, scales with it and pruning stays
    exact."""
    spec = index.spec
    idf = {
        t: bm25_idf(df, index.n_docs) * plan.weights.get(t, 1.0)
        for t, df in dfs.items()
    }
    kernel = _rank_kernel(
        plan, idf, index.avgdl, spec.k1, spec.b, k, spec.block_size, mm=mm,
        cursor=cursor, exhaustive=exhaustive,
    )
    return _merge_topk(
        spark, index, _plan_terms(plan, dfs), _SCORE_COLS, kernel, k, start
    )


def term_dfs(
    spark: SparkSession, index: Index, terms: list[str]
) -> dict[str, int]:
    """Global document frequency per query term — the analogue of the
    distributed-IDF fetch a sharded Solr performs.  Small vocabularies are
    served from the handle's driver-side cache (Index.dict_cache — zero
    Spark jobs after the first query); larger ones from the build's
    term-sorted ``dict`` table (a tiny pruned scan); pre-dict indexes fall
    back to aggregating posting rows."""
    cache = index.dict_cache(spark)
    if cache is not None:
        return {t: cache[t] for t in terms if t in cache}
    d = index.term_dict(spark)
    if d is not None:
        rows = d.filter(F.col("term").isin(terms)).collect()
        return {r["term"]: int(r["df"]) for r in rows}
    rows = (
        index.postings(spark)
        .filter(F.col("term").isin(terms))
        .groupBy("term")
        .agg(F.sum("n_docs").alias("df"))
        .collect()
    )
    return {r["term"]: int(r["df"]) for r in rows}


def expand_terms(
    query: str, synonyms: dict[str, list[str]] | None = None
) -> list[str]:
    """Analyzed query terms, optionally synonym-expanded (SynonymFilter
    expand=true analogue, schema.xml:432-437): each synonym of an analyzed
    term joins the OR term set."""
    terms = analyze_query(query)
    if not synonyms:
        return terms
    seen: dict[str, None] = {}
    for t in terms:
        seen.setdefault(t, None)
        for s in synonyms.get(t, ()):  # synonyms are analyzed terms too
            seen.setdefault(s, None)
    return list(seen)


def _fetch_stored(
    spark: SparkSession,
    index: Index,
    top: Ranked,
    bounded: bool = True,
    fl: list[str] | None = None,
) -> DataFrame:
    """Stored-field retrieval for a ranked (doc_id, score) top.

    ``bounded`` (the k-limited path): the top-k is collected (≤ k rows, and
    the caller is about to collect it anyway; a driver-merged top-k from
    :func:`_merge_topk` is already rows), shard =
    doc_id % num_shards is derived driver-side, and the docs read is pruned
    to exactly the touched shard partitions + doc_id row groups — at 100 TB
    this is a k-row fetch, not a table scan.  Two tiers, one result (rows
    and schema, nullability included):

    * **driver-local** — when the index records its docs schema and the
      candidate docs row groups (the handle's footer index: touched shard
      dirs, doc_id [min, max]) are under ``Index.LOCAL_SCAN_MAX_BYTES``,
      pyarrow reads them (:meth:`Index.read_local`), the ≤ k rows are joined
      to their scores and sorted on the driver, and the result is a
      ``local_frame`` — no Spark job;
    * **distributed** — otherwise the ≤ k rows come back as a
      ``local_frame`` (a LocalRelation: broadcasting it runs no job), and
      the ≤ k joined rows are ordered inside ONE partition (coalesce(1) +
      sortWithinPartitions) rather than by a global sort's range exchange —
      the whole fetch is the pruned scan's stage.

    ``bounded=False`` (k=None: an UNBOUNDED match set) must never collect or
    broadcast the matches — driver memory and plan size would grow with the
    match count.  It joins distributed instead: a shuffle-hash equi-join of
    the match set against the docs table (both sides partitioned by doc_id;
    the docs side prunes to the stored columns).

    ``fl`` (Solr's field list, default ``fl=*`` returning every stored
    field) prunes the docs read to the REQUESTED columns — the column
    selection reaches the parquet scan, so ``fl=lang`` over a 100 TB corpus
    never reads the wide text column."""
    docs_cols: list[str] | None = None
    if fl is not None:
        stored = set(index.spec.stored_fields)
        bad = sorted(set(fl) - stored - {"doc_id", "score"})
        if bad:
            raise ValueError(
                f"fl fields {bad} are not stored fields {sorted(stored)} "
                "(Solr returns stored fields only)"
            )
        docs_cols = [c for c in fl if c not in ("doc_id", "score")]
    if not bounded:
        docs = index.docs(spark)
        if docs_cols is not None:
            docs = docs.select("doc_id", "shard", *docs_cols)
        return (
            docs.drop("shard")
            .join(_frame(spark, top).hint("shuffle_hash"), "doc_id")
            .orderBy(F.desc("score"), F.asc("doc_id"))
        )
    rows = _rows(top)
    # the join's right side: a zero-hit frame joins ``top`` itself (its
    # schema, nullability included, survives), every other one the rows
    right = _RESULT_STRUCT if rows or isinstance(top, list) else top.schema
    local = _local_stored(spark, index, rows, right, docs_cols)
    if local is not None:
        return local
    docs = index.docs(spark)
    if docs_cols is not None:
        docs = docs.select("doc_id", "shard", *docs_cols)
    ids = [d for d, _ in rows]
    shards = sorted({i % index.spec.num_shards for i in ids})
    small = F.broadcast(local_frame(spark, rows, right))
    pruned = docs.filter(F.col("shard").isin(shards) & F.col("doc_id").isin(ids))
    return (
        pruned.drop("shard")
        .join(small, "doc_id")
        .coalesce(1)
        .sortWithinPartitions(F.desc("score"), F.asc("doc_id"))
    )


def _local_stored(
    spark: SparkSession,
    index: Index,
    rows: list[tuple[int, float]],
    right: T.StructType,
    docs_cols: list[str] | None,
) -> DataFrame | None:
    """The driver-local tier of the bounded :func:`_fetch_stored`: the docs
    rows of the ``rows`` ids joined to their scores, in (score desc, doc_id
    asc) order, as a ``local_frame`` whose schema is the distributed
    join's (docs columns, then ``right``'s) — or None when the index has no
    recorded docs schema or the read is not under the cap."""
    scan = index.docs_scan_schema()
    if scan is None:
        return None
    fields = {f.name: f for f in scan.fields if f.name != "shard"}
    names = list(fields) if docs_cols is None else ["doc_id", *docs_cols]
    score = dict(rows)
    got = index.read_local(
        "docs", score, names, {d % index.spec.num_shards for d in score}
    )
    if got is None:
        return None
    schema = T.StructType(
        [fields[n] for n in names]
        + [f for f in right.fields if f.name != "doc_id"]
    )
    out = [
        (*r, score[r[0]])
        for t in got.values()
        for r in zip(*(t.column(n).to_pylist() for n in names))
    ]
    out.sort(key=lambda r: (-r[-1], r[0]))
    return local_frame(spark, out, schema)


def keyword_filter(
    spark: SparkSession,
    index: Index,
    filters: dict[str, str] | set[str],
    k: int | None = None,
    excluded: set[str] | None = None,
) -> DataFrame:
    """Pure keyword-field query (no ranking): doc_ids matching ALL filters,
    served from the index postings (never a docs-table scan).  The reference
    semantics target: ``cat:Japanese`` (AbstractSolrSchemeTest.java:163-169).
    ``filters`` is a field->value dict or a pre-built ``field:value`` term set.
    ``excluded`` (index terms — analyzed or ``field:value``) strips docs
    posting any of them, in-kernel (prohibited clauses over a filter query).

    The shared match-set kernel (:func:`wand.match_set` with no clauses)
    on the shard executor's distributed tier over the id-only postings
    scan (an unbounded set); rows come back in doc_id order, the first
    ``k`` of them when ``k`` is given.
    """
    fterms = filters if isinstance(filters, set) else filter_terms_of(filters)
    m = MatchKernel([], fterms, excluded or set())
    out = _match_shards(spark, index, m, bounded=False).orderBy("doc_id")
    return out if k is None else out.limit(k)


def _doc_filter_semi(
    spark: SparkSession, index: Index, top: DataFrame, doc_filter: str
) -> DataFrame:
    """The rows of ``top`` whose stored doc satisfies a SQL predicate over
    stored fields (the Solr frange / PostFilter analogue: ``textlen >=
    150``) — one distributed shuffle-hash semi-join, never a collect.  The
    predicate pushes down to the docs parquet scan and the projection
    prunes to doc_id + the referenced columns — never a wide read."""
    ids = index.docs(spark).filter(doc_filter).select("doc_id")
    return top.join(ids.hint("shuffle_hash"), "doc_id", "semi")


def _doc_filter_probe(
    spark: SparkSession, index: Index, doc_filter: str, ids: list[int]
) -> set[int]:
    """Which of ≤ a-few-thousand CANDIDATE ids satisfy the predicate — a
    partition-pruned point probe (shard = id % num_shards + doc_id
    row-group pruning, the `_fetch_stored` bounded-path shape): at 100 TB
    this reads |ids| rows, not the table."""
    if not ids:
        return set()
    shards = sorted({i % index.spec.num_shards for i in ids})
    rows = (
        index.docs(spark)
        .filter(F.col("shard").isin(shards) & F.col("doc_id").isin(ids))
        .filter(doc_filter)
        .select("doc_id")
        .collect()
    )
    return {int(r["doc_id"]) for r in rows}


def resolve_excluded(
    spark: SparkSession, index: Index, neg_tokens: list[str]
) -> set[str]:
    """:func:`excluded_terms_of` plus dict expansion of prohibited WILDCARD
    clauses (``-tmp*`` excludes docs posting any matching term — Lucene's
    MUST_NOT over the rewritten multi-term query)."""
    plain = [t for t in neg_tokens if not is_multiterm(t)]
    ex = excluded_terms_of(plain, index.spec.keyword_fields)
    for tok in neg_tokens:
        if is_multiterm(tok):
            m = _BOOST_RE.match(tok)
            if m:  # boosts on prohibited clauses are meaningless — strip
                tok = m.group(1)
            ex.update(expand_multiterm(spark, index, tok))
    return ex


def match_ids(
    spark: SparkSession,
    index: Index,
    query: str,
    filters: dict[str, str] | None = None,
    synonyms: dict[str, list[str]] | None = None,
    op: str = "OR",
    doc_filter: str | None = None,
) -> DataFrame:
    """The match SET of a query — no scores (the Lucene "matching, not
    ranking" path; what facet counting, filter caches, and delete-by-query
    consume).  Matching semantics are identical to :func:`search` (analyzed
    terms under OR/AND, query-string ``field:value`` parsing, keyword
    filters, synonym expansion), but it runs the shared match-set kernel
    (:func:`wand.match_set`: each term a one-term clause, each wildcard
    expansion one multi-term clause, AND/mm as a matched-clause floor) —
    a fully-quoted query the match-only phrase kernel — over the id-only
    postings scan of the shard executor (:func:`_run_shards`) — no tf/dl
    decode, no idf/tf-norm arithmetic, no top-k merge, and parquet never
    reads the tf/dl binary columns.  Returns distinct ``doc_id`` rows.

    Prohibited clauses (``-term`` / ``-field:value`` / ``NOT term``,
    Solr's MUST_NOT) strip matching docs in-kernel — shard-local, since
    sharding is by doc id.  A pure-negative query (``-foo``, ``*:* -foo``)
    follows Solr's top-level rewrite to ``*:* AND NOT foo``: the live-doc
    set minus the excluded match set (one anti-join).

    ``doc_filter`` (SQL predicate over stored fields — the numeric-fq /
    PostFilter analogue, see :func:`search`) composes as one distributed
    semi-join against the predicate's pushed-down docs scan: the
    match-only path is set-shaped, so no overfetch is ever needed.

    Always the executor's distributed tier — an unbounded id set never
    becomes a driver-side ``LocalRelation``; a bounded consumer (facet
    counts, an unscored page) takes the driver tier through
    :func:`_match_set`."""
    return _run_match(
        spark, index,
        _resolve_match(spark, index, query, filters, synonyms, op, doc_filter),
    )


def _resolve_match(
    spark: SparkSession,
    index: Index,
    query: str,
    filters: dict[str, str] | None = None,
    synonyms: dict[str, list[str]] | None = None,
    op: str = "OR",
    doc_filter: str | None = None,
) -> Match:
    """:func:`match_ids`'s branches, resolved but not run: the kernel of a
    term, AND/mm, wildcard, pure-filter, match-all, prohibited-clause or
    phrase query; None when it is zero-hit; a distributed frame only for a
    ``doc_filter`` query."""
    if doc_filter is not None:
        base = match_ids(
            spark, index, query, filters=filters, synonyms=synonyms, op=op
        )
        return _doc_filter_semi(spark, index, base, doc_filter)
    qs = query.strip()
    pq = parse_quoted(qs)
    if pq is not None:
        return _phrase_match(spark, index, pq[0], filters, pq[1])
    plan = _resolve(
        spark, index,
        plan_query(qs, index.spec.keyword_fields, filters, synonyms, op),
    )
    if plan.match_all or plan.filter_only:
        # no clauses: keyword_filter's kernel, or all docs with no filter
        return MatchKernel([], plan.filters, plan.excluded)
    dfs = term_dfs(spark, index, plan.terms) if plan.terms else {}
    if _zero_hit(plan, dfs):
        return None
    # wildcard clauses: each is ONE clause matched by any dict expansion
    clauses = [frozenset([t]) for t in dfs] + [g for g, _ in plan.groups if g]
    return MatchKernel(
        clauses, plan.filters, plan.excluded,
        plan.n_required if plan.conjunctive else 1,
    )


def _run_match(spark: SparkSession, index: Index, m: Match) -> DataFrame:
    """A resolved match set as the distributed frame :func:`match_ids`
    returns: a pure filter in :func:`keyword_filter`'s doc_id order, the
    empty frame for zero-hit, and for the all-docs shape (the /browse
    handler's q.alt=*:* landing page, solrconfig.xml:879) ONE int column
    of the docs table minus the tombstones and the excluded match set."""
    if m is None:
        return _empty_ids(spark)
    if not isinstance(m, MatchKernel):
        return m
    if m.clauses or m.phrase:
        return _match_shards(spark, index, m, bounded=False)
    if m.filters:
        return keyword_filter(spark, index, m.filters, excluded=m.excluded)
    live = index.docs(spark).select("doc_id")
    if index.has_deletes:
        live = live.join(
            F.broadcast(index.deleted_ids(spark)), "doc_id", "left_anti"
        )
    if m.excluded:
        ex = MatchKernel([frozenset(m.excluded)])
        live = live.join(
            _match_shards(spark, index, ex, bounded=False), "doc_id",
            "left_anti",
        )
    return live


def _min_match_count(min_match: int | str, n_terms: int) -> int:
    """Resolve a Solr ``mm`` spec to a required distinct-term count.

    Accepts an absolute int or a percentage string ("75%"); percentages
    round DOWN over the optional-clause count, exactly like Solr's
    minimum-should-match (the eDisMax ``mm`` parameter).  Clamped to
    [1, n_terms]."""
    if isinstance(min_match, str) and min_match.strip().endswith("%"):
        mm = int(float(min_match.strip()[:-1]) * n_terms / 100.0)
    else:
        mm = int(min_match)
    return max(1, min(mm, n_terms))


def _unscored(
    spark: SparkSession, index: Index, plan: QueryPlan, score: float,
    k: int | None, start: int, cursor: tuple | None, doc_filter: str | None,
) -> Ranked:
    """The unscored legs of a ranked request at a constant ``score``: the
    match-all leg (``*:*``, ``*:* -t``, ``-t``: 1.0, Lucene's
    MatchAllDocsQuery) and the pure-filter leg (0.0).  Matching live docs
    in doc_id order (a cursor degenerates to a doc_id floor), semi-joined
    to ``doc_filter`` BEFORE the limit, then rows ``[start, start + k)``.

    A bounded page is driver rows — without ``doc_filter``, a slice of
    :func:`_match_set`'s driver array (no Spark job under the cap), else
    the collected page of the distributed frame; k=None stays a frame."""
    m = MatchKernel([], plan.filters, plan.excluded)
    floor = -1 if cursor is None else int(cursor[1])
    bounded = k is not None and doc_filter is None
    ids = (_match_set if bounded else _run_match)(spark, index, m)
    if isinstance(ids, np.ndarray):
        page = ids[ids > floor][start:start + k]
        return [(d, score) for d in page.tolist()]
    if cursor is not None:
        ids = ids.filter(F.col("doc_id") > floor)
    if doc_filter is not None:
        ids = _doc_filter_semi(spark, index, ids, doc_filter)
    top = ids.orderBy("doc_id")
    if k is None:
        return top.select("doc_id", F.lit(score).alias("score"))
    top = top.limit(k + start)
    if start:
        top = top.offset(start)
    return [(int(r["doc_id"]), score) for r in top.collect()]


def _post_filter(
    spark: SparkSession, index: Index, scored, doc_filter: str,
    k: int | None, start: int,
) -> Ranked:
    """Rows ``[start, start + k)`` of a scored request that satisfy the
    stored-field predicate ``doc_filter`` (Lucene's PostFilter; ranking
    stats unchanged).  Bounded: rank 4·need candidates (need = start + k),
    point-probe them, and escalate geometrically until ``need`` survive or
    the candidates run out — exact, O(k) for a permissive filter, and the
    survivors stay driver rows.  The escalation is CAPPED at 64·need, or an
    ultra-selective filter would walk the ENTIRE match set across the
    driver (the 100 TB driver-OOM shape); past the cap, and for k=None, the
    ranked match set is semi-joined to the predicate — no collect."""
    if k is not None:
        need = k + start
        fetch, cap = max(4 * need, 64), max(64 * need, 1024)
        while fetch <= cap:
            cand = _rows(scored(fetch, 0))
            ok = _doc_filter_probe(spark, index, doc_filter, [d for d, _ in cand])
            survivors = [r for r in cand if r[0] in ok][:need]
            if len(survivors) >= need or len(cand) < fetch:
                return survivors[start:]
            fetch *= 4
    top = _doc_filter_semi(spark, index, scored(None, 0), doc_filter).orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    if k is not None:
        top = top.limit(k + start)
    return top.offset(start) if start else top


def _respond(
    spark: SparkSession, index: Index, plan: QueryPlan | None, scored,
    k: int | None, start: int = 0, cursor: tuple | None = None,
    with_stored: bool = True, fl: list[str] | None = None,
    doc_filter: str | None = None,
) -> DataFrame:
    """The request shell every ranked entry point answers through — Solr's
    one /select component around whichever parser built the query: paging
    (solrconfig.xml:484, :772), the match-all and pure-filter legs
    (q.alt=*:*, solrconfig.xml:879), the ``doc_filter`` post-filter, the
    stored fetch, and ``fl`` (which drops ``score`` unless listed).

    ``scored(k, start) -> Ranked`` runs the entry point's own kernel
    through :func:`_merge_topk`, None when the query is zero-hit.  ``plan``
    is a flat query's resolved :class:`QueryPlan`: a match-all plan, or a
    zero-hit pure-filter one, is :func:`_unscored`.  Phrase and boolean
    queries pass no plan: their zero-hit answer is empty, filters or not."""
    if plan is not None and (
        plan.match_all or (scored is None and plan.filter_only)
    ):
        score = 1.0 if plan.match_all else 0.0
        top = _unscored(spark, index, plan, score, k, start, cursor, doc_filter)
    elif scored is None:
        top = []  # Q7: the zero-hit answer
    elif doc_filter is not None:
        top = _post_filter(spark, index, scored, doc_filter, k, start)
    else:
        top = scored(None if k is None else k + start, start)
    if not with_stored:
        return _frame(spark, top)
    out = _fetch_stored(spark, index, top, bounded=k is not None, fl=fl)
    return out.drop("score") if fl is not None and "score" not in fl else out


def search(
    spark: SparkSession,
    index: Index,
    query: str,
    k: int | None = 10,
    mode: str = "maxscore",
    with_stored: bool = True,
    filters: dict[str, str] | None = None,
    synonyms: dict[str, list[str]] | None = None,
    op: str = "OR",
    start: int = 0,
    min_match: int | str | None = None,
    fl: list[str] | None = None,
    doc_filter: str | None = None,
) -> DataFrame:
    """Top-k BM25 keyword search; returns (doc_id, score[, stored fields,
    sha256]).

    * ``doc_filter`` is a SQL predicate over STORED fields (``"textlen >=
      150"``) — the Solr frange / PostFilter analogue for numeric fq the
      inverted index can't serve.  Ranking stats are unchanged (fq
      semantics).  Execution: the ranked path overfetches candidates
      geometrically (4·k, 16·k, …) and validates each batch with a
      partition-pruned point probe of the docs table, exactly Lucene's
      post-filter shape — page-1 cost stays O(k) when the filter is
      permissive, and the loop terminates exactly when either k survivors
      exist or the candidate stream is exhausted.  k=None composes as one
      distributed semi-join instead (no collect).

    * ``fl`` is Solr's field list (the /browse default is ``fl=*,score``,
      solrconfig.xml:881): which stored fields to return.  None = every
      stored field plus score (fl=*,score).  A list prunes the stored
      fetch to exactly those columns — the projection reaches the parquet
      scan, so requesting ``fl=["lang"]`` never reads the text column;
      ``score`` is returned only if listed (Solr's rule).  ``doc_id`` (the
      uniqueKey / join key) is always returned — documented deviation.
      Ignored when ``with_stored=False`` (the (doc_id, score) frame is
      already minimal).

    * ``start`` pages the ranked result like Solr's start param (the
      /select contract returns "the range of documents requested",
      solrconfig.xml:484; default rows=10/start=0): rows [start, start+k)
      of the global (score desc, doc_id asc) order.  Shard kernels fetch
      start+k local candidates, so paging cost grows with depth — Solr's
      own deep-paging caveat (cursorMark) applies unchanged.

    * ``filters`` are exact keyword-field predicates composed index-side
      with the ranked query (fq semantics: they restrict candidates without
      changing the BM25 statistics).  The query STRING may carry the same
      predicates in the reference's own form — ``lang:es spark join`` —
      parsed against spec.keyword_fields (parse_query) and merged with
      ``filters``.
    * ``op`` is the boolean combination of the analyzed terms: ``"OR"``
      (Solr's default, solrconfig.xml:766-774) or ``"AND"`` (the Lucene
      parser's ``+term``/``AND`` form) — conjunctive matching served from a
      postings intersection, scored with the same global BM25 statistics.
      Over a 100 TB corpus the AND path touches only the query terms'
      posting lists, never a docs-table scan.  With synonyms, every
      expansion term is required (expansion under AND is rarely useful;
      documented, not hidden).
    * a fully-quoted query string (``q='"exact phrase"'``) dispatches to
      :func:`search_phrase` (PhraseQuery; needs a positional index).
    * ``min_match`` is the eDisMax ``mm`` (minimum-should-match) analogue:
      under OR, only docs matching at least that many DISTINCT query terms
      survive (int, or a Solr-style percentage string "75%" rounded down).
      Served index-side by the conjunctive-count kernel — a postings-only
      match-count floor, never a docs scan.  MaxScore pruning is unsound
      under a match-count floor (θ from docs that may fail mm over-prunes),
      so mm queries run the exact TAAT kernel.  Ignored under AND (already
      all-terms)."""
    q = query.strip()
    pq = parse_quoted(q)
    if pq is not None:
        return search_phrase(
            spark, index, pq[0], k=k, with_stored=with_stored,
            filters=filters, start=start, slop=pq[1],
        )
    plan = _resolve(
        spark, index,
        plan_query(q, index.spec.keyword_fields, filters, synonyms, op),
    )
    dfs = term_dfs(spark, index, plan.terms) if plan.terms else {}
    mm = None
    if min_match is not None and not plan.conjunctive and plan.n_required:
        mm = _min_match_count(min_match, plan.n_required)

    def scored(kk: int | None, skip: int) -> Ranked:
        return _ranked_top(
            spark, index, plan, dfs, kk, mm=mm, exhaustive=mode == "taat",
            start=skip,
        )

    # Q7 zero-hit short-circuit: under AND a term with global df=0 (or an
    # empty wildcard expansion) empties the result outright
    return _respond(
        spark, index, plan, None if _zero_hit(plan, dfs, mm) else scored, k,
        start, with_stored=with_stored, fl=fl, doc_filter=doc_filter,
    )


def search_dismax(
    spark: SparkSession,
    index: Index,
    query: str,
    qf: dict[str, float],
    tie: float = 0.0,
    k: int | None = 10,
    with_stored: bool = True,
    filters: dict[str, str] | None = None,
    synonyms: dict[str, list[str]] | None = None,
    op: str = "OR",
    min_match: int | str | None = None,
    start: int = 0,
    doc_filter: str | None = None,
) -> DataFrame:
    """Multi-field ranked retrieval — the (e)DisMax handler the reference's
    /browse endpoint queries with per-field boosts (solrconfig.xml:872-877
    ``qf="text^0.5 features^1.0 name^1.2 ..."``, ``tie=0.01``
    solrconfig.xml:886).

    ``qf`` maps field -> boost over spec.content_field and/or
    spec.text_fields.  Per analyzed query clause t and doc d::

        clause(t, d) = max_f(boost_f * bm25_f(t, d))
                       + tie * (sum_f - max_f)          # DisMax tiebreak
        score(d)     = sum over clauses

    where bm25_f uses the FIELD's own posting statistics: per-field tf and
    dl (each ``field:token`` posting packs that field's token count), the
    namespaced term's own df, and the field's avgdl (field_tokens / n_docs,
    carried in meta).  Deviation from Lucene, documented: idf and avgdl
    denominators use the global doc count N rather than per-field docCount
    — exact for dense fields, and the DuckDB oracle pins the same rule.

    ``op``/``min_match`` act on CLAUSES (a clause matches when any qf field
    matches), ``filters`` are the usual index-side fq predicates.  Execution
    is the same shard fan-out as :func:`search`: one Arrow kernel per shard
    over only the query's posting rows, local top-k, global order-merge —
    the multi-field scan stays term-pruned because every (field, token)
    candidate is an explicit IN-list entry.

    Everything around the kernel is :func:`search`'s request shell
    (:func:`_respond`): q.alt=*:* and pure-negative queries (score 1.0,
    doc_id order), pure filter queries (score 0.0), paging, and
    ``doc_filter`` — the shared stored-field post-filter (bounded
    overfetch with a pruned point probe; k=None is one semi-join)."""
    spec = index.spec
    text_set = set(spec.text_fields)
    for f in qf:
        if f != spec.content_field and f not in text_set:
            raise ValueError(
                f"qf field {f!r} is not content_field or a spec.text_fields "
                f"entry ({sorted(text_set)})"
            )
    plan = plan_query(query, spec.keyword_fields, filters, synonyms, op)
    if any(
        is_multiterm(t) and t != "*:*"
        for t in plan.text.split() + plan.prohibited
    ):
        raise ValueError(
            "wildcard clauses are not supported in dismax (qf) queries — "
            "use search() for wildcard retrieval"
        )
    plan = _resolve(spark, index, plan)
    # a prohibited CLAUSE excludes a doc matching it in ANY qf field
    # (Lucene: the MUST_NOT sub-query is itself a dismax over qf); keyword
    # exclusions (incl. prohibited ranges) stay exact terms; a pure-negative
    # query is ``*:* -t`` with this qf-wide exclusion.  Analyzed tokens
    # never contain ':' (alphanumeric runs), so the KW_SEP test is
    # unambiguous.
    kwf = set(spec.keyword_fields)
    eterms: set[str] = set()
    for t in plan.excluded:
        if KW_SEP in t and t.split(KW_SEP, 1)[0] in kwf:
            eterms.add(t)
        else:
            for f in qf:
                eterms.add(t if f == spec.content_field else f"{f}{KW_SEP}{t}")
    plan = plan._replace(excluded=eterms)
    avgdl_f = {
        f: (
            index.avgdl
            if f == spec.content_field
            else (index.field_tokens.get(f, 0) / index.n_docs
                  if index.n_docs else 0.0)
        )
        for f in qf
    }
    # physical candidate terms, one per (clause, qf field): clause boost,
    # the FIELD's avgdl, clause position (clause = distinct analyzed term)
    clauses = list(dict.fromkeys(plan.terms))
    phys: dict[str, tuple[float, float, int]] = {}
    for ci, t in enumerate(clauses):
        for f, bst in qf.items():
            # a per-term boost (term^2) multiplies the whole clause's
            # weight, i.e. every qf field's contribution for that clause
            phys[t if f == spec.content_field else f"{f}{KW_SEP}{t}"] = (
                float(bst) * plan.weights.get(t, 1.0), avgdl_f[f], ci,
            )
    dfs = term_dfs(spark, index, list(phys)) if phys else {}
    present = {phys[t][2] for t in dfs}
    n_clauses = len(clauses)
    mm = (
        _min_match_count(min_match, n_clauses)
        if (min_match is not None and not plan.conjunctive and clauses)
        else None
    )
    terms = {  # (clause boost · idf, the field's avgdl, clause position)
        t: (phys[t][0] * bm25_idf(df, index.n_docs), *phys[t][1:])
        for t, df in dfs.items()
    }

    def scored(kk: int | None, skip: int) -> Ranked:
        kernel = _clause_kernel(
            terms, tie, spec.k1, spec.b, kk, spec.block_size, plan.filters,
            require_n=n_clauses if plan.conjunctive else mm,
            excluded_terms=eterms,
        )
        return _merge_topk(
            spark, index, _plan_terms(plan, dfs), _SCORE_COLS, kernel, kk,
            skip,
        )

    zero = (
        not dfs
        or (plan.conjunctive and len(present) < n_clauses)
        or (mm is not None and len(present) < mm)
    )
    return _respond(
        spark, index, plan, None if zero else scored, k, start,
        with_stored=with_stored, doc_filter=doc_filter,
    )


def search_after(
    spark: SparkSession,
    index: Index,
    query: str,
    cursor: tuple[float, int] | None = None,
    k: int = 10,
    filters: dict[str, str] | None = None,
    synonyms: dict[str, list[str]] | None = None,
    op: str = "OR",
    with_stored: bool = False,
) -> DataFrame:
    """Cursor-based deep paging — the Solr ``cursorMark`` analogue (Solr's
    own fix for the deep-paging cost of ``start=N``: start+k per-shard
    fetches grow with depth, a cursor keeps every page at page-1 cost).

    ``cursor`` is the (score, doc_id) of the LAST row of the previous page
    (None = first page); the result is the next k docs STRICTLY AFTER that
    point in the global (score desc, doc_id asc) order.  Chaining pages by
    cursor reproduces the full ranking exactly (pytest-asserted against
    offset paging), and because score ties break on the unique doc_id, the
    cursor is a total-order point — no page can drop or repeat a doc.

    Execution: the exhaustive TAAT kernel with the cursor filter applied to
    the full accumulator BEFORE local top-k selection, so each shard emits
    its best k ELIGIBLE docs and the global merge takes k — per-page work
    is constant in depth (no start+k growth, no offset).  MaxScore pruning
    is deliberately NOT used here: its θ is the kth-best accumulated score,
    which on a deep page is dominated by already-returned (cursor-above)
    docs and would over-prune eligible ones — and an eligible-only θ is
    unsound too, since a partially-accumulated doc can cross the cursor
    bound later.  Exhaustive TAAT is exact and already the flat-cost shape
    cursor paging exists to provide.

    Score equality across pages is exact BY CONSTRUCTION, not scheduling
    luck: the kernel accumulates rows in a canonical content order
    (row_cache_key sort), so a doc's float64 score is bit-identical across
    separate page jobs even when shuffle row arrival differs; the collected
    cursor therefore compares exactly."""
    if cursor == CURSOR_END:
        return _respond(spark, index, None, None, k, with_stored=with_stored)
    plan = _resolve(
        spark, index,
        plan_query(query, index.spec.keyword_fields, filters, synonyms, op),
    )
    dfs = term_dfs(spark, index, plan.terms) if plan.terms else {}

    def scored(kk: int | None, skip: int) -> Ranked:
        return _ranked_top(
            spark, index, plan, dfs, kk, cursor=cursor, exhaustive=True,
            start=skip,
        )

    # match-all and pure filter pages: the cursor is a doc_id floor
    return _respond(
        spark, index, plan, None if _zero_hit(plan, dfs) else scored, k,
        cursor=cursor, with_stored=with_stored,
    )


def _phrase_terms(phrase: str) -> list[str]:
    """Query-side phrase analysis: one term per POSITION, parts preferred.

    Lucene's query analyzer turns a quoted phrase into position-ordered
    terms; overlapping tokens (the catenated whole that WordDelimiterFilter
    emits at posInc=0) are dropped in favor of the position-advancing parts
    — ``"TurboWriter logs"`` becomes the phrase [turbo, writer, logs], which
    matches the indexed positions of ``TurboWriter logs`` text exactly."""
    first_at: dict[int, str] = {}
    for t, p in tokenize_with_positions(phrase):
        first_at.setdefault(p, t)  # parts are emitted before the whole
    return [first_at[p] for p in sorted(first_at)]


# Ranked phrase projection: the phrase kernel never uses the block pruning
# stats or sum_tf — they stay in the parquet footer.
_PHRASE_COLS = [
    "shard", "term", "salt", "n_docs", "n_blocks",
    "doc_ids", "boffs_ids", "block_last_id",
    "tfs", "boffs_tfs", "dls", "boffs_dls",
    "pos", "boffs_pos",
]
# Match-only phrase projection: tf (to split position lists) and pos, but
# never dl — the dls binaries stay in the parquet footer
_PHRASE_MATCH_COLS = [c for c in _PHRASE_COLS if c not in ("dls", "boffs_dls")]


def _phrase_kernel(
    terms: list[str],
    idf_sum: float,
    avgdl: float,
    k1: float,
    b: float,
    k: int | None,
    block_size: int,
    fterms: set[str],
    match_only: bool = False,
    slop: int = 0,
):
    """Per-shard phrase scorer (Lucene PhraseQuery / sloppy-phrase
    semantics).

    ``slop=0`` is the exact PhraseQuery path (consecutive positions, one
    vectorized key intersection per slot).  ``slop>0`` is the
    ``"..."~N`` sloppy form: an occurrence is a FIRST-term position p
    followed by strictly-increasing positions of the remaining terms in
    order whose total span ≤ (len(terms)-1) + slop; the chain is found
    greedily (smallest next position per term — minimal span, so greedy
    acceptance is exact), vectorized as one searchsorted per term over
    (doc, pos) packed keys.  phrase_freq = the count of such first-term
    positions.  Documented deviations from Lucene's SloppyPhraseScorer:
    matches are ORDERED only (no term transposition within the slop
    budget) and each match counts 1 toward tf rather than Lucene's
    1/(1+matchLength) weighting — deterministic and oracle-expressible.

    Three stages, each decoding strictly less than the last:

    1. rarest-first candidate generation: the rarest term's doc ids decode
       fully (they bound the candidate set); every other term intersects at
       BLOCK granularity against the running candidates
       (blockwise_filter_ids) — a frequent phrase word never pays a full
       posting-list decode (tf/dl/pos untouched throughout);
    2. positional verification for intersection docs ONLY: the kernel
       locates the blocks holding surviving postings (block_last_id
       searchsorted, the same skip structure MaxScore uses) and varint-
       decodes just those blocks' tf + position payloads; adjacency is one
       vectorized key intersection per phrase slot ((doc, pos−slot) keys);
    3. scoring: score = Σidf(term_i) · tf_norm(phrase_freq, dl) — Lucene's
       PhraseWeight (idf summed over phrase slots, tf = number of phrase
       occurrences), with dl decoded from the first term's surviving blocks.

    Sharding is by doc, so phrase verification is shard-local and the global
    merge stays the standard top-k order-merge."""
    distinct = list(dict.fromkeys(terms))
    m = len(terms)

    def empty() -> pd.DataFrame:
        if match_only:
            return pd.DataFrame({"doc_id": []}).astype({"doc_id": "int64"})
        return finish_topk()

    def gather(rows: list, inter: np.ndarray, want_dl: bool):
        """(docs, flat positions, per-posting counts[, dls]) for the
        postings of ``rows`` whose doc is in sorted ``inter`` — decoding
        ONLY blocks whose id range can contain a candidate (block_last_id
        searchsorted, the same skip structure the scoring kernels use)."""
        docs_p, pos_p, cnt_p, dl_p = [], [], [], []
        for r in rows:
            n, nb = int(r.n_docs), int(r.n_blocks)
            edges = np.asarray(r.block_last_id, dtype=np.int64)
            hi = np.searchsorted(inter, edges, side="right")
            lo = np.concatenate(([0], hi[:-1]))
            has = hi > lo
            if not has.any():
                continue
            id_vals, kept = decode_selected_blocks(
                r.doc_ids, r.boffs_ids, n, block_size, has
            )
            counts = block_value_counts(n, nb, block_size)[kept]
            kstarts = np.zeros(len(kept), dtype=np.int64)
            np.cumsum(counts[:-1], out=kstarts[1:])
            ids_k = restart_cumsum(id_vals.astype(np.int64), kstarts)
            tf_vals, _ = decode_selected_blocks(
                r.tfs, r.boffs_tfs, n, block_size, has
            )
            tf_vals = tf_vals.astype(np.int64)
            boffs = np.asarray(r.boffs_pos, dtype=np.int64)
            ends = np.append(boffs[1:], len(r.pos))
            payload = b"".join(r.pos[boffs[j]: ends[j]] for j in kept)
            flat = decode_positions(payload, tf_vals)
            offs = np.zeros(len(tf_vals) + 1, dtype=np.int64)
            np.cumsum(tf_vals, out=offs[1:])
            kp = np.flatnonzero(_member(ids_k, inter))
            if not len(kp):
                continue
            take = np.concatenate(
                [np.arange(offs[i], offs[i + 1]) for i in kp]
            )
            docs_p.append(ids_k[kp])
            pos_p.append(flat[take])
            cnt_p.append(tf_vals[kp])
            if want_dl:
                dl_vals, _ = decode_selected_blocks(
                    r.dls, r.boffs_dls, n, block_size, has
                )
                dl_p.append(dl_vals.astype(np.int64)[kp])
        if not docs_p:
            z = np.empty(0, dtype=np.int64)
            return z, z, z, z
        return (
            np.concatenate(docs_p),
            np.concatenate(pos_p),
            np.concatenate(cnt_p),
            np.concatenate(dl_p) if want_dl else np.empty(0, dtype=np.int64),
        )

    def score_rows(rows: list) -> pd.DataFrame:
        rows = sorted(rows, key=row_cache_key)
        allowed = allowed_ids(rows, fterms, block_size)
        if allowed is not None and not len(allowed):
            return empty()
        by_term: dict[str, list] = {t: [] for t in distinct}
        for r in rows:
            if r.term in by_term:
                by_term[r.term].append(r)
        if any(not by_term[t] for t in distinct):
            return empty()
        # stage 1: rarest-first candidate generation — only the rarest
        # term's ids decode fully (it bounds the candidate set); every
        # other term intersects at BLOCK granularity against the running
        # candidates (blockwise_filter_ids), so a frequent phrase word
        # ("the", "data") never pays a full posting-list decode.
        order = sorted(
            distinct, key=lambda t: sum(int(r.n_docs) for r in by_term[t])
        )
        inter: np.ndarray | None = None
        for t in order:
            rows_t = by_term[t]
            if inter is None:
                inter = decode_filter_ids(rows_t, block_size)
            else:
                inter = blockwise_filter_ids(rows_t, inter, block_size)
            if not len(inter):
                return empty()
        if allowed is not None:
            inter = inter[_member(inter, allowed)]
            if not len(inter):
                return empty()
        denied = denied_ids(rows, block_size)
        if denied is not None:
            inter = inter[strip_denied(inter, denied)]
            if not len(inter):
                return empty()
        # stage 2: positions for intersection docs only
        occ: dict[str, tuple] = {}
        dl_docs = dl_vals = None
        for j, t in enumerate(distinct):
            docs_t, pos_t, cnt_t, dls_t = gather(
                by_term[t], inter, want_dl=(j == 0 and not match_only)
            )
            if not len(docs_t):
                return empty()
            occ[t] = (docs_t, pos_t, cnt_t)
            if j == 0:
                dl_docs, dl_vals = docs_t, dls_t
        maxpos = 0
        for t in distinct:
            p = occ[t][1]
            if len(p):
                maxpos = max(maxpos, int(p.max()))
        keymul = maxpos + m + 2  # (doc_idx, pos-slot) packs collision-free
        if slop == 0:
            cur: np.ndarray | None = None
            for i, t in enumerate(terms):
                docs_t, pos_t, cnt_t = occ[t]
                didx = np.searchsorted(inter, docs_t)
                drep = np.repeat(didx.astype(np.int64), cnt_t)
                keys = drep * keymul + (pos_t - i)
                keys = keys[pos_t >= i]
                cur = keys if cur is None else np.intersect1d(
                    cur, keys, assume_unique=True
                )
                if not len(cur):
                    return empty()
            hit_idx, pf = np.unique(cur // keymul, return_counts=True)
        else:
            # sloppy path: greedy minimal chain per first-term occurrence
            # (one searchsorted per term over sorted (doc, pos) keys)
            keyarrs = []
            for t in terms:
                docs_t, pos_t, cnt_t = occ[t]
                didx = np.searchsorted(inter, docs_t)
                drep = np.repeat(didx.astype(np.int64), cnt_t)
                keyarrs.append(np.sort(drep * keymul + pos_t))
            start = keyarrs[0]
            q = start
            valid = np.ones(len(q), dtype=bool)
            for arr in keyarrs[1:]:
                idx = np.searchsorted(arr, q, side="right")
                ok = idx < len(arr)
                nxt = arr[np.minimum(idx, len(arr) - 1)]
                valid &= ok & (nxt // keymul == q // keymul)
                q = nxt
            valid &= (q - start) <= (m - 1 + slop)  # same doc -> pos span
            good = start[valid]
            if not len(good):
                return empty()
            hit_idx, pf = np.unique(good // keymul, return_counts=True)
        docs = inter[hit_idx]
        if match_only:
            return pd.DataFrame({"doc_id": docs})
        # dl lookup from the first term's surviving postings (every phrase
        # doc has a first-term posting by construction)
        order = np.argsort(dl_docs, kind="stable")
        dl_sorted, dlv_sorted = dl_docs[order], dl_vals[order]
        dls = dlv_sorted[np.searchsorted(dl_sorted, docs)]
        scores = idf_sum * bm25_tf_norm(
            pf.astype(np.float64), dls, avgdl, k1, b
        )
        return finish_topk(docs, scores, k)

    return shard_kernel(score_rows)


def _phrase_request(
    spark: SparkSession, index: Index, phrase: str, filters: dict | None
) -> tuple[list[str], set[str], dict | None]:
    """(position terms, filter terms, dfs) of a phrase query on a
    positional index, dfs None when the phrase is zero-hit: no phrase
    matches nothing (fq only restricts, as in Solr), and a phrase term with
    df=0 empties the conjunction."""
    if not index.spec.positions:
        raise ValueError(
            "phrase queries need a positional index (IndexSpec.positions=True)"
        )
    terms = _phrase_terms(phrase)
    dfs = term_dfs(spark, index, list(dict.fromkeys(terms))) if terms else {}
    zero = not terms or len(dfs) < len(set(terms))
    return terms, filter_terms_of(filters), None if zero else dfs


def _phrase_match(
    spark: SparkSession, index: Index, phrase: str, filters: dict | None,
    slop: int,
) -> MatchKernel | None:
    """The match-only phrase kernel of a phrase query as a
    :class:`MatchKernel` shape, None when it is zero-hit."""
    terms, fterms, dfs = _phrase_request(spark, index, phrase, filters)
    if dfs is None:
        return None
    return MatchKernel([], fterms, phrase=(terms, slop))


def phrase_match_ids(
    spark: SparkSession,
    index: Index,
    phrase: str,
    filters: dict[str, str] | None = None,
    slop: int = 0,
) -> DataFrame:
    """Match SET of a phrase (no scores; ``slop`` semantics per
    :func:`_phrase_kernel`) — the phrase analogue of
    :func:`match_ids`, so faceting / field-sorting / stats compose with
    quoted queries (``match_ids`` dispatches fully-quoted query strings
    here).  The kernel stops after positional verification: no dl decode,
    no idf arithmetic, no top-k merge.  Unbounded, so always the shard
    executor's distributed tier; a bounded consumer (a facet count over a
    quoted query) takes the driver tier through :func:`_match_set`."""
    return _run_match(
        spark, index, _phrase_match(spark, index, phrase, filters, slop)
    )


def search_phrase(
    spark: SparkSession,
    index: Index,
    phrase: str,
    k: int | None = 10,
    with_stored: bool = True,
    filters: dict[str, str] | None = None,
    start: int = 0,
    slop: int = 0,
) -> DataFrame:
    """Phrase query over a positional index — the Solr/Lucene ``q="..."``
    PhraseQuery analogue, with ``slop`` serving the ``q="..."~N`` sloppy
    form (ordered within-span matching; semantics and Lucene deviations
    documented on :func:`_phrase_kernel`; the reference's embedded Solr
    serves both out of the box because text fields index positions,
    schema.xml text_en_splitting chain).

    Matching: documents whose token stream contains the analyzed phrase
    terms at CONSECUTIVE positions (WordDelimiterFilter position semantics:
    identifier sub-parts advance positions, so ``"turbo writer"`` matches
    camelCase ``TurboWriter`` — the engine's signature analyzer behavior,
    reference README.md:96-99).  Scoring: Lucene PhraseWeight —
    ``Σidf(term) · tf_norm(phrase_freq, dl)`` under the index's global BM25
    statistics.  ``filters`` compose exactly like :func:`search` (fq
    semantics).  Requires ``spec.positions=True`` (ValueError otherwise).
    """
    terms, fterms, dfs = _phrase_request(spark, index, phrase, filters)
    spec = index.spec

    def scored(kk: int | None, skip: int) -> Ranked:
        idf_sum = sum(bm25_idf(dfs[t], index.n_docs) for t in terms)
        kernel = _phrase_kernel(
            terms, idf_sum, index.avgdl, spec.k1, spec.b, kk,
            spec.block_size, fterms, slop=slop,
        )
        return _merge_topk(
            spark, index, list(dfs) + list(fterms), _PHRASE_COLS, kernel, kk,
            skip,
        )

    return _respond(
        spark, index, None, None if dfs is None else scored, k, start,
        with_stored=with_stored,
    )


def _doc_scores_for_ids(
    spark: SparkSession,
    index: Index,
    terms: list[str],
    ids: list[int],
) -> dict[int, dict[str, tuple[int, int]]]:
    """(tf, dl) per (doc_id, term) read from the INDEX postings for a tiny
    id set — the primitive behind score explanation and elevation scoring.

    A bounded caller of the shard executor (:func:`_run_shards`): the
    postings read is pruned to the query terms AND the ids' shards
    (partition pruning: shard = doc_id % num_shards) on either tier, the
    kernel intersects each term's doc ids against the sorted target ids
    (searchsorted — no full materialization beyond the term rows
    themselves), and only |ids| × |terms| tiny rows reach the driver.
    Under the cap it runs no Spark job."""
    if not terms or not ids:
        return {}
    want = np.array(sorted(set(int(i) for i in ids)), dtype=np.int64)
    shards = {int(i) % index.spec.num_shards for i in ids}
    block_size = index.spec.block_size
    sterms = set(terms)

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        out_t: list[str] = []
        out_i: list[np.ndarray] = []
        out_tf: list[np.ndarray] = []
        out_dl: list[np.ndarray] = []
        for r in sorted(
            (r for r in pdf.itertuples(index=False) if r.term in sterms),
            key=row_cache_key,
        ):
            n = int(r.n_docs)
            rids = decode_doc_ids(r.doc_ids, n, block_size)
            keep = _member(rids, want)
            if not keep.any():
                continue
            tfs = decode_varint(r.tfs, n)
            dls = decode_varint(r.dls, n)
            out_t.extend([r.term] * int(keep.sum()))
            out_i.append(rids[keep])
            out_tf.append(tfs[keep])
            out_dl.append(dls[keep])
        none = [np.empty(0, dtype=np.int64)]
        return pd.DataFrame({
            "term": pd.Series(out_t, dtype=object),
            "doc_id": np.concatenate(none + out_i),
            "tf": np.concatenate(none + out_tf).astype(np.int64),
            "dl": np.concatenate(none + out_dl).astype(np.int64),
        })

    got = _run_shards(
        spark, index, sorted(sterms), _SCORE_COLS, kernel,
        "term string, doc_id long, tf long, dl long", bounded=True,
        shards=shards,
    )
    if isinstance(got, list):
        rows = [r for p in got for r in p.itertuples(index=False)]
    else:
        rows = got.collect()
    out: dict[int, dict[str, tuple[int, int]]] = {}
    for term, doc_id, tf, dl in rows:
        out.setdefault(int(doc_id), {})[term] = (int(tf), int(dl))
    return out


def explain_score(
    spark: SparkSession,
    index: Index,
    query: str,
    doc_id: int,
    synonyms: dict[str, list[str]] | None = None,
) -> DataFrame:
    """Score explanation — the solr.DebugComponent analogue (``debug`` runs
    after every /browse component chain, solrconfig.xml:1169,1179;
    ``debugQuery=true`` returns Lucene's per-term explain tree).

    Doc-scoped introspection reads the RAW index: explaining a tombstoned
    doc_id still works until compaction folds it away (Lucene can read a
    deleted doc's postings until merge) — deletes affect matching, never
    this probe.

    Returns one row per analyzed query term PRESENT in the doc:
    (term, df, tf, dl, idf, tf_norm, contribution) with the BM25 pieces
    exactly as the kernels compute them — contribution = idf · tf_norm and
    sum(contribution) is bit-equal to the doc's ranked score (same
    float64 arithmetic; asserted in tests).  Stats come from the INDEX
    (dict df + postings tf/dl), not from re-analyzing stored text, so the
    explanation is the ground truth of what scored."""
    # ranked docs never match a prohibited term; filters never score
    plan = plan_query(query, index.spec.keyword_fields, synonyms=synonyms)
    rows = _explain_rows(spark, index, plan, [int(doc_id)])
    return local_frame(
        spark, rows.get(int(doc_id), []),
        "term string, df long, tf long, dl long, idf double, "
        "tf_norm double, contribution double",
    )


def _explain_rows(
    spark: SparkSession, index: Index, plan: QueryPlan, ids: list[int]
) -> dict[int, list[tuple]]:
    """Per doc of ``ids``, its (term, df, tf, dl, idf, tf_norm,
    contribution) rows under ``plan``: each scoring term it posts (term
    order), then each constant-score clause it matches — the BM25 pieces
    as the kernels compute them, so summing the contributions in this
    order gives the doc's ranked score to the bit."""
    groups = _const_groups(spark, index, plan)
    dfs = term_dfs(spark, index, plan.terms) if plan.terms else {}
    exp_terms = sorted({t for g, _ in groups for t in g})
    if not dfs and not exp_terms:
        return {}
    exp_dfs = term_dfs(spark, index, exp_terms) if exp_terms else {}
    stats = _doc_scores_for_ids(
        spark, index, sorted(set(dfs) | set(exp_dfs)), ids
    )
    spec = index.spec
    out: dict[int, list[tuple]] = {}
    for i, got in stats.items():
        rows = out[i] = []
        for t in sorted(t for t in got if t in dfs):
            tf, dl = got[t]
            # the ranked kernels premultiply boosts into idf — same
            # placement here keeps the sum bit-equal to the ranked score
            idf = bm25_idf(dfs[t], index.n_docs) * plan.weights.get(t, 1.0)
            tf_norm = float(bm25_tf_norm(
                np.array([tf]), np.array([dl]), index.avgdl, spec.k1, spec.b
            )[0])
            rows.append((
                t, int(dfs[t]), tf, dl, float(idf), tf_norm,
                float(idf * tf_norm),
            ))
        for (tok, _), (g, w) in zip(plan.multiterm, groups):
            # constant-score clause: weight once per matched doc (tf/dl
            # carry no meaning — reported 0; df = the summed df)
            if any(t in got for t in g):
                rows.append((
                    tok, int(sum(exp_dfs.get(t, 0) for t in g)), 0, 0,
                    float(w), 1.0, float(w),
                ))
    return out


def realtime_get(
    spark: SparkSession,
    index: Index,
    ids: list[int],
) -> DataFrame:
    """Stored-field lookup by unique key — the solr.RealTimeGetHandler
    analogue (the reference config registers ``/get``,
    solrconfig.xml:843-851: "guaranteed to return the latest stored fields
    of any document, without the need to commit").

    The docs table is append-on-write (indexing/append.py writes the batch
    docs rows before meta publishes), so freshly appended documents are
    visible here immediately through the handle ``append_documents``
    returns — the engine's natural equivalent of Solr's updateLog-backed
    realtime get.  (Handles are snapshots: a handle created BEFORE the
    append keeps serving its own file listing — reload or use the returned
    handle to see the delta.)  The fetch is partition-pruned to the
    ids' shards + doc_id row groups (a |ids|-row read at any index size),
    ordered by doc_id."""
    ids = sorted({int(i) for i in ids})
    if not ids:
        return index.docs(spark).drop("shard").limit(0)
    shards = sorted({i % index.spec.num_shards for i in ids})
    out = (
        index.docs(spark)
        .filter(F.col("shard").isin(shards) & F.col("doc_id").isin(ids))
        .drop("shard")
    )
    if index.has_deletes:
        # a deleted doc is gone for /get immediately (Solr returns nothing
        # for a deleted id even before commit folds it)
        out = out.join(
            F.broadcast(index.deleted_ids(spark)), "doc_id", "left_anti"
        )
    return out.orderBy("doc_id")


def _tombstoned(spark: SparkSession, index: Index, ids: list[int]) -> set:
    """The deleted members of ``ids``: their shards' tombstone rows, read
    and decoded by the shard executor (a bounded caller, so on the driver
    under the cap)."""
    want = np.unique(np.asarray(ids, dtype=np.int64))
    block_size = index.spec.block_size

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        dead = denied_ids(list(pdf.itertuples(index=False)), block_size)
        hit = want[:0] if dead is None else want[_member(want, dead)]
        return pd.DataFrame({"doc_id": hit})

    got = _run_shards(
        spark, index, [], ["shard", "term", "n_docs", "doc_ids"], kernel,
        "doc_id long", bounded=True,
        shards={int(i) % index.spec.num_shards for i in want},
    )
    if isinstance(got, list):
        return set(_column(got, "doc_id", np.int64).tolist())
    return {int(r["doc_id"]) for r in got.collect()}


def search_elevated(
    spark: SparkSession,
    index: Index,
    query: str,
    elevations: dict[str, list],
    k: int = 10,
    filters: dict[str, str] | None = None,
    op: str = "OR",
) -> DataFrame:
    """Editorial result pinning — the solr.QueryElevationComponent analogue
    (the reference config registers the ``elevator`` component with its
    ``elevate.xml`` config file and an /elevate handler,
    solrconfig.xml:1485-1499: "configure the top results for a given query
    regardless of the normal lucene scoring").

    ``elevations`` mirrors elevate.xml: raw query text → ordered doc ids;
    an entry may be ``(doc_id, True)`` to EXCLUDE the doc instead (the
    ``exclude="true"`` attribute).  Lookup is exact on the query string
    (``queryFieldType=string``, solrconfig.xml:1487 — the config's own
    untokenized matching).

    Result: the elevated ids first IN CONFIG ORDER flagged
    ``elevated=true`` (each with its REAL BM25 score when it matches the
    query — scored index-side via a pruned (ids × terms) postings probe,
    :func:`_doc_scores_for_ids` — or 0.0 when pinned despite not
    matching), then the normal ranked tail with elevated and excluded ids
    removed, k rows total.  Without a config entry for the query this is
    exactly :func:`search`  (plus the elevated=false flag).  Both rankings
    are bounded callers of the shard executor, and so is the probe of the
    pinned ids against the tombstones: under the cap the answer is one
    ``local_frame`` and no Spark job."""
    entry = elevations.get(query, [])
    pinned: list[int] = []
    excluded: set[int] = set()
    for e in entry:
        if isinstance(e, tuple) and len(e) == 2 and e[1]:
            excluded.add(int(e[0]))
        elif isinstance(e, tuple):
            pinned.append(int(e[0]))
        else:
            pinned.append(int(e))
    if pinned and index.has_deletes:
        # a pinned id that has been deleted is simply gone (Solr elevates
        # only docs that exist)
        gone = _tombstoned(spark, index, pinned)
        pinned = [i for i in pinned if i not in gone]
    drop = set(pinned) | excluded
    ranked = search(
        spark, index, query, k=k + len(drop), with_stored=False,
        filters=filters, op=op,
    )
    tail = [
        (d, s, False) for d, s in _rows(ranked) if d not in drop
    ][:max(0, k - len(pinned))]
    # the plain-search frame's flag is a literal, so never null
    schema = T.StructType(
        _RESULT_STRUCT.fields
        + [T.StructField("elevated", T.BooleanType(), bool(pinned))]
    )
    if not pinned:
        return local_frame(spark, tail, schema)
    plan = plan_query(query, index.spec.keyword_fields, op=op)
    expl = _explain_rows(spark, index, plan, pinned[:k])
    rows = [
        (i, float(sum(r[-1] for r in expl.get(i, []))), True)
        for i in pinned[:k]
    ]
    return local_frame(spark, rows + tail, schema)


#: terminal cursor: returned by next_cursor when a page comes back empty.
#: DISTINCT from None (= first page) so a drain loop that naively feeds
#: next_cursor back into search_after terminates with empty pages instead
#: of silently wrapping around to page 1.
CURSOR_END = ("CURSOR_END", -1)


def next_cursor(rows: list) -> tuple:
    """Cursor for the page following ``rows`` (a collected page, rank
    order) — :data:`CURSOR_END` when the page was empty (iteration done;
    feeding it back yields empty pages, never a page-1 restart)."""
    if not rows:
        return CURSOR_END
    last = rows[-1]
    return (float(last["score"]), int(last["doc_id"]))


#: facet buckets: (field, value, n), value NULL for the facet.missing one
_FACET_STRUCT = T.StructType([
    T.StructField("field", T.StringType()),
    T.StructField("value", T.StringType()),
    T.StructField("n", T.LongType(), False),
])


def _facet_prefix(index: Index, facet_field: str) -> str:
    """The ``field:`` term prefix of a keyword facet field."""
    if facet_field not in index.spec.keyword_fields:
        raise ValueError(
            f"facet field {facet_field!r} is not a keyword field "
            f"{index.spec.keyword_fields!r}"
        )
    return facet_field + KW_SEP


def facet_counts(
    spark: SparkSession,
    index: Index,
    query: str,
    facet_field: str,
    filters: dict[str, str] | None = None,
    synonyms: dict[str, list[str]] | None = None,
    op: str = "OR",
    limit: int | None = None,
    mincount: int = 0,
    sort: str = "count",
    prefix: str | None = None,
    missing: bool = False,
) -> DataFrame:
    """Facet counts over a keyword field for the docs matching ``query`` —
    the Solr ``facet.field`` analogue (the reference config faceting on its
    keyword fields: ``facet=on``, ``facet.field=cat/manu_exact``,
    solrconfig.xml:891-893 and 810-814; facets count ALL matching docs per
    distinct field value, independent of rows/top-k).

    The one-field case of :func:`facet_fields_counts` (its match set, its
    two tiers, its ``limit``/``mincount``/``sort`` bucket window) projected
    to (value, n).  ``prefix`` is Solr's facet.prefix: only buckets whose
    value starts with it, a SCAN restriction (``field:prefix`` narrows the
    prefix-pruned postings read), not a post-filter.  ``missing=True`` is
    facet.missing: one extra (NULL, n) bucket, added after ``mincount`` and
    ranked with the others, counting matched docs with NO value in the
    field (independent of ``prefix``, Solr's rule)."""
    return _facet_fields(
        spark, index, query, [facet_field], filters, synonyms, op, limit,
        mincount, sort, 0, prefix, missing, with_field=False,
    )


def facet_fields_counts(
    spark: SparkSession,
    index: Index,
    query: str,
    facet_fields: list[str] | tuple[str, ...],
    filters: dict[str, str] | None = None,
    synonyms: dict[str, list[str]] | None = None,
    op: str = "OR",
    limit: int | None = None,
    mincount: int = 0,
    sort: str = "count",
    offset: int = 0,
) -> DataFrame:
    """All of a request's ``facet.field``s over ONE match set — the
    /browse defaults declare FOUR (``cat``, ``manu_exact``,
    ``content_type``, ``author_s``, solrconfig.xml:891-894), and Solr
    computes every one of them over the SAME DocSet per request.

    Served INDEX-SIDE: the match set comes from the match-only kernel
    (:func:`search`'s matching, no scoring), the buckets from the fields'
    ``field:value`` posting rows (prefix-pruned over term-sorted files),
    never from a docs-table scan.  One request, two tiers with the same
    rows and schema:

    * **driver-local** — :func:`_match_set` serves the match on the
      driver (every query shape, a phrase included) and the fields' row
      groups are under ``Index.LOCAL_SCAN_MAX_BYTES``: one pyarrow read
      over the field prefixes, each posting row's ids decoded
      (:func:`codec.decode_doc_ids`) and counted against the sorted match
      set in numpy, one ``local_frame`` — no Spark job;
    * **distributed** — everything else (a request over the cap falls back
      as a whole, never one field at a time): the match frame joins the
      fields' (field, value, doc_id) pairs (:func:`facet_value_pairs`) on
      doc_id, then one groupBy and a per-field rank window.

    Returns (field, value, n) rows; a field named twice is counted once and
    an empty field list raises ValueError.  Per field (Solr's
    f.<field>.facet.* scoping with one shared default): ``mincount`` drops
    buckets below it, ``sort`` orders by count desc, value asc ("count") or
    value asc ("index"; anything else raises ValueError), and ``offset``
    (facet.offset) and ``limit`` (facet.limit, negative = none) keep the
    buckets ranked offset < rank <= offset + limit.  Rows are field asc,
    then in that order."""
    return _facet_fields(
        spark, index, query, facet_fields, filters, synonyms, op, limit,
        mincount, sort, offset,
    )


def _facet_fields(
    spark: SparkSession, index: Index, query: str, facet_fields, filters,
    synonyms, op: str, limit: int | None, mincount: int, sort: str,
    offset: int, prefix: str | None = None, missing: bool = False,
    with_field: bool = True,
) -> DataFrame:
    """The one facet-field count behind :func:`facet_counts` and
    :func:`facet_fields_counts`: per field, the buckets over the match
    set, then ``mincount``, the facet.missing (NULL, n) bucket, the sort
    and the ``[offset, offset + limit)`` window; (value, n) rows when not
    ``with_field``."""
    if sort not in ("count", "index"):
        raise ValueError(
            f"facet sort must be 'count' or 'index', got sort={sort!r}"
        )
    limit = None if limit is None or int(limit) < 0 else int(limit)
    fields = list(dict.fromkeys(facet_fields))
    if not fields:
        raise ValueError("facet_fields_counts needs at least one facet field")
    for f in fields:
        _facet_prefix(index, f)
    m = _resolve_match(spark, index, query, filters, synonyms, op)
    matched = _match_set(spark, index, m)
    if isinstance(matched, np.ndarray):
        rows = _facet_local(
            index, matched, fields, limit, mincount, sort, offset, prefix,
            missing,
        )
        if rows is not None:
            skip = 0 if with_field else 1  # the projection, as rows
            schema = T.StructType(_FACET_STRUCT.fields[skip:])
            return local_frame(spark, [r[skip:] for r in rows], schema)
        matched = _run_match(spark, index, m)
    pairs = facet_value_pairs(spark, index, fields, value_prefix=prefix)
    out = (
        pairs.join(matched, "doc_id")
        .groupBy("field", "value")
        .agg(F.count("*").alias("n"))
    )
    if mincount > 0:
        out = out.filter(F.col("n") >= int(mincount))
    # facet.missing counts docs without ANY value for the field —
    # independent of prefix (Solr's rule): the field's full pairs
    for f in fields if missing else []:
        valued = (
            pairs if len(fields) == 1 and not prefix
            else facet_value_pairs(spark, index, [f])
        )
        miss = matched.join(
            valued.select("doc_id").distinct(), "doc_id", "left_anti"
        ).agg(F.count("*").alias("n"))
        out = out.unionByName(miss.select(
            F.lit(f).alias("field"), F.lit(None).cast("string").alias("value"),
            "n",
        ))
    order = [F.desc("n")] if sort == "count" else []
    order.append(F.asc_nulls_last("value"))
    if limit is not None or offset:
        rk = F.row_number().over(Window.partitionBy("field").orderBy(*order))
        keep = F.col("_rk") > int(offset)
        if limit is not None:
            keep = keep & (F.col("_rk") <= int(offset) + limit)
        out = out.withColumn("_rk", rk).filter(keep).drop("_rk")
    out = out.orderBy(F.asc("field"), *order)
    return out if with_field else out.drop("field")


def _facet_local(
    index: Index, ids: np.ndarray, fields: list[str], limit: int | None,
    mincount: int, sort: str, offset: int, prefix: str | None,
    missing: bool,
) -> list[tuple[str, str | None, int]] | None:
    """:func:`_facet_fields`'s rows on the driver for the sorted match set
    ``ids`` — the rows and order of the distributed plan — or None when
    the fields' row groups are not under ``Index.LOCAL_SCAN_MAX_BYTES``.

    Counts row by row: each posting row's ids are decoded and looked up in
    the sorted match set, so the driver holds one row's ids at a time and
    never a per-posting (value, doc_id) pair."""
    counts: dict[str, Counter] = {f: Counter() for f in fields}
    # facet.missing's complement: the matched docs holding a field value
    valued = {f: np.zeros(len(ids), dtype=bool) for f in fields}
    if len(ids):
        # facet.missing needs every value of the field, whatever the prefix
        want = "" if missing else prefix or ""
        got = index.read_local(
            "postings", Prefixes(f + KW_SEP + want for f in fields),
            ["term", "n_docs", "doc_ids"],
        )
        if got is None:
            return None
        block_size = index.spec.block_size
        for t in got.values():
            for term, n, buf in zip(*(c.to_pylist() for c in t.columns)):
                f, _, value = term.partition(KW_SEP)
                row_ids = decode_doc_ids(buf, n, block_size)
                pos = np.minimum(np.searchsorted(ids, row_ids), len(ids) - 1)
                hit = ids[pos] == row_ids
                valued[f][pos[hit]] = True
                if value.startswith(prefix or ""):
                    counts[f][value] += int(np.count_nonzero(hit))
    hi = None if limit is None else offset + limit
    out = []
    for f in sorted(fields):
        rows = [(v, n) for v, n in counts[f].items() if n and n >= mincount]
        if missing:  # after mincount, as the plan's union leg
            rows.append((None, int(np.count_nonzero(~valued[f]))))
        # (count desc,) then value asc, NULL last
        by_n = sort == "count"
        rows.sort(key=lambda r: (-r[1] * by_n, r[0] is None, r[0] or ""))
        out += [(f, v, n) for v, n in rows[offset:hi]]
    return out


def facet_value_pairs(
    spark: SparkSession,
    index: Index,
    facet_fields: list[str] | tuple[str, ...],
    value_prefix: str | None = None,
) -> DataFrame:
    """(field, value, doc_id) rows of keyword facet fields, decoded from
    their ``field:value`` posting rows by the shared posting-pair decoder
    (:func:`posting_pairs`) over one scan of the term-sorted postings
    pruned to the OR of the field prefixes (the StartsWith pushdown),
    never a docs-table scan.  Shared by facet.field and facet.pivot.
    ``value_prefix`` (facet.prefix) narrows each StartsWith to
    ``field:prefix``.  A term splits at its FIRST ``KW_SEP`` (a value may
    itself contain the separator)."""
    heads = [
        _facet_prefix(index, f) + (value_prefix or "") for f in facet_fields
    ]
    term = F.col("term")
    kw = F.split(term, re.escape(KW_SEP), 2)
    return posting_pairs(
        index.postings(spark).filter(
            functools.reduce(operator.or_, map(term.startswith, heads))
        ),
        index.spec.block_size,
    ).select(kw[0].alias("field"), kw[1].alias("value"), "doc_id")


def facet_pivot_counts(
    spark: SparkSession,
    index: Index,
    query: str,
    fields: tuple[str, str],
    filters: dict[str, str] | None = None,
    op: str = "OR",
) -> DataFrame:
    """Hierarchical pivot facets — the Solr ``facet.pivot`` analogue (the
    reference's /browse defaults pivot on ``cat,inStock``,
    solrconfig.xml:899): counts of matching docs per (outer value, inner
    value) pair of two keyword fields.

    All three sides are index-derived and distributed: the match set from
    :func:`match_ids`, each field's (value, doc_id) pairs from its
    prefix-pruned postings (:func:`facet_value_pairs`); two doc_id
    equi-joins, one bounded groupBy — never a docs-table scan.  Ordered the
    way Solr renders pivots: outer count desc, outer value asc, then inner
    count desc, inner value asc.

    ``n_outer`` is computed from the outer field's match alone — Solr's
    facet.pivot reports the outer bucket count independent of the inner
    field, so a matched doc with no inner-field value still counts toward
    its outer bucket; such a bucket surfaces as one (value_outer, NULL
    value_inner, n=0) row when it has no inner pairs at all."""
    outer_f, inner_f = fields
    matched = match_ids(spark, index, query, filters=filters, op=op)
    outer = facet_value_pairs(spark, index, [outer_f]).select(
        F.col("value").alias("value_outer"), "doc_id"
    )
    inner = facet_value_pairs(spark, index, [inner_f]).select(
        F.col("value").alias("value_inner"), "doc_id"
    )
    om = outer.join(matched, "doc_id")
    n_outer = om.groupBy("value_outer").agg(F.count("*").alias("n_outer"))
    counts = (
        om.join(inner, "doc_id")
        .groupBy("value_outer", "value_inner")
        .agg(F.count("*").alias("n"))
    )
    return (
        n_outer.join(counts, "value_outer", "left")
        .select(
            "value_outer",
            "value_inner",
            F.coalesce(F.col("n"), F.lit(0)).alias("n"),
            "n_outer",
        )
        .orderBy(
            F.desc("n_outer"), F.asc("value_outer"),
            F.desc("n"), F.asc("value_inner"),
        )
    )


def stats_field(
    spark: SparkSession,
    index: Index,
    query: str,
    field: str,
    filters: dict[str, str] | None = None,
    op: str = "OR",
    facet: str | None = None,
) -> DataFrame:
    """Numeric field statistics over the match set — the solr.StatsComponent
    analogue (registered in the reference config, solrconfig.xml:1168):
    count / missing / min / max / sum / mean / stddev of a stored numeric
    field, Solr's stats.field response shape.

    ``facet`` is Solr's ``stats.facet=F``: the same statistics PER VALUE of
    a second stored field (one extra column ``facet`` leads the row,
    buckets ordered by value).  Same single distributed agg — the group key
    just joins the docs projection, so the plan gains one column and zero
    exchanges over the ungrouped form.

    One distributed agg over the match set joined to the docs table pruned
    to (doc_id, field[, facet]); stddev is the sample standard deviation
    (Solr's definition)."""
    stored = index.spec.stored_fields
    if field not in stored:
        raise ValueError(f"stats field {field!r} is not stored {stored!r}")
    if facet is not None and facet not in stored:
        raise ValueError(f"stats.facet field {facet!r} is not stored {stored!r}")
    matched = match_ids(spark, index, query, filters=filters, op=op)
    cols = ["doc_id", field] + ([facet] if facet and facet != field else [])
    docs = index.docs(spark).select(*cols)
    joined = docs.join(matched, "doc_id")
    aggs = [
        F.count(field).alias("n"),
        F.sum(F.col(field).isNull().cast("long")).alias("missing"),
        F.min(field).alias("min"),
        F.max(field).alias("max"),
        F.sum(field).alias("sum"),
        F.avg(field).alias("mean"),
        F.stddev_samp(field).alias("stddev"),
    ]
    if facet is None:
        return joined.agg(*aggs)
    return (
        joined.groupBy(F.col(facet).cast("string").alias("facet"))
        .agg(*aggs)
        .orderBy("facet")
    )


def _highlight_terms(
    spark: SparkSession,
    index: Index,
    query: str,
    synonyms: dict[str, list[str]] | None,
    op: str,
) -> list[str]:
    """Sorted analyzed terms a highlighter wraps: the query's scoring terms
    plus every matched wildcard / fuzzy expansion — never a prohibited
    term or a filter (search handles matching)."""
    plan = plan_query(query, index.spec.keyword_fields, synonyms=synonyms, op=op)
    return sorted(
        set(plan.terms)
        | {t for g, _ in _const_groups(spark, index, plan) for t in g}
    )


def highlight(
    spark: SparkSession,
    index: Index,
    query: str,
    k: int = 10,
    window: int = 30,
    filters: dict[str, str] | None = None,
    synonyms: dict[str, list[str]] | None = None,
    op: str = "OR",
) -> DataFrame:
    """Highlighted snippets for the top-k — the Solr highlight component
    analogue (the reference's /browse handler runs it on EVERY request:
    ``hl=on`` solrconfig.xml:917, component registered at :1167, wired into
    the handler at :1177).  Requires the content field stored
    (``spec.stored_fields``), exactly Solr's stored="true" requirement for
    highlightable fields.

    Semantics (deterministic, shared bit-for-bit with the DuckDB oracle):
    the top-k comes from the normal ranked path; per doc the EARLIEST
    occurring analyzed query term (first case-insensitive position, ties by
    term asc) is wrapped in <em></em> inside a ±``window``-char fragment of
    the ORIGINAL stored text — so a camelCase-only match (query
    ``turbowriter``, stored "TurboWriter 2.3" — the engine's signature
    reference behavior, AbstractSolrSchemeTest.java:155-159) yields a
    wrapped ``<em>TurboWriter</em>`` snippet.

    This substring search is ANALYZER-COMPLETE for this analyzer, not a
    heuristic: the primary tokenizer emits maximal alphanumeric runs, the
    word-delimiter sub-splitter only splits WITHIN a run, and catenation
    re-joins exactly one run — so every emitted token is a contiguous
    substring of the source text (property-tested in
    tests/test_round5.py).  A matched doc therefore always contains at
    least one query term case-insensitively; the unhighlighted-head
    fallback (term '') survives only as a guard for pure-filter queries
    and pathological stored-field divergence.

    Positions come from ``regexp_instr`` with a (?i) pattern over the
    ORIGINAL text — never ``locate`` over ``lower(text)``, whose offsets
    drift when Unicode case-folding changes string length ("İ" lowercases
    to a 2-char sequence, shifting every later snippet by one).  All
    per-row work is Catalyst expressions over the ≤k fetched rows —
    highlighting adds zero index work on top of the search itself."""
    import re as _re
    spec = index.spec
    if spec.content_field not in spec.stored_fields:
        raise ValueError(
            f"highlighting requires content field {spec.content_field!r} in "
            f"stored_fields {spec.stored_fields!r} (Solr stored=\"true\")"
        )
    terms = _highlight_terms(spark, index, query, synonyms, op)
    top = search(
        spark, index, query, k=k, with_stored=True, filters=filters,
        synonyms=synonyms, op=op,
    )
    text = F.col(spec.content_field)
    big = 2147483647  # "not found" sentinel > any real position
    head = F.substring(text, 1, 2 * window)
    if not terms:
        return top.select(
            "doc_id", "score", F.lit("").alias("term"), head.alias("snippet")
        )
    # ONE ordered-alternation regex over all candidate terms (sorted asc):
    # Java regex scans offsets left-to-right and tries alternatives in
    # listed order at each offset, so the match IS the documented
    # earliest-position / term-asc tie rule — and the plan carries one
    # regexp per row instead of 2·N (a 300-term wildcard expansion built
    # a codegen unit large enough to OOM janino the per-term way)
    pat = "(?i)(" + "|".join(_re.escape(t) for t in terms) + ")"
    raw_pos = F.regexp_instr(text, F.lit(pat))
    pos = F.when(raw_pos > 0, raw_pos).otherwise(F.lit(big))
    surface = F.regexp_extract(text, pat, 1)
    # the analyzed term of the wrapped occurrence == lower(surface) for
    # this analyzer (tokens are contiguous substrings; ascii-range terms)
    term = F.lower(surface)
    start = F.greatest(pos - F.lit(window), F.lit(1))
    tlen = F.length(surface)
    snip = F.concat(
        F.substring(text, start, pos - start),
        F.lit("<em>"),
        F.substring(text, pos, tlen),
        F.lit("</em>"),
        F.substring(text, pos + tlen, F.lit(window)),
    )
    return top.select(
        "doc_id",
        "score",
        F.when(pos < big, term).otherwise(F.lit("")).alias("term"),
        F.when(pos < big, snip).otherwise(head).alias("snippet"),
    ).orderBy(F.desc("score"), F.asc("doc_id"))


def highlight_fields(
    spark: SparkSession,
    index: Index,
    query: str,
    fields: list[str] | tuple[str, ...],
    k: int = 10,
    fragsize: int = 100,
    field_params: dict[str, dict] | None = None,
    filters: dict[str, str] | None = None,
    synonyms: dict[str, list[str]] | None = None,
    op: str = "OR",
    pre: str = "<em>",
    post: str = "</em>",
    encoder: str | None = None,
    top: DataFrame | None = None,
) -> DataFrame:
    """Multi-field highlighting — the /browse handler's actual highlight
    request (``hl.fl=content features title name`` with PER-FIELD overrides,
    solrconfig.xml:918-931: ``f.title.hl.fragsize=0`` [whole-field
    fragment], ``f.title.hl.alternateField=title`` [no-match fallback
    text], ``f.content.hl.fragsize=200``, ``f.content.hl.snippets=3``,
    ``f.content.hl.maxAlternateFieldLength=750``; global
    ``hl.simple.pre=<b>``/``hl.simple.post=</b>`` solrconfig.xml:923-924 and
    ``hl.encoder=html`` :922).

    Returns LONG rows (doc_id, score, field, snippet_no, term, snippet) —
    one per (result doc, requested field, fragment); ordering (score desc,
    doc_id, field, snippet_no).  Per field, the earliest-occurring analyzed
    query term (ties term-asc, the :func:`highlight` rule) is wrapped in
    ``pre``/``post`` inside a fragment of ~``fragsize`` chars centred on
    the match; ``fragsize=0`` returns the WHOLE field value with the match
    wrapped (Solr's fragsize=0 contract).  A field without any term
    occurrence falls back to the head of its ``alternate_field`` (capped at
    ``max_alternate_length``, Solr's maxAlternateFieldLength) with term=''
    and snippet_no=1 — or an empty snippet when no alternate is configured
    (Solr omits the field; a NULL-free '' keeps the schema stable for the
    oracle).

    ``field_params[field]`` accepts ``fragsize``, ``snippets`` (the
    f.content.hl.snippets=3 multi-fragment mode: up to N fragments per
    field in DOCUMENT order, each fragment's search resuming after the
    previous match — a deterministic stand-in for Solr's fragment scoring,
    which ranks fragments and so can reorder them; deviation documented),
    ``alternate_field``, ``max_alternate_length`` (default 750 like the
    /browse config).  ``encoder="html"`` escapes ``&``, ``<``, ``>`` in
    the FIELD text (never in the pre/post markup) — Solr's
    ``hl.encoder=html``.  Every requested or alternate field must be
    stored (Solr's stored="true" highlighting rule).  Like
    :func:`highlight`, snippet extraction is pure Catalyst over the ≤k
    fetched rows (regexp_instr with (?i) patterns over the ORIGINAL text —
    offsets immune to Unicode case-fold length shifts); the fragment
    unrolling adds snippets×terms regexp evaluations per row, bounded by
    k rows — no extra index work."""
    import re as _re

    spec = index.spec
    field_params = field_params or {}
    stored = set(spec.stored_fields)
    need = set(fields) | {
        p["alternate_field"]
        for p in field_params.values()
        if p.get("alternate_field")
    }
    missing = sorted(need - stored)
    if missing:
        raise ValueError(
            f"highlight fields must be stored (Solr stored=\"true\"): "
            f"{missing} not in {sorted(stored)}"
        )
    terms = _highlight_terms(spark, index, query, synonyms, op)
    if top is None:
        top = search(
            spark, index, query, k=k, with_stored=True, filters=filters,
            synonyms=synonyms, op=op,
        )
    # else: the caller passes ITS ranked rows (e.g. the /browse facade's
    # eDisMax results) so snippets wrap exactly the docs being returned;
    # must carry doc_id, score, and every requested/alternate field
    big = 2147483647

    def _esc(col):
        # hl.encoder=html: escape the FIELD text only (& first — escaping
        # it later would re-escape the entities the other two produce)
        if encoder == "html":
            col = F.replace(col, F.lit("&"), F.lit("&amp;"))
            col = F.replace(col, F.lit("<"), F.lit("&lt;"))
            col = F.replace(col, F.lit(">"), F.lit("&gt;"))
        elif encoder is not None:
            raise ValueError(f"unknown hl.encoder {encoder!r} (html or None)")
        return col

    # Each fragment's best-match struct is MATERIALIZED as a projection
    # column before the next fragment references it: Catalyst expression
    # trees are trees, not DAGs, so chaining fragment i's offset directly
    # into fragment i+1's expressions would copy the whole previous subtree
    # at every reference — exponential in the snippet count (observed as a
    # driver OOM serializing the task binary).  Attribute references through
    # a Project keep growth linear: one bounded expression per fragment.
    out = top
    frag_cols: dict[str, list[str]] = {}

    # ONE ordered-alternation regex (terms sorted asc): Java regex tries
    # offsets left-to-right and alternatives in listed order, which IS the
    # earliest-position / term-asc rule — and keeps the per-fragment
    # expression O(1) in term count (a wildcard expansion can contribute
    # hundreds of terms; per-term expressions OOM'd janino codegen)
    _alt_pat = "(?i)(" + "|".join(_re.escape(t) for t in terms) + ")"

    def _best_after(text, from_off):
        # earliest term occurrence at/after the 1-based offset `from_off`
        # (ties term-asc) — regexp over the suffix, mapped back to an
        # absolute position
        suffix = F.substring(text, from_off, F.length(text))
        rel = F.regexp_instr(suffix, F.lit(_alt_pat))
        return F.struct(
            F.when(rel > 0, rel + from_off - 1)
            .otherwise(F.lit(big))
            .alias("pos"),
            F.lower(F.regexp_extract(suffix, _alt_pat, 1)).alias("term"),
        )

    for fld in fields:
        p = field_params.get(fld, {})
        fsize = int(p.get("fragsize", fragsize))
        n_snips = int(p.get("snippets", 1))
        text = F.col(fld)
        cols: list[str] = []
        prev: str | None = None
        # fragsize=0 is whole-field mode: one fragment by definition
        for i in range(1 if fsize == 0 else max(1, n_snips)):
            bname = f"_hlb_{fld}_{i}"
            fname = f"_hlf_{fld}_{i}"
            if prev is None:
                from_off = F.lit(1)
            else:
                # resume after the previous fragment's match (document
                # order, non-overlapping matches); not-found propagates:
                # the suffix search beyond the text finds nothing
                pv = F.col(prev)
                from_off = F.when(
                    pv["pos"] < F.lit(big),
                    pv["pos"] + F.length(pv["term"]),
                ).otherwise(F.lit(big))
            if terms:
                best = _best_after(text, from_off)
            else:
                best = F.struct(
                    F.lit(big).alias("pos"), F.lit("").alias("term")
                )
            out = out.withColumn(bname, best)
            raw_pos = F.col(bname)["pos"]
            term = F.col(bname)["term"]
            # the fragment expressions are evaluated EAGERLY (the array is
            # built before the pos<big filter), so arithmetic on the
            # not-found sentinel must not overflow under ANSI mode — clamp
            # to 1 for construction, keep the raw sentinel for filtering
            pos = F.when(raw_pos < F.lit(big), raw_pos).otherwise(F.lit(1))
            tlen = F.length(term)
            if fsize > 0:
                window = fsize // 2
                frag_start = F.greatest(pos - F.lit(window), F.lit(1))
                snip = F.concat(
                    _esc(F.substring(text, frag_start, pos - frag_start)),
                    F.lit(pre),
                    _esc(F.substring(text, pos, tlen)),
                    F.lit(post),
                    _esc(F.substring(text, pos + tlen, F.lit(window))),
                )
            else:  # fragsize=0: the whole field value, match wrapped
                snip = F.concat(
                    _esc(F.substring(text, 1, pos - 1)),
                    F.lit(pre),
                    _esc(F.substring(text, pos, tlen)),
                    F.lit(post),
                    _esc(F.substring(text, pos + tlen, F.length(text))),
                )
            out = out.withColumn(
                fname,
                F.struct(
                    raw_pos.alias("pos"),
                    term.alias("term"),
                    snip.alias("snippet"),
                ),
            )
            cols.append(fname)
            prev = bname
        frag_cols[fld] = cols

    def _field_struct(fld: str):
        p = field_params.get(fld, {})
        alt = p.get("alternate_field")
        max_alt = int(p.get("max_alternate_length", 750))
        arr = F.filter(
            F.array(*[F.col(c) for c in frag_cols[fld]]),
            lambda s: s["pos"] < F.lit(big),
        )
        fallback = (
            _esc(F.substring(F.col(alt), 1, max_alt)) if alt else F.lit("")
        )
        fb_arr = F.array(
            F.struct(
                F.lit(big).alias("pos"),
                F.lit("").alias("term"),
                F.coalesce(fallback, F.lit("")).alias("snippet"),
            )
        )
        return F.struct(
            F.lit(fld).alias("field"),
            F.when(F.size(arr) > 0, arr).otherwise(fb_arr).alias("frags"),
        )

    return (
        out.select(
            "doc_id",
            "score",
            F.explode(F.array(*[_field_struct(f) for f in fields])).alias(
                "hl"
            ),
        )
        .select("doc_id", "score", "hl.field", F.posexplode("hl.frags"))
        .select(
            "doc_id",
            "score",
            "field",
            (F.col("pos") + 1).alias("snippet_no"),
            F.col("col.term").alias("term"),
            F.col("col.snippet").alias("snippet"),
        )
        .orderBy(
            F.desc("score"), F.asc("doc_id"), F.asc("field"),
            F.asc("snippet_no"),
        )
    )


def search_sorted(
    spark: SparkSession,
    index: Index,
    query: str,
    sort_field: str,
    ascending: bool = True,
    k: int = 10,
    start: int = 0,
    filters: dict[str, str] | None = None,
    op: str = "OR",
    doc_filter: str | None = None,
    cursor: tuple | None = None,
) -> DataFrame:
    """Field-sorted retrieval — Solr's ``sort=<field> asc|desc`` (exercised
    by the reference config's own warming queries, solrconfig.xml:600-601
    ``sort=price asc`` / ``sort=weight asc``; sortable = stored here, the
    StrField/numeric ``indexed`` sortability rule of schema.xml:71).

    Shape follows Solr's useFilterForSortedQuery (solrconfig.xml:545-559):
    when the sort is not score, the match set comes from the FILTER
    machinery (here :func:`match_ids` — no scoring arithmetic at all), then
    the sort is applied over the matched docs' stored field.  The join
    prunes the docs table to (doc_id, sort_field, stored...) and the global
    order is (field asc|desc, doc_id asc) with a bounded
    TakeOrderedAndProject (k + start rows) — never a full sort of the
    table.  ``start`` pages like Solr's start param (deep paging wants a
    cursor, same caveat as Solr's cursorMark; start+k stays driver-bounded).

    ``cursor`` = (sort_field value, doc_id) of the LAST row of the previous
    page — Solr's cursorMark under an arbitrary sort (Solr requires the
    uniqueKey tiebreak in the sort for exactly this reason).  Only rows
    STRICTLY AFTER that point in the (field asc|desc, doc_id asc) total
    order survive, so page N costs page-1 work: the cursor predicate is on
    docs columns and Catalyst pushes it through the join to the docs scan.
    Sort fields must be non-null for cursor paging (ours are by
    construction; Solr's sortMissingLast would need null-aware bounds).
    Mutually exclusive with ``start``, exactly like Solr.
    """
    if sort_field not in index.spec.stored_fields:
        raise ValueError(
            f"sort field {sort_field!r} is not stored "
            f"{index.spec.stored_fields!r}"
        )
    if cursor is not None and start:
        raise ValueError("cursor and start are mutually exclusive (Solr: "
                         "start must be 0 when cursorMark is used)")
    matched = match_ids(
        spark, index, query, filters=filters, op=op, doc_filter=doc_filter
    )
    docs = index.docs(spark).drop("shard")
    order = [
        F.asc(sort_field) if ascending else F.desc(sort_field),
        F.asc("doc_id"),
    ]
    out = docs.join(matched.hint("shuffle_hash"), "doc_id")
    if cursor is not None:
        cv, cd = cursor
        fcol = F.col(sort_field)
        ahead = fcol > F.lit(cv) if ascending else fcol < F.lit(cv)
        out = out.filter(
            ahead | ((fcol == F.lit(cv)) & (F.col("doc_id") > F.lit(cd)))
        )
    out = out.orderBy(*order)
    if start:
        return out.offset(start).limit(k)
    return out.limit(k)


def search_grouped(
    spark: SparkSession,
    index: Index,
    query: str,
    group_field: str,
    group_limit: int = 1,
    k_groups: int | None = 10,
    filters: dict[str, str] | None = None,
    op: str = "OR",
    with_ngroups: bool = False,
) -> DataFrame:
    """Result grouping / field collapse — Solr's
    ``group=true&group.field=F&group.limit=N`` (the grouping component the
    reference's embedded Solr ships; ``group.limit=1`` is field collapse).

    Semantics match Solr's defaults: within a group, docs rank by the main
    sort (score desc, doc_id asc); groups rank by their HEAD doc under the
    same sort; ``k_groups`` keeps the top groups (``rows`` applied to
    groups), ``group_limit`` docs are returned per group, and each group
    reports its total hit count (``numFound`` per group).

    Execution: the ranked match set (exhaustive TAAT — grouping needs every
    match's score, exactly like Solr's collapsing collector) hash-joins the
    docs table pruned to (doc_id, group_field); ONE window over the group
    key computes rank + per-group hits in the same shuffle, and the group
    ordering rides the per-group head row — two exchanges total (score
    kernel's shard agg + the group-key shuffle), no self-join, no driver
    collect.  At 100 TB the group-key shuffle carries only matched
    (doc_id, score, group) triples, never text.

    Returns (group value, group_hits, group_rank, doc_id, score), ordered
    (head score desc, head doc asc, group_rank asc).  ``with_ngroups``
    (Solr's ``group.ngroups=true`` response figure) adds a constant
    ``ngroups`` column — the TOTAL distinct matching groups before the
    ``k_groups`` cut, computed as one count-distinct agg broadcast onto the
    rows (no extra action; the same joined subtree feeds both sides)."""
    scored = search(
        spark, index, query, k=None, with_stored=False, filters=filters,
        op=op,
    )
    if "(" in group_field:
        # Solr's group.func: group by a function-query VALUE (the same
        # ValueSource language as Q49).  The docs projection carries only
        # the function's fields; the group key is the computed column.
        from cascading_solr_spark.query.functions import (
            func_column,
            func_fields,
            parse_function,
        )

        node = parse_function(group_field, set(index.spec.stored_fields))
        docs = index.docs(spark).select(
            "doc_id", *sorted(func_fields(node))
        ).select("doc_id", func_column(node).alias("_groupkey"))
        group_field = "_groupkey"
    else:
        docs = index.docs(spark).select("doc_id", group_field)
    joined = scored.join(docs.hint("shuffle_hash"), "doc_id")
    gw = Window.partitionBy(group_field)
    ow = gw.orderBy(F.desc("score"), F.asc("doc_id"))
    head = F.max(
        F.struct(
            F.col("score").alias("s"), (-F.col("doc_id")).alias("nd")
        )
    ).over(gw)
    ranked = (
        joined.select(
            F.col(group_field).cast("string").alias("group"),
            "doc_id",
            "score",
            F.row_number().over(ow).alias("group_rank"),
            F.count("*").over(gw).alias("group_hits"),
            head["s"].alias("_hs"),
            (-head["nd"]).alias("_hd"),
        )
        .filter(F.col("group_rank") <= int(group_limit))
    )
    if k_groups is not None:
        # top k_groups DISTINCT groups by head doc: dense_rank over the
        # already-collapsed rows (≤ n_groups·group_limit of them — group
        # cardinality, not corpus size, bounds this single-task window)
        grank = F.dense_rank().over(
            Window.orderBy(F.desc("_hs"), F.asc("_hd"))
        )
        ranked = ranked.withColumn("_g", grank).filter(
            F.col("_g") <= int(k_groups)
        ).drop("_g")
    if with_ngroups:
        # attach the 1-row count BEFORE the final orderBy so the sort is the
        # top plan node — the documented output ordering is then contractual
        # rather than an artifact of the join strategy (r6, ADVICE item;
        # previously the crossJoin sat above the sort and only happened to
        # preserve order under BroadcastNestedLoopJoin)
        ng = joined.agg(
            F.count_distinct(group_field).cast("long").alias("ngroups")
        )
        ranked = ranked.crossJoin(F.broadcast(ng))
    return ranked.orderBy(
        F.desc("_hs"), F.asc("_hd"), F.asc("group_rank")
    ).drop("_hs", "_hd")


def search_grouped_queries(
    spark: SparkSession,
    index: Index,
    query: str,
    group_queries: dict[str, str],
    group_limit: int = 1,
    filters: dict[str, str] | None = None,
    op: str = "OR",
) -> DataFrame:
    """Solr's ``group.query`` form of result grouping: each named sub-query
    is its own group — its docs are the base matches ALSO matching the
    sub-query, ranked by the main sort, with the group's total hit count
    (numFound).  Groups come back in request order (Solr's rule), docs
    capped at ``group_limit`` per group.

    Execution mirrors facet.query's one-plan shape: each sub-query's
    match-only id set semi-joins the scored base ONCE, the tagged legs
    union, and a single group-partitioned window computes rank + hits in
    one shuffle — group count is request-bounded, so the union width is a
    constant, not a data quantity.

    Returns (group, group_hits, group_rank, doc_id, score)."""
    base = search(
        spark, index, query, k=None, with_stored=False, filters=filters,
        op=op,
    )
    legs = []
    for ordinal, (name, gq) in enumerate(group_queries.items()):
        ids = match_ids(spark, index, gq)
        legs.append(
            base.join(ids.hint("shuffle_hash"), "doc_id", "semi").select(
                F.lit(name).alias("group"),
                F.lit(ordinal).alias("_ord"),
                "doc_id",
                "score",
            )
        )
    u = legs[0]
    for leg in legs[1:]:
        u = u.unionByName(leg)
    gw = Window.partitionBy("group")
    ow = gw.orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        u.select(
            "group",
            "_ord",
            "doc_id",
            "score",
            F.row_number().over(ow).alias("group_rank"),
            F.count("*").over(gw).alias("group_hits"),
        )
        .filter(F.col("group_rank") <= int(group_limit))
        .orderBy(F.asc("_ord"), F.asc("group_rank"))
        .select("group", "group_hits", "group_rank", "doc_id", "score")
    )


def terms_component(
    spark: SparkSession,
    index: Index,
    prefix: str = "",
    k: int = 10,
    min_df: int = 1,
    regex: str | None = None,
    lower: str | None = None,
    upper: str | None = None,
    lower_incl: bool = True,
    upper_incl: bool = False,
) -> DataFrame:
    """Vocabulary browse — the solr.TermsComponent analogue (registered in
    the reference config with its /terms handler, solrconfig.xml:1458-1466):
    content terms matching ``prefix`` ranked by (df desc, term asc), the
    terms.sort=count default.

    Served from the term-sorted dict table: the prefix is a StartsWith
    pushdown (row-group pruning), keyword-field terms are excluded, and
    only ``k`` rows reach the driver.  ``regex`` is Solr's ``terms.regex``
    (full anchored match, Java's Matcher.matches rule) — like Solr's own
    TermsEnum walk it cannot prune the dict scan, so combine it with
    ``prefix`` when the pattern has a literal head.  ``lower``/``upper``
    are Solr's ``terms.lower``/``terms.upper`` range bounds
    (``terms.lower.incl`` defaults true, ``terms.upper.incl`` false) —
    range predicates on the term-sorted files prune at the scan like the
    prefix does."""
    d = index.term_dict(spark)
    if d is None:
        return local_frame(spark, [], "term string, df long")
    out = d.filter(~F.col("term").contains(KW_SEP))
    if prefix:
        out = out.filter(F.col("term").startswith(prefix))
    if regex is not None:
        # rlike is unanchored (Java find()); terms.regex matches the WHOLE
        # term, so anchor both ends
        out = out.filter(F.col("term").rlike(f"^(?:{regex})$"))
    if lower is not None:
        c = F.col("term") >= lower if lower_incl else F.col("term") > lower
        out = out.filter(c)
    if upper is not None:
        c = F.col("term") <= upper if upper_incl else F.col("term") < upper
        out = out.filter(c)
    if min_df > 1:
        out = out.filter(F.col("df") >= min_df)
    return (
        out.orderBy(F.desc("df"), F.asc("term"))
        .limit(k)
        .select("term", "df")
    )


def facet_query_counts(
    spark: SparkSession,
    index: Index,
    query: str,
    facet_queries: dict[str, str],
    filters: dict[str, str] | None = None,
    op: str = "OR",
) -> DataFrame:
    """Named arbitrary-sub-query facets — the Solr ``facet.query`` analogue
    (the reference's /browse defaults carry facet.query entries,
    solrconfig.xml:896-897): for each named sub-query, the count of docs
    matching BOTH the base query and the sub-query.

    Both match sets come from the index-side match-only kernel
    (:func:`match_ids` — keyword filters and query-string parsing compose,
    no scoring arithmetic).  The counting is ONE pass: the tagged union of
    all sub-query match sets joins the base set once (the base subtree
    appears once in the plan, not once per entry), then a bounded groupBy;
    entries with zero overlap are restored by a left join against the name
    spine (Solr reports 0-count facet.query entries).  Never a docs-table
    scan.  Returns (facet, n) rows, one per entry."""
    if not facet_queries:
        return local_frame(spark, [], "facet string, n long")
    base = match_ids(spark, index, query, filters=filters, op=op)
    tagged: DataFrame | None = None
    for name in sorted(facet_queries):
        sub = match_ids(spark, index, facet_queries[name]).withColumn(
            "facet", F.lit(name)
        )
        tagged = sub if tagged is None else tagged.unionByName(sub)
    counts = (
        base.join(tagged, "doc_id")
        .groupBy("facet")
        .agg(F.count("*").alias("n"))
    )
    spine = local_frame(
        spark, [(n,) for n in sorted(facet_queries)], "facet string"
    )
    return (
        spine.join(counts, "facet", "left")
        .select("facet", F.coalesce(F.col("n"), F.lit(0)).alias("n"))
        .orderBy("facet")
    )


def facet_range_counts(
    spark: SparkSession,
    index: Index,
    query: str,
    field: str,
    start: int,
    end: int,
    gap: int,
    filters: dict[str, str] | None = None,
    op: str = "OR",
    other: bool = False,
) -> DataFrame:
    """Numeric range facets — the Solr ``facet.range`` analogue (the
    reference's /browse defaults range-facet price and popularity:
    facet.range start/end/gap, solrconfig.xml:900-914): bucket counts of the
    matching docs' stored numeric ``field`` over [start, end) in ``gap``
    steps, EMPTY BUCKETS INCLUDED (facet.mincount=0, Solr's default).

    ``other=True`` adds Solr's ``facet.range.other=all`` buckets — the
    reference's own /browse config sets ``facet.range.other=after`` for
    price (solrconfig.xml:900) — as three extra rows labeled ``before``
    (field < start), ``after`` (field >= effective end) and ``between``
    (the in-range total); the output schema becomes (bucket string, n)
    with regular rows labeled by their range start.  With ``other=False``
    the (range_start, n) schema is unchanged.

    Solr's hardend=false semantics (same as the date path): when ``end``
    is not on a gap boundary the last bucket extends past it — the
    effective end is start + n_buckets·gap, and ``after`` starts THERE.

    The match set is the index-side match-only kernel (:func:`match_ids`);
    the bucketing joins it to the docs table pruned to (doc_id, field) —
    two narrow distributed sides, then ONE bounded groupBy over
    ≤ (end-start)/gap + 2 bucket ids (out-of-range rows map to sentinel
    ids -1/n_buckets, so the other buckets ride the same aggregation);
    the ≤ n_buckets+2 count rows are assembled into the response
    driver-side (:func:`_assemble_range_other`) — referencing the
    aggregate subtree once, never re-running the match kernel per
    other-bucket."""
    if field not in index.spec.stored_fields:
        raise ValueError(
            f"facet.range field {field!r} is not stored "
            f"{index.spec.stored_fields!r}"
        )
    if gap <= 0 or end <= start:
        raise ValueError(f"need gap > 0 and end > start, got [{start},{end})/{gap}")
    matched = match_ids(spark, index, query, filters=filters, op=op)
    docs = index.docs(spark).select("doc_id", field)
    n_buckets = -(-(end - start) // gap)
    eff_end = start + n_buckets * gap  # hardend=false effective end
    joined = docs.join(matched, "doc_id")
    if not other:
        joined = joined.filter(
            (F.col(field) >= start) & (F.col(field) < eff_end)
        )
    bucket_id = (
        F.when(F.col(field) < start, F.lit(-1))
        .when(F.col(field) >= eff_end, F.lit(n_buckets))
        .otherwise(F.floor((F.col(field) - F.lit(start)) / F.lit(gap)))
    )
    counts = (
        joined.filter(F.col(field).isNotNull())
        .groupBy(bucket_id.alias("_b"))
        .agg(F.count("*").alias("n"))
    )
    if not other:
        spine = spark.range(n_buckets).select(F.col("id").alias("_b"))
        return (
            spine.join(counts, "_b", "left")
            .select(
                (F.lit(start) + F.col("_b") * F.lit(gap))
                .cast("long")
                .alias("range_start"),
                F.coalesce(F.col("n"), F.lit(0)).alias("n"),
            )
            .orderBy("range_start")
        )
    labels = [str(start + i * gap) for i in range(n_buckets)]
    return _assemble_range_other(spark, counts, labels)


def _assemble_range_other(
    spark: SparkSession, counts: DataFrame, labels: list[str]
) -> DataFrame:
    """(bucket, n) response for an other=all range facet from the single
    bounded aggregate ``counts`` ((_b, n) rows, _b ∈ [-1, n_buckets]).

    The counts are COLLECTED (≤ len(labels)+2 rows — a facet response is
    driver-bounded by definition, exactly like Solr's) and assembled in
    Python: the aggregate — whose lineage contains the match kernel and
    the postings scan — executes exactly once, instead of appearing as
    three plan subtrees (regular/other/between) and relying on exchange
    reuse to dedupe the work."""
    n_buckets = len(labels)
    got = {int(r["_b"]): int(r["n"]) for r in counts.collect()}
    rows = [(lbl, got.get(i, 0)) for i, lbl in enumerate(labels)]
    rows.append(("before", got.get(-1, 0)))
    rows.append(("after", got.get(n_buckets, 0)))
    rows.append(("between", sum(got.get(i, 0) for i in range(n_buckets))))
    return local_frame(spark, rows, "bucket string, n long")


def facet_range_counts_date(
    spark: SparkSession,
    index: Index,
    query: str,
    field: str,
    start: str,
    end: str,
    gap_months: int,
    filters: dict[str, str] | None = None,
    op: str = "OR",
    other: bool = False,
) -> DataFrame:
    """DATE-typed range facets — the reference's own /browse config
    range-facets ``manufacturedate_dt`` with ``gap=+1YEAR`` over
    NOW/YEAR-10YEARS..NOW (solrconfig.xml:909-914): bucket counts of the
    matching docs' stored DATE ``field`` over calendar-month-arithmetic
    buckets [add_months(start, i·gap), add_months(start, (i+1)·gap)),
    empty buckets included.  ``gap_months`` expresses Solr's +1MONTH /
    +3MONTHS / +1YEAR (=12) gaps.

    ``other=True`` adds the before/after/between rows
    (``facet.range.other=all``; the reference sets ``other=after``,
    solrconfig.xml:900) — output becomes (bucket string, n) with regular
    rows labeled by their ISO range-start date.

    Solr's hardend=false semantics: when ``end`` is not on a gap boundary
    the last bucket extends past it (the effective end is
    add_months(start, n_buckets·gap)).

    Bucketing is pure month arithmetic inside Catalyst — bucket =
    floor((12·year(v)+month(v) − 12·Y₀−M₀ − [day(v)<D₀]) / gap) — which is
    exact when start's day-of-month is ≤ 28 (add_months clamps later days
    at short months, making edge arithmetic ambiguous; rejected eagerly).
    One groupBy over ≤ n_buckets+2 ids joined to a generated date spine —
    the same single-aggregation shape as the numeric path, never a
    docs-table scan."""
    import datetime as _dt

    if field not in index.spec.stored_fields:
        raise ValueError(
            f"facet.range field {field!r} is not stored "
            f"{index.spec.stored_fields!r}"
        )
    d0 = _dt.date.fromisoformat(start)
    d1 = _dt.date.fromisoformat(end)
    if gap_months <= 0 or d1 <= d0:
        raise ValueError(
            f"need gap_months > 0 and end > start, got [{start},{end})/"
            f"{gap_months}"
        )
    if d0.day > 28:
        raise ValueError(
            f"facet.range date start day-of-month must be <= 28 for exact "
            f"month-gap edges (got {start}; add_months clamps day "
            f"{d0.day} at short months)"
        )
    def _add_months(d: _dt.date, m: int) -> _dt.date:
        t = (d.year * 12 + d.month - 1) + m
        return _dt.date(t // 12, t % 12 + 1, d.day)  # day <= 28: never clamps

    # Solr bucket generation: a bucket exists for every edge_i < end
    # (hardend=false: the last bucket may extend past end)
    n_buckets = 1
    while _add_months(d0, n_buckets * gap_months) < d1:
        n_buckets += 1
    matched = match_ids(spark, index, query, filters=filters, op=op)
    docs = index.docs(spark).select("doc_id", field)
    joined = docs.join(matched, "doc_id").filter(F.col(field).isNotNull())
    v = F.col(field)
    base = 12 * d0.year + d0.month
    mdiff = (
        12 * F.year(v)
        + F.month(v)
        - F.lit(base)
        - (F.dayofmonth(v) < d0.day).cast("int")
    )
    start_lit = F.lit(start).cast("date")
    eff_end = F.add_months(start_lit, n_buckets * gap_months)
    bucket_id = (
        F.when(v < start_lit, F.lit(-1))
        .when(v >= eff_end, F.lit(n_buckets))
        .otherwise(F.floor(mdiff / F.lit(gap_months)))
    )
    if not other:
        joined = joined.filter((v >= start_lit) & (v < eff_end))
    counts = joined.groupBy(bucket_id.alias("_b")).agg(F.count("*").alias("n"))
    if not other:
        spine = spark.range(n_buckets).select(F.col("id").alias("_b"))
        return (
            spine.join(counts, "_b", "left")
            .select(
                F.add_months(
                    start_lit, (F.col("_b") * gap_months).cast("int")
                ).alias("range_start"),
                F.coalesce(F.col("n"), F.lit(0)).alias("n"),
            )
            .orderBy("range_start")
        )
    labels = [
        _add_months(d0, i * gap_months).isoformat() for i in range(n_buckets)
    ]
    return _assemble_range_other(spark, counts, labels)


def query_ngrams(q: str) -> list[str]:
    """Distinct padded character bigrams of '^'+q+'$' (the same derivation
    as the index side's ``term_ngram_rows``)."""
    p = f"^{q}$"
    return sorted({p[i : i + 2] for i in range(len(p) - 1)})


def ngram_candidates(
    spark: SparkSession, index: Index, q: str, max_distance: int
) -> DataFrame | None:
    """Bounded spellcheck candidate set from the dict_ngrams index: terms
    sharing at least ``(len(q)+1) - 2·d - dup(q)`` distinct padded bigrams
    with ``q`` — a PROVABLE superset of every term within ``max_distance``
    edits (each edit destroys at most 2 bigrams of the padded string, and
    dup(q) discounts q's own duplicate grams), so the ngram path returns
    IDENTICAL suggestions to the full-dictionary scan.

    Returns None when the index has no ngram table or the threshold would
    drop below 1 (very short queries — the gram bound is vacuous there and
    pruning could miss true suggestions; callers fall back to the scan)."""
    import os

    if not os.path.exists(index.ngrams_path):
        return None
    grams = query_ngrams(q)
    threshold = (len(q) + 1) - 2 * max_distance - ((len(q) + 1) - len(grams))
    if threshold < 1:
        return None
    ngrams = index._cached_df(
        spark, "ngrams", lambda: spark.read.parquet(index.ngrams_path)
    )
    return (
        ngrams
        .filter(F.col("gram").isin(grams))
        .groupBy("term")
        .agg(F.count_distinct("gram").alias("_shared"))
        .filter(F.col("_shared") >= threshold)
        .select("term")
    )


def suggest_terms(
    spark: SparkSession,
    index: Index,
    term: str,
    k: int = 5,
    max_distance: int = 2,
    mode: str = "auto",
) -> DataFrame:
    """Spellcheck suggestions — the Solr spellcheck component analogue (the
    reference config runs it on every /browse request,
    solrconfig.xml:932-938, backed by the index's own term dictionary via
    DirectSolrSpellChecker).

    Suggestions are terms within ``max_distance`` Levenshtein edits of the
    (analyzed) input, ranked by (distance asc, df desc, term asc) —
    most-popular closest terms first, exactly the "more frequent corpus
    term" suggestion semantics.

    ``mode`` picks the candidate source:

    * ``"ngram"`` / ``"auto"`` (the scale path): candidates come from the
      dict_ngrams index — a gram-pruned scan of ``(gram, term)`` rows for
      the query's ≤ len(q)+1 grams, shared-gram count filter (see
      :func:`ngram_candidates` for the no-miss proof), then levenshtein on
      the SHORTLIST only.  At a 10⁹-term vocabulary this touches the row
      groups of a handful of grams instead of every term.
    * ``"scan"`` (the oracle path, and the fallback when no ngram table
      exists or the query is too short for the gram bound): length-banded
      levenshtein over the full dict — a single narrow column, but a full
      pass per query.

    Both paths apply identical distance/ordering rules, so they return
    identical suggestions (asserted in tests/test_round4.py)."""
    q = (analyze_query(term) or [term.lower()])[0]
    d = index.term_dict(spark)
    if d is None:
        return local_frame(spark, [], "term string, df long, distance int")
    if mode not in ("auto", "ngram", "scan"):
        raise ValueError(f"unknown spellcheck mode {mode!r}")
    if mode in ("auto", "ngram"):
        cand = ngram_candidates(spark, index, q, max_distance)
        if cand is not None:
            d = d.join(cand.hint("shuffle_hash"), "term")
        elif mode == "ngram":
            raise ValueError(
                "ngram mode unavailable: no dict_ngrams table or query too "
                "short for the gram bound (use mode='auto' to fall back)"
            )
    lit_q = F.lit(q)
    return (
        d.filter(~F.col("term").contains(KW_SEP))
        .filter(
            (F.abs(F.length("term") - F.length(lit_q)) <= max_distance)
            & (F.col("term") != lit_q)
        )
        .withColumn("distance", F.levenshtein("term", lit_q))
        .filter(F.col("distance") <= max_distance)
        .orderBy(F.asc("distance"), F.desc("df"), F.asc("term"))
        .limit(k)
        .select("term", "df", F.col("distance").cast("int").alias("distance"))
    )


def suggest_many(
    spark: SparkSession,
    index: Index,
    terms: list[str],
    k: int = 1,
    max_distance: int = 2,
) -> DataFrame:
    """Ranked suggestions for MANY (already-analyzed) terms in ONE job.

    Per input term the candidate frame is the same as :func:`suggest_terms`
    (ngram-pruned when the dict_ngrams table + gram bound allow, the full
    length-banded dict scan otherwise); the frames are tagged with their
    query term and unioned, so one distance + window pass ranks every
    term's suggestions — a query with m misspelled terms costs one Spark
    job instead of m sequential collects.  Identical (distance asc, df
    desc, term asc) ranking per term.  Returns (query_term, term, df,
    distance), top ``k`` per query term."""
    from pyspark.sql import Window

    d = index.term_dict(spark)
    if d is None or not terms:
        return local_frame(
            spark, [], "query_term string, term string, df long, distance int"
        )
    tagged: DataFrame | None = None
    for qt in sorted(set(terms)):
        cand = ngram_candidates(spark, index, qt, max_distance)
        base = d if cand is None else d.join(cand.hint("shuffle_hash"), "term")
        frame = base.withColumn("query_term", F.lit(qt))
        tagged = frame if tagged is None else tagged.unionByName(frame)
    w = Window.partitionBy("query_term").orderBy(
        F.asc("distance"), F.desc("df"), F.asc("term")
    )
    return (
        tagged.filter(~F.col("term").contains(KW_SEP))
        .filter(
            (F.abs(F.length("term") - F.length("query_term")) <= max_distance)
            & (F.col("term") != F.col("query_term"))
        )
        .withColumn(
            "distance", F.levenshtein("term", F.col("query_term")).cast("int")
        )
        .filter(F.col("distance") <= max_distance)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select("query_term", "term", "df", "distance")
    )


def spellcheck_collate(
    spark: SparkSession,
    index: Index,
    query: str,
    max_distance: int = 2,
    filters: dict[str, str] | None = None,
    op: str = "OR",
) -> DataFrame:
    """Collated spellcheck — the Solr ``spellcheck.collate`` /
    ``collateExtendedResults`` analogue (the reference's /browse defaults
    set both, solrconfig.xml:937-938): rewrite the query with every
    UNKNOWN term (df = 0 in the dictionary) replaced by its best suggestion
    (:func:`suggest_many` rank #1 — ONE batched job for all unknown terms),
    and verify the collation by counting its hits — Solr only trusts a
    collation that actually produces results.

    ``filters``/``op`` are the ORIGINAL request's parameters: Solr runs the
    collation check under the original query params, so the hit count here
    is computed with the same keyword filters and boolean op as the request
    being corrected.

    Returns one row (collation, hits).  Terms already in the dictionary are
    never rewritten (DirectSolrSpellChecker behavior); an unknown term with
    no suggestion within ``max_distance`` stays as-is (its hits contribution
    is zero, exactly Solr's failed-collation signal)."""
    terms = analyze_query(query)
    dfs = term_dfs(spark, index, terms) if terms else {}
    unknown = [t for t in dict.fromkeys(terms) if dfs.get(t, 0) == 0]
    best: dict[str, str] = {}
    if unknown:
        best = {
            r["query_term"]: r["term"]
            for r in suggest_many(
                spark, index, unknown, k=1, max_distance=max_distance
            ).collect()
        }
    out_terms = [
        best.get(t, t) if dfs.get(t, 0) == 0 else t for t in terms
    ]
    collation = " ".join(out_terms)
    if not unknown:
        # nothing misspelled: Solr returns no collation; hits = the query's
        # own match count for a stable schema
        collation = query if not terms else " ".join(terms)
    hits = (
        match_ids(spark, index, collation, filters=filters, op=op).count()
        if collation
        else 0
    )
    return local_frame(
        spark, [(collation, int(hits))], "collation string, hits long"
    )


def spellcheck_collations(
    spark: SparkSession,
    index: Index,
    query: str,
    max_collations: int = 3,
    max_tries: int = 5,
    max_distance: int = 2,
    alternative_term_count: int = 0,
    max_results_for_suggest: int = 5,
    filters: dict[str, str] | None = None,
    op: str = "OR",
) -> DataFrame:
    """Multi-collation spellcheck — the full /browse collation config
    (solrconfig.xml:934-941): ``spellcheck.maxCollations=3`` (return up to
    3 collations), ``spellcheck.maxCollationTries=5`` (verify at most 5
    candidate rewrites against the index), ``alternativeTermCount=2`` +
    ``maxResultsForSuggest=5`` (when the ORIGINAL query yields ≤ 5 hits,
    suggest alternatives even for terms that ARE in the dictionary).

    Candidate collations are combinations of per-term suggestions
    (:func:`suggest_many` — one batched job), enumerated best-first by the
    sum of per-term suggestion ranks (ties lexicographic; the original term
    rides at rank 0 when it is known), capped at ``max_tries``.  All tries
    are verified in ONE Spark action (tagged :func:`match_ids` union under
    the ORIGINAL request's filters/op — Solr's collation-check rule), and
    up to ``max_collations`` collations with hits > 0 return as
    (collation, hits) rows ordered (hits desc, collation asc)
    [collateExtendedResults=true carries the hit counts].

    With no misspelled term and the original query yielding more than
    ``max_results_for_suggest`` hits, returns the original query's own
    (collation, hits) row like :func:`spellcheck_collate`."""
    from itertools import product

    terms = analyze_query(query)
    dfs = term_dfs(spark, index, terms) if terms else {}
    uniq_terms = list(dict.fromkeys(terms))
    unknown = [t for t in uniq_terms if dfs.get(t, 0) == 0]
    correctable = list(unknown)
    if alternative_term_count > 0 and not unknown:
        # alternativeTermCount path: every term is known — only engage when
        # the original request is starved (≤ maxResultsForSuggest hits)
        orig_hits = match_ids(
            spark, index, " ".join(terms), filters=filters, op=op
        ).count()
        if orig_hits <= max_results_for_suggest:
            correctable = uniq_terms
    if not correctable:
        collation = " ".join(terms) if terms else query
        hits = (
            match_ids(spark, index, collation, filters=filters, op=op).count()
            if collation
            else 0
        )
        return local_frame(
            spark, [(collation, int(hits))], "collation string, hits long"
        )
    k_sugg = max(2, alternative_term_count) if alternative_term_count else 2
    sugg = suggest_many(
        spark, index, correctable, k=k_sugg, max_distance=max_distance
    ).collect()
    options: dict[str, list[str]] = {}
    for r in sorted(sugg, key=lambda r: (r["query_term"], r["distance"])):
        options.setdefault(r["query_term"], []).append(r["term"])
    # per correctable term: candidate list in rank order; a KNOWN term keeps
    # itself as rank 0 (DirectSolrSpellChecker never forces a rewrite)
    cand_lists = [
        ([t] if dfs.get(t, 0) > 0 else []) + options.get(t, [t])
        for t in correctable
    ]
    ranked_combos = sorted(
        product(*(range(len(c)) for c in cand_lists)),
        key=lambda ranks: (sum(ranks), ranks),
    )[:max_tries]
    subs_list = [
        {t: cand_lists[i][ranks[i]] for i, t in enumerate(correctable)}
        for ranks in ranked_combos
    ]
    collations = list(
        dict.fromkeys(
            " ".join(subs.get(t, t) for t in terms) for subs in subs_list
        )
    )
    # ONE verification action: tagged union of the ≤ max_tries match sets
    tagged: DataFrame | None = None
    for i, c in enumerate(collations):
        part = match_ids(spark, index, c, filters=filters, op=op).select(
            F.lit(i).alias("cid"), "doc_id"
        )
        tagged = part if tagged is None else tagged.unionByName(part)
    counts = {
        int(r["cid"]): int(r["n"])
        for r in tagged.groupBy("cid").agg(F.count("*").alias("n")).collect()
    }
    rows = sorted(
        (
            (c, counts.get(i, 0))
            for i, c in enumerate(collations)
            if counts.get(i, 0) > 0
        ),
        key=lambda r: (-r[1], r[0]),
    )[:max_collations]
    if not rows:  # every try failed: Solr reports the best try with 0 hits
        rows = [(collations[0], 0)]
    return local_frame(spark, rows, "collation string, hits long")


def more_like_this(
    spark: SparkSession,
    index: Index,
    text: str,
    k: int = 10,
    max_terms: int = 10,
    exclude_doc_id: int | None = None,
    qf: dict[str, float] | None = None,
    tie: float = 0.0,
) -> DataFrame:
    """MoreLikeThis — the solr.MoreLikeThisComponent analogue (registered in
    the reference config at solrconfig.xml:1166 and run on every /browse
    request with mlt.count=3, solrconfig.xml:883-888; Solr also accepts the
    source as a content stream, which is this signature).

    "Interesting terms" of ``text``: analyzed terms ranked by tf·idf against
    the INDEX's global statistics (ties by term asc), top ``max_terms``;
    similar docs are the BM25 OR-query of those terms with the source doc
    optionally excluded.  Everything after term selection is the normal
    index-side ranked path (one pruned postings scan, shard kernels, global
    merge).  idf here is ln(1 + (N - df + .5)/(df + .5)) computed as
    ``log(1 + x)`` so the DuckDB oracle reproduces the selection order
    bit-for-bit.

    ``qf``/``tie`` (mlt.qf, solrconfig.xml:883-885): rank the
    interesting-term query through the multi-field DisMax kernel with
    per-field boosts.  Term SELECTION stays on the content field's global
    stats (the mlt.fl simplification — one dict probe, not per-field df
    merging); only the RANKING is multi-field."""
    import math
    from collections import Counter

    from cascading_solr_spark.analyzer import tokenize

    counts = Counter(tokenize(text))
    dfs = term_dfs(spark, index, list(counts))
    n = index.n_docs
    ranked = sorted(
        (
            (-counts[t] * math.log(1.0 + (n - df + 0.5) / (df + 0.5)), t)
            for t, df in dfs.items()
            if df > 0
        ),
    )
    terms = [t for _, t in ranked[:max_terms]]
    if not terms:
        return local_frame(spark, [], _RESULT_SCHEMA)
    fetch = k + 1 if exclude_doc_id is not None else k
    if qf:
        # mlt.qf (the /browse config boosts MLT across its whole qf list,
        # solrconfig.xml:883-885): rank the interesting-term query through
        # the multi-field DisMax kernel with per-field boosts
        top = search_dismax(
            spark, index, " ".join(terms), qf, tie=tie, k=fetch,
            with_stored=False,
        )
    else:
        top = search(spark, index, " ".join(terms), k=fetch, with_stored=False)
    if exclude_doc_id is not None:
        top = (
            top.filter(F.col("doc_id") != exclude_doc_id)
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )
    return top


def more_like_this_docs(
    spark: SparkSession,
    index: Index,
    doc_ids: list[int],
    count: int = 3,
    max_terms: int = 10,
) -> DataFrame:
    """Per-result MoreLikeThis — the MLT section the reference's /browse
    handler attaches to EVERY response (``mlt.count=3`` over the request's
    result docs, solrconfig.xml:883-888; the component itself registered at
    :1166).  For each source doc id, the top ``count`` similar docs.

    BATCHED, not per-doc: ONE partition-pruned stored fetch
    (:func:`realtime_get`) brings the sources' text to the driver (bounded:
    |doc_ids| = the page size), interesting terms are selected per source
    against the driver dict cache with the SAME tf·idf rule as
    :func:`more_like_this`, and all sources then run as ONE
    :func:`search_many` batch (one postings scan filtered to the union of
    every source's terms, per-query MaxScore in the shard kernel) — |page|
    similar-doc queries for one distributed pass instead of |page|
    sequential ranked jobs.  Self-matches are dropped rank-side (overfetch
    ``count``+1, per-source window re-rank).

    Requires the content field stored (Solr's MLT likewise needs stored
    fields or term vectors).  Returns (src, doc_id, score, rank) ordered
    (src asc, rank asc); sources with no interesting terms (empty text)
    contribute no rows, like Solr's empty MLT list."""
    import math
    from collections import Counter

    from cascading_solr_spark.analyzer import tokenize

    content = index.spec.content_field
    if content not in index.spec.stored_fields:
        raise ValueError(
            f"MoreLikeThis needs the content field {content!r} stored "
            f"(stored_fields={index.spec.stored_fields!r})"
        )
    srcs = realtime_get(spark, index, doc_ids).select(
        "doc_id", content
    ).collect()
    per_src = {int(r["doc_id"]): Counter(tokenize(r[content] or "")) for r in srcs}
    vocab = sorted({t for c in per_src.values() for t in c})
    dfs = term_dfs(spark, index, vocab) if vocab else {}
    n = index.n_docs
    queries: dict[str, str] = {}
    for src, counts in per_src.items():
        ranked = sorted(
            (
                (-counts[t] * math.log(1.0 + (n - df + 0.5) / (df + 0.5)), t)
                for t, df in ((t, dfs.get(t, 0)) for t in counts)
                if df > 0
            ),
        )
        terms = [t for _, t in ranked[:max_terms]]
        if terms:
            queries[str(src)] = " ".join(terms)
    if not queries:
        return local_frame(
            spark, [], "src long, doc_id long, score double, rank int"
        )
    res = search_many(spark, index, queries, k=count + 1)
    src_col = F.col("query_id").cast("long").alias("src")
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    return (
        res.filter(F.col("doc_id") != F.col("query_id").cast("long"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= count)
        .select(src_col, "doc_id", "score", "rank")
        .orderBy("src", "rank")
    )


def batch_kernel(
    plans: dict[str, QueryPlan | list[str]],
    idf: dict[str, float],
    avgdl: float,
    k1: float,
    b: float,
    k: int,
    block_size: int,
    counters: dict | None = None,
):
    """Per-shard scorer for MANY queries.

    Each plan is a resolved :class:`QueryPlan` (:func:`search_many` builds
    them: filters with their expanded range groups, prohibited terms,
    constant-score groups), a phrase plan (``slop`` set), or a bare term
    list (an OR query with no filters — the original contract).  Every
    query is scored on its own rows exactly like its single-query twin, so
    a batch entry is per-query rank-identical to :func:`search` /
    :func:`search_phrase`:

    * a ranked plan picks its kernel like :func:`search` (_rank_kernel):
      block-max MaxScore for a plain OR query (a batch containing one hot
      term does not decode that term's full posting list), the exact
      clause scorer for AND and constant-score groups.  Keyword filters
      restrict the candidate set (fq semantics, block-granular
      intersection) and prohibited terms strip their docs before top-k;
    * a pure keyword-filter plan returns its first k doc ids, score 0;
    * a phrase plan runs the positional phrase kernel (rarest-first
      candidate generation + blockwise position decode, PhraseWeight
      scoring).

    Full decodes of rows that several queries share are memoized in one
    per-partition cache.  Exposed at module level so tests/bench can drive
    it in-process with ``counters`` and assert the skip counters fire."""
    plans = {
        qid: p if isinstance(p, QueryPlan) else QueryPlan(list(p))
        for qid, p in plans.items()
    }
    # tombstone rows (present in the scan only when the index has deletes)
    # are appended to every query's row group so each sub-kernel excludes
    # them exactly like the single-query path
    want = {DELETED_TERM}
    for p in plans.values():
        want |= set(p.terms) | _flat_terms(p.filters) | set(p.excluded)
        for g, _ in p.groups:
            want |= g

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        by_term: dict[str, list] = {}
        for r in pdf.itertuples(index=False):
            if r.term in want:
                by_term.setdefault(r.term, []).append(r)
        del_rows = by_term.get(DELETED_TERM, [])
        cache: dict = {}

        def rows_of(terms) -> list:
            return [r for t in terms for r in by_term.get(t, [])]

        def score(plan: QueryPlan) -> pd.DataFrame | None:
            frows = rows_of(sorted(_flat_terms(plan.filters)))
            if plan.slop is not None:  # never zero-hit: _phrase_request
                qrows = rows_of(dict.fromkeys(plan.terms)) + frows
                scorer = _phrase_kernel(
                    plan.terms, sum(idf[t] for t in plan.terms), avgdl, k1,
                    b, k, block_size, plan.filters, slop=plan.slop,
                )
                return scorer.rows(qrows + del_rows)
            uniq = list(dict.fromkeys(plan.terms))
            idf_q = {
                t: idf[t] * plan.weights.get(t, 1.0) for t in uniq if t in idf
            }
            erows = rows_of(sorted(plan.excluded))
            if not uniq and not plan.groups and plan.filters:
                # pure keyword-filter query: doc_ids (score 0.0), the same
                # result shape the single-query path serves via
                # keyword_filter — first k by doc_id per shard, the global
                # (score desc, doc_id asc) window then equals doc_id order
                mrows = rows_of(
                    sorted(_flat_terms(plan.filters) | set(plan.excluded))
                )
                hits = match_set(
                    mrows + del_rows, [], block_size, plan.filters,
                    plan.excluded,
                )[:k]
                return pd.DataFrame(
                    {"doc_id": hits, "score": np.zeros(len(hits))}
                )
            if _zero_hit(plan, idf_q):
                return None
            qrows = rows_of(idf_q) + frows + [
                r for g, _ in plan.groups if g for r in rows_of(sorted(g))
            ]
            if not qrows:
                return None
            # a term can be BOTH a scoring term and a wildcard-group member
            # (q='sort s*') — its rows would be appended twice and score
            # twice; row_cache_key is unique per row within a partition
            qrows = list(
                {row_cache_key(r): r for r in qrows + del_rows + erows}.values()
            )
            scorer = _rank_kernel(
                plan, idf_q, avgdl, k1, b, k, block_size,
                decode_cache=cache, counters=counters,
            )
            return scorer.rows(qrows)

        out_q: list[str] = []
        out_ids: list[np.ndarray] = []
        out_scores: list[np.ndarray] = []
        for qid in sorted(plans):
            res = score(plans[qid])
            if res is None or not len(res):
                continue
            out_q.extend([qid] * len(res))
            out_ids.append(res["doc_id"].to_numpy())
            out_scores.append(res["score"].to_numpy())
        if not out_q:
            return pd.DataFrame(
                {"query_id": [], "doc_id": [], "score": []}
            ).astype({"query_id": "object", "doc_id": "int64", "score": "float64"})
        return pd.DataFrame(
            {
                "query_id": out_q,
                "doc_id": np.concatenate(out_ids),
                "score": np.concatenate(out_scores),
            }
        )

    return kernel


def term_vectors(
    spark: SparkSession,
    index: Index,
    doc_id: int,
) -> DataFrame:
    """Per-document term vector — the solr.TermVectorComponent analogue
    (registered with its /tvrh handler in the reference config,
    solrconfig.xml:1326-1346; returns tf and the df option per term of a
    result document).

    The postings are term-major, so a doc's vector is derived from its
    STORED content (requires the content field in stored_fields — the same
    stored="true" rule as highlighting; Solr's own component wants
    termVectors="true" storage): one partition-pruned docs fetch, the
    shared analyzer, then df lookups from the dict (driver-cached for
    bounded vocabularies).  Returns (term, tf, df) ordered (tf desc,
    term asc), Solr's tv.tf/tv.df response shape."""
    from collections import Counter

    from cascading_solr_spark.analyzer import tokenize

    spec = index.spec
    if spec.content_field not in spec.stored_fields:
        raise ValueError(
            f"term vectors require content field {spec.content_field!r} in "
            f"stored_fields {spec.stored_fields!r} (termVectors storage rule)"
        )
    shard = int(doc_id) % spec.num_shards
    rows = (
        index.docs(spark)
        .filter((F.col("shard") == shard) & (F.col("doc_id") == int(doc_id)))
        .select(spec.content_field)
        .collect()
    )
    if not rows:
        return local_frame(spark, [], "term string, tf long, df long")
    counts = Counter(tokenize(rows[0][0]))
    dfs = term_dfs(spark, index, list(counts))
    data = sorted(
        ((t, int(tf), int(dfs.get(t, 0))) for t, tf in counts.items()),
        key=lambda x: (-x[1], x[0]),
    )
    return local_frame(spark, data, "term string, tf long, df long")


def search_many(
    spark: SparkSession,
    index: Index,
    queries: dict[str, str | dict],
    k: int = 10,
) -> DataFrame:
    """Answer MANY queries in one shard fan-out (the batch-query path: one
    postings read of the union of all query terms, one kernel run per
    shard scoring every query with per-query MaxScore pruning and a shared
    decode cache — see :func:`batch_kernel` — then the per-query top-k
    merge of :func:`_merge_topk`, keyed by ``query_id``).  A bounded
    caller of the shard executor: under ``Index.LOCAL_SCAN_MAX_BYTES`` the
    batch runs on the driver with no Spark job, else distributed.

    Each queries value is a query STRING or a request dict with the full
    single-query surface — ``{"q": ..., "filters": {...}, "op": "AND",
    "synonyms": {...}}`` — parsed exactly like :func:`search` (query-string
    ``field:value`` tokens, ``AND``/``+term`` operators, synonym
    expansion, fully-quoted phrase queries on a positional index through
    :func:`_phrase_request`), so a batch entry is rank-identical to its
    single-query twin (pytest-asserted).  Filter terms join the one
    postings read; the per-query intersection happens inside the shard
    kernel.  The positional payload joins the read only when the batch
    actually contains a phrase query.

    Returns (query_id, doc_id, score) with per-query rank order
    (score desc, doc_id asc), at most k rows per query.
    """
    plans: dict[str, QueryPlan] = {}
    for qid, req in queries.items():
        if isinstance(req, str):
            req = {"q": req}
        raw_q = req["q"].strip()
        pq = parse_quoted(raw_q)
        if pq is None:
            plans[qid] = _resolve(
                spark, index,
                plan_query(
                    raw_q, index.spec.keyword_fields, req.get("filters"),
                    req.get("synonyms"), req.get("op", "OR"),
                ),
            )
            continue
        terms, fterms, dfs = _phrase_request(
            spark, index, pq[0], req.get("filters")
        )
        if dfs is not None:  # a zero-hit phrase answers no rows
            plans[qid] = QueryPlan(terms, fterms, slop=pq[1])
    all_terms = sorted({t for p in plans.values() for t in p.terms})
    dfs = term_dfs(spark, index, all_terms) if all_terms else {}
    scan = [t for p in plans.values() for t in _plan_terms(p, dfs)]
    schema = "query_id string, doc_id long, score double"
    if not scan:
        return local_frame(spark, [], schema)
    spec = index.spec
    idf = {t: bm25_idf(df, index.n_docs) for t, df in dfs.items()}
    kernel = batch_kernel(
        plans, idf, index.avgdl, spec.k1, spec.b, k, spec.block_size
    )
    phrase = any(p.slop is not None for p in plans.values())
    columns = _SCORE_COLS + (["pos", "boffs_pos"] if phrase else [])
    top = _merge_topk(
        spark, index, scan, columns, kernel, k, schema=schema, by="query_id"
    )
    return local_frame(spark, top, schema) if isinstance(top, list) else top


# ---------------------------------------------------------------------------
# Function queries (Solr's func QParser / eDisMax bf / boost / bq — the
# ValueSource library registered at solrconfig.xml:1744-1750 and the boost
# params of the edismax handler the reference configures, solrconfig.xml:872)
# ---------------------------------------------------------------------------


def sort_by_function(
    spark: SparkSession,
    index: Index,
    query: str,
    func: str,
    ascending: bool = False,
    k: int = 10,
    start: int = 0,
    filters: dict[str, str] | None = None,
    op: str = "OR",
    doc_filter: str | None = None,
) -> DataFrame:
    """Sort-by-function / ``{!func}`` main queries: rank docs by a function
    expression over stored numeric fields (Solr's ``sort=div(a,b) desc``
    and ``q={!func}recip(...)``, both served by the ValueSource library the
    reference's solrconfig registers at :1744-1750).

    Shape follows :func:`search_sorted` (useFilterForSortedQuery,
    solrconfig.xml:545-559): the match set comes from the scoring-free
    :func:`match_ids` path (``query="*:*"`` = the {!func} main-query form
    over all live docs), the docs scan is PROJECTED to ``(doc_id,
    func_fields)`` — the text column never leaves the Parquet reader — and
    the global order is a bounded TakeOrderedAndProject (start+k rows),
    never a full sort.  Returns ``(doc_id, value)`` with deterministic ties
    (value, doc_id asc).
    """
    from cascading_solr_spark.query.functions import (
        func_column,
        func_fields,
        parse_function,
    )

    node = parse_function(func, set(index.spec.stored_fields))
    matched = match_ids(
        spark, index, query, filters=filters, op=op, doc_filter=doc_filter
    )
    cols = sorted(func_fields(node))
    docs = index.docs(spark).select("doc_id", *cols)
    out = (
        docs.join(matched.hint("shuffle_hash"), "doc_id")
        .select("doc_id", func_column(node).alias("value"))
        .orderBy(
            F.asc("value") if ascending else F.desc("value"),
            F.asc("doc_id"),
        )
    )
    if start:
        return out.offset(start).limit(k)
    return out.limit(k)


def _bq_weights(query: str) -> list[tuple[str, float]]:
    """Split a Solr ``bq`` param into (clause, weight) pairs —
    ``"lang:es^2 inStock:true"`` → [("lang:es", 2.0), ("inStock:true",
    1.0)].  Each clause is matched with full query-string semantics
    (:func:`match_ids`) and contributes its weight as a CONSTANT score —
    the Lucene constant-score rewrite of a filter-cache-backed boost query
    (a documented deviation from Solr's tf·idf-scored bq: keyword postings
    store no tf, and the reference's bq usage is category boosts where the
    constant form is rank-identical)."""
    out: list[tuple[str, float]] = []
    for tok in query.split():
        # parse_boosts strips only the ^w suffix and keeps the clause in
        # the remaining string, so a boosted token yields (clause, w) and
        # an unboosted one (clause, 1.0) — never both
        rest, boosts = parse_boosts(tok)
        if boosts:
            out.extend((clause, float(w)) for clause, w in boosts.items())
        elif rest:
            out.append((rest, 1.0))
    return out


def search_boosted(
    spark: SparkSession,
    index: Index,
    query: str,
    bf: str | list[str] | None = None,
    boost: str | list[str] | None = None,
    bq: str | list[str] | None = None,
    k: int | None = 10,
    start: int = 0,
    filters: dict[str, str] | None = None,
    synonyms: dict[str, list[str]] | None = None,
    op: str = "OR",
    doc_filter: str | None = None,
) -> DataFrame:
    """eDisMax boost params over the ranked query (solrconfig.xml:872
    ``defType=edismax``; the standard edismax boost surface):

    * ``bf`` — ADDITIVE boost function(s): ``score += f(doc)`` per entry
      (dismax/edismax bf semantics);
    * ``boost`` — MULTIPLICATIVE boost function(s): ``score *= f(doc)``
      (edismax's BoostedQuery wrapper);
    * ``bq`` — additive boost QUERY: docs matching each clause gain that
      clause's weight (see :func:`_bq_weights` for the constant-score
      rule).

    Execution: a doc-dependent value source makes MaxScore's θ bound
    unsound (a low-BM25 doc can win on boost), so the kernel scores the
    FULL match set exactly — Lucene 4.1's own execution shape (block-max
    pruning postdates it) — then joins the function fields from a
    column-pruned docs scan (only ``func_fields`` are read; a bf over
    ``textlen`` never touches content/text), applies the arithmetic
    JVM-side (whole-stage codegen, no Python), and takes the global top-k
    with a bounded TakeOrderedAndProject.  fq/filters keep Solr semantics:
    they restrict candidates, BM25 stats stay global, and bq/bf/boost never
    change the MATCH set — only the order.

    Returns ``(doc_id, score)``.
    """
    from cascading_solr_spark.query.functions import (
        func_column,
        func_fields,
        parse_function,
    )

    def _listify(x) -> list[str]:
        if x is None:
            return []
        return [x] if isinstance(x, str) else list(x)

    stored = set(index.spec.stored_fields)
    bf_nodes = [parse_function(e, stored) for e in _listify(bf)]
    boost_nodes = [parse_function(e, stored) for e in _listify(boost)]
    base = search(
        spark, index, query, k=None, with_stored=False,
        filters=filters, synonyms=synonyms, op=op, doc_filter=doc_filter,
    )

    cols: set[str] = set()
    for n in bf_nodes + boost_nodes:
        cols |= func_fields(n)
    if cols:
        docs = index.docs(spark).select("doc_id", *sorted(cols))
        base = docs.join(base.hint("shuffle_hash"), "doc_id")

    score = F.col("score")
    for n in bf_nodes:
        score = score + func_column(n)
    bq_pairs: list[tuple[str, float]] = []
    for q in _listify(bq):
        bq_pairs.extend(_bq_weights(q))
    if bq_pairs:
        legs = [
            match_ids(spark, index, clause).select(
                "doc_id", F.lit(w).alias("_bqw")
            )
            for clause, w in bq_pairs
        ]
        bq_df = legs[0]
        for leg in legs[1:]:
            bq_df = bq_df.unionByName(leg)
        bq_df = bq_df.groupBy("doc_id").agg(F.sum("_bqw").alias("_bqw"))
        base = base.join(bq_df.hint("shuffle_hash"), "doc_id", "left")
        score = score + F.coalesce(F.col("_bqw"), F.lit(0.0))
    for n in boost_nodes:
        score = score * func_column(n)

    out = base.select("doc_id", score.alias("score")).orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    if k is None:
        return out
    if start:
        return out.offset(start).limit(k)
    return out.limit(k)


# ---------------------------------------------------------------------------
# Join query parser (Solr's {!join from=A to=B}inner — JoinQParserPlugin,
# part of the embedded Solr the reference targets; standard on every
# SearchHandler as q or fq)
# ---------------------------------------------------------------------------


def join_match_ids(
    spark: SparkSession,
    index: Index,
    inner_query: str,
    from_field: str,
    to_field: str,
    filters: dict[str, str] | None = None,
    op: str = "OR",
) -> DataFrame:
    """``{!join from=A to=B}inner`` — docs whose ``B`` value equals some
    ``A`` value of a doc matching ``inner`` (Solr's JoinQParserPlugin;
    Lucene JoinUtil).  ``filters``/``op`` apply to the INNER query (Solr's
    local-param query string carries them).

    Execution is one distributed value-join, never a driver collect:

    1. inner match set from the scoring-free :func:`match_ids` path;
    2. from-values = docs scan PROJECTED to ``(doc_id, A)`` semi-joined to
       the inner ids, distinct, nulls dropped (Solr ignores missing
       from-values);
    3. outer ids = docs scan projected to ``(doc_id, B)`` joined on value
       equality, distinct.

    The distinct from-value set is usually far smaller than the doc count
    (it is bounded by the inner hit count AND the field cardinality), so
    AQE picks a broadcast join at runtime; at adversarial cardinalities it
    degrades to a shuffle join rather than an OOM — exactly the behavior a
    100 TB corpus needs.  Delete tombstones are stripped on both sides
    (inner via match_ids, outer here).  Returns distinct ``doc_id`` rows.
    """
    stored = set(index.spec.stored_fields)
    for f in (from_field, to_field):
        if f not in stored:
            raise ValueError(
                f"join field {f!r} is not stored {sorted(stored)!r}"
            )
    inner = match_ids(spark, index, inner_query, filters=filters, op=op)
    docs = index.docs(spark)
    vals = (
        docs.select("doc_id", from_field)
        .join(inner.hint("shuffle_hash"), "doc_id", "semi")
        .select(F.col(from_field).alias("_jv"))
        .filter(F.col("_jv").isNotNull())
        .distinct()
    )
    out = (
        docs.select("doc_id", to_field)
        .join(vals, docs[to_field] == vals["_jv"], "semi")
        .select("doc_id")
        .distinct()
    )
    if index.has_deletes:
        out = out.join(
            F.broadcast(index.deleted_ids(spark)), "doc_id", "left_anti"
        )
    return out


def search_joined(
    spark: SparkSession,
    index: Index,
    query: str,
    inner_query: str,
    from_field: str,
    to_field: str,
    k: int | None = 10,
    start: int = 0,
    filters: dict[str, str] | None = None,
    op: str = "OR",
    inner_op: str = "OR",
) -> DataFrame:
    """Ranked query with a ``{!join}`` FILTER — Solr's
    ``q=<query>&fq={!join from=A to=B}<inner>`` composition.  The join set
    restricts candidates; BM25 statistics stay global (fq semantics), and
    the join itself contributes no score (Solr's join scores are constant —
    ``score=none``).  ``query="*:*"`` is the main-query form: every joined
    doc at the match-all constant score 1.0, doc_id order.

    Shape: the ranked base scores its full match set exactly (the join set
    is a DataFrame, not an index predicate, so kernel-side θ pruning can't
    see it — same soundness rule as :func:`search_boosted`), then ONE
    distributed semi-join against the join ids and a bounded global top-k.

    Returns ``(doc_id, score)``.
    """
    allowed = join_match_ids(
        spark, index, inner_query, from_field, to_field, op=inner_op
    )
    base = search(  # ``*:*`` is search's match-all leg: 1.0, doc_id order
        spark, index, query, k=None, with_stored=False, filters=filters, op=op,
    )
    out = base.join(allowed.hint("shuffle_hash"), "doc_id", "semi").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    if k is None:
        return out
    if start:
        return out.offset(start).limit(k)
    return out.limit(k)
