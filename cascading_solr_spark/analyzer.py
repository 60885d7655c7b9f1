"""Code-aware text analyzer, shared verbatim between index build and query.

Mirrors the analyzer semantics of the reference's Solr test schema
(/root/reference/src/test/resources/solr-home-4.1/collection1/conf/schema.xml):

* ``text_general`` index chain (schema.xml:424-431): StandardTokenizer
  (word-break on non-alphanumerics, approximated for code), StopFilter with an
  *empty* stopword list (conf/stopwords.txt holds only the license header, so
  stopword removal is OFF by default here too), LowerCaseFilter.
* ``text_en_splitting`` (schema.xml:495-527): WordDelimiterFilter with
  ``generateWordParts=1 generateNumberParts=1 catenateWords=1
  splitOnCaseChange=1`` — i.e. camelCase / snake_case / letter-digit boundary
  splitting plus the catenated whole identifier.  This is what makes the
  lowercase query ``turbowriter`` match the stored value "TurboWriter 2.3"
  (reference README.md:96-99, AbstractSolrSchemeTest.java:155-159).

One implementation, pure Python, two entry shapes:

* :func:`tokenize` / :func:`tokenize_with_positions` — the query parser and
  the pytest oracle (the analogue of Solr's query-time chain,
  schema.xml:432-437);
* :func:`make_cached_tokenizer` / :func:`make_cached_position_tokenizer` —
  the same chain memoized per word, which the index build runs inside its
  Arrow-batched Python workers (``indexing/build.py`` ``_spimi_tf_kernel``)
  and :func:`~cascading_solr_spark.query.naive.tokens_long` reuses.  Build
  and query therefore share one analyzer by construction; the memoized
  forms are held behavior-identical by ``tests/test_analyzer.py``.

Hot terms (stopword-grade code tokens such as ``import`` / ``return``) are NOT
dropped — skew is handled by shuffle salting in indexing/build.py, per the
empty stopwords.txt in the reference config.
"""

from __future__ import annotations

import re

# Primary tokenizer: maximal alphanumeric runs (StandardTokenizer
# approximation appropriate for source code: `foo.bar(baz_qux)` ->
# foo, bar, baz_qux's parts).  Intentionally ASCII-alnum: code identifiers.
WORD_PATTERN = r"[A-Za-z0-9]+"

# Word-delimiter sub-splitter: uppercase acronym runs (XML in XMLHttpRequest),
# capitalized words (Http), lowercase runs, digit runs.  Together the
# alternatives partition any alphanumeric string.
SUB_PATTERN = r"[A-Z]+(?![a-z])|[A-Z][a-z]+|[a-z]+|[0-9]+"

_WORD_RE = re.compile(WORD_PATTERN)
_SUB_RE = re.compile(SUB_PATTERN)


def tokenize(text: str | None) -> list[str]:
    """Pure-Python analyzer: ``content -> [term]`` (with duplicates, in order).

    Deterministic; the single source of truth for query parsing and the
    pytest BM25 oracle.  The memoized build forms must stay
    behavior-identical to it.
    """
    if text is None:
        return []
    out: list[str] = []
    for word in _WORD_RE.findall(text):
        parts = _SUB_RE.findall(word)
        if len(parts) <= 1:
            out.append(word.lower())
        else:
            # generateWordParts/generateNumberParts + catenateWords analogue:
            # emit each sub-part and the catenated whole identifier.
            out.extend(p.lower() for p in parts)
            out.append(word.lower())
    return out


def tokenize_with_positions(text: str | None) -> list[tuple[str, int]]:
    """``content -> [(term, position)]`` under Lucene position semantics.

    Positions follow WordDelimiterFilter's increments (the reference's
    ``text_en_splitting`` chain, schema.xml:495-527): sub-parts of one
    identifier occupy CONSECUTIVE positions, and the catenated whole sits at
    the first part's position (``catenateWords`` emits with posInc=0 —
    Lucene's overlapping-token convention).  So ``"a TurboWriter b"`` yields
    a@0, turbo@1, writer@2, turbowriter@1, b@3 — and the phrase
    ``"turbo writer"`` (and ``"writer b"``) match, exactly as they do in
    Solr.  The emitted token multiset equals :func:`tokenize`'s, so tf/dl —
    and therefore every BM25 score — are unchanged by position tracking.
    """
    if text is None:
        return []
    out: list[tuple[str, int]] = []
    pos = 0
    for word in _WORD_RE.findall(text):
        parts = _SUB_RE.findall(word)
        if len(parts) <= 1:
            out.append((word.lower(), pos))
            pos += 1
        else:
            for i, p in enumerate(parts):
                out.append((p.lower(), pos + i))
            out.append((word.lower(), pos))
            pos += len(parts)
    return out


def make_cached_position_tokenizer():
    """Word-memoized positional tokenizer for the positional build kernel.

    Memoizes per word the ``(token, relative_position)`` pairs plus the
    position ADVANCE (number of sub-parts; 1 for plain words), mirroring
    :func:`make_cached_tokenizer`'s cache strategy.  Must stay
    behavior-identical to :func:`tokenize_with_positions` (enforced by
    tests/test_analyzer.py)."""
    cache: dict[str, tuple[tuple[tuple[str, int], ...], int]] = {}
    findall = _WORD_RE.findall
    sub_findall = _SUB_RE.findall

    def tokenize_pos_fast(text: str | None) -> list[tuple[str, int]]:
        if not text:
            return []
        out: list[tuple[str, int]] = []
        pos = 0
        for word in findall(text):
            hit = cache.get(word)
            if hit is None:
                parts = sub_findall(word)
                if len(parts) <= 1:
                    hit = (((word.lower(), 0),), 1)
                else:
                    toks = tuple((p.lower(), i) for i, p in enumerate(parts))
                    hit = (toks + ((word.lower(), 0),), len(parts))
                cache[word] = hit
            toks, adv = hit
            out.extend((t, pos + rel) for t, rel in toks)
            pos += adv
        return out

    return tokenize_pos_fast


def make_cached_tokenizer():
    """Word-memoized tokenizer for batch kernels: code identifiers repeat
    heavily, so word->tokens memoization turns the per-word regex into a dict
    hit.  One cache per kernel invocation (bounded by batch vocabulary)."""
    cache: dict[str, tuple[str, ...]] = {}
    findall = _WORD_RE.findall
    sub_findall = _SUB_RE.findall

    def tokenize_fast(text: str | None) -> list[str]:
        if not text:
            return []
        out: list[str] = []
        for word in findall(text):
            toks = cache.get(word)
            if toks is None:
                parts = sub_findall(word)
                if len(parts) <= 1:
                    toks = (word.lower(),)
                else:
                    toks = tuple(p.lower() for p in parts) + (word.lower(),)
                cache[word] = toks
            out.extend(toks)
        return out

    return tokenize_fast


def analyze_query(query: str) -> list[str]:
    """Analyze a query string with the same chain as the index (schema.xml:432).

    Returns distinct terms in first-seen order (Lucene's default-OR keyword
    query, solrconfig.xml:766-774; duplicate query terms do not double-score
    in our OR semantics — each distinct term contributes once).
    """
    seen: dict[str, None] = {}
    for t in tokenize(query):
        seen.setdefault(t, None)
    return list(seen)
