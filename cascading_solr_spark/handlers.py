"""Auxiliary request-handler analogues: analysis, Luke, ping.

The reference's embedded Solr registers introspection handlers alongside
the query surface (solrconfig.xml): ``/analysis/field`` and
``/analysis/document`` (:1030, :1065 — show how the analyzer chain breaks a
value into indexed tokens), ``/admin/luke`` (:1078 — per-field index
statistics and top terms), and ``/admin/ping`` (:1099 — health check that
runs a real query against the index).  These are part of what a reference
user can call today, so they get first-class analogues:

* :func:`analysis_field` / :func:`analysis_document` — the SAME tokenizer
  the index path uses (one code path, so what analysis shows is exactly
  what got indexed), returned as (position, term) rows with Lucene
  position-increment semantics (catenated parts overlap, analyzer.py);
* :func:`luke_overview` / :func:`luke_top_terms` — served from the
  term-sorted ``dict`` table (ONE pruned scan; never postings or docs) +
  meta, so they stay cheap at any index size;
* :func:`ping` — verifies the index is loadable and answers a bounded
  match-all probe (PingRequestHandler runs a configured warming query).

All driver-side row building here is bounded by ONE document or a top-N —
never corpus-sized.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cascading_solr_spark.analyzer import tokenize_with_positions
from cascading_solr_spark.indexing.build import KW_SEP, Index, local_frame
from cascading_solr_spark.spec import IndexSpec

_ANALYSIS_SCHEMA = "field string, position int, term string"


def analysis_field(
    spark: SparkSession, field: str, text: str | None
) -> DataFrame:
    """``/analysis/field`` analogue (solrconfig.xml:1030-1059): the token
    stream the index-time analyzer produces for one field value, as
    (field, position, term) rows.  Positions carry WordDelimiterFilter
    increments — catenated identifiers overlap their first sub-part, so the
    output shows exactly why ``"turbo writer"`` phrase-matches a stored
    ``TurboWriter`` (the reference's signature behavior,
    AbstractSolrSchemeTest.java:155-159)."""
    rows = [
        (field, int(pos), term) for term, pos in tokenize_with_positions(text)
    ]
    return local_frame(spark, rows, _ANALYSIS_SCHEMA)


def analysis_document(
    spark: SparkSession, spec: IndexSpec, doc: dict
) -> DataFrame:
    """``/analysis/document`` analogue (solrconfig.xml:1065-1072): per-field
    token streams for one document under ``spec`` — analyzed fields
    (content + text_fields) run the real tokenizer; keyword fields emit
    their exact untokenized values at position 0 (StrField semantics,
    schema.xml:71); fields absent from the doc emit nothing (the
    SolrWriter.java:65-66 null-skip)."""
    rows: list[tuple[str, int, str]] = []
    for f in (spec.content_field, *spec.text_fields):
        for term, pos in tokenize_with_positions(doc.get(f)):
            rows.append((f, int(pos), term))
    for f in spec.keyword_fields:
        v = doc.get(f)
        values = v if isinstance(v, (list, tuple)) else [v]
        for x in values:
            if x is not None:
                rows.append((f, 0, str(x)))
    return local_frame(spark, rows, _ANALYSIS_SCHEMA)


def _dict_with_field(index: Index, spark: SparkSession) -> DataFrame | None:
    """dict rows tagged with their logical FIELD: ``field:token`` terms map
    to their namespace (keyword or extra text field), everything else to
    the content field."""
    d = index.term_dict(spark)
    if d is None:
        return None
    spec = index.spec
    named = list(spec.keyword_fields) + list(spec.text_fields)
    prefix = F.substring_index("term", KW_SEP, 1)
    return d.withColumn(
        "field",
        F.when(
            F.col("term").contains(KW_SEP) & prefix.isin(named), prefix
        ).otherwise(F.lit(spec.content_field)),
    )


def luke_overview(spark: SparkSession, index: Index) -> DataFrame:
    """``/admin/luke`` analogue (solrconfig.xml:1078): per-field index
    statistics — distinct term count, total df, and max df — from ONE scan
    of the term-sorted dict (plus corpus-level rows from meta at zero extra
    jobs).  Returns (field, n_terms, sum_df, max_df) ordered by field."""
    d = _dict_with_field(index, spark)
    if d is None:
        raise ValueError(
            "luke_overview needs the dict table (pre-dict index: run "
            "compact_index first)"
        )
    return (
        d.groupBy("field")
        .agg(
            F.count("*").alias("n_terms"),
            F.sum("df").alias("sum_df"),
            F.max("df").alias("max_df"),
        )
        .orderBy("field")
    )


def luke_top_terms(
    spark: SparkSession, index: Index, field: str, k: int = 10
) -> DataFrame:
    """``/admin/luke`` top-terms report for one field: the k highest-df
    terms (ties term-asc), values stripped of their namespace prefix.
    A keyword/text field prunes its dict scan by prefix (term-sorted files
    -> StartsWith row-group pruning, the terms-component path)."""
    spec = index.spec
    d = index.term_dict(spark)
    if d is None:
        raise ValueError(
            "luke_top_terms needs the dict table (pre-dict index: run "
            "compact_index first)"
        )
    named = set(spec.keyword_fields) | set(spec.text_fields)
    if field in named:
        pref = field + KW_SEP
        rows = d.filter(F.col("term").startswith(pref)).select(
            F.expr(f"substring(term, {len(pref) + 1})").alias("term"), "df"
        )
    elif field == spec.content_field:
        prefixes = [f + KW_SEP for f in named]
        rows = d
        for p in prefixes:
            rows = rows.filter(~F.col("term").startswith(p))
        rows = rows.select("term", "df")
    else:
        raise ValueError(f"unknown field {field!r}")
    return rows.orderBy(F.desc("df"), F.asc("term")).limit(k)


def ping(spark: SparkSession, index_dir: str) -> DataFrame:
    """``/admin/ping`` analogue (solrconfig.xml:1099-1113): load the index
    and answer a bounded probe (the handler's healthcheck query), returning
    one (status, n_docs) row — 'OK' only when meta loads AND the docs table
    answers.  Failures return status 'FAIL' with n_docs 0 rather than
    raising (a health endpoint reports, it doesn't crash)."""
    try:
        ix = Index.load(index_dir)
        n = ix.docs(spark).select("doc_id").limit(1).count()
        status = "OK" if (ix.n_docs == 0 or n == 1) else "FAIL"
        return local_frame(
            spark, [(status, int(ix.n_docs))], "status string, n_docs long"
        )
    except Exception:
        return local_frame(spark, [("FAIL", 0)], "status string, n_docs long")


def browse(
    spark: SparkSession,
    index: Index,
    q: str | None = None,
    *,
    qf: dict[str, float] | None = None,
    tie: float = 0.01,
    mm: int | str | None = "100%",
    rows: int = 10,
    start: int = 0,
    filters: dict[str, str] | None = None,
    synonyms: dict[str, list[str]] | None = None,
    facet_fields: list[str] | tuple[str, ...] | None = None,
    facet_queries: dict[str, str] | None = None,
    facet_ranges: list[dict] | None = None,
    facet_pivot: tuple[str, str] | None = None,
    hl_fields: list[str] | None = None,
    hl_params: dict[str, dict] | None = None,
    hl_pre: str = "<b>",
    hl_post: str = "</b>",
    hl_encoder: str | None = "html",
    spellcheck: bool = True,
    max_collations: int = 3,
    max_collation_tries: int = 5,
    mlt: bool = False,
    mlt_count: int = 3,
) -> dict[str, DataFrame]:
    """The /browse request handler composed — ONE call serving the
    reference's actual default request (solrconfig.xml:862-945): eDisMax
    ranking (``defType=edismax`` + multi-field ``qf`` + ``tie`` :872-877,
    ``mm=100%`` :878), ``q.alt=*:*`` when no query is given (:879, the
    landing page: facets render over the whole corpus), every declared
    ``facet.field`` (:891-894, one pass), ``facet.query`` (:896-897),
    numeric + DATE ``facet.range`` with other-buckets (:900-914),
    ``facet.pivot`` (:899), multi-field highlighting with the config's own
    ``<b>`` markers and html encoder (:918-931), and spellcheck collations
    (:934-941).

    Returns a dict of LAZY DataFrames keyed ``results``, ``highlighting``,
    ``facet_fields``, ``facet_queries``, ``range_<field>``, ``facet_pivot``,
    ``spellcheck`` — collect what you render, exactly like reading the
    named sections of a Solr response.  Each section is the already
    oracle-checked component function; this facade only wires the
    reference's parameter plumbing (shared q/fq, q.alt dispatch, the
    results←→highlighting correspondence).

    Fidelity notes: highlighting wraps the FACADE's ranked rows (the
    ``top=`` passthrough), so snippets always correspond to ``results``
    even under eDisMax.  Facet/pivot/stats match sets run under the
    equivalent boolean op — ``mm=100%`` (the /browse default) is exactly
    conjunction, so components run op=AND; fractional mm values fall back
    to OR for the component match sets (match_ids carries no mm floor) —
    a documented deviation, not silent.

    ``facet_ranges`` entries: ``{"field", "start", "end", "gap",
    "other"?}`` — a str start/end selects the DATE path (gap = months),
    ints the numeric path (the reference ranges price/popularity
    numerically and manufacturedate_dt by +1YEAR the same way)."""
    from cascading_solr_spark.query.search import (
        facet_fields_counts,
        facet_pivot_counts as _pivot,
        facet_query_counts,
        facet_range_counts,
        facet_range_counts_date,
        highlight_fields,
        search,
        search_dismax,
        spellcheck_collations,
    )

    out: dict[str, DataFrame] = {}
    q_eff = (q or "").strip() or "*:*"
    is_match_all = q_eff == "*:*"
    # mm=100% under OR is exactly all-terms conjunction — the op the
    # component match sets can reproduce without an mm floor
    op_eff = "AND" if (mm == "100%" and not is_match_all) else "OR"

    if is_match_all:
        results = search(
            spark, index, "*:*", k=rows, start=start, filters=filters
        )
    elif qf:
        results = search_dismax(
            spark, index, q_eff, qf=qf, tie=tie, min_match=mm, k=rows,
            start=start, filters=filters, synonyms=synonyms,
        )
    else:
        results = search(
            spark, index, q_eff, k=rows, start=start, filters=filters,
            synonyms=synonyms, min_match=mm,
        )
    out["results"] = results

    if hl_fields and not is_match_all:
        out["highlighting"] = highlight_fields(
            spark, index, q_eff, hl_fields, k=rows,
            field_params=hl_params, filters=filters, synonyms=synonyms,
            op=op_eff, pre=hl_pre, post=hl_post, encoder=hl_encoder,
            top=results,
        )
    if facet_fields:
        out["facet_fields"] = facet_fields_counts(
            spark, index, q_eff, facet_fields, filters=filters,
            synonyms=synonyms, op=op_eff, mincount=1,
        )
    if facet_queries:
        out["facet_queries"] = facet_query_counts(
            spark, index, q_eff, facet_queries, filters=filters, op=op_eff
        )
    for spec_ in facet_ranges or []:
        fld = spec_["field"]
        if isinstance(spec_["start"], str):
            out[f"range_{fld}"] = facet_range_counts_date(
                spark, index, q_eff, fld, spec_["start"], spec_["end"],
                spec_["gap"], filters=filters, op=op_eff,
                other=spec_.get("other", False),
            )
        else:
            out[f"range_{fld}"] = facet_range_counts(
                spark, index, q_eff, fld, spec_["start"], spec_["end"],
                spec_["gap"], filters=filters, op=op_eff,
                other=spec_.get("other", False),
            )
    if facet_pivot:
        out["facet_pivot"] = _pivot(
            spark, index, q_eff, facet_pivot, filters=filters, op=op_eff
        )
    if spellcheck and not is_match_all:
        out["spellcheck"] = spellcheck_collations(
            spark, index, q_eff, max_collations=max_collations,
            max_tries=max_collation_tries, filters=filters, op=op_eff,
        )
    if mlt:
        # the /browse MLT section (mlt.count=3 per result doc,
        # solrconfig.xml:883-888).  Needs the page's doc ids, so this one
        # section collects the results page (bounded by ``rows``) — the
        # similar-doc queries themselves run as ONE batched kernel pass
        from cascading_solr_spark.query.search import more_like_this_docs

        page_ids = [
            r["doc_id"] for r in results.select("doc_id").collect()
        ]
        out["mlt"] = more_like_this_docs(
            spark, index, page_ids, count=mlt_count
        )
    return out


def _parse_qf(qf: str) -> dict[str, float]:
    """``"text^0.5 title^1.2"`` -> {"text": 0.5, "title": 1.2} (boost
    defaults to 1.0, Solr's qf rule)."""
    out: dict[str, float] = {}
    for tok in qf.split():
        if "^" in tok:
            f, w = tok.rsplit("^", 1)
            out[f] = float(w)
        else:
            out[tok] = 1.0
    return out


def encode_cursor_mark(cursor: tuple) -> str:
    """Opaque cursorMark string from a (sort value, doc_id) cursor — Solr's
    cursorMark is an opaque base64 totem of the sort values; ours is
    base64(json) of the two-element cursor."""
    import base64
    import json

    return base64.urlsafe_b64encode(
        json.dumps(list(cursor)).encode()
    ).decode()


def decode_cursor_mark(mark: str) -> tuple:
    import base64
    import json

    v, d = json.loads(base64.urlsafe_b64decode(mark.encode()).decode())
    return (v, int(d))


def next_cursor_mark(rows: list, sort_field: str | None = None) -> str | None:
    """The response's ``nextCursorMark``, computed from a COLLECTED page
    (exactly what Solr does with the page it returns).  ``None`` when the
    page is empty — iteration is done.  ``sort_field=None`` means the
    default score sort."""
    if not rows:
        return None
    last = rows[-1]
    key = float(last["score"]) if sort_field is None else last[sort_field]
    return encode_cursor_mark((key, int(last["doc_id"])))


_FQ_RANGE = re.compile(
    r"^(\w+):\[(\*|-?\d+(?:\.\d+)?) TO (\*|-?\d+(?:\.\d+)?)\]$"
)


def select(
    spark: SparkSession,
    index: Index,
    params: dict,
) -> dict[str, DataFrame]:
    """The /select request handler on RAW Solr params (solrconfig.xml:766)
    — the switch-over surface: a reference user's request dict runs as-is.

    Supported params (each routed to the already-tested component
    function; this facade only parses and wires):

    * ``q`` (default ``*:*``), ``q.op``, ``mm``, ``rows``, ``start``,
      ``fl`` (comma list), ``synonyms`` (engine extension: dict).  The
      facet, stats and group components, the boosted query (``bf`` /
      ``boost`` / ``bq``) and a field or function ``sort`` match under
      ``q.op``, not an mm floor: ``mm=100%`` runs them with op=AND (the
      /browse rule); any other mm together with one of them raises;
    * ``fq`` — string or list: ``field:value`` keyword filters compose
      index-side; ``field:[a TO b]`` over a stored NUMERIC field becomes
      the doc-filter (frange/PostFilter) path, ``*`` ends open; multiple
      fq AND together (Solr's rule).  The facet, stats and group
      components do not take a numeric-range fq: the pair raises;
    * ``defType=edismax`` with ``qf`` (``"text^0.5 title^1.2"``), ``tie``;
      boost params ``bf`` / ``boost`` / ``bq`` (function-query surface);
    * ``sort`` — ``score desc`` (default), ``<field> asc|desc``, or a
      function expression ``recip(textlen,1,1000,100) desc``;
    * ``facet=true`` + ``facet.field`` (str or list; honors
      ``facet.limit``/``facet.mincount``/``facet.sort``), ``facet.query``
      (response key = the query string, Solr's default), ``facet.range``
      with ``facet.range.start/end/gap/other`` and per-field
      ``f.<field>.facet.range.*`` overrides (string start = DATE path,
      gap as Solr date math ``+N(YEAR|MONTH)S``), ``facet.pivot`` (two
      fields);
    * ``hl=true`` + ``hl.fl`` (comma list), ``hl.simple.pre/post``;
    * ``group=true`` + ``group.field``/``group.limit``;
    * ``spellcheck=true`` (+ ``spellcheck.maxCollations``/
      ``maxCollationTries``; collations always verified, Solr's
      collate-on behavior);
    * ``stats=true`` + ``stats.field`` (+ ``stats.facet``);
    * ``terms=true`` + ``terms.prefix/limit/regex/mincount``
      (``terms.fl`` must be the analyzed content field);
    * ``cursorMark`` ("*" or a mark from :func:`next_cursor_mark`).

    Returns ``{"results": ..., "facet_fields"?: ..., "facet_queries"?:
    ..., "range_<field>"?: ..., "facet_pivot"?: ..., "highlighting"?: ...,
    "grouped"?: ..., "spellcheck"?: ..., "stats"?: ..., "terms"?: ...}``
    of lazy DataFrames, like reading the named sections of a Solr
    response.  Unknown parameters raise (a silent typo in ``qf`` must not
    degrade to default-field search)."""
    from cascading_solr_spark.query.search import (
        facet_fields_counts,
        facet_pivot_counts,
        facet_query_counts,
        facet_range_counts,
        facet_range_counts_date,
        highlight_fields,
        search,
        search_boosted,
        search_dismax,
        search_grouped,
        search_sorted,
        sort_by_function,
        spellcheck_collations,
        stats_field,
        terms_component,
    )

    known = {
        "q", "q.op", "mm", "rows", "start", "fl", "fq", "defType", "qf",
        "tie", "bf", "boost", "bq", "sort", "facet", "facet.field", "hl",
        "hl.fl", "hl.simple.pre", "hl.simple.post", "group", "group.field",
        "group.limit", "synonyms", "cursorMark",
        "facet.query", "facet.pivot", "facet.range", "facet.range.start",
        "facet.range.end", "facet.range.gap", "facet.range.other",
        "facet.limit", "facet.mincount", "facet.sort", "facet.offset",
        "spellcheck", "spellcheck.collate", "spellcheck.maxCollations",
        "spellcheck.maxCollationTries",
        "stats", "stats.field", "stats.facet",
        "terms", "terms.fl", "terms.prefix", "terms.limit", "terms.regex",
        "terms.mincount",
    }
    # per-field facet.range overrides, Solr's f.<field>.facet.range.<p> form
    _perfield = re.compile(r"^f\.[A-Za-z_][\w]*\.facet\.range\.(start|end|gap|other)$")
    unknown = sorted(
        p for p in set(params) - known if not _perfield.match(p)
    )
    if unknown:
        raise ValueError(f"unsupported /select params: {unknown!r}")

    def _flag(name: str) -> bool:
        return str(params.get(name, "")).lower() in ("true", "on", "1")

    q = str(params.get("q", "*:*")).strip() or "*:*"
    rows = int(params.get("rows", 10))
    start = int(params.get("start", 0))
    op = str(params.get("q.op", "OR")).upper()
    mm = params.get("mm")
    synonyms = params.get("synonyms")
    fl = (
        [c.strip() for c in str(params["fl"]).split(",") if c.strip()]
        if "fl" in params
        else None
    )

    # ---- fq: keyword filters + numeric doc filters, ANDed ----
    filters: dict[str, str] = {}
    doc_preds: list[str] = []
    fqs = params.get("fq", [])
    for fq in [fqs] if isinstance(fqs, str) else list(fqs):
        fq = fq.strip()
        m = _FQ_RANGE.match(fq)
        stored = set(index.spec.stored_fields)
        if m and m.group(1) in stored and m.group(1) not in index.spec.keyword_fields:
            f, lo, hi = m.groups()
            if lo != "*":
                doc_preds.append(f"{f} >= {lo}")
            if hi != "*":
                doc_preds.append(f"{f} <= {hi}")
        elif ":" in fq:
            f, v = fq.split(":", 1)
            if f not in index.spec.keyword_fields:
                raise ValueError(
                    f"fq field {f!r} is neither a keyword field nor a "
                    f"stored-numeric range"
                )
            filters[f] = v
        else:
            raise ValueError(f"unparseable fq {fq!r}")
    doc_filter = " AND ".join(doc_preds) if doc_preds else None
    # the facet, stats and group components count over the keyword match
    # set alone: refuse a numeric fq rather than silently drop it
    unfiltered = [
        p for flag, p in (
            ("facet", "facet.field"), ("facet", "facet.query"),
            ("facet", "facet.range"), ("facet", "facet.pivot"),
            ("stats", "stats.field"), ("group", "group.field"),
        )
        if _flag(flag) and params.get(p)
    ]
    if doc_filter and unfiltered:
        raise ValueError(
            f"a numeric-range fq does not compose with {unfiltered!r}"
        )
    # the result routes that take an op but no mm floor: a field or
    # function sort, and the boosted query
    sort = str(params.get("sort", "score desc")).strip()
    sorted_by = sort not in ("score desc", "score asc", "")
    boosted = [p for p in ("bf", "boost", "bq") if p in params]
    op_only = ["sort"] if sorted_by else boosted
    # mm floors the results' match; the components and those routes take
    # an op, not a floor: an all-terms mm is op=AND (the /browse rule), any
    # other mm is refused rather than counted over the OR match set
    comp_op = op
    if mm is not None and op != "AND" and q != "*:*":
        if str(mm).strip() == "100%":
            comp_op = "AND"
        elif unfiltered or op_only:
            raise ValueError(
                f"mm={mm!r} does not compose with {unfiltered + op_only!r}"
            )

    # ---- cursorMark (Solr deep-paging protocol: opaque mark, "*" = first
    # page, start must be 0; the caller derives nextCursorMark from the
    # collected page via next_cursor_mark) ----
    mark = params.get("cursorMark")
    cursor = None
    if mark is not None:
        if start:
            raise ValueError(
                "start must be 0 when cursorMark is used (Solr rule)"
            )
        if str(mark) != "*":
            cursor = decode_cursor_mark(str(mark))

    # ---- main query routing ----
    out: dict[str, DataFrame] = {}
    if sorted_by:
        field_expr, _, direction = sort.rpartition(" ")
        asc = direction.lower() == "asc"
        if "(" in field_expr:
            if mark is not None:
                raise ValueError(
                    "cursorMark with a function sort is not supported"
                )
            results = sort_by_function(
                spark, index, q, field_expr, ascending=asc, k=rows,
                start=start, filters=filters or None, op=comp_op,
                doc_filter=doc_filter,
            )
        else:
            results = search_sorted(
                spark, index, q, field_expr, ascending=asc, k=rows,
                start=start, filters=filters or None, op=comp_op,
                doc_filter=doc_filter, cursor=cursor,
            )
    elif mark is not None:
        # score-sorted cursor page.  search_after's kernel supports
        # filters/synonyms/op but not mm/bf/edismax/doc_filter — refuse
        # loudly rather than silently drop a constraint (Solr likewise
        # restricts cursorMark to sorts with the uniqueKey tiebreak).
        unsupported = [
            p for p in ("mm", "bf", "boost", "bq", "qf") if p in params
        ]
        if unsupported or doc_filter:
            raise ValueError(
                "cursorMark on the score sort does not compose with "
                f"{unsupported or ['numeric-range fq']!r}"
            )
        from cascading_solr_spark.query.search import search_after

        results = search_after(
            spark, index, q, cursor=cursor, k=rows,
            filters=filters or None, synonyms=synonyms, op=op,
            with_stored=True,
        )
    elif boosted:
        results = search_boosted(
            spark, index, q,
            bf=params.get("bf"), boost=params.get("boost"),
            bq=params.get("bq"), k=rows, start=start,
            filters=filters or None, synonyms=synonyms, op=comp_op,
            doc_filter=doc_filter,
        )
    elif str(params.get("defType", "")).lower() == "edismax" and "qf" in params:
        results = search_dismax(
            spark, index, q, qf=_parse_qf(str(params["qf"])),
            tie=float(params.get("tie", 0.0)), min_match=mm, k=rows,
            start=start, filters=filters or None, synonyms=synonyms,
            doc_filter=doc_filter,
        )
    else:
        results = search(
            spark, index, q, k=rows, start=start, filters=filters or None,
            synonyms=synonyms, op=op, min_match=mm, fl=fl,
            doc_filter=doc_filter,
        )
    out["results"] = results

    if _flag("facet") and params.get("facet.field"):
        ff = params["facet.field"]
        fields = [ff] if isinstance(ff, str) else list(ff)
        limit = params.get("facet.limit")
        sort = str(params.get("facet.sort", "count")).lower()
        out["facet_fields"] = facet_fields_counts(
            spark, index, q, fields, filters=filters or None,
            synonyms=synonyms, op=comp_op,
            limit=None if limit is None else int(limit),
            mincount=int(params.get("facet.mincount", 0)),
            # Solr's legacy facet.sort=true/false mean count/index
            sort={"true": "count", "false": "index"}.get(sort, sort),
            offset=int(params.get("facet.offset", 0)),
        )
    if _flag("facet") and params.get("facet.query"):
        fqq = params["facet.query"]
        fqq = [fqq] if isinstance(fqq, str) else list(fqq)
        # Solr's default response key for a facet.query IS the query string
        out["facet_queries"] = facet_query_counts(
            spark, index, q, {s: s for s in fqq},
            filters=filters or None, op=comp_op,
        )
    if _flag("facet") and params.get("facet.range"):
        fr = params["facet.range"]
        for fld in [fr] if isinstance(fr, str) else list(fr):
            def _rp(name, default=None, fld=fld):
                return params.get(
                    f"f.{fld}.facet.range.{name}",
                    params.get(f"facet.range.{name}", default),
                )
            rstart, rend, rgap = _rp("start"), _rp("end"), _rp("gap")
            if rstart is None or rend is None or rgap is None:
                raise ValueError(
                    f"facet.range={fld!r} requires start/end/gap"
                )
            rother = str(_rp("other", "none")).lower() not in ("none", "")
            if not str(rstart).lstrip("-").isdigit():
                # DATE range: gap is Solr date math, +N(YEAR|MONTH)S
                m = re.match(
                    r"^\+(\d+)(YEAR|MONTH)S?$", str(rgap).upper()
                )
                if not m:
                    raise ValueError(
                        f"unsupported facet.range.gap {rgap!r} (date "
                        "ranges take +N(YEAR|MONTH)S)"
                    )
                months = int(m.group(1)) * (
                    12 if m.group(2) == "YEAR" else 1
                )
                out[f"range_{fld}"] = facet_range_counts_date(
                    spark, index, q, fld, str(rstart), str(rend), months,
                    filters=filters or None, op=comp_op, other=rother,
                )
            else:
                out[f"range_{fld}"] = facet_range_counts(
                    spark, index, q, fld, int(rstart), int(rend),
                    int(rgap), filters=filters or None, op=comp_op,
                    other=rother,
                )
    if _flag("facet") and params.get("facet.pivot"):
        pf = [c.strip() for c in str(params["facet.pivot"]).split(",")]
        if len(pf) != 2:
            raise ValueError(
                f"facet.pivot supports exactly two fields, got {pf!r}"
            )
        out["facet_pivot"] = facet_pivot_counts(
            spark, index, q, (pf[0], pf[1]), filters=filters or None,
            op=comp_op,
        )
    if _flag("spellcheck"):
        out["spellcheck"] = spellcheck_collations(
            spark, index, q,
            max_collations=int(params.get("spellcheck.maxCollations", 3)),
            max_tries=int(params.get("spellcheck.maxCollationTries", 5)),
            filters=filters or None, op=comp_op,
        )
    if _flag("stats") and params.get("stats.field"):
        out["stats"] = stats_field(
            spark, index, q, str(params["stats.field"]),
            filters=filters or None, op=comp_op,
            facet=params.get("stats.facet"),
        )
    if _flag("terms"):
        tfl = str(params.get("terms.fl", "content"))
        if tfl != "content":
            raise ValueError(
                f"terms.fl={tfl!r}: only the analyzed content dictionary "
                "is term-indexed"
            )
        out["terms"] = terms_component(
            spark, index,
            prefix=str(params.get("terms.prefix", "")),
            k=int(params.get("terms.limit", 10)),
            min_df=int(params.get("terms.mincount", 1)),
            regex=params.get("terms.regex"),
        )
    if _flag("hl") and params.get("hl.fl"):
        out["highlighting"] = highlight_fields(
            spark, index, q,
            [c.strip() for c in str(params["hl.fl"]).split(",")],
            k=rows, filters=filters or None, synonyms=synonyms, op=comp_op,
            pre=str(params.get("hl.simple.pre", "<em>")),
            post=str(params.get("hl.simple.post", "</em>")),
        )
    if _flag("group") and params.get("group.field"):
        out["grouped"] = search_grouped(
            spark, index, q, str(params["group.field"]),
            group_limit=int(params.get("group.limit", 1)),
            filters=filters or None, op=comp_op,
        )
    return out
