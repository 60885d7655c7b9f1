"""Round-5h component completions: stats.facet, terms.regex, group.func,
group.query — the remaining per-component params of the embedded Solr the
reference targets (StatsComponent solrconfig.xml:1168, TermsComponent
:1463, the grouping component's query/func group sources).
"""

import re

import pytest
from pyspark.sql import functions as F

from cascading_solr_spark.corpus import synth_corpus
from cascading_solr_spark.indexing.build import build_index
from cascading_solr_spark.query.search import (
    match_ids,
    search,
    search_grouped,
    search_grouped_queries,
    stats_field,
    terms_component,
)
from cascading_solr_spark.spec import IndexSpec

R5H_SPEC = IndexSpec(
    num_shards=2,
    salt_buckets=2,
    block_size=16,
    keyword_fields=("lang",),
    stored_fields=("repo", "lang", "textlen", "content"),
)


@pytest.fixture(scope="module")
def ix(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("r5hix") / "ix")
    corpus = synth_corpus(spark, 300, partitions=4).withColumn(
        "textlen", F.length("content")
    )
    return build_index(spark, corpus, R5H_SPEC, out)


def _docs_map(spark, ix, ids, *fields):
    rows = (
        ix.docs(spark)
        .select("doc_id", *fields)
        .filter(F.col("doc_id").isin(list(ids)))
        .collect()
    )
    return {r["doc_id"]: tuple(r[f] for f in fields) for r in rows}


def test_stats_facet_per_bucket(spark, ix):
    """stats.facet=lang: per-lang stats equal a pandas recompute, buckets
    value-ordered, and sum over buckets equals the ungrouped stats row."""
    import statistics

    got = stats_field(spark, ix, "parse buffer", "textlen", facet="lang").collect()
    ids = {r["doc_id"] for r in match_ids(spark, ix, "parse buffer").collect()}
    vals = _docs_map(spark, ix, ids, "lang", "textlen")
    by_lang = {}
    for _, (lang, tl) in vals.items():
        by_lang.setdefault(lang, []).append(tl)
    assert [r["facet"] for r in got] == sorted(by_lang)
    for r in got:
        xs = by_lang[r["facet"]]
        assert r["n"] == len(xs)
        assert r["missing"] == 0
        assert (r["min"], r["max"], r["sum"]) == (min(xs), max(xs), sum(xs))
        assert r["mean"] == pytest.approx(sum(xs) / len(xs))
        assert r["stddev"] == pytest.approx(statistics.stdev(xs))
    flat = stats_field(spark, ix, "parse buffer", "textlen").collect()[0]
    assert flat["n"] == sum(r["n"] for r in got)
    assert flat["sum"] == sum(r["sum"] for r in got)


def test_stats_facet_rejects_unstored(spark, ix):
    with pytest.raises(ValueError, match="stats.facet"):
        stats_field(spark, ix, "parse", "textlen", facet="path")


def test_terms_regex_anchored(spark, ix):
    """terms.regex matches the WHOLE term (Matcher.matches rule): 'pars.'
    hits 'parse' but never 'parser42'."""
    got = [r["term"] for r in terms_component(spark, ix, regex="pars.", k=50).collect()]
    d = {
        r["term"]: r["df"]
        for r in terms_component(spark, ix, prefix="pars", k=1_000_000).collect()
    }
    want = [t for t in d if re.fullmatch("pars.", t)]
    assert sorted(got) == sorted(want)
    assert "parse" in got
    assert all(len(t) == 5 for t in got)
    # composes with prefix (the pruned-scan fast path)
    both = [
        r["term"]
        for r in terms_component(spark, ix, prefix="pars", regex="pars.", k=50).collect()
    ]
    assert sorted(both) == sorted(got)


def test_group_func_matches_field_twin(spark, ix):
    """group.func over a monotone bijection of a field groups exactly like
    the field itself (same membership, same ranks, keys transformed)."""
    by_field = search_grouped(
        spark, ix, "parse buffer", "textlen", group_limit=2, k_groups=5
    ).collect()
    by_func = search_grouped(
        spark, ix, "parse buffer", "sum(textlen,1000)", group_limit=2, k_groups=5
    ).collect()
    assert [(r["doc_id"], r["group_rank"], r["group_hits"]) for r in by_field] == [
        (r["doc_id"], r["group_rank"], r["group_hits"]) for r in by_func
    ]
    for f, g in zip(by_field, by_func):
        assert float(g["group"]) == float(f["group"]) + 1000.0


def test_group_queries_naive(spark, ix):
    """group.query legs: membership = base ∧ sub-query, scores global,
    hits exact, request order preserved."""
    q = "parse buffer"
    base = {
        r["doc_id"]: r["score"]
        for r in search(spark, ix, q, k=None, with_stored=False).collect()
    }
    gqs = {"go docs": "lang:go", "mergeful": "merge"}
    got = search_grouped_queries(
        spark, ix, q, gqs, group_limit=3
    ).collect()
    assert [r["group"] for r in got[:3]] == ["go docs"] * 3
    for name, gq in gqs.items():
        member = {
            r["doc_id"] for r in match_ids(spark, ix, gq).collect()
        } & set(base)
        rows = [r for r in got if r["group"] == name]
        assert all(r["group_hits"] == len(member) for r in rows)
        want = sorted(member, key=lambda d: (-base[d], d))[:3]
        assert [r["doc_id"] for r in rows] == want
        for r in rows:
            assert r["score"] == pytest.approx(base[r["doc_id"]])


# --- /select raw-params facade ---------------------------------------------


def test_select_params_parity(spark, ix):
    """The raw-params /select facade routes each request shape to the same
    result as the direct component call."""
    from cascading_solr_spark.handlers import select
    from cascading_solr_spark.query.search import (
        search as _search,
        search_boosted,
        search_sorted,
    )

    def ids(df):
        return [r["doc_id"] for r in df.collect()]

    # plain ranked + keyword fq
    got = select(spark, ix, {"q": "parse buffer", "fq": "lang:go", "rows": 5})
    want = _search(spark, ix, "parse buffer", filters={"lang": "go"}, k=5)
    assert ids(got["results"]) == ids(want)
    # numeric-range fq -> doc-filter path, half-open
    got = select(
        spark, ix, {"q": "parse buffer", "fq": "textlen:[900 TO *]", "rows": 5}
    )
    want = _search(spark, ix, "parse buffer", doc_filter="textlen >= 900", k=5)
    assert ids(got["results"]) == ids(want)
    # bf boost routing
    got = select(spark, ix, {"q": "parse buffer", "bf": "div(textlen,100)"})
    want = search_boosted(spark, ix, "parse buffer", bf="div(textlen,100)", k=10)
    assert ids(got["results"]) == ids(want)
    # field sort + paging
    got = select(
        spark, ix, {"q": "parse", "sort": "textlen asc", "rows": 5, "start": 5}
    )
    want = search_sorted(spark, ix, "parse", "textlen", ascending=True, k=5, start=5)
    assert ids(got["results"]) == ids(want)
    # function sort
    got = select(
        spark, ix, {"q": "parse", "sort": "recip(textlen,1,1000,100) desc"}
    )
    from cascading_solr_spark.query.search import sort_by_function

    want = sort_by_function(
        spark, ix, "parse", "recip(textlen,1,1000,100)", ascending=False, k=10
    )
    assert ids(got["results"]) == ids(want)


def test_select_sections_and_guards(spark, ix):
    from cascading_solr_spark.handlers import select

    out = select(
        spark, ix,
        {
            "q": "parse buffer",
            "facet": "true", "facet.field": "lang",
            "hl": "true", "hl.fl": "content",
            "group": "true", "group.field": "lang", "group.limit": "2",
        },
    )
    assert set(out) == {"results", "facet_fields", "highlighting", "grouped"}
    assert out["facet_fields"].count() > 0
    assert out["grouped"].count() > 0
    with pytest.raises(ValueError, match="unsupported /select params"):
        select(spark, ix, {"q": "x", "qff": "typo"})
    with pytest.raises(ValueError, match="neither a keyword"):
        select(spark, ix, {"q": "x", "fq": "nosuch:val"})


def test_select_doc_filter_composes_not_drops(spark, ix):
    """A numeric-range fq must never be silently dropped: it composes with
    sort/bf routes and raises loudly on the dismax route."""
    from cascading_solr_spark.handlers import select
    from cascading_solr_spark.query.search import match_ids

    allowed = {
        r["doc_id"]
        for r in match_ids(spark, ix, "parse", doc_filter="textlen >= 900").collect()
    }
    assert allowed  # non-vacuous
    got = select(
        spark, ix,
        {"q": "parse", "fq": "textlen:[900 TO *]", "sort": "textlen asc",
         "rows": 50},
    )
    ids = [r["doc_id"] for r in got["results"].collect()]
    assert ids and set(ids) <= allowed
    got = select(
        spark, ix,
        {"q": "parse", "fq": "textlen:[900 TO *]", "bf": "div(textlen,100)",
         "rows": 50},
    )
    ids = [r["doc_id"] for r in got["results"].collect()]
    assert ids and set(ids) <= allowed
    # dismax route: composes exactly (full-match dismax + semi-join)
    from cascading_solr_spark.query.search import search_dismax

    got = select(
        spark, ix,
        {"q": "parse", "fq": "textlen:[900 TO *]",
         "defType": "edismax", "qf": "content", "rows": 50},
    )
    ids = [r["doc_id"] for r in got["results"].collect()]
    assert ids and set(ids) <= allowed
    base = {
        r["doc_id"]: r["score"]
        for r in search_dismax(
            spark, ix, "parse", {"content": 1.0}, k=None, with_stored=False
        ).collect()
    }
    want = sorted(
        ((d, s) for d, s in base.items() if d in allowed),
        key=lambda x: (-x[1], x[0]),
    )[:50]
    assert ids == [d for d, _ in want]


def test_select_cursor_mark_protocol(spark, ix):
    """/select cursorMark: '*' first page, next_cursor_mark from the
    collected page, pages tile the ranking exactly like offset paging —
    on BOTH the score sort and a field sort; start>0 with cursorMark
    raises (Solr rule)."""
    from cascading_solr_spark.handlers import next_cursor_mark, select
    from cascading_solr_spark.query.search import search as _search

    q = "parse buffer"
    full = [
        r["doc_id"]
        for r in _search(spark, ix, q, k=20, with_stored=False).collect()
    ]
    p1 = select(spark, ix, {"q": q, "cursorMark": "*", "rows": 10})[
        "results"
    ].collect()
    mark = next_cursor_mark(p1)
    p2 = select(spark, ix, {"q": q, "cursorMark": mark, "rows": 10})[
        "results"
    ].collect()
    assert [r["doc_id"] for r in p1] + [r["doc_id"] for r in p2] == full

    # field sort: cursor pages equal offset pages
    sful = select(
        spark, ix, {"q": q, "sort": "textlen asc", "rows": 20}
    )["results"].collect()
    s1 = select(
        spark, ix, {"q": q, "sort": "textlen asc", "cursorMark": "*",
                    "rows": 10}
    )["results"].collect()
    smark = next_cursor_mark(s1, "textlen")
    s2 = select(
        spark, ix, {"q": q, "sort": "textlen asc", "cursorMark": smark,
                    "rows": 10}
    )["results"].collect()
    assert [r["doc_id"] for r in s1 + s2] == [r["doc_id"] for r in sful]

    with pytest.raises(ValueError, match="start must be 0"):
        select(spark, ix, {"q": q, "cursorMark": "*", "start": 5})
    with pytest.raises(ValueError, match="does not compose"):
        select(spark, ix, {"q": q, "cursorMark": "*", "mm": "2"})


def test_select_full_component_stack(spark, ix):
    """/select raw params route every component section to the same rows
    as the direct component call: facet.query, numeric facet.range with a
    per-field override, facet.pivot, spellcheck, stats(+facet), terms."""
    from cascading_solr_spark.handlers import select
    from cascading_solr_spark.query.search import (
        facet_query_counts,
        facet_range_counts,
        spellcheck_collations,
        stats_field,
        terms_component,
    )

    q = "parse buffer"
    out = select(spark, ix, {
        "q": q, "rows": 5,
        "facet": "true",
        "facet.query": ["lang:go", "merge"],
        "facet.range": "textlen",
        "facet.range.start": 0, "facet.range.end": 4000,
        "f.textlen.facet.range.gap": 1000,
        "facet.range.other": "all",
        "spellcheck": "true", "spellcheck.maxCollations": 2,
        "stats": "true", "stats.field": "textlen", "stats.facet": "lang",
        "terms": "true", "terms.prefix": "s", "terms.limit": 5,
    })
    assert set(out) == {
        "results", "facet_queries", "range_textlen",
        "spellcheck", "stats", "terms",
    }
    assert out["facet_queries"].collect() == facet_query_counts(
        spark, ix, q, {"lang:go": "lang:go", "merge": "merge"}
    ).collect()
    assert out["range_textlen"].collect() == facet_range_counts(
        spark, ix, q, "textlen", 0, 4000, 1000, other=True
    ).collect()
    # pivot needs two KEYWORD fields (this fixture has one) — assert the
    # routing parses and the arity guard fires; full pivot parity is the
    # oracle-checked ft_facet_pivot entry
    with pytest.raises(ValueError, match="exactly two fields"):
        select(spark, ix, {"q": q, "facet": "true",
                           "facet.pivot": "lang,repo,path"})
    assert out["spellcheck"].collect() == spellcheck_collations(
        spark, ix, q, max_collations=2
    ).collect()
    assert out["stats"].collect() == stats_field(
        spark, ix, q, "textlen", facet="lang"
    ).collect()
    assert out["terms"].collect() == terms_component(
        spark, ix, prefix="s", k=5
    ).collect()
    # date-range gap parsing + guards
    with pytest.raises(ValueError, match="requires start/end/gap"):
        select(spark, ix, {"q": q, "facet": "true", "facet.range": "textlen"})
    with pytest.raises(ValueError, match="unsupported /select params"):
        select(spark, ix, {"q": q, "facet.rnage": "textlen"})
    with pytest.raises(ValueError, match="terms.fl"):
        select(spark, ix, {"q": q, "terms": "true", "terms.fl": "lang"})


def test_mlt_docs_batch_matches_per_doc(spark, ix):
    """more_like_this_docs (ONE batched kernel pass for the whole page) is
    rank-identical per source to the per-doc content-stream MLT with
    self-exclusion; browse(mlt=True) attaches the same section."""
    from cascading_solr_spark.handlers import browse
    from cascading_solr_spark.query.search import (
        more_like_this,
        more_like_this_docs,
        search,
    )

    page = search(spark, ix, "parse buffer", k=4).collect()
    ids = [r["doc_id"] for r in page]
    texts = {r["doc_id"]: r["content"] for r in page}
    batched = more_like_this_docs(spark, ix, ids, count=3).collect()
    for src in ids:
        want = [
            (r["doc_id"], round(r["score"], 6))
            for r in more_like_this(
                spark, ix, texts[src], k=3, exclude_doc_id=src
            ).collect()
        ]
        got = [
            (r["doc_id"], round(r["score"], 6))
            for r in batched
            if r["src"] == src
        ]
        assert got == want, f"src {src}"
    via_browse = browse(
        spark, ix, "parse buffer", rows=4, mlt=True, spellcheck=False
    )["mlt"].collect()
    assert [tuple(r) for r in via_browse] == [tuple(r) for r in batched]
    # content must be stored
    import pytest as _pt
    from cascading_solr_spark.indexing.build import Index as _Ix
    import dataclasses
    bad = dataclasses.replace(ix, spec=dataclasses.replace(
        ix.spec, stored_fields=("repo", "lang")))
    with _pt.raises(ValueError, match="stored"):
        more_like_this_docs(spark, bad, ids)


def test_facet_offset_pages_buckets(spark, ix):
    """facet.offset pages into each field's bucket order: offset+limit
    windows tile the unpaged bucket list; /select routes the param."""
    from cascading_solr_spark.handlers import select
    from cascading_solr_spark.query.search import facet_fields_counts

    q = "parse buffer"
    full = facet_fields_counts(spark, ix, q, ["lang"]).collect()
    p1 = facet_fields_counts(spark, ix, q, ["lang"], limit=2).collect()
    p2 = facet_fields_counts(
        spark, ix, q, ["lang"], limit=2, offset=2
    ).collect()
    assert [tuple(r) for r in p1 + p2] == [tuple(r) for r in full[:4]]
    # offset without limit: drop the first N buckets, keep the tail
    tail = facet_fields_counts(spark, ix, q, ["lang"], offset=2).collect()
    assert [tuple(r) for r in tail] == [tuple(r) for r in full[2:]]
    via = select(spark, ix, {
        "q": q, "facet": "true", "facet.field": "lang",
        "facet.limit": 2, "facet.offset": 2,
    })["facet_fields"].collect()
    assert [tuple(r) for r in via] == [tuple(r) for r in p2]


def test_select_facet_sort_legacy_values(spark, ix):
    """/select takes Solr's legacy facet.sort=true/false as count/index
    (and facet.limit=-1 as no limit), and rejects any other sort value
    naming the argument."""
    from cascading_solr_spark.handlers import select
    from cascading_solr_spark.query.search import facet_fields_counts

    q = "parse buffer"
    for legacy, sort in (("true", "count"), ("false", "index")):
        want = facet_fields_counts(spark, ix, q, ["lang"], sort=sort).collect()
        via = select(spark, ix, {
            "q": q, "facet": "true", "facet.field": "lang",
            "facet.sort": legacy, "facet.limit": -1,
        })["facet_fields"].collect()
        assert [tuple(r) for r in via] == [tuple(r) for r in want] != []
    with pytest.raises(ValueError, match="sort='lex'"):
        select(spark, ix, {
            "q": q, "facet": "true", "facet.field": "lang",
            "facet.sort": "lex",
        })


def test_select_facets_count_over_the_results_docset(spark, ix):
    """/select facet.field counts the DocSet its results come from: the
    request's synonyms expand the facet match as they expand the query."""
    from cascading_solr_spark.handlers import select
    from cascading_solr_spark.query.search import facet_fields_counts

    syn = {"json": ["retry"]}
    via = select(spark, ix, {
        "q": "json", "synonyms": syn, "rows": 1000, "facet": "true",
        "facet.field": "lang",
    })
    got = [tuple(r) for r in via["facet_fields"].collect()]
    want = facet_fields_counts(spark, ix, "json", ["lang"], synonyms=syn)
    plain = facet_fields_counts(spark, ix, "json", ["lang"])
    assert got == [tuple(r) for r in want.collect()]
    assert got != [tuple(r) for r in plain.collect()]  # non-vacuous
    results = via["results"].select("lang").collect()
    assert sum(n for _, _, n in got) == len(results)


def test_select_all_terms_mm_counts_the_results_docset(spark, ix):
    """mm=100% runs the components with op=AND (the /browse rule), so the
    facet buckets count the results' DocSet, not the OR one."""
    from cascading_solr_spark.handlers import select
    from cascading_solr_spark.query.search import facet_fields_counts

    q = "json retry merge"
    via = select(spark, ix, {
        "q": q, "mm": "100%", "rows": 1000, "facet": "true",
        "facet.field": "lang",
    })
    got = [tuple(r) for r in via["facet_fields"].collect()]
    results = via["results"].select("doc_id").collect()
    assert sum(n for _, _, n in got) == len(results) > 0
    want = facet_fields_counts(spark, ix, q, ["lang"], op="AND")
    assert got == [tuple(r) for r in want.collect()]
    loose = facet_fields_counts(spark, ix, q, ["lang"])
    assert sum(r["n"] for r in loose.collect()) > len(results)  # non-vacuous


@pytest.mark.parametrize("component", [
    {"facet": "true", "facet.field": "lang"},
    {"facet": "true", "facet.query": "lang:go"},
    {"stats": "true", "stats.field": "textlen"},
    {"group": "true", "group.field": "lang"},
])
def test_select_partial_mm_refused_where_it_would_drop(spark, ix, component):
    """Any other mm is never silently dropped from the components that
    count over a match set: the pair raises by name, and the same request
    without mm, or with mm alone, is served."""
    from cascading_solr_spark.handlers import select

    params = {"q": "json retry merge", "mm": "2", **component}
    with pytest.raises(ValueError, match="mm='2' does not compose"):
        select(spark, ix, params)
    select(spark, ix, {"q": "json retry merge", "mm": "2"})
    params.pop("mm")
    select(spark, ix, params)


@pytest.mark.parametrize("route", [
    {"bf": "div(textlen,100)"},
    {"bq": "lang:go^2.5"},
    {"sort": "textlen asc"},
    {"sort": "recip(textlen,1,1000,100) desc"},
])
def test_select_mm_on_op_only_routes(spark, ix, route):
    """The boosted and sorted routes take an op, not an mm floor: mm=100%
    is op=AND, any other mm raises by name rather than being dropped."""
    from cascading_solr_spark.handlers import select

    q = "json retry merge"
    with pytest.raises(ValueError, match="mm='2' does not compose"):
        select(spark, ix, {"q": q, "mm": "2", "rows": 1000, **route})

    def ids(params):
        got = select(spark, ix, {"q": q, "rows": 1000, **route, **params})
        return [r["doc_id"] for r in got["results"].collect()]

    all_terms = ids({"mm": "100%"})
    assert all_terms and all_terms == ids({"q.op": "AND"})
    assert len(ids({})) > len(all_terms)  # non-vacuous: OR matches more


@pytest.mark.parametrize("component", [
    {"facet": "true", "facet.field": "lang"},
    {"facet": "true", "facet.query": "lang:go"},
    {"facet": "true", "facet.range": "textlen", "facet.range.start": 0,
     "facet.range.end": 4000, "facet.range.gap": 1000},
    {"facet": "true", "facet.pivot": "lang,repo"},
    {"stats": "true", "stats.field": "textlen"},
    {"group": "true", "group.field": "lang"},
])
def test_select_numeric_fq_refused_where_it_would_drop(spark, ix, component):
    """A numeric-range fq is never silently dropped: the components that
    count over the keyword match set alone refuse it by name."""
    from cascading_solr_spark.handlers import select

    params = {"q": "parse", "fq": "textlen:[900 TO *]", **component}
    with pytest.raises(ValueError, match="numeric-range fq"):
        select(spark, ix, params)
    if "facet.pivot" not in component:  # this fixture has one keyword field
        params.pop("fq")
        select(spark, ix, params)  # the same request without it is served


def test_terms_bounds_and_group_ngroups(spark, ix):
    """terms.lower/upper bound the vocabulary walk (lower incl, upper
    excl — Solr defaults); group.ngroups reports the total distinct
    matching groups regardless of the k_groups cut."""
    from cascading_solr_spark.query.search import (
        search_grouped,
        terms_component,
    )

    allt = {r["term"] for r in terms_component(spark, ix, k=1_000_000).collect()}
    rng = {r["term"] for r in terms_component(
        spark, ix, lower="m", upper="q", k=1_000_000).collect()}
    assert rng == {t for t in allt if "m" <= t < "q"} and rng
    inc = {r["term"] for r in terms_component(
        spark, ix, lower="m", upper="q", lower_incl=False, upper_incl=True,
        k=1_000_000).collect()}
    assert inc == {t for t in allt if "m" < t <= "q"}

    got = search_grouped(
        spark, ix, "parse buffer", "lang", group_limit=1, k_groups=2,
        with_ngroups=True,
    ).collect()
    truth = (
        search_grouped(spark, ix, "parse buffer", "lang", group_limit=1,
                       k_groups=None)
        .select("group").distinct().count()
    )
    assert got and all(r["ngroups"] == truth for r in got)
    assert len({r["group"] for r in got}) == 2  # the cut still applies
