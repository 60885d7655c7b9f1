"""Round-5 behaviors:

* cursorMark deep paging (search_after): page-by-cursor equals offset
  paging over the full ranking, composes with filters/op, and per-page
  cost is depth-independent (k rows per shard, no start+k growth);
* date-typed facet.range with month-arithmetic gaps + facet.range.other
  buckets (the reference /browse config's manufacturedate_dt +1YEAR facet,
  solrconfig.xml:909-914, and other=after for price, :900);
* analyzer-complete highlighting: every analyzed token is a contiguous
  substring of its source text (property test), so a camelCase-only match
  yields a wrapped snippet — and offsets are computed on the ORIGINAL
  text (regexp_instr), immune to Unicode case-folding length shifts;
* batched search parity: per-query filters / op / synonyms / query-string
  predicates in search_many match the single-query twin exactly;
* collation batching: one suggestion job for all unknown terms, identical
  results to per-term suggest_terms, and the hit count honors the original
  request's filters;
* facet.pivot outer counts independent of the inner field.
"""

import random
import string
import uuid

import pytest
from pyspark.sql import functions as F

from cascading_solr_spark.analyzer import tokenize
from cascading_solr_spark.corpus import synth_corpus
from cascading_solr_spark.indexing.build import build_index
from cascading_solr_spark.query.search import (
    facet_pivot_counts,
    facet_range_counts,
    facet_range_counts_date,
    highlight,
    next_cursor,
    search,
    search_after,
    search_many,
    spellcheck_collate,
    suggest_many,
    suggest_terms,
)
from cascading_solr_spark.spec import IndexSpec

R5_SPEC = IndexSpec(
    num_shards=2,
    salt_buckets=2,
    block_size=16,
    keyword_fields=("lang", "repo"),
    stored_fields=("repo", "path", "lang", "contentlen", "cdate", "content"),
)


@pytest.fixture(scope="module")
def r5_index(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("r5ix") / "ix")
    corpus = (
        synth_corpus(spark, 400, partitions=4)
        .withColumn("contentlen", F.length("content"))
        # deterministic DATE column for the date facet (day spread ~2.5y)
        .withColumn(
            "cdate",
            F.date_add(
                F.to_date(F.lit("2020-01-01")),
                F.pmod(F.xxhash64("path"), F.lit(900)).cast("int"),
            ),
        )
    )
    return build_index(spark, corpus, R5_SPEC, out)


# ------------------------------------------------------------ cursor paging


def test_cursor_paging_equals_offset_paging(spark, r5_index):
    q = "parse buffer retry"
    # mode="taat" = the same accumulation order as search_after's kernel, so
    # the comparison is exact-float; vs the MaxScore kernel scores differ in
    # the last ULP (different accumulation order), rank-identical modulo ties
    full = [
        (r["doc_id"], r["score"])
        for r in search(
            spark, r5_index, q, k=40, mode="taat", with_stored=False
        ).collect()
    ]
    assert len(full) == 40
    paged, cursor = [], None
    for _ in range(4):
        page = search_after(spark, r5_index, q, cursor=cursor, k=10).collect()
        assert len(page) == 10
        paged += [(r["doc_id"], r["score"]) for r in page]
        cursor = next_cursor(page)
    # exact float equality: identical arithmetic per run -> bit-equal
    assert paged == full


def test_cursor_paging_with_filters_and_op(spark, r5_index):
    kw = {"filters": {"lang": "java"}, "op": "AND"}
    full = [
        (r["doc_id"], r["score"])
        for r in search(
            spark, r5_index, "parse buffer", k=20, with_stored=False, **kw
        ).collect()
    ]
    p1 = search_after(spark, r5_index, "parse buffer", k=10, **kw).collect()
    p2 = search_after(
        spark, r5_index, "parse buffer", cursor=next_cursor(p1), k=10, **kw
    ).collect()
    assert [(r["doc_id"], r["score"]) for r in p1 + p2] == full


def test_cursor_paging_exhausts_and_pure_filter(spark, r5_index):
    from cascading_solr_spark.query.search import CURSOR_END

    # drain a zero-hit query: empty page -> CURSOR_END, and feeding it back
    # yields empty pages (a drain loop terminates, never restarts at page 1)
    page = search_after(spark, r5_index, "zzqxv", k=10).collect()
    assert page == [] and next_cursor(page) == CURSOR_END
    hits = search_after(spark, r5_index, "parse", k=3).collect()
    assert hits
    assert (
        search_after(spark, r5_index, "parse", cursor=CURSOR_END, k=3).collect()
        == []
    )
    # pure keyword-filter query: doc_id-ordered pages, cursor = id floor
    p1 = search_after(spark, r5_index, "lang:java", k=5).collect()
    p2 = search_after(
        spark, r5_index, "lang:java", cursor=next_cursor(p1), k=5
    ).collect()
    ids = [r["doc_id"] for r in p1 + p2]
    expected = [
        r["doc_id"]
        for r in search(spark, r5_index, "lang:java", k=10, with_stored=False)
        .orderBy("doc_id")
        .collect()
    ]
    assert ids == sorted(ids) == expected


# --------------------------------------------------------- date facet.range


def test_facet_range_date_buckets(spark, r5_index):
    rows = facet_range_counts_date(
        spark, r5_index, "parse", "cdate", "2020-03-01", "2021-03-01", 3
    ).collect()
    assert [str(r["range_start"]) for r in rows] == [
        "2020-03-01", "2020-06-01", "2020-09-01", "2020-12-01"
    ]
    # independent oracle: per-bucket range predicates over explicit edges
    # (no month arithmetic shared with the implementation)
    import datetime as dt

    def addm(d, m):
        t = d.year * 12 + d.month - 1 + m
        return dt.date(t // 12, t % 12 + 1, d.day)

    edges = [addm(dt.date(2020, 3, 1), 3 * i) for i in range(5)]
    joined = r5_index.docs(spark).join(
        search(spark, r5_index, "parse", k=None, with_stored=False).select(
            "doc_id"
        ),
        "doc_id",
    )
    for i, r in enumerate(rows):
        n = joined.filter(
            (F.col("cdate") >= F.lit(str(edges[i])))
            & (F.col("cdate") < F.lit(str(edges[i + 1])))
        ).count()
        assert r["n"] == n, (r, edges[i])


def test_facet_range_date_other_buckets(spark, r5_index):
    rows = {
        r["bucket"]: r["n"]
        for r in facet_range_counts_date(
            spark, r5_index, "parse", "cdate", "2020-03-01", "2021-03-01", 3,
            other=True,
        ).collect()
    }
    total = (
        search(spark, r5_index, "parse", k=None, with_stored=False).count()
    )
    assert rows["before"] + rows["between"] + rows["after"] == total
    assert rows["between"] == sum(
        n for b, n in rows.items() if b not in ("before", "after", "between")
    )
    assert rows["before"] > 0 and rows["after"] > 0  # spread guarantees both


def test_facet_range_date_partial_trailing_bucket(spark, r5_index):
    # hardend=false: end mid-gap -> the last bucket still exists (edge < end)
    rows = facet_range_counts_date(
        spark, r5_index, "parse", "cdate", "2020-03-01", "2020-08-15", 3
    ).collect()
    assert [str(r["range_start"]) for r in rows] == ["2020-03-01", "2020-06-01"]


def test_facet_range_date_rejects_clamping_start(spark, r5_index):
    with pytest.raises(ValueError, match="day-of-month"):
        facet_range_counts_date(
            spark, r5_index, "parse", "cdate", "2020-01-31", "2021-01-31", 1
        )


def test_facet_range_numeric_other_buckets(spark, r5_index):
    rows = {
        r["bucket"]: r["n"]
        for r in facet_range_counts(
            spark, r5_index, "parse", "contentlen", 300, 600, 100, other=True
        ).collect()
    }
    total = search(spark, r5_index, "parse", k=None, with_stored=False).count()
    assert rows["before"] + rows["between"] + rows["after"] == total
    # other=False path unchanged: same in-range counts, original schema
    plain = facet_range_counts(
        spark, r5_index, "parse", "contentlen", 300, 600, 100
    ).collect()
    assert [r["n"] for r in plain] == [rows["300"], rows["400"], rows["500"]]
    # hardend=false: end mid-gap -> the last bucket extends past it and
    # 'after' starts at the effective end (start + n_buckets*gap), the same
    # semantics as the date path
    hrows = {
        r["bucket"]: r["n"]
        for r in facet_range_counts(
            spark, r5_index, "parse", "contentlen", 300, 650, 100, other=True
        ).collect()
    }
    assert set(hrows) == {"300", "400", "500", "600", "before", "after", "between"}
    docs = r5_index.docs(spark)
    matched = search(
        spark, r5_index, "parse", k=None, with_stored=False
    ).select("doc_id")
    in_last = (
        docs.join(matched, "doc_id")
        .filter((F.col("contentlen") >= 600) & (F.col("contentlen") < 700))
        .count()
    )
    assert hrows["600"] == in_last


# ------------------------------------------------------- highlight fidelity


def test_every_token_is_a_substring_of_its_text():
    """The analyzer-completeness property substring highlighting relies on:
    primary tokens are maximal alnum runs, sub-parts are contiguous within a
    run, and catenation re-joins exactly one run — so every emitted token
    occurs contiguously (case-insensitively) in the source text."""
    rng = random.Random(5)
    alphabet = string.ascii_letters + string.digits + " _.-()/"
    for _ in range(2000):
        s = "".join(rng.choice(alphabet) for _ in range(60))
        low = s.lower()
        for t in tokenize(s):
            assert t in low, (s, t)


def test_highlight_wraps_camelcase_only_match(spark, tmp_path):
    """The reference's signature behavior (README.md:96-99,
    AbstractSolrSchemeTest.java:155-159): lowercase query ``turbowriter``
    matches stored "TurboWriter 2.3" through the analyzer — the snippet
    must wrap the original-case surface form, not fall back to the head."""
    spec = IndexSpec(
        num_shards=1, salt_buckets=1, block_size=16,
        stored_fields=("repo", "path", "content"),
    )
    corpus = spark.createDataFrame(
        [
            ("r", "a", "c0", "x", "the TurboWriter 2.3 word processor"),
            ("r", "b", "c0", "x", "plain words only here"),
        ],
        "repo string, path string, commit string, lang string, content string",
    )
    ix = build_index(spark, corpus, spec, str(tmp_path / "ix"))
    rows = highlight(spark, ix, "turbowriter", k=2, window=10).collect()
    assert len(rows) == 1
    assert rows[0]["term"] == "turbowriter"
    assert "<em>TurboWriter</em>" in rows[0]["snippet"]


def test_highlight_offsets_survive_unicode_case_folding(spark, tmp_path):
    """lower('İ') is a 2-char sequence: position arithmetic on lower(text)
    would shift the snippet by one.  regexp_instr on the ORIGINAL text keeps
    the wrapped span exact."""
    spec = IndexSpec(
        num_shards=1, salt_buckets=1, block_size=16,
        stored_fields=("repo", "path", "content"),
    )
    corpus = spark.createDataFrame(
        [("r", "a", "c0", "x", "İstanbul TurboWriter 2.3")],
        "repo string, path string, commit string, lang string, content string",
    )
    ix = build_index(spark, corpus, spec, str(tmp_path / "ix"))
    rows = highlight(spark, ix, "turbowriter", k=1, window=5).collect()
    assert "<em>TurboWriter</em>" in rows[0]["snippet"]


# -------------------------------------------------------------- batch parity


def test_search_many_full_request_parity(spark, r5_index):
    reqs = {
        "plain": "parse buffer",
        "filt": {"q": "parse buffer", "filters": {"lang": "java"}},
        "andq": {"q": "parse buffer", "op": "AND"},
        "syn": {"q": "parse", "synonyms": {"parse": ["buffer"]}},
        "qstr": {"q": "lang:java parse buffer"},
        "pure": {"q": "lang:java"},  # filter-only: no scoring terms at all
    }
    batch = search_many(spark, r5_index, reqs, k=10).collect()
    singles = {
        "plain": search(spark, r5_index, "parse buffer", k=10, with_stored=False),
        "pure": search(spark, r5_index, "lang:java", k=10, with_stored=False),
        "filt": search(
            spark, r5_index, "parse buffer", k=10, with_stored=False,
            filters={"lang": "java"},
        ),
        "andq": search(
            spark, r5_index, "parse buffer", k=10, with_stored=False, op="AND"
        ),
        "syn": search(
            spark, r5_index, "parse", k=10, with_stored=False,
            synonyms={"parse": ["buffer"]},
        ),
        "qstr": search(
            spark, r5_index, "lang:java parse buffer", k=10, with_stored=False
        ),
    }
    for qid, sdf in singles.items():
        want = [(r["doc_id"], r["score"]) for r in sdf.collect()]
        got = sorted(
            [
                (r["doc_id"], r["score"])
                for r in batch
                if r["query_id"] == qid
            ],
            key=lambda x: (-x[1], x[0]),
        )
        assert got == want, qid


# -------------------------------------------------------- batched collation


def test_suggest_many_matches_per_term_suggestions(spark, r5_index):
    unknown = ["parze", "bufffer", "retrry"]
    batched = {
        r["query_term"]: (r["term"], r["df"], r["distance"])
        for r in suggest_many(spark, r5_index, unknown, k=1).collect()
    }
    for t in unknown:
        single = suggest_terms(spark, r5_index, t, k=1).collect()
        assert batched[t] == (
            single[0]["term"], single[0]["df"], single[0]["distance"]
        ), t


def test_collate_is_batched_and_honors_filters(spark, r5_index, monkeypatch):
    # m misspelled terms must NOT pay m sequential driver-blocking suggest
    # actions — count collect()/count() calls (the AQE job count is not a
    # stable proxy: one action fans out into one job per shuffle stage)
    from pyspark.sql import DataFrame

    calls = {"n": 0}
    orig_collect, orig_count = DataFrame.collect, DataFrame.count

    def spy_collect(self):
        calls["n"] += 1
        return orig_collect(self)

    def spy_count(self):
        calls["n"] += 1
        return orig_count(self)

    monkeypatch.setattr(DataFrame, "collect", spy_collect)
    monkeypatch.setattr(DataFrame, "count", spy_count)
    row = orig_collect(
        spellcheck_collate(
            spark, r5_index, "parze bufffer retrry", filters={"lang": "java"}
        )
    )[0]
    assert calls["n"] <= 3, (
        f"expected <=3 driver actions for a 3-typo collation (one batched "
        f"suggest, one hit count, at most one dict-cache load), got {calls}"
    )
    assert row["collation"] == "parse buffer retry"
    # hit count runs under the ORIGINAL request's filters (Solr collation
    # check semantics) — equal to the filtered match count, below unfiltered
    from cascading_solr_spark.query.search import match_ids

    filtered = match_ids(
        spark, r5_index, "parse buffer retry", filters={"lang": "java"}
    ).count()
    unfiltered = match_ids(spark, r5_index, "parse buffer retry").count()
    assert row["hits"] == filtered < unfiltered


# ------------------------------------------------- pivot outer independence


def test_pivot_outer_counts_independent_of_inner(spark, tmp_path):
    """A matched doc with an outer keyword value but NO inner value must
    still count toward its outer bucket (Solr facet.pivot), surfacing as a
    (outer, NULL, 0, n_outer) row when the bucket has no inner pairs."""
    spec = IndexSpec(
        num_shards=1, salt_buckets=1, block_size=16,
        keyword_fields=("lang", "repo"),
        stored_fields=("repo", "path", "content"),
    )
    corpus = spark.createDataFrame(
        [
            ("r1", "a", "c0", "java", "alpha beta"),
            ("r1", "b", "c0", "java", "alpha gamma"),
            ("r2", "c", "c0", None, "alpha delta"),  # no inner (lang) value
        ],
        "repo string, path string, commit string, lang string, content string",
    )
    ix = build_index(spark, corpus, spec, str(tmp_path / "ix"))
    rows = facet_pivot_counts(spark, ix, "alpha", ("repo", "lang")).collect()
    by_outer = {}
    for r in rows:
        by_outer.setdefault(r["value_outer"], []).append(r)
    assert by_outer["r1"][0]["n_outer"] == 2
    # r2's matched doc has no lang posting: outer bucket survives with n=0
    assert len(by_outer["r2"]) == 1
    r2 = by_outer["r2"][0]
    assert (r2["n_outer"], r2["n"], r2["value_inner"]) == (1, 0, None)


# ------------------------- elevation / explain / realtime get (round 5b)


def test_explain_score_matches_ranked_score(spark, r5_index):
    from cascading_solr_spark.query.search import explain_score

    # OR (2 and 3 terms), a boost, AND, and a constant-score wildcard group
    for q, terms in [
        ("parse buffer", {"parse", "buffer"}),
        ("parse buffer retry", {"parse", "buffer", "retry"}),
        ("parse buffer^2", {"parse", "buffer"}),
        ("parse AND buffer", {"parse", "buffer"}),
        ("parse buf*", {"parse", "buf*"}),
    ]:
        top = search(
            spark, r5_index, q, k=1, mode="taat", with_stored=False
        ).collect()[0]
        rows = explain_score(spark, r5_index, q, top["doc_id"]).collect()
        assert rows and {r["term"] for r in rows} <= terms, q
        # the clause scorer adds a doc's term contributions in term order,
        # then its constant-score groups (tf=0 rows) in query order — the
        # same float64 path as this scalar sum
        ordered = sorted(
            (r for r in rows if r["tf"]), key=lambda r: r["term"]
        ) + [r for r in rows if not r["tf"]]
        total = 0.0
        for r in ordered:
            assert r["contribution"] == r["idf"] * r["tf_norm"]
            total += r["contribution"]
        assert total == top["score"], q


def _spark_jobs(spark, fn) -> int:
    """Spark jobs one call of ``fn`` runs (its own job group)."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.usefixtures("distributed_tier")
def test_spark_jobs_per_call(spark, r5_index):
    from cascading_solr_spark.indexing.build import Index
    from cascading_solr_spark.query.search import (
        explain_score,
        match_ids,
        search_dismax,
    )

    # no driver dict cache: every df lookup and dictionary expansion is a
    # Spark job, so an extra eager term_dfs / expand_multiterm shows here
    ix = Index.load(r5_index.path)
    object.__setattr__(ix, "_dict_cache", None)
    q = "parse buf* -retry lang:[go TO python]"
    calls = {
        "search": lambda: search(spark, ix, q, k=5, with_stored=False),
        "search_after": lambda: search_after(spark, ix, q, k=5),
        "match_ids": lambda: match_ids(spark, ix, q),
        "search_dismax": lambda: search_dismax(
            spark, ix, "parse buffer -retry lang:[go TO python]",
            {"content": 1.0}, k=5, with_stored=False,
        ),
        "search_many": lambda: search_many(
            spark, ix, {"a": q, "b": "retry AND parse"}, k=5
        ),
        "explain_score": lambda: explain_score(spark, ix, q, 3),
        "highlight": lambda: highlight(spark, ix, q, k=3),
    }
    want = {
        "search": 8, "search_after": 8, "match_ids": 8, "search_dismax": 6,
        "search_many": 9, "explain_score": 8, "highlight": 12,
    }
    for name, call in calls.items():
        call().collect()  # warm the handle's lazily built frames
        got = _spark_jobs(spark, lambda: call().collect())
        assert got == want[name], (name, got)


def test_spread_partitions_decides_from_the_plan(spark, tmp_path):
    from cascading_solr_spark.operators.textstats import spread_partitions

    # no Spark job: a bare range knows its partition count, and a frame
    # whose plan has an exchange comes back as is, its stages not run
    for df in (
        spark.range(100),
        spark.range(100).repartition(3),
        spark.range(100).limit(10).repartition(3),
    ):
        assert _spark_jobs(spark, lambda: spread_partitions(df)) == 0
    rep = spark.range(100).repartition(3)
    assert spread_partitions(rep).rdd.getNumPartitions() == 3
    # a 1-file scan is still spread to the default parallelism
    spark.range(100).coalesce(1).write.parquet(str(tmp_path / "one"))
    scan = spark.read.parquet(str(tmp_path / "one"))
    assert scan.rdd.getNumPartitions() == 1
    got = []
    assert _spark_jobs(spark, lambda: got.append(spread_partitions(scan))) == 0
    dp = spark.sparkContext.defaultParallelism
    assert got[0].rdd.getNumPartitions() == dp


def test_realtime_get_sees_appends_immediately(spark, tmp_path):
    from cascading_solr_spark.indexing.append import append_documents
    from cascading_solr_spark.query.search import realtime_get

    spec = IndexSpec(
        num_shards=2, salt_buckets=1, block_size=16,
        stored_fields=("repo", "path", "content"),
    )
    corpus = synth_corpus(spark, 50, partitions=2)
    ix = build_index(spark, corpus, spec, str(tmp_path / "ix"))
    got = realtime_get(spark, ix, [3, 1, 4]).collect()
    assert [r["doc_id"] for r in got] == [1, 3, 4]
    delta = spark.createDataFrame(
        [("rnew", "pnew", "c9", "java", "fresh appended doc")],
        "repo string, path string, commit string, lang string, content string",
    )
    ix2 = append_documents(spark, str(tmp_path / "ix"), delta)
    fresh = realtime_get(spark, ix2, [50]).collect()
    assert len(fresh) == 1 and fresh[0]["path"] == "pnew"


def test_search_elevated_pins_and_excludes(spark, r5_index):
    from cascading_solr_spark.query.search import search_elevated

    base = search(
        spark, r5_index, "parse buffer", k=12, with_stored=False
    ).collect()
    base_ids = [r["doc_id"] for r in base]
    pin_match = base_ids[4]          # a genuinely matching doc, pinned
    pin_nomatch = 399                # pinned despite (likely) low/no match
    exclude = base_ids[0]            # editorial removal of the top hit
    rows = search_elevated(
        spark, r5_index, "parse buffer",
        {"parse buffer": [pin_match, pin_nomatch, (exclude, True)]},
        k=10,
    ).collect()
    assert len(rows) == 10
    assert [r["doc_id"] for r in rows[:2]] == [pin_match, pin_nomatch]
    assert rows[0]["elevated"] and rows[1]["elevated"]
    assert all(not r["elevated"] for r in rows[2:])
    assert exclude not in {r["doc_id"] for r in rows}
    # the pinned matching doc keeps its REAL BM25 score (4dp vs the ranked
    # path: accumulation orders may differ in the last ULP)
    ranked_score = {r["doc_id"]: r["score"] for r in base}[pin_match]
    assert abs(rows[0]["score"] - ranked_score) < 1e-9
    # tail = normal ranking minus pinned/excluded
    want_tail = [
        i for i in base_ids if i not in (pin_match, pin_nomatch, exclude)
    ][:8]
    assert [r["doc_id"] for r in rows[2:]] == want_tail


def test_search_elevated_without_config_is_plain_search(spark, r5_index):
    from cascading_solr_spark.query.search import search_elevated

    plain = search(
        spark, r5_index, "parse", k=5, with_stored=False
    ).collect()
    rows = search_elevated(spark, r5_index, "parse", {}, k=5).collect()
    assert [(r["doc_id"], r["score"]) for r in rows] == [
        (r["doc_id"], r["score"]) for r in plain
    ]
    assert all(not r["elevated"] for r in rows)


# ------------------------------------------------- sorted cursor paging (r5i)


def test_sorted_cursor_paging_equals_offset(spark, r5_index):
    # Solr cursorMark under an arbitrary sort: walking pages by
    # (sort value, doc_id) cursor reproduces the full field-sorted ranking
    from cascading_solr_spark.query.search import search_sorted

    full = search_sorted(
        spark, r5_index, "parse buffer", "contentlen", ascending=True, k=40
    ).select("doc_id", "contentlen").collect()
    walked = []
    cursor = None
    while True:
        page = search_sorted(
            spark, r5_index, "parse buffer", "contentlen",
            ascending=True, k=10, cursor=cursor,
        ).select("doc_id", "contentlen").collect()
        if not page:
            break
        walked.extend(page)
        cursor = (page[-1]["contentlen"], page[-1]["doc_id"])
        if len(walked) >= len(full):
            break
    assert [r["doc_id"] for r in walked[: len(full)]] == [
        r["doc_id"] for r in full
    ]


def test_sorted_cursor_descending_and_start_conflict(spark, r5_index):
    from cascading_solr_spark.query.search import search_sorted

    full = search_sorted(
        spark, r5_index, "parse buffer", "contentlen", ascending=False, k=20
    ).collect()
    p1 = full[:10]
    p2 = search_sorted(
        spark, r5_index, "parse buffer", "contentlen", ascending=False,
        k=10, cursor=(p1[-1]["contentlen"], p1[-1]["doc_id"]),
    ).collect()
    assert [r["doc_id"] for r in p2] == [r["doc_id"] for r in full[10:20]]
    with pytest.raises(ValueError, match="mutually exclusive"):
        search_sorted(
            spark, r5_index, "parse buffer", "contentlen", k=10, start=10,
            cursor=(0, 0),
        )


def test_select_routes_date_range_facet(spark, r5_index):
    """/select facet.range with a string start routes to the DATE path,
    parsing Solr date-math gaps (+3MONTHS); bad gaps raise."""
    from cascading_solr_spark.handlers import select
    from cascading_solr_spark.query.search import facet_range_counts_date

    out = select(spark, r5_index, {
        "q": "parse buffer", "facet": "true", "facet.range": "cdate",
        "facet.range.start": "2020-03-01", "facet.range.end": "2022-03-01",
        "facet.range.gap": "+3MONTHS", "facet.range.other": "all",
    })
    assert out["range_cdate"].collect() == facet_range_counts_date(
        spark, r5_index, "parse buffer", "cdate",
        "2020-03-01", "2022-03-01", 3, other=True,
    ).collect()
    import pytest as _pt
    with _pt.raises(ValueError, match="date ranges take"):
        select(spark, r5_index, {
            "q": "parse buffer", "facet": "true", "facet.range": "cdate",
            "facet.range.start": "2020-03-01",
            "facet.range.end": "2022-03-01", "facet.range.gap": "+7DAYS",
        })
