"""Round-4 behaviors:

* highlighting (Solr highlight component, solrconfig.xml:917/1167/1177):
  snippets wrap the earliest-occurring analyzed query term in <em></em> at
  the correct offsets, require the content field stored, and fall back to an
  unhighlighted head fragment when no term occurs as a raw substring;
* facet.query (solrconfig.xml:896-897): named sub-query counts over the
  base match set equal independently-computed intersections;
* facet.range (solrconfig.xml:900-914): bucket counts over a stored numeric
  field, empty buckets included (facet.mincount=0 default);
* spellcheck n-gram scale path: identical suggestions to the full-dict scan
  while touching a bounded candidate set;
* batched multi-query search prunes per query (MaxScore decode-skipping
  fires inside search_many) and stays rank-identical to per-query search.
"""

import os

import pytest
from pyspark.sql import functions as F

from cascading_solr_spark.corpus import synth_corpus
from cascading_solr_spark.indexing.build import build_index
from cascading_solr_spark.query.search import (
    facet_query_counts,
    facet_range_counts,
    highlight,
    search,
)
from cascading_solr_spark.spec import IndexSpec

STORED_SPEC = IndexSpec(
    num_shards=2,
    salt_buckets=2,
    block_size=16,
    keyword_fields=("lang", "repo"),
    # content stored -> highlightable; contentlen -> facet.range field
    stored_fields=("repo", "path", "lang", "contentlen", "content"),
)


@pytest.fixture(scope="module")
def stored_index(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("r4ix") / "ix")
    corpus = synth_corpus(spark, 400, partitions=4).withColumn(
        "contentlen", F.length("content")
    )
    return build_index(spark, corpus, STORED_SPEC, out)


# ---------------------------------------------------------------- highlight


def test_highlight_wraps_earliest_term(spark, stored_index):
    rows = highlight(spark, stored_index, "parse buffer", k=5, window=20).collect()
    assert rows, "query should hit"
    ranked = search(spark, stored_index, "parse buffer", k=5, with_stored=False)
    assert [r["doc_id"] for r in rows] == [
        r["doc_id"] for r in ranked.collect()
    ], "highlight must preserve the ranked order"
    for r in rows:
        assert r["term"] in ("parse", "buffer")
        snip = r["snippet"]
        assert snip.count("<em>") == 1 and snip.count("</em>") == 1
        inner = snip.split("<em>")[1].split("</em>")[0]
        assert inner.lower() == r["term"]
        # offsets: the <em> content is the earliest occurrence of ANY query
        # term in the lowered text, and the fragment is a real substring
        plain = snip.replace("<em>", "").replace("</em>", "")
        row = (
            stored_index.docs(spark)
            .filter(F.col("doc_id") == r["doc_id"])
            .collect()[0]
        )
        text = row["content"]
        assert plain in text
        pos = text.lower().index(inner.lower())
        first = min(
            p
            for p in (text.lower().find("parse"), text.lower().find("buffer"))
            if p >= 0
        )
        assert pos == first


def test_highlight_requires_stored_content(spark, tmp_path):
    spec = IndexSpec(num_shards=1, salt_buckets=1)  # content NOT stored
    corpus = synth_corpus(spark, 50, partitions=2)
    ix = build_index(spark, corpus, spec, str(tmp_path / "ix"))
    with pytest.raises(ValueError, match="stored"):
        highlight(spark, ix, "parse")


def test_highlight_zero_hit_schema(spark, stored_index):
    rows = highlight(spark, stored_index, "zzqxv", k=5).collect()
    assert rows == []


# ---------------------------------------------------------------- facet.query


def test_facet_query_counts(spark, stored_index):
    out = {
        r["facet"]: r["n"]
        for r in facet_query_counts(
            spark,
            stored_index,
            "parse buffer",
            {"go_docs": "lang:go", "with_import": "import"},
        ).collect()
    }
    base = {
        r["doc_id"]
        for r in search(
            spark, stored_index, "parse buffer", k=None, with_stored=False
        ).collect()
    }
    go_ids = {
        r["doc_id"]
        for r in search(
            spark, stored_index, "lang:go", k=None, with_stored=False
        ).collect()
    }
    imp_ids = {
        r["doc_id"]
        for r in search(
            spark, stored_index, "import", k=None, with_stored=False
        ).collect()
    }
    assert out == {
        "go_docs": len(base & go_ids),
        "with_import": len(base & imp_ids),
    }


# ---------------------------------------------------------------- facet.range


def test_facet_range_counts_with_empty_buckets(spark, stored_index):
    rows = facet_range_counts(
        spark, stored_index, "parse buffer", "contentlen",
        start=0, end=3000, gap=500,
    ).collect()
    assert [r["range_start"] for r in rows] == [0, 500, 1000, 1500, 2000, 2500]
    matched = search(
        spark, stored_index, "parse buffer", k=None, with_stored=False
    ).select("doc_id")
    lens = [
        r["contentlen"]
        for r in stored_index.docs(spark)
        .join(matched, "doc_id")
        .select("contentlen")
        .collect()
    ]
    for r in rows:
        lo = r["range_start"]
        assert r["n"] == sum(1 for x in lens if lo <= x < lo + 500)
    assert sum(r["n"] for r in rows) == sum(1 for x in lens if 0 <= x < 3000)


def test_facet_range_rejects_unstored_field(spark, stored_index):
    with pytest.raises(ValueError, match="not stored"):
        facet_range_counts(
            spark, stored_index, "parse", "nope", start=0, end=10, gap=5
        )


# ---------------------------------------------------------------- match_ids


def test_match_ids_equals_ranked_match_set(spark, stored_index):
    from cascading_solr_spark.query.search import match_ids

    for q, op in (
        ("parse buffer", "OR"),
        ("parse buffer", "AND"),
        ("lang:go parse", "OR"),
        ("zzqxv", "OR"),
        ("buf*", "OR"),
        ("parse buf*", "AND"),
        ("parse -buffer", "OR"),
        ("parse -column", "OR"),
        ("lang:go", "OR"),
        ("lang:[go TO python]", "OR"),
        ("parse lang:[go TO python]", "OR"),
    ):
        ranked = {
            r["doc_id"]
            for r in search(
                spark, stored_index, q, k=None, with_stored=False, op=op
            ).collect()
        }
        matched = {
            r["doc_id"]
            for r in match_ids(spark, stored_index, q, op=op).collect()
        }
        assert matched == ranked, (q, op)


def test_match_ids_plan_never_reads_tf_dl(spark, stored_index):
    from cascading_solr_spark.query.search import keyword_filter, match_ids

    for frame in (
        match_ids(spark, stored_index, "parse buffer"),
        # a pure filter query decodes doc ids only, too
        keyword_filter(spark, stored_index, {"lang": "go"}),
    ):
        explained = frame._jdf.queryExecution().executedPlan().toString()
        scan = [
            ln for ln in explained.split("\n")
            if "ReadSchema" in ln or "Scan" in ln
        ]
        assert scan, explained
        assert "tfs" not in explained.split("ReadSchema")[-1].split("\n")[0], (
            "tf/dl binaries must be projected away before the parquet scan"
        )


# ---------------------------------------------------------------- spellcheck


def test_ngram_spellcheck_identical_and_bounded(spark, stored_index):
    from cascading_solr_spark.query.search import ngram_candidates, suggest_terms

    vocab = stored_index.term_dict(spark).count()
    for q in ("parze", "bufer", "streem", "clint"):
        scan = suggest_terms(
            spark, stored_index, q, k=5, mode="scan"
        ).collect()
        ngram = suggest_terms(
            spark, stored_index, q, k=5, mode="ngram"
        ).collect()
        assert [r.asDict() for r in ngram] == [r.asDict() for r in scan], q
        # the candidate shortlist is a strict subset of the vocabulary —
        # the scan the ngram path replaces touched every term
        n_cand = ngram_candidates(spark, stored_index, q, 2).count()
        assert 0 < n_cand < vocab, (q, n_cand, vocab)


def test_ngram_spellcheck_short_query_falls_back(spark, stored_index):
    from cascading_solr_spark.query.search import ngram_candidates, suggest_terms

    # len(q)=2: threshold (3 - 4 - dup) < 1 -> gram bound vacuous
    assert ngram_candidates(spark, stored_index, "if", 2) is None
    with pytest.raises(ValueError, match="ngram mode unavailable"):
        suggest_terms(spark, stored_index, "if", mode="ngram")
    scan = suggest_terms(spark, stored_index, "if", mode="scan").collect()
    auto = suggest_terms(spark, stored_index, "if", mode="auto").collect()
    assert [r.asDict() for r in auto] == [r.asDict() for r in scan]


# --------------------------------------------------------------- empty index


def test_empty_corpus_builds_a_valid_index(spark, tmp_path):
    from cascading_solr_spark.indexing.append import append_documents
    from cascading_solr_spark.indexing.compact import compact_index
    from cascading_solr_spark.query.search import facet_counts, suggest_terms

    out = str(tmp_path / "ix")
    spec = IndexSpec(num_shards=2, keyword_fields=("lang",))
    empty = synth_corpus(spark, 10, partitions=2).limit(0)
    ix = build_index(spark, empty, spec, out)
    assert ix.n_docs == 0
    # every read path serves schema-correct empty results
    assert search(spark, ix, "parse", k=5).collect() == []
    assert facet_counts(spark, ix, "parse", "lang").collect() == []
    assert suggest_terms(spark, ix, "parze", k=3).collect() == []
    assert compact_index(spark, ix).n_docs == 0  # no-op, not a crash
    # the first append bootstraps the real tables INCLUDING the ngram index
    # (safe: a 0-doc index has no prior vocabulary to miss)
    ix = append_documents(spark, out, synth_corpus(spark, 80, partitions=2))
    assert ix.n_docs == 80
    assert len(search(spark, ix, "parse buffer", k=5).collect()) == 5
    a = suggest_terms(spark, ix, "bufer", k=3, mode="ngram").collect()
    b = suggest_terms(spark, ix, "bufer", k=3, mode="scan").collect()
    assert [r.asDict() for r in a] == [r.asDict() for r in b] and a


# --------------------------------------------------------------- term vector


def test_term_vectors(spark, stored_index):
    from cascading_solr_spark.analyzer import tokenize
    from cascading_solr_spark.query.search import term_vectors

    doc = stored_index.docs(spark).filter(F.col("doc_id") == 3).collect()[0]
    rows = term_vectors(spark, stored_index, 3).collect()
    from collections import Counter

    want = Counter(tokenize(doc["content"]))
    assert {r["term"]: r["tf"] for r in rows} == dict(want)
    tfs = [r["tf"] for r in rows]
    assert tfs == sorted(tfs, reverse=True)
    # df comes from the global dict and is at least this doc's own presence
    assert all(r["df"] >= 1 for r in rows)
    assert term_vectors(spark, stored_index, 10**9).collect() == []


# ---------------------------------------------------------------- dict cache


def test_dict_cache_matches_distributed_lookup(spark, stored_index, tmp_path):
    from cascading_solr_spark.indexing import append_documents
    from cascading_solr_spark.indexing.build import Index
    from cascading_solr_spark.indexing.compact import compact_index
    from cascading_solr_spark.indexing.replicate import snapshot_index
    from cascading_solr_spark.query.search import term_dfs

    # the built index, a copy with an appended dict segment, and that copy
    # compacted back to one segment
    copy = snapshot_index(stored_index.path, str(tmp_path / "ix"))
    batch = synth_corpus(spark, 60, partitions=2).withColumn(
        "repo", F.concat(F.lit("new/"), "repo")
    ).withColumn("contentlen", F.length("content"))
    appended = append_documents(spark, copy, batch)
    assert len(os.listdir(appended.dict_path)) > len(
        os.listdir(stored_index.dict_path)
    )
    compacted = compact_index(
        spark, Index.load(snapshot_index(copy, str(tmp_path / "cx")))
    )
    handles = {
        "built": stored_index, "appended": appended, "compacted": compacted,
    }
    terms = ["parse", "buffer", "zzqxv", "import", "lang:go"]
    for name, ix in handles.items():
        cache = ix.dict_cache(spark)
        assert cache is not None and "buffer" in cache, name
        via_cache = term_dfs(spark, ix, terms)
        # force the distributed scan path (simulate a too-big vocabulary)
        object.__setattr__(ix, "_dict_cache", None)
        try:
            via_scan = term_dfs(spark, ix, terms)
        finally:
            object.__setattr__(ix, "_dict_cache", cache)
        assert via_cache == via_scan, name
        assert "zzqxv" not in via_cache, name
    assert handles["appended"].dict_cache(spark) == handles[
        "compacted"
    ].dict_cache(spark)


# ------------------------------------------------- pivot / stats / collate


def test_facet_pivot_counts(spark, stored_index):
    from cascading_solr_spark.query.search import (
        facet_counts,
        facet_pivot_counts,
        match_ids,
    )

    rows = facet_pivot_counts(
        spark, stored_index, "parse buffer", ("lang", "repo")
    ).collect()
    assert rows
    # inner counts roll up to the outer totals, and outer totals equal the
    # flat facet.field counts
    outer_from_pivot: dict = {}
    for r in rows:
        outer_from_pivot.setdefault(r["value_outer"], 0)
        outer_from_pivot[r["value_outer"]] += r["n"]
        assert r["n"] <= r["n_outer"]
    flat = {
        r["value"]: r["n"]
        for r in facet_counts(
            spark, stored_index, "parse buffer", "lang"
        ).collect()
    }
    assert outer_from_pivot == flat
    n_matched = match_ids(spark, stored_index, "parse buffer").count()
    assert sum(r["n"] for r in rows) == n_matched  # scalar fields: partition


def test_stats_field(spark, stored_index):
    from cascading_solr_spark.query.search import match_ids, stats_field

    row = stats_field(
        spark, stored_index, "parse buffer", "contentlen"
    ).collect()[0]
    matched = match_ids(spark, stored_index, "parse buffer")
    vals = [
        r["contentlen"]
        for r in stored_index.docs(spark)
        .join(matched, "doc_id")
        .select("contentlen")
        .collect()
    ]
    assert row["n"] == len(vals) and row["missing"] == 0
    assert row["min"] == min(vals) and row["max"] == max(vals)
    assert row["sum"] == sum(vals)
    assert abs(row["mean"] - sum(vals) / len(vals)) < 1e-6
    with pytest.raises(ValueError, match="not stored"):
        stats_field(spark, stored_index, "parse", "nope")


def test_spellcheck_collate(spark, stored_index):
    from cascading_solr_spark.query.search import (
        match_ids,
        spellcheck_collate,
        suggest_terms,
    )

    row = spellcheck_collate(spark, stored_index, "bufer parse").collect()[0]
    best = suggest_terms(spark, stored_index, "bufer", k=1).collect()[0]["term"]
    assert row["collation"] == f"{best} parse"
    assert row["hits"] == match_ids(
        spark, stored_index, f"{best} parse"
    ).count()
    # known terms are never rewritten
    row2 = spellcheck_collate(spark, stored_index, "parse buffer").collect()[0]
    assert row2["collation"] == "parse buffer"


# ------------------------------------------------------- sort / page / terms


def test_search_sorted_matches_filter_then_sort(spark, stored_index):
    from cascading_solr_spark.query.search import match_ids, search_sorted

    rows = search_sorted(
        spark, stored_index, "parse buffer", "contentlen", ascending=True, k=5
    ).collect()
    assert len(rows) == 5
    vals = [r["contentlen"] for r in rows]
    assert vals == sorted(vals)
    matched = {
        r["doc_id"]
        for r in match_ids(spark, stored_index, "parse buffer").collect()
    }
    assert all(r["doc_id"] in matched for r in rows)
    # desc ordering + pagination compose
    page2 = search_sorted(
        spark, stored_index, "parse buffer", "contentlen",
        ascending=False, k=3, start=3,
    ).collect()
    all6 = search_sorted(
        spark, stored_index, "parse buffer", "contentlen",
        ascending=False, k=6,
    ).collect()
    assert [r["doc_id"] for r in page2] == [r["doc_id"] for r in all6[3:]]
    with pytest.raises(ValueError, match="not stored"):
        search_sorted(spark, stored_index, "parse", "nope")


def test_search_pagination_is_a_window_of_the_full_ranking(spark, stored_index):
    full = search(
        spark, stored_index, "parse buffer", k=None, with_stored=False
    ).collect()
    for start, k in ((0, 10), (10, 10), (25, 10)):
        page = search(
            spark, stored_index, "parse buffer", k=k, start=start,
            with_stored=False,
        ).collect()
        want = full[start : start + k]
        assert [(r["doc_id"], r["score"]) for r in page] == [
            (r["doc_id"], r["score"]) for r in want
        ], (start, k)
    # stored-field fetch composes with paging
    paged_stored = search(spark, stored_index, "parse buffer", k=5, start=5)
    assert [r["doc_id"] for r in paged_stored.collect()] == [
        r["doc_id"] for r in full[5:10]
    ]
    # k=None (exhaustive) pages too — same offset window of the full order
    tail = search(
        spark, stored_index, "parse buffer", k=None, start=7, with_stored=False
    ).collect()
    assert [r["doc_id"] for r in tail] == [r["doc_id"] for r in full[7:]]


def test_terms_component_prefix_browse(spark, stored_index):
    from cascading_solr_spark.query.search import terms_component

    rows = terms_component(spark, stored_index, prefix="buf", k=10).collect()
    assert rows, "corpus has buffer* identifiers"
    assert all(r["term"].startswith("buf") for r in rows)
    dfs = [r["df"] for r in rows]
    assert dfs == sorted(dfs, reverse=True)
    # no keyword-field terms ever surface
    assert all(":" not in r["term"] for r in rows)


# ---------------------------------------------------------------- batch path


def test_search_many_rank_identical_to_single(spark, stored_index):
    from cascading_solr_spark.query.search import search_many

    queries = {"q0": "parse buffer", "q1": "import", "q2": "cache retry"}
    batch = search_many(spark, stored_index, queries, k=5).collect()
    by_q = {}
    for r in batch:
        by_q.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    for qid, q in queries.items():
        single = [
            (r["doc_id"], r["score"])
            for r in search(
                spark, stored_index, q, k=5, with_stored=False
            ).collect()
        ]
        assert by_q.get(qid, []) == single, qid


def test_batch_kernel_prunes_hot_terms(spark, tmp_path):
    from cascading_solr_spark.codec import bm25_idf
    from cascading_solr_spark.query.search import batch_kernel, term_dfs

    # 1-shard unsalted index: hot posting rows span many blocks, so MaxScore
    # has blocks to skip (the salted multi-shard layout splits rows below
    # one block at this corpus size)
    spec = IndexSpec(
        num_shards=1, salt_buckets=1, block_size=16, hot_term_df_ratio=1.1
    )
    ix = build_index(
        spark, synth_corpus(spark, 800, partitions=4), spec, str(tmp_path / "ix")
    )
    # selective terms (df band well above k, far below N) + the hottest
    # term: the rare terms fill the top-k with high-idf scores, the hot
    # term's tiny max-contribution upper bound then falls below θ and its
    # posting rows/blocks are skipped instead of decoded
    rare = [
        r["term"]
        for r in ix.term_dict(spark)
        .filter(
            (F.col("df") >= 40) & (F.col("df") <= 120)
            & ~F.col("term").contains(":")
        )
        .orderBy("term")
        .limit(2)
        .collect()
    ]
    assert len(rare) == 2, "corpus should have df-banded selective terms"
    plans = {
        "hot_mix": [rare[0], "import"],  # rare term + the hottest term
        "other": [rare[1], "import"],
    }
    terms = sorted({t for ts in plans.values() for t in ts})
    dfs = term_dfs(spark, ix, terms)
    idf = {t: bm25_idf(v, ix.n_docs) for t, v in dfs.items()}
    pdf = ix.postings(spark).filter(F.col("term").isin(terms)).toPandas()
    counters: dict = {}
    out = batch_kernel(
        plans, idf, ix.avgdl, spec.k1, spec.b, 10, spec.block_size,
        counters=counters,
    )(pdf)
    assert counters.get("rows_skipped", 0) + counters.get(
        "blocks_skipped", 0
    ) > 0, counters
    # pruned batch results == per-query ranked results
    for qid, ts in plans.items():
        got = out[out["query_id"] == qid][["doc_id", "score"]].to_numpy()
        want = (
            search(spark, ix, " ".join(ts), k=10, with_stored=False)
            .toPandas()[["doc_id", "score"]]
            .to_numpy()
        )
        assert (got == want).all(), qid


def test_ngram_index_survives_append_and_compact(spark, tmp_path):
    from cascading_solr_spark.indexing.append import append_documents
    from cascading_solr_spark.indexing.compact import compact_index
    from cascading_solr_spark.query.search import suggest_terms

    out = str(tmp_path / "ix")
    ix = build_index(
        spark, synth_corpus(spark, 120, partitions=2),
        IndexSpec(num_shards=2, salt_buckets=1), out,
    )
    delta = synth_corpus(spark, 60, partitions=2).select(
        F.col("repo"), F.concat(F.col("path"), F.lit(".v2")).alias("path"),
        F.col("commit"), F.col("lang"), F.col("content"),
    )
    ix = append_documents(spark, out, delta)
    a = suggest_terms(spark, ix, "bufer", k=5, mode="ngram").collect()
    b = suggest_terms(spark, ix, "bufer", k=5, mode="scan").collect()
    assert [r.asDict() for r in a] == [r.asDict() for r in b]
    ix = compact_index(spark, ix)
    assert ix.ngrams_dirname == "dict_ngrams.gen1"
    c = suggest_terms(spark, ix, "bufer", k=5, mode="ngram").collect()
    assert [r.asDict() for r in c] == [r.asDict() for r in b]
