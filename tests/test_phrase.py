"""Positional index + phrase queries (Lucene PhraseQuery analogue).

The reference's embedded Solr answers quoted phrase queries out of the box
because its text fields index term positions (schema.xml text_en_splitting
chain); this suite pins the engine's positional format (spec.positions) and
the exact phrase semantics against a brute-force Python oracle built on
analyzer.tokenize_with_positions.
"""

import os
import random

import numpy as np
import pytest

from cascading_solr_spark.analyzer import (
    make_cached_position_tokenizer,
    tokenize,
    tokenize_with_positions,
)
from cascading_solr_spark.codec import (
    bm25_idf,
    bm25_tf_norm,
    decode_doc_ids,
    decode_positions,
    decode_varint,
)
from cascading_solr_spark.indexing.append import append_documents
from cascading_solr_spark.indexing.build import Index, build_index
from cascading_solr_spark.indexing.compact import compact_index
from cascading_solr_spark.query.search import (
    _phrase_terms,
    search,
    search_phrase,
)
from cascading_solr_spark.spec import IndexSpec

VOCAB = [
    "spark", "join", "merge", "sort", "stream", "the", "data",
    "TurboWriter", "readJson", "a", "b",
]


def _rows(n, seed=11, start_id=0):
    rng = random.Random(seed)
    return [
        (
            d,
            " ".join(rng.choice(VOCAB) for _ in range(rng.randint(3, 40))),
            rng.choice(["en", "es"]),
        )
        for d in range(start_id, start_id + n)
    ]


def _spec(**kw):
    base = dict(
        content_field="text",
        key_fields=("doc_id",),
        stored_fields=("lang",),
        keyword_fields=("lang",),
        doc_id_field="doc_id",
        num_shards=4,
        block_size=4,
        positions=True,
    )
    base.update(kw)
    return IndexSpec(**base)


def _oracle(rows, phrase, filters=None, k=None, k1=1.2, b=0.75):
    """Brute-force phrase scorer: Lucene PhraseWeight =
    Σidf(term_slot) · tf_norm(phrase_freq, dl)."""
    terms = _phrase_terms(phrase)
    m = len(terms)
    toks = {d: tokenize_with_positions(t) for d, t, _ in rows}
    dls = {d: len(tp) for d, tp in toks.items()}
    avgdl = sum(dls.values()) / len(rows)
    dfc = {
        t: sum(1 for tp in toks.values() if any(x == t for x, _ in tp))
        for t in set(terms)
    }
    idf_sum = sum(bm25_idf(dfc[t], len(rows)) for t in terms)
    lang = {d: lg for d, _, lg in rows}
    res = []
    for d, tp in toks.items():
        if filters and lang[d] != filters.get("lang", lang[d]):
            continue
        posmap: dict[str, set] = {}
        for t, p in tp:
            posmap.setdefault(t, set()).add(p)
        if not all(t in posmap for t in terms):
            continue
        pf = sum(
            1
            for p in posmap[terms[0]]
            if all((p + i) in posmap[terms[i]] for i in range(m))
        )
        if pf:
            score = idf_sum * float(
                bm25_tf_norm(
                    np.array([pf]), np.array([dls[d]]), avgdl, k1, b
                )[0]
            )
            res.append((d, score))
    res.sort(key=lambda x: (-x[1], x[0]))
    return res[:k] if k else res


def _got(df):
    return [(r["doc_id"], round(r["score"], 6)) for r in df.collect()]


def _want(rows):
    return [(d, round(s, 6)) for d, s in rows]


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    rows = _rows(200)
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = str(tmp_path_factory.mktemp("phrase") / "ix")
    ix = build_index(spark, df, _spec(), out)
    return rows, ix


def test_position_tokenizers_agree():
    texts = [
        "a TurboWriter b", "readJson HttpClient2 XMLHttpRequest",
        "foo_bar.baz(qux)", "", None, "UPPER lower MiXeD 123abc456",
    ]
    cached = make_cached_position_tokenizer()
    for t in texts:
        assert cached(t) == tokenize_with_positions(t)
        # token multiset identical to the positionless analyzer => tf/dl
        # (and therefore BM25) unchanged by position tracking
        assert [x for x, _ in tokenize_with_positions(t)] == tokenize(t)


def test_wdf_position_semantics():
    tp = tokenize_with_positions("a TurboWriter b")
    assert tp == [
        ("a", 0), ("turbo", 1), ("writer", 2), ("turbowriter", 1), ("b", 3),
    ]
    # query analysis prefers the position-advancing parts
    assert _phrase_terms("TurboWriter b") == ["turbo", "writer", "b"]
    assert _phrase_terms("merge sort") == ["merge", "sort"]


def test_positions_roundtrip_through_index(spark, corpus):
    rows, ix = corpus
    expected: dict[tuple, list[int]] = {}
    for doc_id, text, _ in rows:
        for t, p in tokenize_with_positions(text):
            expected.setdefault((t, doc_id), []).append(p)
    got: dict[tuple, list[int]] = {}
    for r in ix.postings(spark).toPandas().itertuples(index=False):
        if r.term.startswith("lang:"):
            assert len(r.pos) == 0  # keyword terms are positionless
            continue
        n = int(r.n_docs)
        ids = decode_doc_ids(r.doc_ids, n, ix.spec.block_size)
        tfs = decode_varint(r.tfs, n).astype(np.int64)
        flat = decode_positions(r.pos, tfs)
        offs = np.concatenate(([0], np.cumsum(tfs)))
        for i, d in enumerate(ids):
            got[(r.term, int(d))] = flat[offs[i]: offs[i + 1]].tolist()
    assert got == expected


@pytest.mark.parametrize(
    "phrase,filters",
    [
        ("merge sort", None),
        ("merge sort", {"lang": "en"}),
        ("the the", None),          # repeated-term phrase
        ("turbo writer", None),     # camelCase cross-match
        ("read json", None),        # parts of readJson
        ("spark", None),            # single-term phrase == tf scoring
        ("no such phrase", None),   # zero-hit
    ],
)
def test_phrase_matches_oracle(spark, corpus, phrase, filters):
    rows, ix = corpus
    got = _got(
        search_phrase(spark, ix, phrase, k=None, with_stored=False,
                      filters=filters)
    )
    assert got == _want(_oracle(rows, phrase, filters))


@pytest.mark.parametrize("filters", [None, {"lang": "python"}])
def test_phrase_match_set_equals_ranked_set(spark, tier_indexes, filters):
    # Solr: an empty q matches nothing and fq only restricts, so an empty
    # phrase's match set is empty like its ranked set, filters or not
    from cascading_solr_spark.query.search import match_ids

    ix = Index.load(tier_indexes["mut"])
    for q in ('""', '"zzqx buffer"', '"parse buffer"'):
        ids = sorted(r["doc_id"] for r in match_ids(
            spark, ix, q, filters=filters
        ).collect())
        ranked = sorted(r["doc_id"] for r in search(
            spark, ix, q, k=None, filters=filters, with_stored=False
        ).collect())
        assert ids == ranked, (q, filters)
        assert bool(ids) == (q == '"parse buffer"'), (q, filters)


def test_quoted_query_dispatch_and_topk(spark, corpus):
    rows, ix = corpus
    got = _got(search(spark, ix, '"merge sort"', k=5, with_stored=False))
    assert got == _want(_oracle(rows, "merge sort", k=5))
    # stored-field fetch composes
    out = search(spark, ix, '"merge sort"', k=3).collect()
    assert len(out) == 3 and "lang" in out[0].asDict()


def test_phrase_survives_append_and_compact(spark, corpus, tmp_path):
    rows, _ = corpus
    head, tail = rows[:150], rows[150:]
    df = spark.createDataFrame(head, "doc_id long, text string, lang string")
    out = str(tmp_path / "ix_inc")
    ix = build_index(spark, df, _spec(), out)
    ix = append_documents(
        spark,
        out,
        spark.createDataFrame(tail, "doc_id long, text string, lang string"),
    )
    want_rows = _oracle(rows, "merge sort")
    # appended docs participate in phrase matching...
    got = {d for d, _ in _got(
        search_phrase(spark, ix, "merge sort", k=None, with_stored=False)
    )}
    assert got == {d for d, _ in want_rows}
    # ...and compaction round-trips position blobs byte-exactly: scores now
    # match the full-build oracle (same corpus stats after fold)
    ix = compact_index(spark, ix)
    got2 = _got(
        search_phrase(spark, ix, "merge sort", k=None, with_stored=False)
    )
    assert got2 == _want(want_rows)
    got3 = _got(
        search_phrase(spark, ix, "turbo writer", k=None, with_stored=False)
    )
    assert got3 == _want(_oracle(rows, "turbo writer"))


@pytest.mark.usefixtures("distributed_tier")
def test_ranked_search_identical_and_pos_pruned(spark, corpus, tmp_path):
    """A positional index answers ranked queries IDENTICALLY to a
    positionless one, and the ranked plan never reads the pos payload."""
    rows, ix = corpus
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = str(tmp_path / "ix_nopos")
    ix_nopos = build_index(spark, df, _spec(positions=False), out)
    q = "merge sort stream"
    a = _got(search(spark, ix, q, k=10, with_stored=False))
    b = _got(search(spark, ix_nopos, q, k=10, with_stored=False))
    assert a == b and len(a) == 10
    plan = (
        search(spark, ix, q, k=10, with_stored=False)
        ._jdf.queryExecution().executedPlan().toString()
    )
    scans = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scans and all("pos" not in ln.split("ReadSchema")[1] for ln in scans)


def test_phrase_composes_with_facets_and_sort(spark, corpus):
    """A fully-quoted query string flows through match_ids -> the
    phrase-match kernel, so faceting and field-sorted retrieval compose
    with phrase semantics."""
    from cascading_solr_spark.query.search import (
        facet_counts,
        phrase_match_ids,
        search_sorted,
    )

    rows, ix = corpus
    want_ids = {d for d, _ in _oracle(rows, "merge sort")}
    got_ids = {
        r["doc_id"]
        for r in phrase_match_ids(spark, ix, "merge sort").collect()
    }
    assert got_ids == want_ids and got_ids
    # facet.field over the quoted query
    lang = {d: lg for d, _, lg in rows}
    want_counts: dict[str, int] = {}
    for d in want_ids:
        want_counts[lang[d]] = want_counts.get(lang[d], 0) + 1
    got_counts = {
        r["value"]: r["n"]
        for r in facet_counts(spark, ix, '"merge sort"', "lang").collect()
    }
    assert got_counts == want_counts
    # sort=lang over the quoted query: top-k of (lang asc, doc_id asc)
    want_sorted = sorted(((lang[d], d) for d in want_ids))[:5]
    got_sorted = [
        (r["lang"], r["doc_id"])
        for r in search_sorted(
            spark, ix, '"merge sort"', "lang", k=5
        ).collect()
    ]
    assert got_sorted == want_sorted


def test_phrase_in_batch_matches_single(spark, corpus):
    """A quoted entry in search_many is rank-identical to its single-query
    twin, alongside ordinary ranked/filtered entries in the same pass."""
    from cascading_solr_spark.query.search import search_many

    rows, ix = corpus
    out = search_many(
        spark,
        ix,
        {
            "p0": '"merge sort"',
            "p1": {"q": '"turbo writer"', "filters": {"lang": "en"}},
            "r0": "merge sort stream",
        },
        k=8,
    ).collect()
    by_q: dict[str, list] = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(
            (r["doc_id"], round(r["score"], 6))
        )
    singles = {
        "p0": search_phrase(spark, ix, "merge sort", k=8, with_stored=False),
        "p1": search_phrase(
            spark, ix, "turbo writer", k=8, with_stored=False,
            filters={"lang": "en"},
        ),
        "r0": search(spark, ix, "merge sort stream", k=8, with_stored=False),
    }
    for qid, df in singles.items():
        want = [(r["doc_id"], round(r["score"], 6)) for r in df.collect()]
        assert by_q.get(qid, []) == want, qid


def test_phrase_requires_positions(spark, corpus, tmp_path):
    rows, _ = corpus
    df = spark.createDataFrame(rows[:20], "doc_id long, text string, lang string")
    ix = build_index(
        spark, df, _spec(positions=False), str(tmp_path / "ix_np")
    )
    with pytest.raises(ValueError, match="positional"):
        search_phrase(spark, ix, "merge sort")
