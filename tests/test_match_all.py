"""Match-all and pure-negative queries on the cursor and dismax entry
points: ``search_after`` and ``search_dismax`` serve ``*:*``, ``*:* -t``
and ``-t`` the way ``search`` does — the live docs at score 1.0 in doc_id
order (Solr's q.alt=*:* and its top-level ``*:* AND NOT ...`` rewrite) —
on a plain index and on one with deletes (conftest ``tier_indexes``)."""

import pytest

from cascading_solr_spark.indexing.build import Index
from cascading_solr_spark.query.search import search, search_after, search_dismax

QF = {"content": 1.0, "path": 2.0}
MATCH_ALL = ["*:*", "*:* -column", "-column"]


def _pairs(rows) -> list[tuple[int, float]]:
    return [(int(r["doc_id"]), float(r["score"])) for r in rows]


@pytest.mark.parametrize("which", ["plain", "mut"])
@pytest.mark.parametrize("q", MATCH_ALL)
def test_search_after_pages_match_all(spark, tier_indexes, which, q):
    ix = Index.load(tier_indexes[which])
    want = _pairs(search(spark, ix, q, k=None, with_stored=False).collect())
    assert want and all(s == 1.0 for _, s in want)
    got, cursor = [], None
    while True:
        page = search_after(spark, ix, q, cursor=cursor, k=100).collect()
        if not page:
            break
        got += _pairs(page)
        cursor = (page[-1]["score"], page[-1]["doc_id"])
    assert got == want, (which, q)


@pytest.mark.parametrize("which", ["plain", "mut"])
def test_dismax_match_all(spark, tier_indexes, which):
    ix = Index.load(tier_indexes[which])
    live = _pairs(search(spark, ix, "*:*", k=None, with_stored=False).collect())
    got = search_dismax(spark, ix, "*:*", QF, k=None, with_stored=False)
    assert _pairs(got.collect()) == live
    # q.alt paging and fq, with the stored fetch
    page = search_dismax(
        spark, ix, "*:*", QF, k=5, start=3, filters={"lang": "go"}
    ).collect()
    want = search(spark, ix, "*:*", k=5, start=3, filters={"lang": "go"})
    assert page == want.collect() and len(page) == 5


@pytest.mark.parametrize("which", ["plain", "mut"])
@pytest.mark.parametrize("t", ["column", "json"])
def test_dismax_pure_negative_excludes_every_qf_field(
    spark, tier_indexes, which, t
):
    ix = Index.load(tier_indexes[which])
    live = {d for d, _ in _pairs(
        search(spark, ix, "*:*", k=None, with_stored=False).collect()
    )}
    hit = {d for d, _ in _pairs(
        search_dismax(spark, ix, t, QF, k=None, with_stored=False).collect()
    )}
    assert hit and live - hit
    for q in (f"-{t}", f"*:* -{t}"):
        got = _pairs(
            search_dismax(spark, ix, q, QF, k=None, with_stored=False).collect()
        )
        assert got == [(d, 1.0) for d in sorted(live - hit)], (which, q)


def test_dismax_other_wildcards_still_raise(spark, tier_indexes):
    ix = Index.load(tier_indexes["plain"])
    for q in ("buf*", "*:* buf*", "parse -buf*"):
        with pytest.raises(ValueError, match="wildcard"):
            search_dismax(spark, ix, q, QF, k=5)
