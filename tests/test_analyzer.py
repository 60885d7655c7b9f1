"""Analyzer golden cases (FIXTURES.md §4) + the memoized build tokenizer's
parity with :func:`tokenize`.

Mirrors the reference's analyzer semantics: the lowercase query
``turbowriter`` must match "TurboWriter 2.3"
(/root/reference/README.md:96-99, AbstractSolrSchemeTest.java:155-159).
"""

from cascading_solr_spark.analyzer import analyze_query, tokenize

GOLDEN = {
    "TurboWriter 2.3": ["turbo", "writer", "turbowriter", "2", "3"],
    "def get_httpClient2(retry_count):": [
        "def", "get", "http", "client", "2", "httpclient2", "retry", "count",
    ],
    "XMLHttpRequest": ["xml", "http", "request", "xmlhttprequest"],
    "": [],
    "___": [],
    "naïve café": ["na", "ve", "caf"],
    "Shasta 1.0": ["shasta", "1", "0"],
    "snake_case_name = CamelCase.method()": [
        "snake", "case", "name", "camel", "case", "camelcase", "method",
    ],
    "HTTP2Server": ["http", "2", "server", "http2server"],
    "a1b2": ["a", "1", "b", "2", "a1b2"],
}


def test_golden_tokens():
    for text, expected in GOLDEN.items():
        assert tokenize(text) == expected, text


def test_tokenize_none():
    assert tokenize(None) == []


def test_analyze_query_distinct_order():
    assert analyze_query("import Import the import") == ["import", "the"]


def test_cached_tokenizer_parity():
    from cascading_solr_spark.analyzer import make_cached_tokenizer
    from cascading_solr_spark.corpus import _gen_rows

    texts = list(GOLDEN) + [
        "for i in range(10): print(fooBar_baz)",
        "public static void main(String[] args)",
        "x = y ** 2 + z97abc",
        "UPPER lower MixedCase ALLCAPS99",
        None,
    ] + list(_gen_rows(0, 50)["content"])
    cached = make_cached_tokenizer()
    for _ in range(2):  # the second pass is served from the word cache
        for text in texts:
            assert cached(text) == tokenize(text), text
