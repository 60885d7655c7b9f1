"""DataFrame BM25 scoring — the declarative twin of the compressed path.

Documents are tokenized once by the memoized Arrow tokenizer
(:func:`tokens_long`, one ``mapInPandas`` pass — the SPIMI build's own
analyzer, so tokenization leaves the JVM exactly as the build's does);
everything after it is built-in Catalyst ops (filter, partial + final hash
aggregation, broadcast joins), with no postings, codec or scoring kernel
involved.  Used three ways:

1. the "minimum slice" end-to-end query path (SURVEY.md §7.4);
2. the oracle twin for the driver's DuckDB correctness gate — the same
   algebra is expressible in ANSI SQL (see __spark_entry__.oracle_sql);
3. a cross-check for the compressed/WAND path in tests (rank-identity).

Scoring matches query/search.py exactly: BM25 k1=1.2 b=0.75,
idf = ln(1+(N-df+0.5)/(df+0.5)), tie-break (score desc, doc_id asc).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cascading_solr_spark.analyzer import analyze_query
from cascading_solr_spark.indexing.build import local_frame


def tokens_long(
    docs: DataFrame, content_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, dl, term, tf) — analyzed term frequencies.

    Tokenization runs in the SPIMI kernels' memoized Python tokenizer
    (Arrow-batched, one worker pass, guide §4.2), behavior-identical to
    :func:`~cascading_solr_spark.analyzer.tokenize` by the analyzer parity
    test (and the DuckDB oracle re-pins the output of this exact
    function); a Catalyst expression-tree twin was dropped because its
    interpreted HOF segments made the per-call cost ~5x the kernel's
    (r6b).  The per-doc Counter emits distinct (doc, term) rows directly —
    no explode + re-aggregation shuffle of the raw token stream.

    Ids must be integer-valued: a null id, or one that does not convert to
    a long (``"a17"``), raises ValueError from the kernel — the check rides
    the tokenize pass, so it costs no Spark job."""
    from collections import Counter

    import numpy as np
    import pandas as pd

    from cascading_solr_spark.analyzer import make_cached_tokenizer
    from cascading_solr_spark.operators.textstats import spread_partitions

    def kernel(batches):
        tokenize_fast = make_cached_tokenizer()
        for pdf in batches:
            if pdf["doc_id"].isna().any():
                raise ValueError(
                    f"tokens_long: column {id_col!r} holds a null or "
                    "non-integer doc id; ids must convert to long"
                )
            ids: list[int] = []
            dls: list[int] = []
            terms: list[str] = []
            tfs: list[int] = []
            for doc_id, content in zip(
                pdf["doc_id"].to_numpy(), pdf["_content"]
            ):
                toks = tokenize_fast(content) if content is not None else []
                counts = Counter(toks)
                k = len(counts)
                ids.extend([doc_id] * k)
                dls.extend([len(toks)] * k)
                terms.extend(counts.keys())
                tfs.extend(counts.values())
            yield pd.DataFrame(
                {
                    "doc_id": np.asarray(ids, dtype=np.int64),
                    "dl": np.asarray(dls, dtype=np.int32),
                    "term": terms,
                    "tf": np.asarray(tfs, dtype=np.int64),
                }
            )

    # spread a low-partition source before the tokenize map work
    # (r6, guide §2.5; no-op on well-partitioned input)
    return spread_partitions(docs).select(
        F.col(id_col).try_cast("long").alias("doc_id"),
        F.col(content_col).alias("_content"),
    ).mapInPandas(kernel, "doc_id long, dl int, term string, tf long")


def corpus_stats(
    docs: DataFrame, content_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(n, avgdl) over ALL docs (zero-token docs included) — must match the
    compressed index's stats (docs-table count/avg) for rank-identity.

    Derived from :func:`tokens_long` the way :func:`bm25_topk_df` derives
    them: n counts the doc rows, and avgdl = Σtf / n — numerically
    IDENTICAL to avg(dl), because every intermediate is an integer below
    2^53 (exact in double) and a zero-token or null doc adds 0 to Σtf and
    1 to n; null when there are no docs."""
    n = docs.agg(F.count("*").alias("n"))
    tt = tokens_long(docs, content_col, id_col).agg(F.sum("tf").alias("tt"))
    avgdl = F.when(F.col("n") > 0, F.coalesce("tt", F.lit(0)) / F.col("n"))
    return n.crossJoin(tt).select("n", avgdl.alias("avgdl"))


def _bm25_contrib(k1: float, b: float) -> Column:
    idf = F.log1p((F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    tf = F.col("tf").cast("double")
    tf_norm = (tf * (k1 + 1.0)) / (
        tf + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
    )
    return idf * tf_norm


def bm25_topk_df(
    docs: DataFrame,
    query: str,
    k: int | None = 10,
    content_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    round_to: int | None = 4,
) -> DataFrame:
    """Top-k BM25 over a document DataFrame, pure Catalyst ops.

    Returns (doc_id, score) ordered (score desc, doc_id asc).  ``round_to``
    rounds the emitted score (NOT the internal math) so cross-engine
    float-sum ordering noise cannot flip the driver's value-hash.
    """
    terms = analyze_query(query)
    # ONE tokenize pass (r6): the tf table is persisted and MATERIALIZED by
    # the Σtf aggregate below — its three consumers (df-lookup, scoring,
    # stats) would otherwise each re-run the analyzer over the corpus, and
    # a lazy persist would still race its own population when AQE
    # materializes the broadcast stages concurrently.  The corpus stats
    # come from that same action: n is an Observation counting the doc rows
    # on their way into the tokenizer (zero-token docs emit no tf row but
    # still count), and avgdl = Σtf / n — numerically IDENTICAL to avg(dl)
    # because every intermediate is an integer below 2^53 (exact in
    # double), and zero-token/null docs contribute 0 to Σtf and 1 to n
    # exactly as they contributed dl=0 to the avg (a null text tokenizes
    # to []).
    from pyspark.sql import Observation

    from cascading_solr_spark.operators.dedup import _persist, _swap_persisted

    # release the PREVIOUS call's tf cache BEFORE persisting the new one
    # (never unpersisted otherwise — repeated calls pile cached plans into
    # the CacheManager, r6b).  Order matters: an identical plan persisted
    # now would ALIAS the old cache entry, and evicting after the fact
    # would strip this call's own cache.
    _swap_persisted("bm25_topk_df", docs.sparkSession)
    seen = Observation()
    tf = _persist(
        "bm25_topk_df", docs.sparkSession,
        tokens_long(
            docs.observe(seen, F.count(F.lit(1)).alias("n")),
            content_col, id_col,
        ),
    )
    tt = tf.agg(F.sum("tf")).collect()[0][0]
    n_docs = seen.get["n"]
    # n>0 with an empty tf table means every doc tokenized to [] — avg(dl)
    # over those zeros was 0.0, not null; n=0 keeps the avg-of-empty null
    avgdl = None if n_docs == 0 else float(tt or 0) / float(n_docs)
    stats = local_frame(
        docs.sparkSession, [(n_docs, avgdl)], "n long, avgdl double"
    )
    matched = tf.filter(F.col("term").isin(terms)) if terms else tf.limit(0)
    dfreq = matched.groupBy("term").agg(F.count("*").alias("df"))
    scored = (
        matched.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn("contrib", _bm25_contrib(k1, b))
        .groupBy("doc_id")
        .agg(F.sum("contrib").alias("score"))
    )
    score = F.round(F.col("score"), round_to) if round_to else F.col("score")
    out = scored.select("doc_id", score.alias("score")).orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    # k=None -> all matches (a huge .limit() would make Spark build a
    # TakeOrderedAndProject heap of that size -> OOM)
    return out if k is None else out.limit(k)
