"""Text-analysis operators: token counting, quality scoring, language id,
document fingerprinting.  All pure Catalyst expressions (zero Python in the
row path) and all deliberately expressible in ANSI SQL so the DuckDB oracle
can verify them value-for-value.

Tokenization here is the *simple* word tokenizer (maximal [a-z0-9]+ runs of
the lowercased text) — the cross-engine-portable subset of the code-aware
analyzer; on already-lowercase prose (the `documents` table) the two coincide.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SIMPLE_TOKEN_PATTERN = "[a-z0-9]+"

# tiny per-language stopword sets for the heuristic language classifier
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "for", "with"),
    "es": ("el", "la", "de", "que", "y", "en", "los", "del"),
    "fr": ("le", "la", "de", "et", "les", "des", "un", "une"),
}

EN_STOPWORDS = LANG_MARKERS["en"] + ("a", "an", "on", "at", "by", "it", "as")

FINGERPRINT_MOD = 1_000_003


# a physical-plan node that ends a stage: a shuffle or broadcast exchange,
# or a subquery (run when the plan's RDD is built)
_STAGE_NODE = re.compile(r"^[\s:|+*()0-9-]*(\w*Exchange|Subquery)\b", re.M)


def spread_partitions(df: DataFrame) -> DataFrame:
    """Raise a low-parallelism source to the session's default parallelism
    (r6, guide §2.5 input skew): a small parquet file scans as 1-2
    partitions, which pins every tokenize-heavy MAP stage above it to 1-2
    cores — the profiled dense-minhash rank job spent 30+ s in a 2-task
    stage on a 32-core session.  The round-robin shuffle moves only the raw
    doc rows (tiny next to the tokenized explosion above it) and is a no-op
    whenever the source already has enough partitions, so a properly
    partitioned 100 TB table never pays it.

    Decided from the plan, never by running it: a frame whose physical plan
    already has an exchange (or a subquery) is returned as is — its
    partition count was set by that exchange, and reading it would make
    adaptive execution run every stage below.  Any other frame (a file
    scan and the narrow operators over it) reports its partition count
    without a Spark job."""
    sc = df.sparkSession.sparkContext
    try:
        plan = df._jdf.queryExecution().executedPlan().toString()
        if _STAGE_NODE.search(plan):
            return df
        n = df.rdd.getNumPartitions()
    except Exception:  # noqa: BLE001 — planning-only probe; never fatal
        return df
    if n < sc.defaultParallelism:
        return df.repartition(sc.defaultParallelism)
    return df


def simple_tokens(col: Column | str) -> Column:
    """array<string> of [a-z0-9]+ runs of lower(col) — SQL-portable tokenizer."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(F.lower(F.coalesce(c, F.lit(""))), F.lit(SIMPLE_TOKEN_PATTERN), F.lit(0))


def token_count(col: Column | str) -> Column:
    return F.size(simple_tokens(col))


def _count_in(tokens: Column, words: tuple[str, ...]) -> Column:
    arr = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(tokens, lambda x: F.array_contains(arr, x)))


def quality_features(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc quality features + a composite score.

    n_chars, n_tokens, avg token length, alnum ratio, stopword ratio, and
    quality_score = stopword_ratio * 0.5 + alnum_ratio * 0.3 +
    least(n_tokens, 100)/100 * 0.2 — a simple, fully-SQL-expressible rubric.
    """
    t = F.col(text_col)
    toks = simple_tokens(text_col)
    n_tokens = F.size(toks)
    n_chars = F.length(F.coalesce(t, F.lit("")))
    alnum_chars = F.length(F.regexp_replace(F.coalesce(t, F.lit("")), "[^a-zA-Z0-9 ]", ""))
    alnum_ratio = F.when(n_chars > 0, alnum_chars / n_chars).otherwise(F.lit(0.0))
    stop = _count_in(toks, EN_STOPWORDS)
    stop_ratio = F.when(n_tokens > 0, stop / n_tokens).otherwise(F.lit(0.0))
    avg_tok_len = F.when(
        n_tokens > 0,
        F.aggregate(toks, F.lit(0), lambda acc, x: acc + F.length(x)) / n_tokens,
    ).otherwise(F.lit(0.0))
    score = (
        stop_ratio * 0.5
        + alnum_ratio * 0.3
        + F.least(n_tokens, F.lit(100)) / 100.0 * 0.2
    )
    return docs.select(
        "doc_id",
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        F.round(avg_tok_len, 4).alias("avg_token_len"),
        F.round(alnum_ratio, 4).alias("alnum_ratio"),
        F.round(stop_ratio, 4).alias("stopword_ratio"),
        F.round(score, 4).alias("quality_score"),
    )


def language_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic language id: argmax of per-language marker-token counts,
    'und' when all are zero.  Ties broken by language code order (en<es<fr),
    deterministic cross-engine."""
    toks = simple_tokens(text_col)
    counts = {lang: _count_in(toks, words) for lang, words in LANG_MARKERS.items()}
    best = F.greatest(*counts.values())
    pred = F.when(best == 0, F.lit("und"))
    for lang in sorted(LANG_MARKERS):  # en, es, fr — tie goes to the first max
        pred = pred.when(counts[lang] == best, F.lit(lang))
    sel = [F.col("doc_id"), pred.alias("pred_lang")]
    sel += [counts[lang].alias(f"n_{lang}") for lang in sorted(LANG_MARKERS)]
    return docs.select(*sel)


def fingerprint(
    docs: DataFrame, text_col: str = "text", id_mode: str = "dense"
) -> DataFrame:
    """Order-sensitive rolling document fingerprint.

    fp(doc) = sum over positions p (1-based) of id(term_p) * ((p % 31) + 1)
    mod 1_000_003.

    * ``dense`` (oracle mode): term ids via the distributed sort-rank (never
      a one-partition window) — rank+1 == dense_rank() over (order by term),
      so the DuckDB oracle reproduces fingerprints bit-for-bit.  Costs a
      term-vocabulary sort per run.
    * ``hash`` (production mode): term_id = xxhash64 folded into
      [1, 2^31-1), computed INLINE — no vocabulary job, the 100 TB path.
      Identical docs get identical fingerprints under either mode.
    """
    toks = spread_partitions(docs).select(
        "doc_id", F.posexplode(simple_tokens(text_col)).alias("pos0", "term")
    ).withColumn("pos", F.col("pos0") + 1)
    if id_mode == "hash":
        joined = toks.withColumn(
            "term_id",
            F.pmod(F.xxhash64("term"), F.lit(2_147_483_646)) + 1,
        )
    else:
        from cascading_solr_spark.indexing.build import _rank_ids

        # keys-only distinct vocabulary: the sort-rank frame already carries
        # (term, rank) — assign_doc_ids' join-back would re-shuffle the
        # vocabulary onto itself for nothing (r6)
        vocab_ids, _ = _rank_ids(
            toks.select("term").distinct(), ("term",), check_unique=False
        )
        vocab = vocab_ids.select(
            "term", (F.col("doc_id") + 1).alias("term_id")
        )
        joined = toks.join(vocab, "term")
    return (
        joined.groupBy("doc_id")
        .agg(
            (
                F.sum(F.col("term_id") * ((F.col("pos") % 31) + 1))
                % FINGERPRINT_MOD
            ).alias("fingerprint"),
            F.count("*").alias("n_tokens"),
        )
    )
