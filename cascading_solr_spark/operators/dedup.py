"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

All DataFrame-native with explicit shuffle shapes:

* exact        — sha256 hash-groupBy; one shuffle on the content hash.
* n-gram Jaccard — word-shingle self-join: explode distinct shingles, join on
  shingle (the classic pair-generation shuffle), aggregate common counts.
* MinHash+LSH  — shingle -> dense shingle-id -> k universal-hash minima ->
  band signatures -> bucket join.  Candidate pairs come from bucket
  collisions only (the scale path: no quadratic pair space), then exact
  Jaccard verification.  Hashes are explicit modular arithmetic over DENSE
  shingle ids, so the DuckDB oracle reproduces them bit-for-bit — no
  engine-specific hash function anywhere.
* SimHash      — per-term signed contributions folded into a 16-bit
  signature, near-dups = hamming distance <= threshold via xor+bit_count.

At 100 TB: every one of these shuffles on a bounded key (hash, shingle id,
band bucket), never on raw content; LSH bounds the candidate space; the
shingle-id vocabulary uses the distributed sort-rank, not a global window.
"""

from __future__ import annotations

import threading
import weakref

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cascading_solr_spark.operators.textstats import simple_tokens

MINHASH_PRIME = 2_147_483_647  # 2^31 - 1, Mersenne

#: frames persisted by the latest invocation of each operator, per
#: session: (tag, weakref(session)) -> the frames' JVM handles.  A persisted
#: DataFrame lives in the SQL CacheManager until unpersisted — repeated
#: operator calls (every bench/pipeline loop) otherwise pile up cached
#: plans whose storage blocks churn the unified memory pool (r6b: the dedup
#: keys ran ~2x their isolated minima inside the full suite).  Each call
#: first releases the PRIOR call's frames (:func:`_swap_persisted`), then
#: registers every frame the moment it is persisted (:func:`_persist`), so
#: a call that fails while materializing still leaves its caches to the
#: next call's release.  An old result DataFrame a caller kept simply
#: recomputes.  Neither key nor value holds the Python session, so the
#: registry never keeps a session alive.
_PERSIST_REGISTRY: dict = {}
_PERSIST_LOCK = threading.Lock()


def _session_gone(ref) -> bool:
    sess = ref()
    try:
        return sess is None or sess.sparkContext._jsc is None
    except Exception:  # noqa: BLE001 — any probe failure means unusable
        return True


def _swap_persisted(tag: str, spark) -> None:
    """Release the frames ``tag``'s previous call persisted in ``spark``
    and start this call's (empty) registration; entries of stopped or
    collected sessions are dropped on the way."""
    key = (tag, weakref.ref(spark))
    with _PERSIST_LOCK:
        for k in [k for k in _PERSIST_REGISTRY if _session_gone(k[1])]:
            del _PERSIST_REGISTRY[k]
        old = _PERSIST_REGISTRY.pop(key, [])
        _PERSIST_REGISTRY[key] = []
    for jdf in old:
        try:
            jdf.unpersist(False)
        except Exception:  # noqa: BLE001 — cache release is best-effort
            pass


def _persist(tag: str, spark, df: DataFrame) -> DataFrame:
    """``df.persist()``, registered under ``tag`` before anything can
    materialize it."""
    return _register(tag, spark, df.persist())


def _register(tag: str, spark, df: DataFrame) -> DataFrame:
    """Add an already persisted ``df`` to ``tag``'s current registration."""
    with _PERSIST_LOCK:
        _PERSIST_REGISTRY.setdefault((tag, weakref.ref(spark)), []).append(
            df._jdf
        )
    return df


def exact_duplicates(
    docs: DataFrame, text_col: str = "text", max_ids: int = 100
) -> DataFrame:
    """Groups of byte-identical docs: (content_sha, n_dups, keep_doc_id, doc_ids).

    keep_doc_id = min doc_id (the canonical survivor).  ``doc_ids`` holds at
    most ``max_ids`` members (rank-filtered BEFORE the collect, so the
    aggregation buffer is bounded — a pathological group of one boilerplate
    file repeated 10^9 times would otherwise OOM an executor); n_dups always
    carries the true count.  The window and the groupBy share the
    content_sha partitioning: ONE shuffle total."""
    from pyspark.sql import Window

    hashed = docs.select(
        "doc_id", F.sha2(F.col(text_col), 256).alias("content_sha")
    )
    w = Window.partitionBy("content_sha")
    ranked = hashed.withColumn(
        "_rn", F.row_number().over(w.orderBy("doc_id"))
    ).withColumn("_total", F.count("*").over(w))
    return (
        ranked.filter(F.col("_rn") <= max_ids)
        .groupBy("content_sha")
        .agg(
            F.first("_total").alias("n_dups"),
            F.min("doc_id").alias("keep_doc_id"),
            F.sort_array(F.collect_list("doc_id")).alias("doc_ids"),
        )
        .filter(F.col("n_dups") > 1)
    )


def word_shingles(col, n: int = 3):
    """Distinct word n-gram shingles of the simple-tokenized text."""
    toks = simple_tokens(col)
    idx = F.when(
        F.size(toks) >= n, F.sequence(F.lit(0), F.size(toks) - n)
    ).otherwise(F.array().cast("array<int>"))
    grams = F.transform(
        idx,
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
    )
    return F.array_distinct(grams)


def _shingled(docs: DataFrame, text_col: str, n: int) -> DataFrame:
    from cascading_solr_spark.operators.textstats import (
        simple_tokens,
        spread_partitions,
    )

    # tokenize+shingle is the expensive map work — never leave it pinned to
    # a low-partition source scan (r6, guide §2.5).  The tokenizer output is
    # PROJECTED to a column first: word_shingles over the raw text embeds the
    # regexp tokenizer subtree at every reference inside the shingle
    # transform's lambda, and interpreted HOF lambdas (CodegenFallback)
    # re-evaluate their subtrees per element — the tokenizer ran once per
    # SHINGLE instead of once per doc (r6b: measured 1.7x on the shingle
    # pass).  Shingling the materialized array is expression-identical.
    toks = F.col("_toks")
    idx = F.when(
        F.size(toks) >= n, F.sequence(F.lit(0), F.size(toks) - n)
    ).otherwise(F.array().cast("array<int>"))
    grams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)))
    return (
        spread_partitions(docs)
        .select("doc_id", simple_tokens(F.col(text_col)).alias("_toks"))
        .select("doc_id", F.explode(F.array_distinct(grams)).alias("shingle"))
    )


def ngram_jaccard_pairs(
    docs: DataFrame, text_col: str = "text", n: int = 3, threshold: float = 0.5
) -> DataFrame:
    """Near-dup pairs by exact word-n-gram Jaccard >= threshold.

    Exact (quadratic in the worst case — the small-scale oracle baseline;
    use minhash_lsh_pairs at scale)."""
    s = _shingled(docs, text_col, n)
    sizes = s.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    a = s.alias("a")
    b = s.alias("b")
    common = (
        a.join(b, F.col("a.shingle") == F.col("b.shingle"))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("nb"))
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("common") / (F.col("na") + F.col("nb") - F.col("common")), 4
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "common", "na", "nb", "jaccard")
    )


def shingle_ids(shingled: DataFrame, id_mode: str = "dense") -> DataFrame:
    """Shingle -> integer id.

    * ``dense`` (oracle mode): deterministic dense ids (1-based, sorted
      order) — engine-portable, so the DuckDB oracle reproduces the minhash
      arithmetic bit-for-bit.  Costs a distributed sort of the shingle
      vocabulary per run.
    * ``hash`` (production mode): xxhash64 of the shingle, folded into
      [1, 2^31-1) — NO global sort/job, the 100 TB path.  Same LSH pair
      output on clone-heavy corpora (identical docs collide in every band
      under any id assignment); verified equal on the test fixture.
    """
    if id_mode == "hash":
        return shingled.select("shingle").distinct().select(
            "shingle",
            (F.pmod(F.xxhash64("shingle"), F.lit(MINHASH_PRIME - 1)) + 1).alias(
                "shingle_id"
            ),
        )
    from cascading_solr_spark.indexing.build import _rank_ids

    # the vocabulary is already a distinct keys-only frame, so the sort-rank
    # ids ARE the result — assign_doc_ids' join-back of ids onto the input
    # would be a redundant full shuffle of the vocabulary (r6: dropped)
    # the rank frame comes back persisted; the next call releases it
    spark = shingled.sparkSession
    _swap_persisted("shingle_ids", spark)
    vocab = shingled.select("shingle").distinct()
    ids, _ = _rank_ids(vocab, ("shingle",), check_unique=False)
    _register("shingle_ids", spark, ids)
    return ids.select("shingle", (F.col("doc_id") + 1).alias("shingle_id"))


def minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    id_mode: str = "dense",
) -> DataFrame:
    """(doc_id, h, minhash): num_hashes universal-hash minima per doc.

    h_j(x) = ((2j+1)*x + 13j + 7) mod (2^31-1) over shingle ids —
    explicit arithmetic, reproducible in any SQL engine (dense id_mode)."""
    mins = _minhash_min_cols(
        _shingled(docs, text_col, n), num_hashes, id_mode
    )
    # unpivot the per-doc min columns into the (doc_id, h, minhash) long
    # layout — num_hashes rows per doc over the ALREADY-aggregated frame
    stack = ", ".join(f"{j}, _m{j}" for j in range(num_hashes))
    return mins.selectExpr(
        "doc_id", f"stack({num_hashes}, {stack}) AS (h, minhash)"
    )


def _minhash_min_cols(
    s: DataFrame, num_hashes: int = 16, id_mode: str = "dense"
) -> DataFrame:
    """(doc_id, _m0.._m{k-1}): per-doc minima of the k universal hashes.

    One aggregation with map-side partial min over the (doc, shingle_id)
    rows — the hash family is evaluated as k sum-free expressions per row
    instead of exploding k rows per shingle into a wide shuffle (r6: the
    explode shape shuffled num_hashes x |shingles| rows; this shuffles one
    partially-aggregated row per doc).  Integer arithmetic is unchanged, so
    minima are identical value-for-value."""
    ids = s.join(shingle_ids(s, id_mode), "shingle").select(
        "doc_id", "shingle_id"
    )
    return _minhash_min_cols_from_ids(ids, num_hashes)


def _minhash_min_cols_from_ids(
    ids: DataFrame, num_hashes: int = 16
) -> DataFrame:
    return ids.groupBy("doc_id").agg(
        *[
            F.min(
                ((2 * j + 1) * F.col("shingle_id") + 13 * j + 7)
                % MINHASH_PRIME
            ).alias(f"_m{j}")
            for j in range(num_hashes)
        ]
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    band_size: int = 4,
    threshold: float = 0.5,
    id_mode: str = "dense",
) -> DataFrame:
    """Candidate pairs from LSH band-bucket collisions, verified with exact
    Jaccard.  Scale path: pair generation is bounded by bucket collisions;
    pass id_mode='hash' to skip the dense-id vocabulary sort at scale."""
    # shingle once: signatures, candidate generation, and exact verification
    # all reuse the materialized shingle set (re-deriving it 4x dominated the
    # runtime otherwise).  The per-doc min columns are persisted and
    # materialized eagerly too (one row per doc, 16 longs): the band
    # self-join references them on BOTH sides, and the eager count populates
    # the shingle cache serially — lazy persists race their own population
    # when AQE materializes the join's broadcast stages concurrently (r6).
    spark = docs.sparkSession
    tag = "minhash_lsh_pairs"
    _swap_persisted(tag, spark)
    shingled = _persist(tag, spark, _shingled(docs, text_col, n))
    ids = shingled.join(shingle_ids(shingled, id_mode), "shingle").select(
        "doc_id", "shingle_id"
    )
    if id_mode == "dense":
        # the dense rank is a BIJECTION shingle <-> shingle_id, so the
        # Jaccard verification below can run entirely on the long ids —
        # identical intersection counts, and the candidate-pair shingle
        # joins shuffle 8-byte keys instead of shingle strings (r6)
        ids = _persist(tag, spark, ids)
    mins = _persist(tag, spark, _minhash_min_cols_from_ids(ids, num_hashes))
    mins.count()
    # band bucket keys straight off the per-doc min columns: band j's key is
    # "h=min:h=min:..." over its hashes in ascending h — exactly the string
    # the old sort_array(collect_list(...)) aggregation produced, without a
    # second shuffle (r6).  The tiny per-doc explode emits one row per band.
    n_bands = -(-num_hashes // band_size)
    band_structs = []
    for band in range(n_bands):
        hs = range(band * band_size, min((band + 1) * band_size, num_hashes))
        key = F.concat_ws(
            ":",
            *[
                F.concat_ws(
                    "=", F.lit(str(h)), F.col(f"_m{h}").cast("string")
                )
                for h in hs
            ],
        )
        band_structs.append(
            F.struct(
                F.lit(band).cast("int").alias("band"),
                key.alias("bucket_key"),
            )
        )
    bands = mins.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("x")
    ).select(
        "doc_id",
        F.col("x.band").alias("band"),
        F.col("x.bucket_key").alias("bucket_key"),
    )
    a = bands.alias("a")
    b = bands.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket_key") == F.col("b.bucket_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    # exact-Jaccard verification restricted to candidate pairs (the point of
    # LSH: never materialize the quadratic pair space).  Execution shape
    # (r6b): ONE aggregation folds each doc's distinct shingle keys into a
    # sorted array (set semantics are already guaranteed — word_shingles is
    # array_distinct, so (doc, key) rows are unique), then the candidate
    # pairs join those per-doc SET rows and the intersection count is a
    # native array_intersect per pair.  The former shape exploded every
    # candidate pair back to ~|shingles| rows through a (doc, key) equi-join
    # — at bench sf1.0 that was a 54M-row join + re-aggregation, ~20 s of
    # the operator's wall; the set-array join moves one row per candidate
    # (guide §2.3: aggregate before you shuffle).  |common| values are
    # identical: |A ∩ B| via set-array intersect == the count(*) of the
    # (doc, key) equi-join on unique rows.  No broadcast hint on the joins:
    # the per-doc set frame is corpus-sized (one row per doc) — AQE
    # broadcasts when it actually fits.  Dense mode verifies over the
    # bijective shingle_id longs; hash mode keeps the shingle strings (its
    # folded ids are not collision-free, so id-level intersection counts
    # would not be exact there).
    if id_mode == "dense":
        vsrc, vkey = ids, "shingle_id"
    else:
        vsrc, vkey = shingled, "shingle"
    doc_sets = vsrc.groupBy("doc_id").agg(
        F.sort_array(F.collect_list(vkey)).alias("_ks"),
        F.count("*").alias("ns"),
    )
    return (
        candidates.join(
            doc_sets.select(
                F.col("doc_id").alias("doc_a"),
                F.col("_ks").alias("_ka"),
                F.col("ns").alias("na"),
            ),
            "doc_a",
        )
        .join(
            doc_sets.select(
                F.col("doc_id").alias("doc_b"),
                F.col("_ks").alias("_kb"),
                F.col("ns").alias("nb"),
            ),
            "doc_b",
        )
        .withColumn("common", F.size(F.array_intersect("_ka", "_kb")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("common") / (F.col("na") + F.col("nb") - F.col("common")), 4
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
        .orderBy("doc_a", "doc_b")
    )


def simhash(
    docs: DataFrame, text_col: str = "text", bits: int = 16,
    id_mode: str = "dense",
) -> DataFrame:
    """16-bit SimHash over distinct simple tokens.

    weight(id, j) = ((id * (2j+17)) mod 97) - 48; bit j set iff the sum of
    weights over the doc's distinct terms is > 0.

    * ``dense`` (oracle mode): dense term ids via the distributed sort-rank —
      engine-portable, the DuckDB oracle reproduces signatures bit-for-bit.
      Costs a term-vocabulary sort per run.
    * ``hash`` (production mode): term_id = xxhash64 folded into
      [1, 2^31-1), computed INLINE — no vocabulary job at all, the 100 TB
      path.  Identical docs get identical signatures under either mode
      (verified on the clone fixture in tests/test_dedup_similarity.py)."""
    from cascading_solr_spark.operators.textstats import spread_partitions

    toks = spread_partitions(docs).select(
        "doc_id", F.explode(F.array_distinct(simple_tokens(text_col))).alias("term")
    )
    if id_mode == "hash":
        ids = toks.select(
            "doc_id",
            (F.pmod(F.xxhash64("term"), F.lit(MINHASH_PRIME - 1)) + 1).alias(
                "term_id"
            ),
        )
    else:
        from cascading_solr_spark.indexing.build import _rank_ids

        # keys-only distinct vocabulary: the sort-rank ids ARE the mapping —
        # no assign_doc_ids join-back of ids onto the vocabulary (r6)
        vocab_ids, _ = _rank_ids(
            toks.select("term").distinct(), ("term",), check_unique=False
        )
        vocab = vocab_ids.select(
            "term", (F.col("doc_id") + 1).alias("term_id")
        )
        ids = toks.join(vocab, "term").select("doc_id", "term_id")
    # one aggregation with ``bits`` per-bit weight sums instead of exploding
    # ``bits`` rows per (doc, term) into a wide shuffle (r6: the explode
    # shape shuffled bits x |doc-terms| rows; map-side partial aggregation
    # now collapses to one row per doc before the exchange).  The weight
    # arithmetic and the per-bit integer sums are unchanged, so signatures
    # are identical bit-for-bit.
    sums = ids.groupBy("doc_id").agg(
        *[
            F.sum((F.col("term_id") * (2 * j + 17)) % 97 - 48).alias(f"_s{j}")
            for j in range(bits)
        ]
    )
    sig: F.Column = F.lit(0).cast("long")
    for j in range(bits):
        sig = sig + F.when(
            F.col(f"_s{j}") > 0, F.lit(1 << j).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return sums.select("doc_id", sig.alias("simhash"))


def simhash_near_pairs(
    docs: DataFrame, text_col: str = "text", max_hamming: int = 2, bits: int = 16,
    id_mode: str = "dense",
) -> DataFrame:
    """Near-dup pairs with hamming(simhash_a, simhash_b) <= max_hamming.

    LOSSLESS banded equi-join (pigeonhole): the signature splits into
    ``max_hamming + 1`` disjoint bit bands; two signatures within
    max_hamming MUST agree exactly on at least one band, so candidates come
    from an equi-join on (band_idx, band_bits) — bounded shuffle, never a
    BroadcastNestedLoopJoin — then the exact hamming verify.  Identical
    results to the quadratic all-pairs formulation (the oracle).
    ``id_mode='hash'`` skips the signature stage's vocabulary sort (see
    :func:`simhash`)."""
    # r6 execution shape — candidates and cross-band dedup at the DISTINCT-
    # SIGNATURE level.  Near-duplicate corpora collapse many docs onto few
    # signatures (the r5 sf1.0 profile: 50k docs -> 3.9-7.5k distinct sigs,
    # and 150M+ result pairs), so the former doc-level band self-join paid
    # Σ cnt² joined rows, a mega-skewed merge task (one band value held 239M
    # candidate pairs — guide §2.5), and a 150M-row .distinct() shuffle.
    # Here the band join, the hamming verify, and the multi-band dedup all
    # run over signature GROUPS (one row per distinct signature, doc ids
    # collected sorted), and doc pairs are expanded AFTER — round-robin
    # spread, no final distinct needed:
    #   * two docs with the SAME signature pair exactly once in `same`;
    #   * two docs with different signatures pair exactly once via their
    #     (sig_a < sig_b) class, deduplicated across bands on the tiny
    #     sig-pair set.
    # Pure integer arithmetic throughout — the pair set and hamming values
    # are identical to the join formulation (quadratic-parity pytest + the
    # DuckDB oracle pin this).
    s = simhash(docs, text_col, bits, id_mode=id_mode)
    n_bands = max_hamming + 1
    widths = [bits // n_bands + (1 if j < bits % n_bands else 0)
              for j in range(n_bands)]
    shifts, acc = [], 0
    for w_ in widths:
        shifts.append(acc)
        acc += w_
    # persisted AND materialized eagerly: five consumers reference it (both
    # band-join sides, two array re-attach joins, the same-sig expansion),
    # and under AQE their query stages materialize CONCURRENTLY — a lazy
    # persist races its own population and every stage recomputes the whole
    # tokenize+signature chain (measured 4x the operator's real cost).  The
    # frame is one row per distinct signature — KBs to low MBs.
    spark = docs.sparkSession
    _swap_persisted("simhash_near_pairs", spark)
    groups = _persist(
        "simhash_near_pairs", spark,
        s.groupBy("simhash").agg(
            F.sort_array(F.collect_list("doc_id")).alias("_ids")
        ),
    )
    groups.count()
    bands = F.explode(
        F.array(*[
            F.struct(
                F.lit(j).alias("band"),
                F.shiftright(F.col("simhash"), shifts[j])
                .bitwiseAND(F.lit((1 << widths[j]) - 1))
                .alias("band_bits"),
            )
            for j in range(n_bands)
        ])
    )
    # band join + hamming verify + cross-band dedup on SLIM key rows (the
    # doc-id arrays would otherwise ride the join, force dropDuplicates into
    # a SortAggregate over array-carrying rows, and bloat the exchanges)
    banded = groups.select("simhash", bands.alias("x")).select(
        "simhash", F.col("x.band").alias("band"),
        F.col("x.band_bits").alias("band_bits"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    ham = F.bit_count(
        F.col("_sa").bitwiseXOR(F.col("_sb")).cast("long")
    )
    sig_pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_bits") == F.col("b.band_bits"))
            & (F.col("a.simhash") < F.col("b.simhash")),
        )
        .select(
            F.col("a.simhash").alias("_sa"),
            F.col("b.simhash").alias("_sb"),
        )
        .withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["_sa", "_sb"])
    )
    n_spread = docs.sparkSession.sparkContext.defaultParallelism
    # ---- skew-bounded pair expansion (r6b, guide §2.5).  The former shape
    # exploded each sig pair's full doc-id arrays in place, so ONE monster
    # signature group kept its entire cnt² fan-out on a single task (the
    # bench corpus' top group is ~6.7k docs → 22M pairs from one row; the
    # 150M-row expansion ran ~90% on two tasks).  Now each sorted id array
    # is tiled into C-sized chunks and the EXPANSION UNIT is a chunk pair:
    # slim (sig_a, sig_b, chunk_i, chunk_j) key rows spread round-robin
    # first, the chunk arrays attach AFTER the shuffle via broadcast joins
    # (the chunk table is one row per (sig, chunk): KBs), and no task row
    # generates more than C² pairs.  The pair multiset is unchanged —
    # chunks partition each array, so (chunk_i × chunk_j) tiles the cross
    # pair space exactly once, and within a group the j ≥ i chunk pairs tile
    # the i<j doc pair space (ids are sorted, so inter-chunk pairs are
    # already ordered; the _da < _db filter only bites on diagonal chunks).
    C = 1024

    def _chunks(col):
        n_ch = F.ceil(F.size(col) / C).cast("int")
        return F.transform(
            F.sequence(F.lit(0), n_ch - 1), lambda i: F.slice(col, i * C + 1, C)
        )

    chunked = groups.select(
        "simhash", F.posexplode(_chunks(F.col("_ids"))).alias("_ci", "_chunk")
    )
    nch = groups.select(
        "simhash", F.ceil(F.size("_ids") / C).cast("int").alias("_nch")
    )
    chunk_a = F.broadcast(
        chunked.select(
            F.col("simhash").alias("_sa"), F.col("_ci").alias("_cia"),
            F.col("_chunk").alias("_la"),
        )
    )
    chunk_b = F.broadcast(
        chunked.select(
            F.col("simhash").alias("_sb"), F.col("_ci").alias("_cib"),
            F.col("_chunk").alias("_lb"),
        )
    )
    cross = (
        sig_pairs.join(
            F.broadcast(nch.select(F.col("simhash").alias("_sa"), F.col("_nch").alias("_na"))), "_sa"
        )
        .join(
            F.broadcast(nch.select(F.col("simhash").alias("_sb"), F.col("_nch").alias("_nb"))), "_sb"
        )
        .select(
            "_sa", "_sb", "hamming",
            F.explode(F.sequence(F.lit(0), F.col("_na") - 1)).alias("_cia"),
            "_nb",
        )
        .select(
            "_sa", "_sb", "hamming", "_cia",
            F.explode(F.sequence(F.lit(0), F.col("_nb") - 1)).alias("_cib"),
        )
        .repartition(n_spread)
        .join(chunk_a, ["_sa", "_cia"])
        .join(chunk_b, ["_sb", "_cib"])
        .select(F.explode("_la").alias("_da"), "_lb", "hamming")
        .select("_da", F.explode("_lb").alias("_db"), "hamming")
        .select(
            F.least("_da", "_db").alias("doc_a"),
            F.greatest("_da", "_db").alias("doc_b"),
            "hamming",
        )
    )
    same = (
        groups.filter(F.size("_ids") >= 2)
        .select("simhash", F.ceil(F.size("_ids") / C).cast("int").alias("_nch"))
        .select(
            F.col("simhash").alias("_sa"),
            F.explode(F.sequence(F.lit(0), F.col("_nch") - 1)).alias("_cia"),
            "_nch",
        )
        .select(
            "_sa", "_cia",
            F.explode(F.sequence(F.col("_cia"), F.col("_nch") - 1)).alias("_cib"),
        )
        .repartition(n_spread)
        .join(chunk_a, ["_sa", "_cia"])
        .join(
            F.broadcast(
                chunked.select(
                    F.col("simhash").alias("_sa"), F.col("_ci").alias("_cib"),
                    F.col("_chunk").alias("_lb"),
                )
            ),
            ["_sa", "_cib"],
        )
        .select(F.explode("_la").alias("_da"), "_lb")
        .select("_da", F.explode("_lb").alias("_db"))
        .filter(F.col("_da") < F.col("_db"))
        .select(
            F.col("_da").alias("doc_a"),
            F.col("_db").alias("doc_b"),
            F.lit(0).alias("hamming"),
        )
    )
    return cross.unionByName(same)


#: edge count below which connected_components solves driver-side: 2M edges
#: is ~32 MB collected — bounded, unlike the per-round distributed loop's
#: 2 jobs + localCheckpoint whose FIXED overhead (~1 s/round) dominates on
#: small graphs.  Above the gate the distributed hash-min loop runs.
CC_LOCAL_MAX_EDGES = 2_000_000


def connected_components(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components over a near-duplicate pair list: the step between
    "pairs found" and "duplicates dropped" in a dedup pipeline (a doc similar
    to A and to B must land in ONE cluster with both, or the keep-one-per-
    cluster pass keeps two of the three).

    Returns (doc_id, component) for every doc appearing in ``pairs``, where
    ``component`` is the MINIMUM doc_id reachable from it — a deterministic
    canonical representative.

    Algorithm: hash-min label propagation.  Each round every node takes the
    min of its own label and its neighbors' labels; converges in
    O(graph diameter) rounds.  Near-duplicate graphs are dense low-diameter
    clusters (everything in a cluster is pairwise-similar or one hop from
    it), so the round count is small and data-independent in practice —
    the alternating large-star/small-star algorithm (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14) is the
    O(log n)-round fallback if a pathological chain graph ever matters.

    Scale shape per round: one shuffle to join labels onto edges (key: node)
    and one shuffle for the min-aggregate — both on node ids, never on
    content.  Lineage is truncated with ``localCheckpoint`` every round
    (iterative plans otherwise grow linearly and re-execute the whole
    history); on a real cluster with unreliable local disk, swap in
    ``spark.sparkContext.setCheckpointDir`` + ``.checkpoint()``.
    Convergence is detected with a count of changed labels (one cheap job
    per round on the already-checkpointed frames).
    """
    edges_raw = pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    # size-gated local solve (r6): on a small pair list the distributed
    # loop's per-round FIXED cost (join+agg job, localCheckpoint, changed
    # count) dominates wall time by 10x.  The collect is BOUNDED by the
    # gate (~32 MB at the cap); union-find with per-root minima returns the
    # exact same (doc_id, min reachable doc_id) labels.  Past the gate the
    # hash-min loop below runs unchanged — the 100 TB path.
    n_edges = edges_raw.count()
    if n_edges <= CC_LOCAL_MAX_EDGES:
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        for row in edges_raw.collect():
            u, v = row["u"], row["v"]
            if u not in parent:
                parent[u] = u
            if v not in parent:
                parent[v] = v
            ru, rv = find(u), find(v)
            if ru != rv:
                parent[ru] = rv
        comp_min: dict = {}
        for x in parent:
            r = find(x)
            m = comp_min.get(r)
            if m is None or x < m:
                comp_min[r] = x
        id_type = pairs.schema[src].dataType.simpleString()
        out = [(x, comp_min[find(x)]) for x in parent]
        return pairs.sparkSession.createDataFrame(
            out, f"doc_id {id_type}, component {id_type}"
        )
    edges = (
        edges_raw.union(
            edges_raw.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        .distinct()
        .persist()
    )
    labels = (
        edges.select("u")
        .distinct()
        .withColumn("component", F.col("u"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        nbr = edges.join(
            labels.withColumnRenamed("u", "v"), "v"
        ).select("u", "component")
        new = (
            labels.union(nbr)
            .groupBy("u")
            .agg(F.min("component").alias("component"))
            .localCheckpoint(eager=True)
        )
        changed = (
            new.alias("n")
            .join(labels.alias("o"), "u")
            .filter(F.col("n.component") != F.col("o.component"))
            .count()
        )
        labels = new
        if changed == 0:
            break
    else:
        # exhausted max_iter without a fixed point: labels are NOT final
        # component ids and a keep-one-per-cluster pass over them would keep
        # extra duplicates — surface it loudly instead of returning silently
        # (r6, ADVICE item; a >max_iter-diameter chain graph is the trigger)
        import warnings

        warnings.warn(
            f"connected_components did not converge in {max_iter} rounds; "
            "labels may split true components (raise max_iter, or switch to "
            "the large-star/small-star formulation for high-diameter graphs)",
            RuntimeWarning,
            stacklevel=2,
        )
    edges.unpersist()
    return labels.select(F.col("u").alias("doc_id"), "component")


def drop_near_duplicates(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "doc_a",
    dst: str = "doc_b",
) -> DataFrame:
    """Keep one document per near-duplicate cluster (the component's minimum
    doc_id) plus every document in no pair — the end-to-end "dedup the
    corpus" operation.  One anti-join against the (small relative to the
    corpus) loser set; AQE broadcasts it when it fits."""
    comp = connected_components(pairs, src=src, dst=dst)
    losers = comp.filter(F.col("component") != F.col("doc_id")).select(
        F.col("doc_id").alias(id_col)
    )
    return docs.join(losers, id_col, "left_anti")
