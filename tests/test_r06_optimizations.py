"""Round-6 optimization parity tests: every rewritten kernel must produce
bit-identical results to the formulation it replaced.

* similarity: the statically unrolled dot/norm/signature expressions vs the
  HOF (zip_with/aggregate) fold they replaced — same sequential IEEE order.
* dedup: the explode-free minhash/simhash aggregations vs the long-format
  originals (integer arithmetic, order-free sums/mins).
* search: the doc_filter escalation cap falls through to the semi-join plan
  with identical results, and the driver never collects past the cap.
"""

from __future__ import annotations

import pytest
from pyspark.sql import SparkSession
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .appName("test-r06-opt")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    yield s


@pytest.fixture(scope="module")
def emb(spark):
    # deterministic synthetic embeddings incl. negatives and exact zeros
    return spark.range(60).selectExpr(
        "id as vec_id",
        "transform(sequence(0, 15), d -> "
        "cast(pmod(id * 7 + d * 3, 23) - 11 as double) / 4.0) as embedding",
    )


def test_unrolled_dot_matches_hof(spark, emb):
    from cascading_solr_spark.operators.similarity import dot, norm

    a, b = F.col("embedding"), F.reverse(F.col("embedding"))
    rows = emb.select(
        dot(a, b, dim=16).alias("u"),
        dot(a, b).alias("h"),
        norm(a, dim=16).alias("un"),
        norm(a).alias("hn"),
    ).collect()
    assert rows
    for r in rows:
        assert r["u"] == r["h"]  # bit-identical, not approx
        assert r["un"] == r["hn"]


def test_unrolled_signature_matches_hof(spark, emb):
    from cascading_solr_spark.operators.similarity import lsh_signature

    for planes, off in ((8, 0), (12, 24)):
        rows = emb.select(
            lsh_signature(
                F.col("embedding"), planes, plane_offset=off, dim=16
            ).alias("u"),
            lsh_signature(F.col("embedding"), planes, plane_offset=off).alias(
                "h"
            ),
        ).collect()
        assert all(r["u"] == r["h"] for r in rows)


def test_batched_signature_matches_hof(spark, emb):
    # the Arrow-vectorized signature kernel must be bit-identical to the
    # interpreted HOF fold for BOTH double and float32 element types (the
    # kernel casts to double before the multiply, like Catalyst's promotion)
    from cascading_solr_spark.operators.similarity import (
        lsh_signature,
        lsh_signature_batched,
    )

    emb_f = emb.withColumn(
        "embedding", F.col("embedding").cast("array<float>")
    )
    for frame in (emb, emb_f):
        for planes, off in ((8, 0), (12, 24)):
            rows = frame.select(
                lsh_signature_batched(planes, plane_offset=off)(
                    F.col("embedding")
                ).alias("b"),
                lsh_signature(
                    F.col("embedding"), planes, plane_offset=off
                ).alias("h"),
            ).collect()
            assert rows and all(r["b"] == r["h"] for r in rows)


def test_batched_signature_rejects_null_and_ragged_vectors(spark):
    from pyspark.errors import PythonException

    from cascading_solr_spark.operators.similarity import lsh_signature_batched

    for rows in (
        [(1, [1.0, 0.5, -2.0]), (2, None), (3, [0.0, 1.0, 1.0])],
        [(1, [1.0, 0.5, -2.0]), (2, [1.0, 0.5]), (3, [0.0, 1.0, 1.0])],
    ):
        emb = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        ).coalesce(1)
        sig = lsh_signature_batched(8)(F.col("embedding"))
        with pytest.raises(
            PythonException, match="ValueError: lsh_signature_batched"
        ):
            emb.select(sig).collect()


def test_cosine_topk_to_row_missing_id_empty(spark, emb):
    from cascading_solr_spark.operators.similarity import cosine_topk_to_row

    got = cosine_topk_to_row(emb, query_id=7, k=5).collect()
    assert len(got) == 5 and got[0]["vec_id"] == 7  # self-similarity first
    empty = cosine_topk_to_row(emb, query_id=10_000, k=5)
    assert empty.columns == ["vec_id", "cos_sim"]
    assert empty.count() == 0


@pytest.fixture(scope="module")
def docs(spark):
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta"]
    rows = []
    for i in range(40):
        toks = [words[(i * 3 + j * 5) % len(words)] for j in range(12)]
        rows.append((i, " ".join(toks)))
    rows.append((40, rows[3][1]))  # exact clone -> guaranteed near pair
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_signatures_long_format_parity(spark, docs):
    """The min-column + stack rewrite matches the exploded-hash original
    (recomputed inline) value-for-value, schema included."""
    from cascading_solr_spark.operators.dedup import (
        MINHASH_PRIME,
        _shingled,
        minhash_signatures,
        shingle_ids,
    )

    got = minhash_signatures(docs, "text")
    assert [f.name for f in got.schema.fields] == ["doc_id", "h", "minhash"]
    assert dict((f.name, f.dataType.simpleString()) for f in got.schema)[
        "h"
    ] == "int"
    s = _shingled(docs, "text", 3)
    ids = s.join(shingle_ids(s, "dense"), "shingle").select(
        "doc_id", "shingle_id"
    )
    hashes = F.explode(
        F.transform(
            F.sequence(F.lit(0), F.lit(15)),
            lambda j: F.struct(
                j.alias("h"),
                (
                    ((2 * j + 1) * F.col("shingle_id") + 13 * j + 7)
                    % MINHASH_PRIME
                ).alias("hv"),
            ),
        )
    )
    want = (
        ids.select("doc_id", hashes.alias("x"))
        .select("doc_id", F.col("x.h").alias("h"), F.col("x.hv").alias("hv"))
        .groupBy("doc_id", "h")
        .agg(F.min("hv").alias("minhash"))
    )
    gl = sorted(map(tuple, got.collect()))
    wl = sorted(map(tuple, want.collect()))
    assert gl == wl


def test_simhash_sum_columns_parity(spark, docs):
    """The per-bit sum-column simhash matches the exploded original
    (recomputed inline) in both id modes."""
    from cascading_solr_spark.operators.dedup import simhash
    from cascading_solr_spark.operators.textstats import simple_tokens

    for id_mode in ("dense", "hash"):
        got = sorted(map(tuple, simhash(docs, "text", id_mode=id_mode).collect()))
        # original explode formulation, using the SAME term ids
        toks = docs.select(
            "doc_id",
            F.explode(F.array_distinct(simple_tokens("text"))).alias("term"),
        )
        if id_mode == "hash":
            ids = toks.select(
                "doc_id",
                (
                    F.pmod(F.xxhash64("term"), F.lit(2_147_483_646)) + 1
                ).alias("term_id"),
            )
        else:
            from cascading_solr_spark.indexing.build import _rank_ids

            vocab_ids, _ = _rank_ids(
                toks.select("term").distinct(), ("term",), check_unique=False
            )
            ids = toks.join(
                vocab_ids.select(
                    "term", (F.col("doc_id") + 1).alias("term_id")
                ),
                "term",
            ).select("doc_id", "term_id")
        contribs = ids.select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(15)),
                    lambda j: F.struct(
                        j.alias("bit"),
                        ((F.col("term_id") * (2 * j + 17)) % 97 - 48).alias(
                            "w"
                        ),
                    ),
                )
            ).alias("x"),
        ).select("doc_id", F.col("x.bit").alias("bit"), F.col("x.w").alias("w"))
        want = sorted(
            map(
                tuple,
                contribs.groupBy("doc_id", "bit")
                .agg(F.sum("w").alias("s"))
                .withColumn(
                    "bitval",
                    F.when(
                        F.col("s") > 0,
                        F.pow(F.lit(2.0), F.col("bit")).cast("long"),
                    ).otherwise(F.lit(0).cast("long")),
                )
                .groupBy("doc_id")
                .agg(F.sum("bitval").alias("simhash"))
                .collect(),
            )
        )
        assert got == want, id_mode


def test_minhash_lsh_band_keys_match_aggregated_form(spark, docs):
    """The direct band bucket keys equal the sort_array(collect_list(...))
    aggregation they replaced, so candidate generation is unchanged."""
    from cascading_solr_spark.operators.dedup import (
        _minhash_min_cols,
        _shingled,
        minhash_signatures,
    )

    s = _shingled(docs, "text", 3)
    mins = _minhash_min_cols(s, 16, "dense")
    band_structs = []
    for band in range(4):
        hs = range(band * 4, (band + 1) * 4)
        key = F.concat_ws(
            ":",
            *[
                F.concat_ws("=", F.lit(str(h)), F.col(f"_m{h}").cast("string"))
                for h in hs
            ],
        )
        band_structs.append(
            F.struct(
                F.lit(band).cast("int").alias("band"), key.alias("bucket_key")
            )
        )
    got = sorted(
        map(
            tuple,
            mins.select(
                "doc_id", F.explode(F.array(*band_structs)).alias("x")
            )
            .select("doc_id", "x.band", "x.bucket_key")
            .collect(),
        )
    )
    sigs = minhash_signatures(docs, "text")
    want = sorted(
        map(
            tuple,
            sigs.withColumn(
                "band", F.floor(F.col("h") / 4).cast("int")
            )
            .groupBy("doc_id", "band")
            .agg(
                F.concat_ws(
                    ":",
                    F.transform(
                        F.sort_array(
                            F.collect_list(F.struct("h", "minhash"))
                        ),
                        lambda st: F.concat_ws(
                            "=",
                            st["h"].cast("string"),
                            st["minhash"].cast("string"),
                        ),
                    ),
                ).alias("bucket_key")
            )
            .collect(),
        )
    )
    assert got == want


def test_doc_filter_escalation_cap(spark, tmp_path):
    """Ultra-selective doc_filter: the ranked path must stop escalating at
    the cap and fall through to the semi-join plan — identical results to
    the exhaustive k=None path, bounded driver collect."""
    from cascading_solr_spark.corpus import synth_corpus
    from cascading_solr_spark.indexing.build import build_index
    from cascading_solr_spark.query.search import search
    from cascading_solr_spark.spec import IndexSpec

    corpus = synth_corpus(spark, 300, partitions=4)
    ix_dir = str(tmp_path / "ix")
    ix = build_index(
        spark,
        corpus,
        IndexSpec(num_shards=4, stored_fields=("repo", "path", "lang")),
        ix_dir,
    )
    # match-nothing filter: loop must terminate (stream exhaustion or cap)
    got_none = search(
        spark, ix, "import", k=5, with_stored=False,
        doc_filter="lang = 'no-such-lang'",
    ).collect()
    assert got_none == []
    # ultra-selective filter: one specific surviving path
    target = corpus.limit(1).collect()[0]["path"]
    got = search(
        spark, ix, "import", k=5, with_stored=False,
        doc_filter=f"path = '{target}'",
    ).collect()
    want = [
        r
        for r in search(
            spark, ix, "import", k=None, with_stored=False,
            doc_filter=f"path = '{target}'",
        ).collect()
    ][:5]
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_connected_components_warns_without_convergence(spark, monkeypatch):
    import warnings

    from cascading_solr_spark.operators import dedup

    # force the distributed loop (the local union-find path has no rounds)
    monkeypatch.setattr(dedup, "CC_LOCAL_MAX_EDGES", -1)
    # a 6-node chain needs ~5 rounds; max_iter=1 cannot converge
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], "doc_a long, doc_b long"
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        dedup.connected_components(pairs, max_iter=1).collect()
    assert any("did not converge" in str(w.message) for w in caught)


def test_connected_components_local_matches_distributed(spark, monkeypatch):
    """The size-gated local union-find returns exactly the distributed
    hash-min loop's labels (component = min reachable doc_id)."""
    from cascading_solr_spark.operators import dedup

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 20), (30, 31)],
        "doc_a long, doc_b long",
    )
    local = sorted(
        map(tuple, dedup.connected_components(pairs).collect())
    )
    monkeypatch.setattr(dedup, "CC_LOCAL_MAX_EDGES", -1)
    dist = sorted(
        map(tuple, dedup.connected_components(pairs).collect())
    )
    assert local == dist
    assert local  # non-vacuous


def test_stale_index_handle_warns(spark, tmp_path):
    """A handle loaded before a mutation warns when a first-use cache fill
    happens after the on-disk meta has moved (r6, ADVICE item)."""
    import warnings

    from cascading_solr_spark.corpus import synth_corpus
    from cascading_solr_spark.indexing.append import append_documents
    from cascading_solr_spark.indexing.build import Index, build_index
    from cascading_solr_spark.spec import IndexSpec
    from pyspark.sql import functions as F

    corpus = synth_corpus(spark, 60, partitions=2)
    ix_dir = str(tmp_path / "ix")
    build_index(spark, corpus, IndexSpec(num_shards=2), ix_dir)
    stale = Index.load(ix_dir)  # no cache fills yet
    delta = synth_corpus(spark, 10, partitions=2).select(
        "repo", F.concat("path", F.lit(".v2")).alias("path"),
        "commit", "lang", "content",
    )
    append_documents(spark, ix_dir, delta)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        stale.postings(spark)
    assert any("stale" in str(w.message) for w in caught)
    # a fresh handle fills silently
    fresh = Index.load(ix_dir)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        fresh.postings(spark)
    assert not any("stale" in str(w.message) for w in caught)


def test_murmur3_int_matches_spark_hash(spark):
    from pyspark.sql import functions as F

    from cascading_solr_spark.indexing.build import _murmur3_int

    rows = (
        spark.range(-50, 5000, 137)
        .select(F.col("id").cast("int").alias("x"))
        .withColumn("h", F.hash("x"))
        .collect()
    )
    assert rows and all(_murmur3_int(r["x"]) == r["h"] for r in rows)


def test_balanced_shard_key_is_bijective(spark):
    from pyspark.sql import functions as F

    from cascading_solr_spark.indexing.build import _balanced_shard_key

    for n in (8, 32):
        df = spark.range(n).select(F.col("id").cast("int").alias("shard"))
        per = (
            df.repartition(n, _balanced_shard_key(F.col("shard"), n))
            .select(F.spark_partition_id().alias("p"))
            .groupBy("p")
            .count()
            .collect()
        )
        # one shard per partition: every partition non-empty, max load 1
        assert len(per) == n and max(r["count"] for r in per) == 1
