"""Similarity search over embedding columns (array<float>).

* brute-force cosine top-k — the exact baseline: JVM-side dot products via
  zip_with + aggregate (no Python in the row path), global top-k.
* LSH-bucketed ANN — random-hyperplane signatures with DETERMINISTIC
  integer-arithmetic hyperplanes (reproducible in any engine, no RNG at
  query time); candidates restricted to the query's bucket, then exact
  cosine re-rank.  The scale path: bucket cardinality bounds the scan.
* all-pairs near-duplicate detection by embedding cosine >= threshold.

At 100 TB scale the brute-force path is a single narrow scan + top-k
(no shuffle but the k-row merge); the LSH path prunes the scan by bucket
partition pruning when the signatures are materialized as a partition column.

Execution note (r6 optimization): the Catalyst higher-order functions
(``zip_with``/``aggregate`` with lambdas) are CodegenFallback — every array
element pays an interpreted lambda dispatch, which dominated the PAIR-VERIFY
stage at scale (guide §1.2 "per-task work": millions of candidate pairs x 3
HOF array passes each, merged into the join condition and evaluated twice).
That stage now runs as a per-bucket Arrow kernel (embedding_near_pairs_lsh)
whose float accumulation is sequential across dimensions — bit-identical to
the HOF fold, so the DuckDB oracle still reproduces every cosine exactly.
``dot``/``norm``/``cosine``/``lsh_signature`` also accept an optional
``dim`` to emit a statically unrolled expression tree with the same fold
order; measured at bench scale the unrolled form LOST to the HOF on
row-at-a-time paths (plan analysis + codegen of a 300-1000-node tree per
call outweighs the per-row win below ~10^5 rows), so no caller passes it —
it remains for dimension-heavy map stages over large row counts.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

LSH_MOD = 97  # hyperplane weights in [-48, 48] via modular arithmetic


def dot(a: Column, b: Column, dim: int | None = None) -> Column:
    """Sequential-fold dot product: 0.0 + a[0]*b[0] + a[1]*b[1] + ...

    With ``dim`` the sum is a statically unrolled (codegen-compiled)
    expression; without it the interpreted HOF fold.  Identical IEEE
    addition order either way."""
    if dim is not None:
        acc: Column = F.lit(0.0)
        for d in range(dim):
            acc = acc + a[d] * b[d]
        return acc
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column, dim: int | None = None) -> Column:
    return F.sqrt(dot(a, a, dim))


def cosine(a: Column, b: Column, dim: int | None = None) -> Column:
    return dot(a, b, dim) / (norm(a, dim) * norm(b, dim))


def cosine_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact brute-force cosine top-k against a literal query vector."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    return (
        embeddings.select(
            F.col(id_col),
            F.round(cosine(F.col(vec_col), q), 4).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


def cosine_topk_to_row(
    embeddings: DataFrame,
    query_id: int = 0,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k against the embedding of an existing row
    (broadcast single-row cross join; float32 cast to float64 first so the
    arithmetic is engine-portable)."""
    as_double = lambda c: F.transform(c, lambda x: x.cast("double"))  # noqa: E731
    q = embeddings.filter(F.col(id_col) == query_id).select(
        as_double(F.col(vec_col)).alias("qv")
    )
    e = embeddings.select(F.col(id_col), as_double(F.col(vec_col)).alias("v"))
    return (
        e.crossJoin(F.broadcast(q))
        .select(
            F.col(id_col),
            F.round(cosine(F.col("v"), F.col("qv")), 4).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


def hyperplane_weight(plane: Column | int, dim: Column) -> Column:
    """Deterministic pseudo-random weight in [-48, 48]:
    ((plane*131 + dim*31 + 7) mod 97) - 48.  Pure integer arithmetic so the
    DuckDB oracle reproduces the same hyperplanes exactly."""
    p = F.lit(plane) if isinstance(plane, int) else plane
    return ((p * 131 + dim * 31 + 7) % LSH_MOD - 48).cast("double")


def _py_hyperplane_weight(plane: int, dim: int) -> float:
    return float(((plane * 131 + dim * 31 + 7) % LSH_MOD) - 48)


def lsh_signature(
    vec: Column, n_planes: int = 8, plane_offset: int = 0,
    dim: int | None = None,
) -> Column:
    """Bit i set iff dot(vec, hyperplane_{i+plane_offset}) > 0 -> integer
    bucket in [0, 2^n).  ``plane_offset`` selects an independent hyperplane
    family — table t of a multi-table index uses offset t*n_planes.

    With ``dim`` the projections unroll with the hyperplane weights computed
    at plan-build time (same modular arithmetic, same fold order)."""
    if dim is not None:
        total: Column = F.lit(0).cast("long")
        for i in range(n_planes):
            proj: Column = F.lit(0.0)
            for d in range(dim):
                w = _py_hyperplane_weight(i + plane_offset, d)
                proj = proj + vec[d] * F.lit(w)
            total = total + F.when(
                proj > 0, F.lit(float(2.0 ** i)).cast("long")
            ).otherwise(F.lit(0).cast("long"))
        return total

    def plane_bit(i: Column) -> Column:
        proj = F.aggregate(
            F.zip_with(
                vec,
                F.sequence(F.lit(0), F.size(vec) - 1),
                lambda x, d: x * hyperplane_weight(i + F.lit(plane_offset), d),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        return F.when(proj > 0, F.pow(F.lit(2.0), i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )

    bits = F.transform(F.sequence(F.lit(0), F.lit(n_planes - 1)), plane_bit)
    return F.aggregate(bits, F.lit(0).cast("long"), lambda acc, v: acc + v)


def lsh_signature_batched(n_planes: int = 8, plane_offset: int = 0):
    """Arrow-vectorized twin of :func:`lsh_signature` (r6b, guide §4.2).

    Same hyperplane weights (integer arithmetic), same per-plane projection
    fold — the accumulator adds one ``x_d * w_d`` term at a time across
    dimensions, term-for-term the Catalyst ``aggregate`` fold, with float32
    inputs cast to double before the multiply exactly like the HOF's
    implicit promotion — so buckets are bit-identical to the interpreted
    form (parity-pinned in tests).  The HOF form is CodegenFallback: every
    array element pays an interpreted lambda dispatch, which made the
    signature stage the dominant cost of the ANN index builds.  Expects
    fixed-dimension, non-null vectors (the embedding-table contract); a
    batch holding a null or ragged vector raises a named ValueError from
    the kernel (no extra Spark job)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def sig(vecs: pd.Series) -> pd.Series:
        if not len(vecs):
            return pd.Series([], dtype="int64")
        vals = vecs.to_numpy()
        try:
            mat = np.stack(vals).astype(np.float64, copy=False)
        except (TypeError, ValueError):
            mat = None
        if mat is None or mat.ndim != 2:
            nulls = sum(v is None for v in vals)
            dims = sorted({len(v) for v in vals if v is not None})
            raise ValueError(
                "lsh_signature_batched needs non-null vectors of one "
                f"dimension; got {nulls} null vector(s), dimensions {dims}"
            )
        m, d = mat.shape
        out = np.zeros(m, dtype=np.int64)
        for i in range(n_planes):
            acc = np.zeros(m, dtype=np.float64)
            for c in range(d):
                w = float((((i + plane_offset) * 131 + c * 31 + 7) % LSH_MOD) - 48)
                acc = acc + mat[:, c] * w
            out += np.where(acc > 0, np.int64(1) << i, np.int64(0))
        return pd.Series(out)

    return sig


def lsh_buckets(
    embeddings: DataFrame,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    return embeddings.select(
        F.col(id_col),
        lsh_signature_batched(n_planes)(F.col(vec_col)).alias("bucket"),
    )


def ann_lsh_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN: restrict to the query's LSH bucket, exact-cosine re-rank.

    Approximate by construction (a bucket miss is a recall miss) — tested
    for plumbing + determinism, benchmarked for recall vs brute force."""
    bucket = query_buckets(query_vec, n_planes, probes=1)[0]
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    with_buckets = embeddings.withColumn(
        "bucket", lsh_signature(F.col(vec_col), n_planes)
    )
    return (
        with_buckets.filter(F.col("bucket") == bucket)
        .select(
            F.col(id_col),
            F.lit(bucket).alias("bucket"),
            F.round(cosine(F.col(vec_col), q), 4).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


def embedding_near_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All-pairs embedding near-dups: cosine >= threshold (exact, quadratic —
    small-scale oracle baseline; use embedding_near_pairs_lsh at scale).
    Per-side norms are computed once per ROW before the pair join (same
    multiply order norm_a*norm_b as the inline cosine), not once per pair."""
    a = embeddings.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"),
        norm(F.col(vec_col)).alias("na"),
    )
    b = embeddings.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"),
        norm(F.col(vec_col)).alias("nb"),
    )
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(
                dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")),
                4,
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def embedding_near_pairs_lsh(
    embeddings: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 8,
    n_tables: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Scale path for embedding near-dups: candidates from LSH bucket
    collisions (EQUI-join on the signature — bounded shuffle, no quadratic
    pair space), verified with exact cosine.

    Approximate by construction: a pair whose vectors straddle a hyperplane
    lands in different buckets and is missed (recall < 1, reported in the
    bench).  The same bucket computation is pure integer arithmetic, so the
    DuckDB oracle reproduces the candidate set exactly.

    100 TB shape (banded OR): per-bucket cardinality is ~n/2^n_planes and
    within-bucket pair generation is quadratic in it, so at scale RAISE
    ``n_planes`` (smaller buckets) and recover the recall the extra planes
    cost with ``n_tables`` independent hyperplane families — candidates are
    the union over tables, deduplicated BEFORE the threshold filter (a pair
    colliding in several tables carries identical cosines, so one survivor
    is kept).  Benchmarked at 12 planes x 2 tables alongside the 8x1 oracle
    config.

    Verify execution (r6): one shuffle of (id, vector) rows hash-keyed and
    sorted by (tbl, bucket), then a PARTITION-streaming Arrow kernel
    (mapInPandas with a tail-group carry, so thousands of tiny buckets pay
    one pandas frame per Arrow batch, not one per bucket) enumerates each
    bucket's i<j pairs and evaluates the cosines VECTORIZED ACROSS PAIRS
    while accumulating SEQUENTIALLY ACROSS DIMENSIONS —
    ``acc = (((0 + t0) + t1) + ...)`` per pair, term-for-term the Catalyst
    ``aggregate`` fold, so every cosine is bit-identical to the previous
    join formulation (and to the DuckDB oracle).  The kernel emits a
    conservative raw-cosine superset (threshold - 1e-3); the EXACT
    ``round(cos, 4) >= threshold`` decision stays in Spark on the tiny
    survivor set.  This replaces the self-join whose giant per-pair
    expression Catalyst merged into the join condition (interpreted +
    evaluated twice per candidate — the r5 profile's wall)."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    tables = []
    for t in range(n_tables):
        tables.append(
            embeddings.select(
                F.col(id_col), F.col(vec_col).alias("v"),
                F.lit(t).alias("tbl"),
                lsh_signature_batched(n_planes, plane_offset=t * n_planes)(
                    F.col(vec_col)
                ).alias("bucket"),
            )
        )
    with_b = tables[0]
    for more in tables[1:]:
        with_b = with_b.unionByName(more)

    id_type = embeddings.schema[id_col].dataType
    elem_type = embeddings.schema[vec_col].dataType.elementType
    elem_np = np.float32 if isinstance(elem_type, T.FloatType) else np.float64
    out_schema = T.StructType(
        [
            T.StructField("id_a", id_type),
            T.StructField("id_b", id_type),
            T.StructField("_raw", T.DoubleType()),
        ]
    )
    # pairs below this raw cosine can NEVER satisfy round(cos,4) >= threshold
    # (the rounding moves a value by < 5e-5); the margin keeps the kernel's
    # pre-filter a strict superset of the exact Spark-side decision
    lo = float(threshold) - 1e-3
    pair_chunk = 4_000_000  # bound per-chunk temp arrays (~32 MB per array)

    def one_bucket(ids_raw, vecs_raw, out_a, out_b, out_c):
        m = len(ids_raw)
        if m < 2:
            return
        order = np.argsort(ids_raw, kind="stable")
        ids = ids_raw[order]
        # element products run in the INPUT element type (float32 inputs
        # multiply in float32, exactly like Catalyst's Multiply(f32, f32));
        # the accumulator is float64, exactly like the fold's 0.0 seed
        mat = np.stack(vecs_raw[order]).astype(elem_np, copy=False)
        d = mat.shape[1]
        # per-vector norms: same sequential fold as norm()
        acc = np.zeros(m, dtype=np.float64)
        for c in range(d):
            acc = acc + mat[:, c] * mat[:, c]
        nrm = np.sqrt(acc)
        row = 0
        while row < m - 1:
            # rows [row, row_end) paired against all later rows, bounded so
            # the temp arrays stay ~pair_chunk entries
            rows_this = max(1, pair_chunk // max(1, m))
            row_end = min(m - 1, row + rows_this)
            ii, jj = [], []
            for i in range(row, row_end):
                jj.append(np.arange(i + 1, m))
                ii.append(np.full(m - i - 1, i))
            ii = np.concatenate(ii)
            jj = np.concatenate(jj)
            acc = np.zeros(len(ii), dtype=np.float64)
            va = mat[ii]
            vb = mat[jj]
            for c in range(d):
                acc = acc + va[:, c] * vb[:, c]
            raw = acc / (nrm[ii] * nrm[jj])
            keep = raw >= lo
            out_a.append(ids[ii[keep]])
            out_b.append(ids[jj[keep]])
            out_c.append(raw[keep])
            row = row_end

    def partition_pairs(batches):
        carry: pd.DataFrame | None = None
        for pdf in batches:
            if carry is not None and len(carry):
                pdf = pd.concat([carry, pdf], ignore_index=True)
            if not len(pdf):
                continue
            tb = pdf["tbl"].to_numpy()
            bk = pdf["bucket"].to_numpy()
            # hold back the final (possibly batch-spanning) bucket group
            tail = (tb == tb[-1]) & (bk == bk[-1])
            rev = tail[::-1]
            tail_len = int(np.argmin(rev)) if not rev.all() else len(rev)
            cut = len(pdf) - tail_len
            carry = pdf.iloc[cut:]
            head = pdf.iloc[:cut]
            if not len(head):
                continue
            yield _emit_buckets(head)
        if carry is not None and len(carry):
            yield _emit_buckets(carry)

    def _emit_buckets(pdf: pd.DataFrame) -> pd.DataFrame:
        tb = pdf["tbl"].to_numpy()
        bk = pdf["bucket"].to_numpy()
        n = len(pdf)
        change = np.empty(n, dtype=bool)
        change[0] = True
        change[1:] = (tb[1:] != tb[:-1]) | (bk[1:] != bk[:-1])
        starts = np.flatnonzero(change)
        ends = np.append(starts[1:], n)
        ids_all = pdf["ids"].to_numpy()
        vecs_all = pdf["v"].to_numpy()
        out_a: list = []
        out_b: list = []
        out_c: list = []
        for s, e in zip(starts, ends):
            one_bucket(ids_all[s:e], vecs_all[s:e], out_a, out_b, out_c)
        if not out_a:
            return pd.DataFrame(columns=["id_a", "id_b", "_raw"])
        return pd.DataFrame(
            {
                "id_a": np.concatenate(out_a),
                "id_b": np.concatenate(out_b),
                "_raw": np.concatenate(out_c),
            }
        )

    grouped = (
        with_b.select(F.col(id_col).alias("ids"), "v", "tbl", "bucket")
        .repartition("tbl", "bucket")
        .sortWithinPartitions("tbl", "bucket")
        .mapInPandas(partition_pairs, out_schema)
    )
    if n_tables > 1:
        grouped = grouped.dropDuplicates(["id_a", "id_b"])
    return grouped.select(
        "id_a", "id_b", F.round(F.col("_raw"), 4).alias("cos_sim")
    ).filter(F.col("cos_sim") >= threshold)


def build_ann_index(
    embeddings: DataFrame,
    out_dir: str,
    n_planes: int = 8,
    n_tables: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the LSH-bucketed ANN index: one parquet table PARTITIONED
    BY (tbl, bucket).  Queries read exactly the probed bucket partitions
    (partition pruning — verified in tests/test_plans) instead of
    recomputing signatures over the whole table per query.

    ``n_tables`` independent hyperplane families (table t uses planes
    t*n_planes..) trade index size (each vector stored n_tables times) for
    recall — the standard LSH recall knob alongside multiprobe."""
    tables = []
    for t in range(n_tables):
        tables.append(
            embeddings.select(
                F.col(id_col), F.col(vec_col),
                F.lit(t).alias("tbl"),
                lsh_signature_batched(n_planes, plane_offset=t * n_planes)(
                    F.col(vec_col)
                ).alias("bucket"),
            )
        )
    all_t = tables[0]
    for more in tables[1:]:
        all_t = all_t.unionByName(more)
    (
        all_t.repartition("tbl", "bucket")
        .write.mode("overwrite")
        .partitionBy("tbl", "bucket")
        .parquet(out_dir)
    )


_INDEX_DF_CACHE: dict[str, tuple] = {}


def _read_indexed(spark, path: str) -> DataFrame:
    """Session-cached ``spark.read.parquet`` of a materialized ANN/IVF index
    dir (r6b).  A bucket-partitioned index holds hundreds of partition dirs,
    and every probe re-listed all of them (~a third of warm query latency).
    The cache key carries the ``_SUCCESS`` mtime, so a rebuild into the same
    dir (overwrite rewrites the marker) invalidates; the value pins the
    owning session (identity compare), and entries of stopped sessions are
    evicted on every miss."""
    import os

    try:
        stamp = os.stat(os.path.join(path, "_SUCCESS")).st_mtime_ns
    except OSError:
        return spark.read.parquet(path)
    ent = _INDEX_DF_CACHE.get(path)
    if ent is not None and ent[0] is spark and ent[1] == stamp:
        return ent[2]
    for key, (sess, _s, _d) in list(_INDEX_DF_CACHE.items()):
        try:
            stopped = sess.sparkContext._jsc is None
        except Exception:  # noqa: BLE001 — any probe failure means unusable
            stopped = True
        if stopped:
            _INDEX_DF_CACHE.pop(key, None)
    df = spark.read.parquet(path)
    _INDEX_DF_CACHE[path] = (spark, stamp, df)
    return df


def query_buckets(
    query_vec: list[float],
    n_planes: int = 8,
    probes: int = 1,
    plane_offset: int = 0,
) -> list[int]:
    """The query's LSH bucket + multiprobe neighbors, computed driver-side
    with the same integer arithmetic as lsh_signature.

    probes=1: exact bucket only; probes=2: + all hamming-1 neighbors;
    probes>=3: + all hamming-2 neighbors (37 of 256 buckets at 8 planes —
    the recall knob that needs no extra index bytes)."""
    bucket = 0
    for i in range(n_planes):
        proj = sum(
            x * ((((i + plane_offset) * 131 + d * 31 + 7) % LSH_MOD) - 48)
            for d, x in enumerate(query_vec)
        )
        if proj > 0:
            bucket += 1 << i
    out = [bucket]
    if probes > 1:
        out += [bucket ^ (1 << i) for i in range(n_planes)]
    if probes > 2:
        out += [
            bucket ^ (1 << i) ^ (1 << j)
            for i in range(n_planes)
            for j in range(i + 1, n_planes)
        ]
    return out


def ann_lsh_topk_indexed(
    spark,
    ann_dir: str,
    query_vec: list[float],
    k: int = 10,
    n_planes: int = 8,
    probes: int = 1,
    n_tables: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k over the materialized bucket-partitioned index: reads ONLY
    the probed (tbl, bucket) partitions (multiprobe + multi-table widen
    recall), exact-cosine re-rank inside them.

    A vector found in several tables is kept once, attributed to its
    lowest-numbered (tbl, bucket) — deterministic, so the DuckDB oracle
    reproduces the result exactly."""
    cond = None
    for t in range(n_tables):
        buckets = query_buckets(
            query_vec, n_planes, probes, plane_offset=t * n_planes
        )
        c = (F.col("tbl") == t) & F.col("bucket").isin(buckets)
        cond = c if cond is None else (cond | c)
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    cand = _read_indexed(spark, ann_dir).filter(cond)
    if n_tables > 1:
        cand = cand.groupBy(id_col).agg(
            F.min(F.struct("tbl", "bucket")).alias("_tb"),
            F.first(vec_col).alias(vec_col),  # identical across tables
        ).select(
            F.col(id_col), F.col("_tb.bucket").alias("bucket"), F.col(vec_col)
        )
    return (
        cand.select(
            F.col(id_col),
            F.col("bucket"),
            F.round(cosine(F.col(vec_col), q), 4).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# IVF — the inverted-file ANN variant (k-means coarse quantizer).  The
# second standard scale path next to LSH: lists adapt to the data
# distribution (hyperplanes are data-oblivious), so recall per probed
# partition is typically higher on clustered embeddings.
# ---------------------------------------------------------------------------


def build_ivf_index(
    embeddings: DataFrame,
    out_dir: str,
    n_lists: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_iter: int = 10,
    seed: int = 42,
) -> list[list[float]]:
    """Materialize an IVF ANN index: MLlib KMeans (FIXED seed —
    deterministic, no wall-clock randomness) trains ``n_lists`` centroids
    as the coarse quantizer, vectors are written PARTITIONED BY their
    nearest-centroid ``list`` id, and the (tiny) centroid table rides
    alongside as JSON for driver-side probe selection.

    Scale shape: training runs on a sample-sized job (KMeans over the
    embedding column, Catalyst-native array→vector), assignment is one
    model.transform pass, and queries read ONLY the probed list partitions
    (partition pruning, same property as the LSH index).  Returns the
    centroids."""
    import json
    import os

    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    vecs = embeddings.select(
        F.col(id_col),
        F.col(vec_col),
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("_fv"),
    )
    model = KMeans(
        k=n_lists, seed=seed, maxIter=max_iter, featuresCol="_fv",
        predictionCol="list",
    ).fit(vecs)
    assigned = model.transform(vecs).select(id_col, vec_col, "list")
    (
        assigned.repartition("list")
        .write.mode("overwrite")
        .partitionBy("list")
        .parquet(out_dir)
    )
    centroids = [list(map(float, c)) for c in model.clusterCenters()]
    with open(os.path.join(out_dir, "_centroids.json"), "w") as fh:
        json.dump(centroids, fh)
    return centroids


def ivf_probe_lists(
    query_vec: list[float], centroids: list[list[float]], nprobe: int
) -> list[int]:
    """The ``nprobe`` nearest lists to the query (squared L2 to centroids,
    computed driver-side over the tiny centroid table — exactly FAISS's
    IVF probe selection)."""
    d2 = [
        (sum((x - c) ** 2 for x, c in zip(query_vec, cent)), i)
        for i, cent in enumerate(centroids)
    ]
    return [i for _, i in sorted(d2)[: max(1, nprobe)]]


def ann_ivf_topk(
    spark,
    ivf_dir: str,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF query: probe the ``nprobe`` nearest lists (partition-pruned
    scan), exact cosine re-rank inside the candidates, global top-k.
    ``nprobe = n_lists`` degenerates to the exact brute-force ranking —
    the recall/latency knob with a closed top end (asserted in tests)."""
    import json
    import os

    with open(os.path.join(ivf_dir, "_centroids.json")) as fh:
        centroids = json.load(fh)
    probes = ivf_probe_lists(query_vec, centroids, nprobe)
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    return (
        _read_indexed(spark, ivf_dir)
        .filter(F.col("list").isin(probes))
        .select(
            F.col(id_col),
            F.round(cosine(F.col(vec_col), q), 4).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )
