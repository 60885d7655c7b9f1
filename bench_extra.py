"""Optimization-round measurement harness (guide §1.4): times each heavy
operator in isolation with the noop sink (computation only, no sink cost,
no driver collect) and captures .explain("formatted") plans.

NOT the graded bench — bench.py is frozen for measurement.  This file exists
so before/after numbers and plan diffs in OPTIMIZATION_r06.md are
reproducible:

    python bench_extra.py [key ...]            # default: all keys
    SPARK_GRAFT_SF_DIR=/root/testdata/sf1.0 python bench_extra.py sim_near_pairs_lsh

Plans are written to plans/r06/<key>_<tag>.txt with tag from
$PLAN_TAG (default: none -> plans not written).
"""

from __future__ import annotations

import json
import os
import sys
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from cascading_solr_spark.operators import dedup, similarity, textstats
from cascading_solr_spark.query.naive import bm25_topk_df
from bench import driver_memory, host_cpus


def make_spark(cpus: str) -> SparkSession:
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("cascading_solr_spark-bench-extra")
        .config("spark.sql.shuffle.partitions", str(max(int(cpus), 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.driver.memory", driver_memory())
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", os.environ.get("BENCH_UI", "false"))
        .getOrCreate()
    )


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = host_cpus()
    repeat = int(os.environ.get("BENCH_REPEAT", "3"))
    plan_tag = os.environ.get("PLAN_TAG", "")
    spark = make_spark(cpus)
    spark.sparkContext.setLogLevel("ERROR")

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    emb_d = emb.withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )

    # every builder yields a fresh DataFrame; timing = noop-sink write
    builders = {
        "sim_near_pairs_lsh": lambda: similarity.embedding_near_pairs_lsh(
            emb_d, threshold=0.3
        ),
        "sim_near_pairs_lsh_scale": lambda: similarity.embedding_near_pairs_lsh(
            emb_d, threshold=0.3, n_planes=12, n_tables=2
        ),
        "sim_cosine_topk": lambda: similarity.cosine_topk_to_row(
            emb, query_id=0, k=10
        ),
        "sim_lsh_buckets": lambda: similarity.lsh_buckets(emb_d),
        "dedup_simhash_pairs": lambda: dedup.simhash_near_pairs(
            docs.select("doc_id", "text"), "text", max_hamming=1
        ),
        "dedup_simhash_pairs_hashmode": lambda: dedup.simhash_near_pairs(
            docs.select("doc_id", "text"), "text", max_hamming=1, id_mode="hash"
        ),
        "dedup_simhash_sigs": lambda: dedup.simhash(docs, "text"),
        "dedup_simhash_sigs_hashmode": lambda: dedup.simhash(
            docs, "text", id_mode="hash"
        ),
        "dedup_minhash_lsh": lambda: dedup.minhash_lsh_pairs(
            docs, "text", threshold=0.5
        ),
        "dedup_minhash_lsh_hashmode": lambda: dedup.minhash_lsh_pairs(
            docs, "text", threshold=0.5, id_mode="hash"
        ),
        "dedup_minhash_sigs": lambda: dedup.minhash_signatures(docs, "text"),
        "fingerprint_dense": lambda: textstats.fingerprint(docs, "text"),
        "fingerprint_hashmode": lambda: textstats.fingerprint(
            docs, "text", id_mode="hash"
        ),
        "naive_bm25_documents": lambda: bm25_topk_df(
            docs, "spark join stream", k=10, content_col="text"
        ),
    }

    keys = sys.argv[1:] or list(builders)
    out: dict[str, float] = {}
    for key in keys:
        b = builders[key]
        if plan_tag:
            import contextlib
            import io

            os.makedirs("plans/r06", exist_ok=True)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                b().explain("formatted")
            with open(f"plans/r06/{key}_{plan_tag}.txt", "w") as fh:
                fh.write(buf.getvalue())
        if repeat == 0:  # plans only
            continue
        best = float("inf")
        for _ in range(repeat):
            spark.sparkContext.setJobDescription(f"bench_extra:{key}")
            df = b()
            t0 = time.perf_counter()
            noop(df)
            best = min(best, time.perf_counter() - t0)
        out[key] = round(best, 3)
        print(f"{key}: {out[key]}s", flush=True)
    print(json.dumps({"sf_dir": sf_dir, "repeat": repeat, "timings": out}))
    spark.stop()


if __name__ == "__main__":
    main()
