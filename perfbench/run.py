"""Benchmark entry point.

    python3 perfbench/run.py --workload {ingest,query} \
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout.  With ``--trace 0`` the last stdout line
is a JSON object carrying the end-to-end metrics; with ``--trace 1`` the
run also writes a Spark event log and the JSON carries the per-layer
metrics instead.  Lines before it are a human-readable report.  The exit
code is 0 only when every operation and output check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import harness  # noqa: E402

E2E_UNITS = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "items_per_s": "items/s",
    "peak_rss_mb": "MB",
}

#: workload figures printed in the report under their own names
FIGURE_UNITS = {
    "build_files_per_s": "files/s",
    "index_bytes_per_source_byte": "ratio",
    "query_p50_ms": "ms",
    "query_p90_ms": "ms",
    "batch_queries_per_s": "queries/s",
    "append_files_per_s": "files/s",
    "delete_p50_ms": "ms",
    "compact_s": "s",
    "query_after_write_p50_ms": "ms",
    "dedup_docs_per_s": "docs/s",
    "dedup_pair_recall": "ratio",
}

LAYER_UNITS = {
    "analyzer.tokens_per_s": "tokens/s",
    "codec.decode_docs_per_s": "docs/s",
    "build.files_per_s": "files/s",
    "build.doc_ids_s": "s",
    "build.hot_detect_s": "s",
    "build.postings_write_s": "s",
    "build.lineage_dict_s": "s",
    "build.spark_jobs": "count",
    "build.shuffle_write_bytes": "bytes",
    "build.spill_bytes": "bytes",
    "build.task_skew": "ratio",
    "build.executor_share": "ratio",
    "index.postings_bytes": "bytes",
    "index.dict_bytes": "bytes",
    "index.docs_bytes": "bytes",
    "index.bytes_per_source_byte": "ratio",
    "index.segments": "count",
    "append.doc_ids_s": "s",
    "append.postings_s": "s",
    "append.dict_stats_s": "s",
    "append.files_per_s": "files/s",
    "append.spark_jobs": "count",
    "delete.p50_ms": "ms",
    "delete.spark_jobs": "count",
    "compact.s": "s",
    "compact.bytes_rewritten": "bytes",
    "search.term_ms": "ms",
    "search.and_ms": "ms",
    "search.mm_ms": "ms",
    "search.dismax_ms": "ms",
    "search.phrase_ms": "ms",
    "search.facet_ms": "ms",
    "boolean.tree_ms": "ms",
    "search.after_write_p50_ms": "ms",
    "search.term_dfs_ms": "ms",
    "search.spark_jobs_per_request": "count",
    "search.postings_bytes_read_per_request": "bytes",
    "search.driver_ms_per_request": "ms",
    "wand.kernel_ms": "ms",
    "taat.kernel_ms": "ms",
    "wand.blocks_skipped_ratio": "ratio",
    "wand.blocks_total": "count",
    "batch.queries_per_s": "queries/s",
    "batch.spark_jobs": "count",
    "batch.executor_ms": "ms",
    "dedup.minhash_signatures_s": "s",
    "dedup.lsh_pairs_s": "s",
    "dedup.components_s": "s",
    "dedup.drop_s": "s",
    "dedup.simhash_pairs_s": "s",
    "dedup.pairs_out": "count",
    "dedup.pair_recall": "ratio",
    "dedup.shuffle_write_bytes": "bytes",
    "dedup.task_skew": "ratio",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.executor_run_ms": "ms",
    "spark.executor_cpu_ms": "ms",
    "spark.gc_ms": "ms",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "trace.op_p50_ms": "ms",
}

REQUEST_KINDS = {
    "term": "search.term_ms",
    "and": "search.and_ms",
    "mm": "search.mm_ms",
    "dismax": "search.dismax_ms",
    "phrase": "search.phrase_ms",
    "facet": "search.facet_ms",
    "boolean": "boolean.tree_ms",
}

DEDUP_STAGES = ("minhash_signatures", "lsh_pairs", "components", "drop", "simhash_pairs")


def _e2e(tr: harness.Tracer, items: int, rss: float) -> dict:
    ops_ms = [s * 1000.0 for s in tr.seconds("op")]
    return {
        "setup_s": tr.named("setup")[0].seconds,
        "op_p50_ms": harness.median(ops_ms),
        "items_per_s": items / tr.named("measure")[0].seconds,
        "peak_rss_mb": rss,
    }


def _tokens_per_s() -> float:
    """``tokenize`` over a fixed content sample (independent of the seed)."""
    from cascading_solr_spark.analyzer import tokenize
    from perfbench.corpus import code_files

    texts = code_files(0, 200)["content"].tolist()
    best = 0.0
    for _ in range(3):
        t0 = time.perf_counter()
        n = sum(len(tokenize(t)) for t in texts)
        best = max(best, n / (time.perf_counter() - t0))
    return best


def _figures(tr: harness.Tracer, figures: dict) -> dict:
    """The workload's own figures plus those read off its spans, for the
    layers the run entered."""
    from perfbench.workloads import APPEND_FILES, DEDUP_DOCS, INDEX_FILES

    def p50(name: str) -> float:
        return harness.median(tr.seconds(name))

    out = {}
    if tr.named("build"):
        out["build_files_per_s"] = INDEX_FILES / p50("build")
    if tr.named("append"):
        out["append_files_per_s"] = APPEND_FILES / p50("append")
        out["delete_p50_ms"] = p50("delete") * 1000.0
        out["query_after_write_p50_ms"] = p50("query_after_write") * 1000.0
    if tr.named("compact"):
        out["compact_s"] = p50("compact")
    if tr.named("dedup"):
        out["dedup_docs_per_s"] = DEDUP_DOCS / p50("dedup")
    return {**out, **figures}


def _layers(tr: harness.Tracer, layer: dict, fig: dict, e2e: dict, nproc: int) -> dict:
    """Every per-layer metric, from the workload's own values, the span
    times, and the event log folded onto the spans."""
    from perfbench import eventlog

    spans = tr.spans
    work = eventlog.fold(eventlog.read_events(os.path.join(harness.WORK, "eventlog")), spans)
    index = {id(s): i for i, s in enumerate(spans)}

    def total(name: str) -> eventlog.SpanWork:
        out = eventlog.SpanWork()
        for s in tr.named(name):
            out.add(eventlog.rollup(work, spans, index[id(s)]))
        return out

    def per(name: str, attr: str) -> float:
        return getattr(total(name), attr) / max(1, len(tr.named(name)))

    def p50(name: str) -> float:
        return harness.median(tr.seconds(name))

    m = dict(layer)
    m["analyzer.tokens_per_s"] = _tokens_per_s()
    m["build.files_per_s"] = fig["build_files_per_s"]
    m["build.spark_jobs"] = per("build", "jobs")
    m["build.shuffle_write_bytes"] = per("build", "shuffle_write")
    m["build.spill_bytes"] = per("build", "spill")
    m["build.task_skew"] = total("build").task_skew()
    # share of the build's core time the executors spent running tasks;
    # the rest is driver work and per-job overhead
    build = tr.named("build")[0]
    m["build.executor_share"] = total("build").run_ms / (build.seconds * 1000.0 * nproc)
    m["append.files_per_s"] = fig["append_files_per_s"]
    m["append.spark_jobs"] = per("append", "jobs")
    m["delete.p50_ms"] = fig["delete_p50_ms"]
    m["delete.spark_jobs"] = per("delete", "jobs")
    m["compact.s"] = fig["compact_s"]
    m["search.after_write_p50_ms"] = fig["query_after_write_p50_ms"]
    for kind, name in REQUEST_KINDS.items():
        m[name] = p50(f"req.{kind}") * 1000.0
    reqs = [s for s in spans if s.name.startswith("req.")]
    rw = [eventlog.rollup(work, spans, index[id(s)]) for s in reqs]
    m["search.spark_jobs_per_request"] = sum(w.jobs for w in rw) / len(rw)
    m["search.postings_bytes_read_per_request"] = sum(w.input_bytes for w in rw) / len(rw)
    m["search.driver_ms_per_request"] = sum(
        (s.end_ms - s.start_ms) - w.job_covered_ms(s.start_ms, s.end_ms)
        for s, w in zip(reqs, rw)
    ) / len(rw)
    m["batch.spark_jobs"] = per("batch", "jobs")
    m["batch.executor_ms"] = per("batch", "run_ms")
    for stage in DEDUP_STAGES:
        m[f"dedup.{stage}_s"] = p50(f"dedup.{stage}")
    m["dedup.shuffle_write_bytes"] = per("dedup", "shuffle_write")
    m["dedup.task_skew"] = total("dedup").task_skew()
    n_ops = max(1, len(tr.named("op")))
    meas = total("measure")
    m["spark.jobs"] = meas.jobs / n_ops
    m["spark.stages"] = len(meas.stages) / n_ops
    m["spark.executor_run_ms"] = meas.run_ms / n_ops
    m["spark.executor_cpu_ms"] = meas.cpu_ms / n_ops
    m["spark.gc_ms"] = tr.named("measure")[0].gc_ms / n_ops
    m["spark.shuffle_read_bytes"] = meas.shuffle_read / n_ops
    m["spark.shuffle_write_bytes"] = meas.shuffle_write / n_ops
    m["spark.spill_bytes"] = meas.spill / n_ops
    m["trace.op_p50_ms"] = e2e["op_p50_ms"]
    return {k: m[k] for k in LAYER_UNITS}


def _span_summary(tr: harness.Tracer) -> list[str]:
    out = []
    for name in dict.fromkeys(s.name for s in tr.spans if s.name != "op"):
        secs = tr.seconds(name)
        out.append(f"  span {name:30s} n={len(secs):<3d} median={harness.median(secs):9.3f} s")
    return out


def _run(args: argparse.Namespace) -> int:
    from perfbench.workloads import WORKLOADS, Ctx

    host = harness.host_info()
    trace = bool(args.trace)
    t0 = time.perf_counter()
    spark = harness.make_session(host, trace)
    session_s = time.perf_counter() - t0
    tr = harness.Tracer(spark, job_groups=trace)
    ledger = harness.Ledger()
    ctx = Ctx(spark, args.seed, args.seconds, trace, tr, ledger, host["nproc"])
    try:
        items = WORKLOADS[args.workload](ctx)
        rss = harness.peak_rss_mb(spark)
    finally:
        harness.stop_session(spark)
    e2e = _e2e(tr, items, rss)
    fig = _figures(tr, ctx.figures)
    if trace:
        metrics, units = _layers(tr, ctx.layer, fig, e2e, host["nproc"]), LAYER_UNITS
    else:
        metrics, units = e2e, E2E_UNITS

    info = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "session_start_s": round(session_s, 3), **host,
    }
    print("perfbench " + json.dumps(info, sort_keys=True))
    for k, v in e2e.items():
        print(f"  {k:34s} {v:16.6g} {E2E_UNITS[k]}")
    ops = ", ".join(f"{x:.3f}" for x in tr.seconds("op"))
    print(f"  {'ops':34s} {len(tr.named('op')):16d} count (samples of op_p50_ms, s: {ops})")
    for k, v in fig.items():
        print(f"  {k:34s} {v:16.6g} {FIGURE_UNITS[k]}")
    print(f"  {'failed_op_ratio':34s} {ledger.failed / max(1, ledger.attempted):16.6g}"
          f" failed/attempted ({ledger.failed}/{ledger.attempted})")
    print("\n".join(_span_summary(tr)))
    for err in ledger.errors:
        print(f"  ERROR {err}")
    print(json.dumps({
        "correct": ledger.failed == 0,
        "attempted": ledger.attempted,
        "failed": ledger.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0 if ledger.failed == 0 else 1


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["ingest", "query"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    harness.prepare_environment()
    try:
        try:
            import cascading_solr_spark  # noqa: F401
            import pyspark  # noqa: F401
        except ImportError as exc:
            print(f"perfbench: cannot import the package under test: {exc}", file=sys.stderr)
            return 2
        return _run(args)
    finally:
        harness.cleanup()


if __name__ == "__main__":
    sys.exit(main())
