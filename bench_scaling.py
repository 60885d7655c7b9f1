"""Scaling-efficiency study: the same index-build job at two parallelism
levels (sandbox proxy for N vs 4N executors, BASELINE.json north_rule).

Protocol (designed for a noisy shared VM):
* levels interleaved (4N, N, 4N, N, ...) so host drift cancels across
  levels; 4N is every CPU this process may use (``bench.host_cpus()``,
  $SPARK_GRAFT_CPUS overrides) and N = max(1, 4N // 4);
* each sample is a FRESH JVM that first runs a small warm-up build (JIT +
  python-worker spin-up), then ONE measured build of the full corpus;
* the job is IDENTICAL at both levels (same input parquet, num_shards=32,
  shuffle partitions=32, 24 MB input splits); only the core count changes;
* ALL I/O rides tmpfs (corpus, spark.local.dir, index output): this
  sandbox's single shared virtual disk showed 2.6x swings between identical
  samples and its bandwidth does NOT scale with cores — while a real
  cluster's input/shuffle/output bandwidth scales with executor count
  (local NVMe + HDFS/S3 aggregate).  RAM-backed I/O is the faithful model
  of per-executor-scaling storage, and makes samples reproducible;
* the driver heap is ``bench.driver_memory()`` (a share of MemTotal,
  $BENCH_DRIVER_MEM overrides);
* the host's own N -> 4N ceiling is probed with the same process counts (on
  the round-3 32-core host a pure-Python multiprocessing burn scaled 4.04x
  from 2->8 workers but only 3.0x from 8->32 — SMT/memory-bandwidth
  ceiling);
* a calibration burn runs BEFORE (gating: the measured build defers until
  the host is quiet) and AFTER each sample (detection: co-tenant load that
  arrived MID-RUN flags the sample as contaminated; round 2's 153-263 s
  spread at local[8] was exactly this).  Contaminated samples are reported
  but excluded from the headline;
* the headline efficiency uses the MINIMUM clean sample per level: on a
  multi-tenant host, interference is strictly additive (co-tenants can only
  steal cycles, never donate them), so the minimum is the unbiased
  estimator of the engine's quiet-host time; medians are reported alongside;
* every sample records the per-phase build profile
  (indexing/build.py LAST_BUILD_PROFILE) — the phase table at both levels
  pinpoints any serial component (a phase whose 2-core/8-core ratio is far
  below 4x);
* a memory-bandwidth probe (8 workers streaming over large arrays vs 2)
  quantifies the host's bandwidth ceiling for attribution of any residual
  sub-linearity.

Usage:  python bench_scaling.py            # full study -> BENCH/SCALING.md
        python bench_scaling.py --inner 8  # one sample (internal)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
TMPFS = os.environ.get("SCALING_TMPFS", "/dev/shm/css-scaling")
CORPUS = os.environ.get("SCALING_CORPUS", os.path.join(TMPFS, "corpus"))
N_FILES = int(os.environ.get("SCALING_ROWS", "600000"))
WARMUP_FILES = 5000
NUM_SHARDS = 32


def _levels() -> tuple[int, int]:
    """(4N, N): every CPU this process may use, and a quarter of them."""
    from bench import host_cpus

    four_n = int(host_cpus())
    return four_n, max(1, four_n // 4)


LEVELS = _levels()
SAMPLES = int(os.environ.get("SCALING_SAMPLES", "5"))
MAX_EXTRA = int(os.environ.get("SCALING_MAX_EXTRA", "4"))
# post-run calibration above this multiple of the quiet threshold marks the
# sample contaminated (load arrived mid-run)
DIRTY_FACTOR = 1.25


def _burn(_: int) -> float:
    import time as _t

    t0 = _t.perf_counter()
    s = 0
    for i in range(12_000_000):
        s += i * i
    return _t.perf_counter() - t0


def _mem_burn(_: int) -> float:
    """Streaming memory-bandwidth probe: GB/s of big-array copies."""
    import numpy as _np
    import time as _t

    a = _np.arange(40_000_000, dtype=_np.float64)  # 320 MB
    t0 = _t.perf_counter()
    for _i in range(4):
        b = a * 1.0000001
        a = b
    dt = _t.perf_counter() - t0
    return (4 * 2 * a.nbytes / 1e9) / dt  # read+write per pass


def burn(n_procs: int = LEVELS[0], fn=_burn) -> float:
    import multiprocessing as mp

    with mp.Pool(n_procs) as p:
        r = p.map(fn, range(n_procs))
    return sum(r) / len(r)


def host_quiet(nominal_s: float | None = None, tries: int = 20) -> float:
    """Wait for a quiet host window before measuring (pre-gating).

    This VM is multi-tenant: identical builds measured 166s..440s at
    local[8] purely from co-tenant load.  A 4N-process integer burn took
    ~0.78s/proc on the quiet round-3 host (SCALING_QUIET); the measured
    build defers until the burn confirms free capacity, and the calibration
    value is recorded."""
    import time as _t

    if nominal_s is None:
        nominal_s = float(os.environ.get("SCALING_QUIET", "0.95"))
    per = float("inf")
    for _attempt in range(tries):
        per = burn()
        if per < nominal_s:
            return per
        _t.sleep(40)
    return per


def inner(cpus: int) -> None:
    import shutil

    sys.path.insert(0, HERE)
    from pyspark.sql import SparkSession

    from bench import driver_memory
    from cascading_solr_spark.corpus import synth_corpus
    from cascading_solr_spark.indexing import build as build_mod
    from cascading_solr_spark.indexing.build import build_index
    from cascading_solr_spark.spec import IndexSpec

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(NUM_SHARDS))
        # ~24 MB input splits: the tokenize stage gets enough tasks for even
        # waves at 8 cores (the 1.1 GB corpus bin-packs to ~9 tasks at the
        # 128 MB default -> one ragged wave with idle cores)
        .config("spark.sql.files.maxPartitionBytes", "25165824")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", driver_memory())
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", os.path.join(TMPFS, "spark-local"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    if not os.path.exists(os.path.join(CORPUS, "_SUCCESS")):
        synth_corpus(spark, N_FILES, partitions=64).write.mode(
            "overwrite"
        ).parquet(CORPUS)
    corpus = spark.read.parquet(CORPUS)
    spec = IndexSpec(num_shards=NUM_SHARDS, salt_buckets=8)

    # warm-up: JIT + codegen + python worker pools on a small slice
    warm = corpus.limit(WARMUP_FILES)
    warm_dir = os.path.join(TMPFS, f"warm_ix_{cpus}")
    shutil.rmtree(warm_dir, ignore_errors=True)
    build_index(spark, warm, spec, warm_dir)
    shutil.rmtree(warm_dir, ignore_errors=True)

    calib = host_quiet()
    out = os.path.join(TMPFS, f"ix_{cpus}")
    shutil.rmtree(out, ignore_errors=True)

    # in-run prober: boundary burns miss co-tenant load that arrives AND
    # leaves inside the measured window (observed: a 2x-inflated sample with
    # clean burns on both sides).  A single-thread burn every ~15 s rides a
    # free host core (the build uses <=8 of 32) and its p90 exposes
    # sustained mid-run contention.
    import threading

    probes: list[float] = []
    stop_evt = threading.Event()

    def prober() -> None:
        while not stop_evt.is_set():
            probes.append(_burn(0))
            stop_evt.wait(15)

    pt = threading.Thread(target=prober, daemon=True)
    pt.start()
    t0 = time.perf_counter()
    build_index(spark, corpus, spec, out)
    dt = time.perf_counter() - t0
    stop_evt.set()
    pt.join(timeout=5)
    shutil.rmtree(out, ignore_errors=True)
    calib_after = burn()
    ps = sorted(probes) or [float("nan")]
    print(
        json.dumps(
            {
                "cpus": cpus,
                "build_sec": dt,
                "host_calib_s": calib,
                "host_calib_after_s": calib_after,
                "probe_med_s": ps[len(ps) // 2],
                "probe_p90_s": ps[min(len(ps) - 1, int(0.9 * len(ps)))],
                "probe_n": len(probes),
                "phases": dict(build_mod.LAST_BUILD_PROFILE),
            }
        )
    )
    spark.stop()


def run_sample(cpus: int) -> dict:
    out = subprocess.run(
        [sys.executable, __file__, "--inner", str(cpus)],
        capture_output=True, text=True, cwd=HERE, timeout=3600,
    )
    line = [ln for ln in out.stdout.splitlines() if ln.startswith("{")][-1]
    rec = json.loads(line)
    print(line, flush=True)
    return rec


def main() -> None:
    if len(sys.argv) > 2 and sys.argv[1] == "--inner":
        inner(int(sys.argv[2]))
        return
    os.makedirs(TMPFS, exist_ok=True)
    nominal = float(os.environ.get("SCALING_QUIET", "0.95"))
    dirty_above = nominal * DIRTY_FACTOR

    # host memory-bandwidth probe (residual-attribution evidence)
    four_n, n = LEVELS
    mem_n = burn(n, _mem_burn)
    mem_4n = burn(four_n, _mem_burn)
    cpu_n = burn(n)
    cpu_4n = burn(four_n)
    print(
        f"mem-bw/worker {n}p={mem_n:.2f} GB/s {four_n}p={mem_4n:.2f} GB/s "
        f"(aggregate scaling {four_n * mem_4n / (n * mem_n):.2f}x/"
        f"{four_n / n:.0f}x); "
        f"int-burn/worker {n}p={cpu_n:.2f}s {four_n}p={cpu_4n:.2f}s",
        flush=True,
    )

    recs: dict[int, list[dict]] = {c: [] for c in LEVELS}

    def clean(c: int) -> list[dict]:
        return [
            r
            for r in recs[c]
            if r["host_calib_after_s"] <= dirty_above
            and r.get("probe_p90_s", 0.0) <= dirty_above
        ]

    rounds = 0
    while rounds < SAMPLES + MAX_EXTRA and any(
        len(clean(c)) < SAMPLES for c in LEVELS
    ):
        for cpus in LEVELS:  # interleave levels within each round
            if len(clean(cpus)) < SAMPLES:
                recs[cpus].append(run_sample(cpus))
        rounds += 1

    # persist the raw samples, then delegate the full report (host-ceiling
    # probes, Amdahl attribution, W/C fit, phase table) to the shared writer
    os.makedirs(os.path.join(HERE, "BENCH"), exist_ok=True)
    samples_path = os.path.join(HERE, "BENCH", "scaling_samples.jsonl")
    with open(samples_path, "w") as fh:
        for c in LEVELS:
            for r in recs[c]:
                fh.write(json.dumps(r) + "\n")
    subprocess.run(
        [
            sys.executable,
            os.path.join(HERE, "scripts", "scaling_report.py"),
            samples_path,
        ],
        check=True,
    )


if __name__ == "__main__":
    main()
