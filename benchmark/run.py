"""Benchmark for iresearch_spark: one workload per invocation.

    python3 benchmark/run.py --workload search --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. Workloads: search, ingest_dedup
(see benchmark/README.md). `--trace 0` prints the end-to-end metrics;
`--trace 1` records spans around every public call and prints the
per-layer metrics instead. Human-readable lines come first; the last line
of stdout is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

Everything the run writes goes under `.bench_work/` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# corpus size: one run (session start, oracle self-test, two set-ups,
# warm-up, timed rounds, checks) stays near 50 s on 4 cores
DEFAULT_DOCS = 4000

# span name -> module whose self time it counts toward
MODULE_OF = {
    "corpus.gen": "corpus",
    "analysis": "analysis",
    "index.build": "index.build",
    "index.codec": "index.codec",
    "index.segments": "index.segments",
    "index.merge": "index.merge",
    "search.query": "search.query",
    "search.open": "search.executor",
    "search.open_unpinned": "search.executor",
    "search.expand": "search.executor",
    "search.plan": "search.executor",
    "search.exec": "search.executor",
    "search.batch_plan": "search.executor",
    "search.batch_exec": "search.executor",
    "dedup.minhash_pairs": "functions.dedup",
    "dedup.simhash_pairs": "functions.dedup",
    "dedup.sketch": "functions.dedup",
    "bench.request": "bench",
}
MODULES = sorted(set(MODULE_OF.values()))


def _load_layout() -> tuple[list[str], list[str], dict[str, str]]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    return [m["name"] for m in spec["end_to_end"]], [m["name"] for m in spec["per_layer"]], units


def _start_spark(work: str):
    """local[nproc] session whose scratch and temp files stay in `work`."""
    from iresearch_spark.session import get_spark

    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = local  # Python-side temp files of the driver and workers
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # no /tmp/hsperfdata from the launcher JVM
    cores = len(os.sched_getaffinity(0))
    spark = get_spark(
        "iresearch-benchmark",
        cores=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "2g",
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                "-Dio.netty.tryReflectionSetAccessible=true -XX:-UsePerfData -Xms2g "
                f"-Djava.io.tmpdir={local} -Dderby.system.home={work}"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, cores


def _stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait for every child process."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    from harness import descendants

    deadline = time.time() + 30
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        os.kill(pid, 9)
    for pid in descendants(os.getpid()):
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass


def _layer_metrics(b, res, spark_counts, session_s: float, per_layer: list[str]) -> dict[str, float]:
    """Every per-layer metric, 0 where the workload does not run the layer."""
    from harness import median, recorder_cost_us

    tr = b.tracer
    out = {name: 0.0 for name in per_layer}
    out["session.start_s"] = session_s
    out["corpus.gen_s"] = median(tr.durations("corpus.gen"))
    out.update(res.layers)

    def per_call(layer: str, key: str) -> float:
        c = spark_counts.get(layer)
        return c[key] / c["calls"] if c and c["calls"] else 0.0

    for key in ("jobs", "stages", "tasks"):
        out[f"index.build.{key}"] = per_call("index.build", key)
        out[f"index.merge.{key}"] = per_call("index.merge", key)
    out["index.build.busy_s"] = median(tr.durations("index.build"))
    out["index.merge.busy_s"] = median(tr.durations("index.merge"))
    out["search.open_s"] = median(tr.durations("search.open"))
    # Spark work of one topk (plan + collect) and of one 24-query batch
    for key in ("jobs", "stages", "tasks"):
        out[f"search.{key}_per_query"] = per_call("search.plan", key) + per_call("search.exec", key)
        out[f"search.batch_{key}"] = per_call("search.batch_plan", key) + per_call("search.batch_exec", key)
    for key in ("jobs", "stages", "tasks", "failed_tasks"):
        out[f"spark.{key}"] = float(sum(c[key] for c in spark_counts.values()))

    wall = sum(t1 - t0 for t0, t1 in res.rounds)
    selfs = tr.self_times(res.rounds)
    for mod in MODULES:
        out[f"self.{mod}_s"] = sum(v for k, v in selfs.items() if MODULE_OF.get(k) == mod)
    out["trace.self_sum_over_wall"] = sum(selfs.values()) / wall if wall else 0.0
    out["trace.spans"] = float(len(tr.spans))
    out["trace.op_p50_ms"] = median(res.op_s) * 1e3
    cost = recorder_cost_us()
    out["trace.recorder_us_per_span"] = cost
    n_window = sum(1 for s in tr.spans if any(t0 <= s[1] <= t1 for t0, t1 in res.rounds))
    out["trace.recorder_overhead_pct"] = n_window * cost * 1e-6 / wall * 100 if wall else 0.0
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, help="search or ingest_dedup")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--docs", type=int, default=DEFAULT_DOCS, help="corpus size")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "iresearch_spark")):
        print(f"no iresearch_spark package under {ROOT}: run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    end_to_end, per_layer, units = _load_layout()

    from harness import Bench, Tracer, median
    from workloads import WORKLOADS, Params

    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {sorted(WORKLOADS)}")

    work_root = os.path.join(ROOT, ".bench_work")
    work = os.path.join(work_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    t0 = time.perf_counter()
    spark, cores = _start_spark(work)
    session_s = time.perf_counter() - t0
    b = Bench(spark, Tracer(bool(args.trace)))
    try:
        p = Params(seed=args.seed, seconds=args.seconds, docs=args.docs, work=work)
        res = WORKLOADS[args.workload](b, p)
        b.mark("workload done")
        b.sample_rss()
        counts = b.spark_counts() if args.trace else {}
        if args.trace:
            traces = os.path.join(work_root, "traces")
            os.makedirs(traces, exist_ok=True)
            b.tracer.dump(os.path.join(traces, f"{args.workload}-seed{args.seed}.tsv"))
            layers = _layer_metrics(b, res, counts, session_s, per_layer)
    finally:
        _stop_spark(spark)
        b.mark("stopped")
        shutil.rmtree(work, ignore_errors=True)

    error_rate = b.failed / b.attempted if b.attempted else 1.0
    e2e = {
        "setup_s": median(res.setup_s),
        "latency_p50_ms": median(res.op_s) * 1e3,
        "throughput": res.throughput(),
        "peak_rss_mb": b.peak_rss_mb,
    }
    print(f"workload={args.workload} seed={args.seed} docs={p.docs} cores={cores} "
          f"seconds={args.seconds} trace={args.trace}")
    print(f"input_fingerprint = {res.fingerprint}")
    print(f"setup_s = {e2e['setup_s']:.4f} s (n={len(res.setup_s)})")
    print(f"latency_p50_ms = {e2e['latency_p50_ms']:.3f} ms (median of {len(res.op_s)} round values)")
    print(f"throughput = {e2e['throughput']:.3f} items/s ({res.items} items in {len(res.rounds)} rounds)")
    for name, (value, unit, n) in res.report.items():
        print(f"{name} = {value:.4f} {unit} (n={n})")
    print(f"peak_rss_mb = {b.peak_rss_mb:.1f} MB")
    print(f"error_rate = {error_rate:.6f} ({b.failed}/{b.attempted})")
    for what in b.failures:
        print(f"failed: {what}")

    if args.trace:
        metrics = {k: {"value": layers[k], "unit": units[k]} for k in per_layer}
        for k in per_layer:
            print(f"{k} = {layers[k]:.6g} {units[k]}")
    else:
        metrics = {k: {"value": e2e[k], "unit": units[k]} for k in end_to_end}
    print(json.dumps({
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
