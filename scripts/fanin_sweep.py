"""Fan-in sweep: time every benchmark query category, and one 24-query
batch, with the top-k kernel in ONE task and in defaultParallelism tasks.
The crossover between the two is what `SearchEngine.POSTINGS_PER_TASK` is
set from, so it also prints the postings each query's scans match
(`scans`: how many scans the query plans, `max_post`: the largest one's
postings).

    python scripts/fanin_sweep.py [--docs 40000] [--seed 1] [--reps 7] [--cores N]

Queries come from the benchmark's `QueryGen` (benchmark/workloads.py), so
the categories match the `search` workload. Single queries run on a pinned
engine and the batch on an unpinned one, as in that workload. The two fan
outs are forced per engine instance (POSTINGS_PER_TASK = huge -> 1 task,
= 1 -> defaultParallelism tasks, the two plans `SearchEngine._fan_out`
chooses between) and timed interleaved, median of --reps
runs after two warm-up runs; each run's rows must equal the first run's.
Prints one table row per query and a JSON summary line (every scan's
postings).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "benchmark"))


def scan_postings(eng, run) -> list[int]:
    """Postings of each scan `run` plans, as the engine counts them: the
    `postings` argument of every `SearchEngine._fan_out` call, which it
    compares with POSTINGS_PER_TASK (planning only, no Spark job in the
    vocab regime). A batch plans one shared scan plus one per query it
    cannot share (phrases)."""
    seen: list[int] = []
    fan_out = eng._fan_out

    def spy(blocks, postings, grouped):
        seen.append(postings)
        return fan_out(blocks, postings, grouped)

    eng._fan_out = spy
    try:
        run(eng)
    finally:
        del eng._fan_out
    if None in seen:
        sys.exit("a scan of unknown size (no-vocab tail): no fan-in")
    return seen


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--docs", type=int, default=40_000)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--reps", type=int, default=7)
    ap.add_argument("--cores", type=int, default=os.cpu_count() or 4)
    args = ap.parse_args()

    from iresearch_spark.session import get_spark

    spark = get_spark(
        "fanin-sweep", cores=args.cores,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    work_dir = tempfile.mkdtemp(prefix="fanin_sweep_")
    try:
        sweep(spark, work_dir, args)
    finally:
        spark.stop()
        shutil.rmtree(work_dir, ignore_errors=True)


def sweep(spark, work_dir: str, args) -> None:
    from pyspark.sql import functions as F
    from workloads import BATCH_SIZE, CATEGORIES, TOP_K, QueryGen

    from iresearch_spark.corpus import generate_corpus
    from iresearch_spark.index.segments import IndexStore, build_segment
    from iresearch_spark.search import SearchEngine

    store = IndexStore(work_dir)
    corpus = generate_corpus(spark, args.docs, seed=args.seed, burstiness=0.1)
    build_segment(spark, store, corpus, "s0")
    pinned = SearchEngine(spark, store)
    pinned.prepare_dictionary()
    pinned.pin_postings()
    plain = SearchEngine(spark, store)
    plain.prepare_dictionary()
    dp, scan_parts = pinned._scan_shape()
    if scan_parts > dp:
        sys.exit(f"postings scan has {scan_parts} partitions > {dp} cores: no fan-in")

    terms = [
        (r["term"], int(r["doc_freq"]))
        for r in pinned.term_stats.orderBy(F.desc("doc_freq"), F.asc("term")).collect()
    ]
    gen = QueryGen(terms)
    batch = {
        f"q{i:02d}_{CATEGORIES[i % len(CATEGORIES)]}": gen.make(
            CATEGORIES[i % len(CATEGORIES)], i // len(CATEGORIES)
        )
        for i in range(BATCH_SIZE)
    }
    work = {}
    for cat in CATEGORIES:
        node = gen.make(cat)
        work[cat] = (pinned, lambda e, n=node: e.topk(n, TOP_K))
    work["batch24"] = (plain, lambda e: e.topk_batch(batch, TOP_K))

    fanouts = {"1": 10**15, str(dp): 1}  # label -> POSTINGS_PER_TASK
    rows: dict[str, dict] = {}
    print(f"docs={args.docs} seed={args.seed} cores={dp} scan_partitions={scan_parts}")
    print(f"{'query':<14}{'scans':>6}{'max_post':>10}{'ms@1':>9}{f'ms@{dp}':>9}{'ratio':>7}")
    for name, (eng, run) in work.items():
        times: dict[str, list[float]] = {k: [] for k in fanouts}
        ref = None
        for rep in range(args.reps + 2):
            order = list(fanouts) if rep % 2 == 0 else list(fanouts)[::-1]
            for label in order:
                eng.POSTINGS_PER_TASK = fanouts[label]
                t0 = time.perf_counter()
                got = sorted(tuple(r) for r in run(eng).collect())
                dt = (time.perf_counter() - t0) * 1e3
                if ref is None:
                    ref = got
                if got != ref:
                    sys.exit(f"{name}: rows differ between fan-outs")
                if rep >= 2:
                    times[label].append(dt)
        del eng.POSTINGS_PER_TASK
        med = {k: statistics.median(v) for k, v in times.items()}
        scans = scan_postings(eng, run)
        rows[name] = {
            "scan_postings": scans,
            **{f"ms@{k}": round(v, 1) for k, v in med.items()},
        }
        ratio = med["1"] / med[str(dp)]
        print(
            f"{name:<14}{len(scans):>6}{max(scans):>10}"
            f"{med['1']:>9.1f}{med[str(dp)]:>9.1f}{ratio:>7.2f}"
        )
    print(json.dumps({"docs": args.docs, "seed": args.seed, "cores": dp, "rows": rows}))


if __name__ == "__main__":
    main()
