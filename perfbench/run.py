#!/usr/bin/env python3
"""Repository benchmark: one workload per invocation.

    python3 perfbench/run.py --workload extract_job --seed 1 \
        --seconds 10 --trace 0

Run from the repository root. Spark runs on ``local[<cores>]`` with
shuffle partitions at twice the core count. The benchmark starts a
session, generates its inputs from ``--seed`` (untimed), makes two
checked warm-up runs, then runs closed-loop (one client, each run
after the previous one has finished) for ``--seconds`` seconds,
checking every run's output. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are BENCHMARK.json's ``end_to_end`` set; with ``--trace 1``
one traced run follows the timed loop and the metrics are its
``per_layer`` set (layers a workload never calls read 0). Every metric
key is present on every run; a failed run reports no timing.

End-to-end metrics, per workload:
  setup_s       session bring-up + the warm-up runs (inputs excluded)
  run_s         median wall seconds of one run (quartiles on stdout)
  docs_per_s    input docs / run_s
  ok_frac       runs whose output passed its check / runs attempted
  peak_rss_mb   peak summed RSS of the driver JVM and Python workers

Which end-to-end metric each per-layer metric should move:
  extract.*           docs_per_s on extract_job; arrow_hop_s also
                      peak_rss_mb. Not the query rows. Legs: (a)
                      scan+assembly -> noop, (b) (a) + identity
                      mapInArrow, (d) full extract -> noop, (e) =
                      full_s, the job with its real sinks.
                      scan_assemble_s=a, arrow_hop_s=b-a, udf_s=d-b,
                      sink_s=e-d.
  walker.*            docs_per_s on extract_job, less on crawl_curate
  lineage.*           run_s on extract_job only
  warc.*, pdf.*       docs_per_s on crawl_curate
  pipeline.*, dedup.* run_s and peak_rss_mb on crawl_curate, not
                      extract_job
  q.<row>.*           query_s.<row>
  query_s.<row>       build + collect seconds of one warm pass of a
                      queries() row (lm_perplexity, dsir_weight,
                      lang_quality) over a seeded documents table;
                      traced with crawl_curate, no workload times them
  trace.overhead_s    traced run - untraced run_s (the tracing cost)

Spans (name, start, end, parent, run id, job group, jobs, job
seconds) of a traced run are written to
``.perfbench_out/spans-<workload>-<seed>.jsonl``.
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
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def log(msg: str) -> None:
    print(msg, flush=True)


def attempt(wl, i: int, counts: dict):
    """One checked run; returns (seconds, result) or None on failure."""
    from workloads import CheckFailed

    counts["attempted"] += 1
    try:
        t = time.perf_counter()
        result = wl.run(i)
        dt = time.perf_counter() - t
        wl.check(result)
        log(f"run {i}: {dt:.4f} s")
        return dt, result
    except CheckFailed as e:
        log(f"run {i}: FAILED check: {e}")
    except Exception:  # noqa: BLE001 - a failed run is counted, not fatal
        traceback.print_exc()
        log(f"run {i}: FAILED with an exception")
    counts["failed"] += 1
    return None


def bench(args, spec: dict, work: str) -> dict:
    import harness
    from workloads import WORKLOADS

    cpus = len(os.sched_getaffinity(0))
    counts = {"attempted": 0, "failed": 0}
    t = time.perf_counter()
    spark = harness.start_session(ROOT, work, cpus)
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t
    wl = WORKLOADS[args.workload](spark, ROOT, work, args.seed, cpus)
    try:
        t = time.perf_counter()
        wl.generate()
        log(f"inputs: {wl.n_docs()} docs generated in "
            f"{time.perf_counter() - t:.2f} s (not in setup_s)")
        warm = [attempt(wl, i, counts) for i in range(wl.WARMUP_RUNS)]
        setup_s = (session_s + sum(w[0] for w in warm)
                   if all(warm) else None)

        times: list[float] = []
        with harness.RssSampler() as rss:
            deadline = time.perf_counter() + args.seconds
            i = wl.WARMUP_RUNS
            while True:
                r = attempt(wl, i, counts)
                i += 1
                if r:
                    times.append(r[0])
                if time.perf_counter() >= deadline:
                    break
        run_s = statistics.median(times) if times else None
        if times:
            q1, med, q3 = harness.quartiles(times)
            log(f"run_s: median {med:.4f} s, q1 {q1:.4f}, q3 {q3:.4f}, "
                f"n={len(times)}")

        if not args.trace:
            values = {
                "setup_s": setup_s,
                "run_s": run_s,
                "docs_per_s": wl.n_docs() / run_s if run_s else None,
                "ok_frac": 1 - counts["failed"] / counts["attempted"],
                "peak_rss_mb": rss.peak_mb if times else None,
            }
            names = spec["end_to_end"]
        else:
            tracer = harness.Tracer(
                wl.spark, f"{args.workload}-{args.seed}-{os.getpid()}")
            counts["attempted"] += 1
            try:
                values = wl.traced(tracer)
                if run_s is not None:
                    values["trace.overhead_s"] = wl.traced_run_s - run_s
            except Exception:  # noqa: BLE001 - counted like any failed run
                traceback.print_exc()
                counts["failed"] += 1
                values = {}
            tracer.dump(os.path.join(
                ROOT, ".perfbench_out",
                f"spans-{args.workload}-{args.seed}.jsonl"))
            names = spec["per_layer"]
            if values:
                # layers this workload never calls did no work
                values = {m["name"]: values.get(m["name"], 0) for m in names}
    finally:
        harness.stop_session(wl.spark)

    metrics = {}
    for m in names:
        v = values.get(m["name"])
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        log(f"{m['name']:36s} {v!s:>24} {m['unit']}")
    return {
        "correct": counts["failed"] == 0,
        "attempted": counts["attempted"],
        "failed": counts["failed"],
        "metrics": metrics,
    }


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    with open(spec_path) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        p.error(f"unknown workload {args.workload!r}")
    for need in ("html_to_document_spark", "__spark_entry__.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from a "
                  "checkout of the repository", file=sys.stderr)
            return 2

    # keep every file Spark, the JVM and Python write inside the checkout
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    tempfile.tempdir = tmp
    sys.path.insert(0, ROOT)
    try:
        result = bench(args, spec, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
