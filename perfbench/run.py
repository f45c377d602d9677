#!/usr/bin/env python3
"""Benchmark of gluon_ocr_spark: one workload, one seed, one run.

    python3 perfbench/run.py --workload extract_resume --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The program is imported from that
checkout (the directory above this file), never from anywhere else;
the path it was imported from is printed. With ``--trace 0`` the last
line of standard output is the end-to-end result; with ``--trace 1``
it is the per-layer result of a separate traced run, and the spans are
written to ``.perfbench/traces/``. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

from harness import descendants, reap

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MIN_REPS = 3  # timed repetitions per run, however short --seconds is


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def import_program() -> tuple[float, str]:
    """Import pyspark and the checkout's gluon_ocr_spark. The Python
    workers get the same checkout, and the benchmark's own UDF module,
    through PYTHONPATH."""
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)
    if sys.path[0] != ROOT:
        sys.path.insert(0, ROOT)
    t = time.perf_counter()
    import pyspark  # noqa: F401
    import gluon_ocr_spark

    pkg = os.path.dirname(os.path.abspath(gluon_ocr_spark.__file__))
    if pkg != os.path.join(ROOT, "gluon_ocr_spark"):
        raise ImportError(f"gluon_ocr_spark imported from {pkg}, not from this checkout {ROOT}")
    return time.perf_counter() - t, pkg


def fill(metrics: dict[str, float], names: list[dict]) -> dict:
    """Every declared metric with its unit; a layer this workload does
    not exercise reads 0. A metric the code makes but the spec does not
    declare is an error, so the printed names always match the spec."""
    units = {m["name"]: m["unit"] for m in names}
    extra = set(metrics) - set(units)
    if extra:
        raise KeyError(f"metrics not declared in BENCHMARK.json: {sorted(extra)}")
    return {n: {"value": float(metrics.get(n, 0.0)), "unit": u} for n, u in units.items()}


def run(workload, spark, seconds: float, trace: bool, import_s: float, log=print) -> tuple[dict, object]:
    """Set up, warm up, measure; return the result object and the tracer."""
    from harness import PeakRss, Tracer, median, read_event_log, task_skew, timed

    tracer = Tracer(trace)
    t = time.perf_counter()
    workload.make_inputs()
    log(f"inputs: {time.perf_counter() - t:.2f} s (not timed)")

    with tracer.span("setup"):
        with tracer.span("session"):
            start = spark.start()
        with tracer.span("prior_state"):
            prior_s = timed(workload.prior_state)[0]
    setup_s = import_s + start["session.start_s"] + start["setup.warmup_s"] + prior_s
    log(
        f"setup: import {import_s:.2f} s + session {start['session.start_s']:.2f} s + warm-up of "
        f"{start['workers']} Python workers {start['setup.warmup_s']:.2f} s + prior state {prior_s:.2f} s"
    )
    with tracer.span("warm"):
        workload.warm()

    attempted = failed = 0
    if not trace:
        jobs, peaks = [], []
        t0 = time.perf_counter()
        while len(jobs) < MIN_REPS or time.perf_counter() - t0 < seconds:
            workload.reset()
            with PeakRss(spark.jvm_pid()) as rss:
                jobs.append(timed(workload.rep)[0])
            peaks.append(rss.peak)
            pages, bad = workload.check()
            attempted, failed = attempted + pages, failed + bad
            log(f"rep {len(jobs)}: job {jobs[-1]:.3f} s, peak rss {peaks[-1]:.0f} MB, checked {pages} pages, {bad} failed")
        job_s = median(jobs)
        metrics = {
            "setup_s": setup_s,
            "job_s": job_s,
            "docs_per_s": workload.pages_per_rep / job_s,
            "peak_rss_mb": median(peaks),
        }
        names = spec()["end_to_end"]
    else:
        plain = []  # the same job with tracing off, before and after the traced one
        for step in ("plain", "probe", "plain"):
            workload.reset()
            if step == "plain":
                plain.append(timed(workload.rep)[0])
            else:
                metrics = workload.probe(tracer)
            pages, bad = workload.check()
            attempted, failed = attempted + pages, failed + bad
        plain_s = plain[-1]
        spark.shutdown()
        groups = read_event_log(spark.event_log_dir)
        metrics["operators.extract.task_skew"] = task_skew(groups["probe.extract"])
        metrics["operators.partitioning.shuffle_mb"] = groups["probe.salt"]["shuffle_write_bytes"] / 2**20
        metrics["session.start_s"] = start["session.start_s"]
        metrics["setup.warmup_s"] = start["setup.warmup_s"]
        metrics["trace.unattributed_s"] = metrics["trace.job_s"] - metrics["trace.layer_sum_s"]
        metrics["trace.overhead_s"] = metrics["trace.job_s"] - plain_s
        for k in ("trace.source_s", "trace.kernel_ideal_s"):
            metrics.pop(k)
        log(
            f"trace: job {metrics['trace.job_s']:.3f} s, layer sum {metrics['trace.layer_sum_s']:.3f} s, "
            f"unattributed {metrics['trace.unattributed_s']:.3f} s, overhead {metrics['trace.overhead_s']:+.3f} s "
            f"(untraced {plain_s:.3f} s)"
        )
        for k in sorted(metrics):
            log(f"  {k:40s} {metrics[k]:.4f}")
        names = spec()["per_layer"]
    if getattr(workload, "counters", None):
        log(f"(qualified, admitted) per increment: {workload.counters}")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": fill(metrics, names)}, tracer


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    run_dir = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    # every temp file Python, the JVM and Spark write stays in the run dir
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    spark = None
    try:
        import_s, pkg = import_program()
        print(f"gluon_ocr_spark imported from {pkg}", flush=True)
        from harness import Spark
        from workloads import WORKLOADS

        if args.workload not in WORKLOADS:
            raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
        spark = Spark(run_dir, pkg, event_log=bool(args.trace))
        workload = WORKLOADS[args.workload](spark, run_dir, args.seed)
        result, tracer = run(workload, spark, args.seconds, bool(args.trace), import_s,
                             log=lambda s: print(s, flush=True))
        if args.trace:
            out = os.path.join(ROOT, ".perfbench", "traces")
            os.makedirs(out, exist_ok=True)
            tracer.write(os.path.join(out, f"{args.workload}-seed{args.seed}.json"))
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            spark.shutdown()
        reap(descendants(os.getpid()))  # anything else this run started
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
