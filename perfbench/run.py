"""Benchmark entry point.

    python3 perfbench/run.py --workload index_lookup --seed 1 --seconds 12 --trace 0

Builds nothing: the program is the ``iodf_spark`` package next to this
directory. Generates the workload's inputs from the seed under a work
directory inside this checkout, runs it, checks every output, removes the
work directory and prints one JSON line last on stdout: with ``--trace 0``
the end-to-end metrics, with ``--trace 1`` the per-layer metrics of a
traced run (whose span report goes to ``perfbench/out/``).
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import harness  # noqa: E402
import spans  # noqa: E402

WORKLOADS = ("index_lookup", "segment_store", "ann_search")


def _workload(name):
    import wl_ann
    import wl_index
    import wl_segments

    return {"index_lookup": wl_index, "segment_store": wl_segments, "ann_search": wl_ann}[name]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_proc = min(T_START, harness.process_start_time())

    work = os.path.join(HERE, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    harness.remove_tree(work)
    os.makedirs(work)
    spark = None
    try:
        harness.configure_env(work, bool(args.trace))
        # a checkout without the program fails here, before any output
        from iodf_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}")
        session_s = time.perf_counter() - t0
        tracer = spans.Tracer(spark) if args.trace else spans.NullTracer()
        if args.trace:
            tracer.install()
        log = harness.OpLog(tracer)

        res = _workload(args.workload).run(spark, log, tracer, work, args.seed, args.seconds)
        # set-up: process start to the first timed op, less the build
        setup_s = log.loop_start - t_proc - res["build_s"]
        rss = harness.peak_rss_mb(spark)

        if args.trace:
            tracer.uninstall()
            tracer.read_tracker()
        harness.stop_spark(spark)
        spark = None

        if args.trace:
            cross = tracer.attribute(os.path.join(work, "eventlog"))
            metrics, report = tracer.metrics(res)
            metrics.update({k: float(res[k]) for k in spans.FROM_WORKLOAD if k in res})
            metrics["session.start_ms"] = session_s * 1000.0
            metrics["trace.ops_per_s"] = log.ops_per_s()
            metrics["trace.unattributed_jobs"] = cross["unattributed_jobs"]
            metrics["trace.tracker_mismatches"] = cross["tracker_mismatches"]
            out_dir = os.path.join(HERE, "out")
            os.makedirs(out_dir, exist_ok=True)
            path = os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json")
            compared, diffs = spans.compare_job_counts(report, path)
            metrics["trace.jobs_repeat_compared"] = compared
            metrics["trace.jobs_repeat_mismatches"] = len(diffs)
            with open(path, "w") as fh:
                json.dump({"cross_checks": cross, "repeat_diffs": diffs, "metrics": metrics,
                           **report}, fh, indent=1)
            out = {k: {"value": float(metrics.get(k, 0.0)), "unit": u}
                   for k, u in spans.PER_LAYER.items()}
        else:
            values = {
                "setup_s": (setup_s, "s"),
                "build_s": (res["build_s"], "s"),
                "ops_per_s": (log.ops_per_s(), "ops/s"),
                "read_p50_ms": (log.p50_ms("read"), "ms"),
                "write_p50_ms": (log.p50_ms("write"), "ms"),
                "bytes_per_row": (res["bytes_per_row"], "B/row"),
                "recall_at_10": (res["recall_at_10"], "ratio"),
                "peak_rss_mb": (rss, "MB"),
            }
            out = {k: {"value": v, "unit": u} for k, (v, u) in values.items()}
        print(f"[perfbench] {args.workload} seed={args.seed} rounds={res['rounds']} "
              f"attempted={log.attempted} failed={log.failed}", file=sys.stderr)
        print(json.dumps({"correct": log.correct, "attempted": log.attempted,
                          "failed": log.failed, "metrics": out}))
        return 0
    finally:
        if spark is not None:
            harness.stop_spark(spark)
        harness.remove_tree(work)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))


if __name__ == "__main__":
    sys.exit(main())
