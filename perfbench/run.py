"""Benchmark of record for age_spark.

    python3 perfbench/run.py --workload cypher_read --seed 1 --seconds 6 --trace 0

Runs one workload in a fresh local Spark session from a single client
thread (closed loop), checks every output against an oracle computed
apart from the engine, and prints one JSON line as the last line of
stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` times the
calls into each age_spark module and reports the per-layer metrics
instead. Per-op detail and spans go to ``perfbench/_out/``. See README.md.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import harness  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the engine must be importable from the checkout before anything runs
    import age_spark  # noqa: F401

    work = harness.work_dir(args.workload, args.seed, args.trace)
    try:
        return _run(args, work)
    finally:
        harness.remove_work_dir(work)


def _run(args, work: str) -> int:
    wl_cls = WORKLOADS[args.workload]
    t_gen = time.perf_counter()
    wl = wl_cls(args.seed, work)  # input generation: untimed
    gen_s = time.perf_counter() - t_gen
    harness.log(f"{args.workload}: inputs generated in {gen_s:.2f}s")

    spark = harness.start_spark(work)
    try:
        tracer = None
        if args.trace:
            from perfbench.trace import Tracer

            tracer = Tracer(spark)
            tracer.install()
        wl.load(spark)
        setup_s = time.perf_counter() - _T0 - gen_s
        harness.log(f"{args.workload}: setup {setup_s:.2f}s")

        records, cold_s, timed_s = harness.measure(wl, args.seed, args.seconds, tracer)
        rss = harness.jvm_peak_rss_mb(spark)
        layer = tracer.metrics() if tracer is not None else None
        if tracer is not None:
            tracer.uninstall()
    finally:
        spark.stop()

    errors = wl.check(records)
    timed = [r for r in records if r.phase == "timed"]
    attempted, failed = harness.tally(records)
    e2e = harness.end_to_end(setup_s, cold_s, timed_s, records, rss)
    side = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "end_to_end": e2e, "per_layer": layer,
        "check_errors": errors[:50], "ops": harness.op_log(records),
    }
    if tracer is not None:
        side["spans"] = tracer.spans
    path = harness.write_side_file(
        f"{args.workload}-s{args.seed}-t{args.trace}.json", side)
    for r in [r for r in records if r.error is not None][:10]:
        harness.log(f"OP FAILED ({r.phase} {r.op.kind}): {r.error}")
    for e in errors[:10]:
        harness.log(f"CHECK FAILED: {e}")
    harness.log(f"{args.workload}: {len(timed)} timed ops in {timed_s:.2f}s, "
                f"cold {cold_s:.2f}s, {failed} of {attempted} ops failed, "
                f"{len(errors)} check errors; detail in {path}")

    result = {
        "correct": not errors,
        "attempted": attempted,
        "failed": failed,
        "metrics": layer if args.trace else e2e,
    }
    print(json.dumps(result, separators=(",", ":")), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
