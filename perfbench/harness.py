"""Shared machinery: the Spark session, the closed loop, the result line.

A run is: generate inputs (untimed) -> start Spark and load (``setup_s``)
-> one warm-up round from a separate seed (``cold_phase_s``) -> the
workload's fixed count of timed rounds, extended by whole rounds until
``--seconds`` have passed (the timed phase) -> check every recorded output
against the workload's oracle -> print one JSON line.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time
from dataclasses import dataclass, field
from typing import Any, Optional

OUT_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "_out")

# Spark stays small: the machine is shared, and the benchmark measures the
# engine's per-query work, not the host's core count. Two task threads
# leave the JVM's JIT and GC threads a core of their own, which keeps run
# to run spread down.
MAX_CORES = 2
# A fixed heap (-Xms = -Xmx) and young generation: eden is fully touched
# within the first seconds and the heap never resizes, so the JVM's peak
# RSS moves with live data (caches, checkpoint blocks) rather than with the
# collector's adaptive sizing. The serial collector runs each pause on one
# thread, so GC adds no threads beyond the ones the run already has; its
# pauses are longer, and ``jvm.gc_ms`` counts them.
DRIVER_MEMORY = "1g"
YOUNG_GEN = "256m"
GC = "-XX:+UseSerialGC"

# Seeds for the warm-up round are drawn apart from the timed seed.
COLD_SEED_SALT = 0x5EED


@dataclass
class Op:
    """One operation of a workload: a Cypher statement or a pipeline call.
    ``meta`` carries what the checker needs (expected endpoints, the
    template's SQL twin, ...)."""
    kind: str
    query: str = ""
    params: Optional[dict] = None
    meta: dict = field(default_factory=dict)


@dataclass
class Record:
    op: Op
    phase: str
    seconds: float
    rows: Any = None
    error: Optional[str] = None


def work_dir(workload: str, seed: int, trace: int) -> str:
    d = os.path.join(OUT_DIR, f"work-{workload}-s{seed}-t{trace}-{os.getpid()}")
    os.makedirs(d, exist_ok=True)
    return d


def start_spark(work: str):
    """A fresh ``local[k]`` session whose scratch files stay in ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    from pyspark.sql import SparkSession

    k = max(1, min(MAX_CORES, os.cpu_count() or 1))
    spark = (
        SparkSession.builder.master(f"local[{k}]")
        .appName("age_spark-perfbench")
        .config("spark.sql.shuffle.partitions", str(k))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.driver.extraJavaOptions",
                f"-Xms{DRIVER_MEMORY} -Xmn{YOUNG_GEN} {GC} -Djava.io.tmpdir={tmp} "
                # no /tmp/hsperfdata_<user>/<pid> file: a run writes only
                # inside its checkout
                f"-XX:-UsePerfData -Dderby.system.home={work}")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM of the Spark JVM, from /proc/<pid>/status."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def run_round(wl, ops, phase: str, records: list, tracer=None) -> None:
    for op in ops:
        if tracer is not None:
            tracer.op_begin(len(records), op)
        t0 = time.perf_counter()
        try:
            rows = wl.run(op)
            err = None
        except Exception as e:  # an op failure is counted, not fatal
            rows, err = None, f"{type(e).__name__}: {e}"
        dt = time.perf_counter() - t0
        if tracer is not None:
            tracer.op_end()
        records.append(Record(op, phase, dt, rows, err))


def measure(wl, seed: int, seconds: float, tracer=None):
    """Warm-up round, then the workload's fixed count of timed rounds,
    extended by whole rounds until ``seconds`` have passed. A fixed count
    keeps the op count (and so the failure share) the same in every run
    whose rounds outlast ``seconds``, instead of flipping between k and
    k+1 rounds when a round takes about ``seconds / k``."""
    import random

    records: list[Record] = []
    t0 = time.perf_counter()
    run_round(wl, wl.round(random.Random(seed ^ COLD_SEED_SALT)), "cold", records)
    cold_s = time.perf_counter() - t0

    rng = random.Random(seed)
    if tracer is not None:
        tracer.phase_begin()
    t1 = time.perf_counter()
    rounds = 0
    while rounds < wl.TIMED_ROUNDS or time.perf_counter() - t1 < seconds:
        run_round(wl, wl.round(rng), "timed", records, tracer)
        rounds += 1
    timed_s = time.perf_counter() - t1
    if tracer is not None:
        tracer.phase_end()
    # untimed read-outs of the final state (write workload)
    run_round(wl, getattr(wl, "final_ops", list)(), "final", records)
    return records, cold_s, timed_s


def tally(records) -> tuple[int, int]:
    """(attempted, failed) over every phase: a warm-up or final read-out
    that raises is a failed operation too, not only a timed one. The
    checkers skip failed records, so this is where a failure shows."""
    return len(records), sum(1 for r in records if r.error is not None)


def end_to_end(setup_s, cold_s, timed_s, records, rss_mb) -> dict:
    lat = [r.seconds for r in records if r.phase == "timed"]
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "cold_phase_s": {"value": cold_s, "unit": "s"},
        "ops_per_s": {"value": len(lat) / timed_s, "unit": "ops/s"},
        "latency_p50_ms": {"value": statistics.median(lat) * 1000.0, "unit": "ms"},
        "peak_rss_mb": {"value": rss_mb, "unit": "MB"},
    }


def write_side_file(name: str, payload: dict) -> str:
    os.makedirs(OUT_DIR, exist_ok=True)
    path = os.path.join(OUT_DIR, name)
    with open(path, "w") as f:
        json.dump(payload, f, indent=1, default=str)
    return path


def op_log(records: list) -> list[dict]:
    return [
        {"phase": r.phase, "kind": r.op.kind, "query": r.op.query,
         "params": r.op.params, "ms": round(r.seconds * 1000.0, 3),
         "error": r.error}
        for r in records
    ]


def remove_work_dir(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)
