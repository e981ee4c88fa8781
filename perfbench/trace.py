"""Per-layer tracing from outside the engine.

``Tracer.install()`` wraps the public entry points of each age_spark module
(and the DataFrame ``collect`` that runs a result) with timing wrappers;
nothing inside the engine changes. Every call becomes a span
``[op, name, start, end, parent]`` kept in memory and written to the side
file when the run ends. Counts are taken at the same boundaries:

- py4j commands sent while ``compile_query`` runs;
- Spark jobs per op through a per-op job group, with a separate group for
  jobs started inside the traversal runtime (``runtime/vle.py``);
- stages and tasks of those jobs (``statusTracker``), shuffle bytes
  written (the executor summary of the status store), cached RDD blocks
  and JVM GC time.

Layer (span) -> module:
    api.cypher    age_spark.api.AgeSession.cypher
    api.release   age_spark.api._release_superseded
    cypher.parse  age_spark.cypher.parse_cypher
    compiler.compile  age_spark.compiler.compile_query
    vle           age_spark.runtime.vle.shortest_path_pairs / vle_pairs
    dedup.build   age_spark.pipeline.dedup.minhash_dedup_pairs / simhash_near_pairs
    graph.build   age_spark.demo.build_tpch_graph, AgeSession.create_graph /
                  load_vertices / load_edges
    spark.plan    DataFrame.queryExecution().executedPlan(), before the action
    spark.exec    DataFrame.collect()
"""

from __future__ import annotations

import functools
import importlib
import sys
import time

# (module, attribute, span name); "Class.method" patches the class
TARGETS = [
    ("age_spark.api", "AgeSession.cypher", "api.cypher"),
    ("age_spark.api", "_release_superseded", "api.release"),
    ("age_spark.cypher", "parse_cypher", "cypher.parse"),
    ("age_spark.compiler", "compile_query", "compiler.compile"),
    ("age_spark.runtime.vle", "shortest_path_pairs", "vle"),
    ("age_spark.runtime.vle", "vle_pairs", "vle"),
    ("age_spark.pipeline.dedup", "minhash_dedup_pairs", "dedup.build"),
    ("age_spark.pipeline.dedup", "simhash_near_pairs", "dedup.build"),
    ("age_spark.demo", "build_tpch_graph", "graph.build"),
    ("age_spark.api", "AgeSession.create_graph", "graph.build"),
    ("age_spark.api", "AgeSession.load_vertices", "graph.build"),
    ("age_spark.api", "AgeSession.load_edges", "graph.build"),
]

PER_LAYER_UNITS = {
    "api.plan_cache_hit_ratio": "ratio",
    "api.release_ms": "ms",
    "cypher.parse_ms": "ms",
    "compiler.compile_ms": "ms",
    "compiler.py4j_calls": "count",
    "vle.ms": "ms",
    "vle.calls": "count",
    "vle.jobs": "count",
    "mutate.ms": "ms",
    "dedup.build_ms": "ms",
    "graph.build_s": "s",
    "spark.plan_ms": "ms",
    "spark.exec_ms": "ms",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.shuffle_write_bytes": "bytes",
    "spark.storage_blocks": "count",
    "jvm.gc_ms": "ms",
}


# span name -> per-op time metric (ms)
SPAN_METRICS = {
    "api.release": "api.release_ms",
    "cypher.parse": "cypher.parse_ms",
    "dedup.build": "dedup.build_ms",
    "spark.plan": "spark.plan_ms",
    "spark.exec": "spark.exec_ms",
}
# per-op metric -> the op counter it sums
OP_COUNTS = {
    "spark.jobs": "jobs",
    "vle.jobs": "vle_jobs",
    "spark.stages": "stages",
    "spark.tasks": "tasks",
    "compiler.py4j_calls": "py4j",
    "spark.shuffle_write_bytes": "shuffle",
}


def _is_write(ast) -> bool:
    from age_spark.cypher import ast as A

    kinds = (A.Create, A.SetClause, A.RemoveClause, A.Delete, A.Merge)
    return any(isinstance(cl, kinds) for part in ast.parts for cl in part.clauses)


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[list] = []
        self.stack: list[int] = []
        self.op = -1  # index of the running op; -1 outside ops (setup)
        self.group = None
        self.ops: dict[int, dict] = {}  # op index -> counters
        self.compile_depth = 0
        self.quiet = 0  # >0 while the tracer itself talks to the JVM
        self.py4j_in_compile = 0
        self.write_compiles: set[int] = set()  # span ids of write statements
        self.timed_ops: list[int] = []
        self.in_timed = False
        self._patches: list[tuple] = []

    # ---- installation
    def install(self) -> None:
        for mod_name, attr, span in TARGETS:
            mod = importlib.import_module(mod_name)
            if "." in attr:
                cls_name, meth = attr.split(".")
                cls = getattr(mod, cls_name)
                self._patch(cls, meth, self._wrap(span, getattr(cls, meth)))
                continue
            orig = getattr(mod, attr)
            wrapped = self._wrap(span, orig)
            # rebind the function wherever a module imported it by name
            for m in list(sys.modules.values()):
                name = getattr(m, "__name__", "") or ""
                if name.startswith("age_spark") and getattr(m, attr, None) is orig:
                    self._patch(m, attr, wrapped)
        df_cls = type(self.spark.range(1))
        self._patch(df_cls, "collect", self._wrap_collect(df_cls.collect))
        client = self.sc._gateway._gateway_client
        self._patch(client, "send_command", self._wrap_send(client.send_command))

    def uninstall(self) -> None:
        for obj, attr, orig in reversed(self._patches):
            setattr(obj, attr, orig)
        self._patches.clear()

    def _patch(self, obj, attr, new) -> None:
        self._patches.append((obj, attr, getattr(obj, attr)))
        setattr(obj, attr, new)

    # ---- spans
    def _open(self, name: str) -> int:
        sid = len(self.spans)
        parent = self.stack[-1] if self.stack else None
        self.spans.append([self.op, name, time.perf_counter(), None, parent])
        self.stack.append(sid)
        return sid

    def _close(self, sid: int) -> None:
        self.spans[sid][3] = time.perf_counter()
        self.stack.pop()

    def _outermost(self, name: str) -> bool:
        return not any(self.spans[s][1] == name for s in self.stack)

    def _wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            outer_vle = name == "vle" and tracer._outermost("vle") and tracer.op >= 0
            if outer_vle:
                tracer._set_group(f"{tracer.group}-vle")
            if name == "compiler.compile":
                tracer.compile_depth += 1
            sid = tracer._open(name)
            if name == "compiler.compile" and len(args) > 1 and _is_write(args[1]):
                tracer.write_compiles.add(sid)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer._close(sid)
                if name == "compiler.compile":
                    tracer.compile_depth -= 1
                if outer_vle:
                    tracer._set_group(tracer.group)

        return wrapper

    def _wrap_collect(self, fn):
        tracer = self

        @functools.wraps(fn)
        def collect(df):
            if tracer.stack or tracer.op < 0:
                return fn(df)  # the engine's own eager actions
            sid = tracer._open("spark.plan")
            df._jdf.queryExecution().executedPlan()
            tracer._close(sid)
            sid = tracer._open("spark.exec")
            try:
                return fn(df)
            finally:
                tracer._close(sid)

        return collect

    def _wrap_send(self, fn):
        tracer = self

        @functools.wraps(fn)
        def send_command(*args, **kwargs):
            if tracer.compile_depth and not tracer.quiet:
                tracer.py4j_in_compile += 1
            return fn(*args, **kwargs)

        return send_command

    # ---- per-op bookkeeping (called by the harness)
    def _set_group(self, group: str) -> None:
        self.quiet += 1
        try:
            self.sc.setJobGroup(group, group)
        finally:
            self.quiet -= 1

    def _shuffle_write_bytes(self) -> int:
        seq = self.sc._jsc.sc().statusStore().executorList(True)
        return sum(seq.apply(i).totalShuffleWrite() for i in range(seq.size()))

    def _gc_ms(self) -> int:
        beans = self.sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(b.getCollectionTime() for b in beans)

    def op_begin(self, index: int, op) -> None:
        self.quiet += 1
        self.op = index
        self.group = f"perfbench-op{index}"
        self._set_group(self.group)
        self.ops[index] = {"py4j0": self.py4j_in_compile,
                           "shuffle0": self._shuffle_write_bytes()}
        if self.in_timed:
            self.timed_ops.append(index)
        self.quiet -= 1

    def op_end(self) -> None:
        self.quiet += 1
        st = self.sc.statusTracker()
        rec = self.ops[self.op]
        jobs = list(st.getJobIdsForGroup(self.group))
        vle_jobs = list(st.getJobIdsForGroup(f"{self.group}-vle"))
        stages = tasks = 0
        for j in jobs + vle_jobs:
            info = st.getJobInfo(j)
            for s in (info.stageIds if info else ()):
                si = st.getStageInfo(s)
                if si is not None:
                    stages += 1
                    tasks += si.numTasks
        rec.update(jobs=len(jobs) + len(vle_jobs), vle_jobs=len(vle_jobs),
                   stages=stages, tasks=tasks,
                   py4j=self.py4j_in_compile - rec.pop("py4j0"),
                   shuffle=self._shuffle_write_bytes() - rec.pop("shuffle0"))
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.op = -1
        self.quiet -= 1

    def phase_begin(self) -> None:
        self.in_timed = True
        self.gc0 = self._gc_ms()

    def phase_end(self) -> None:
        self.in_timed = False
        self.gc_timed = self._gc_ms() - self.gc0
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        self.storage_blocks = sum(i.numCachedPartitions() for i in infos)

    # ---- metrics
    def metrics(self) -> dict:
        timed = set(self.timed_ops)
        n = max(1, len(timed))
        spans = self.spans

        def ms(sid):
            return (spans[sid][3] - spans[sid][2]) * 1000.0

        def ancestors(sid):
            p = spans[sid][4]
            while p is not None:
                yield p
                p = spans[p][4]

        def outermost(sid):
            return all(spans[p][1] != spans[sid][1] for p in ancestors(sid))

        # traversal time nested in a compile, and cypher() calls that compiled
        vle_in_compile: dict[int, float] = {}
        compiled: set[int] = set()
        for sid, s in enumerate(spans):
            if s[1] == "vle" and outermost(sid):
                c = next((p for p in ancestors(sid) if spans[p][1] == "compiler.compile"), None)
                if c is not None:
                    vle_in_compile[c] = vle_in_compile.get(c, 0.0) + ms(sid)
            elif s[1] == "compiler.compile":
                compiled.update(p for p in ancestors(sid) if spans[p][1] == "api.cypher")

        tot: dict[str, float] = {}

        def add(key, v):
            tot[key] = tot.get(key, 0.0) + v

        cyphers = hits = 0
        for sid, (op, name, _, _, _) in enumerate(spans):
            if not outermost(sid):
                continue
            if name == "graph.build" and op < 0:
                add("graph.build_s", ms(sid) / 1000.0)
            if op not in timed:
                continue
            if name == "api.cypher":
                cyphers += 1
                hits += sid not in compiled
            elif name == "compiler.compile":
                own = ms(sid) - vle_in_compile.get(sid, 0.0)
                add("compiler.compile_ms", own)
                if sid in self.write_compiles:
                    add("mutate.ms", own)
            elif name == "vle":
                add("vle.ms", ms(sid))
                add("vle.calls", 1)
            elif name in SPAN_METRICS:
                add(SPAN_METRICS[name], ms(sid))
        for metric, key in OP_COUNTS.items():
            tot[metric] = float(sum(self.ops[i][key] for i in timed))

        out = {}
        for metric, unit in PER_LAYER_UNITS.items():
            if metric == "api.plan_cache_hit_ratio":
                v = hits / cyphers if cyphers else 0.0
            elif metric == "graph.build_s":
                v = tot.get(metric, 0.0)
            elif metric == "spark.storage_blocks":
                v = float(self.storage_blocks)
            elif metric == "jvm.gc_ms":
                v = float(self.gc_timed)
            else:
                v = tot.get(metric, 0.0) / n
            out[metric] = {"value": v, "unit": unit}
        return out
