"""traversal: shortest paths and bounded VLE over a small-world graph.

The graph is generated from the seed (``data.small_world``): a few equal
parts, each a directed ring with random shortcuts, loaded with
``load_vertices``/``load_edges``. A round is five ops on endpoints drawn
from the seeded stream:

- ``sp_out``: ``CALL shortest_path(a, b, "R", "out")``;
- ``sp_in_swapped``: ``CALL shortest_path(b, a, "R", "in")``, which must
  equal ``sp_out``;
- ``all_sp``: ``CALL all_shortest_paths(a, c, "R", "out")``;
- ``sp_unreachable``: ``shortest_path`` to a vertex of another part, which
  returns no row after the BFS drains;
- ``vle_count``: ``MATCH (a:V {k: $k})-[:R*1..4]->(b) RETURN count(*)``.

Endpoints are graphid literals: ``$param`` endpoints are rejected by
``CALL shortest_path`` (see CHANGES.md). Pairs stay within 30 hops, the
engine's default cap for an unbounded shortest path.

Oracle: BFS distances and shortest-path counts over the generated edge
list, and an edge-isomorphic DFS that enumerates every 1..4-edge trail.
"""

from __future__ import annotations

import os
from collections import defaultdict, deque

from ..harness import Op

PARTS = 3
PART_SIZE = 40
SHORTCUTS = 3
MAX_HOPS = 30

SP = 'CALL {fn}({a}, {b}, "R", "{dir}") YIELD src, dst, hops RETURN hops'
VLE = "MATCH (a:V {k: $k})-[:R*1..4]->(b) RETURN count(*) AS n"


def bfs(adj, a: int) -> tuple[dict, dict]:
    """Distances and shortest-path counts from ``a`` (paths counted as edge
    sequences, so parallel edges count twice)."""
    dist, count = {a: 0}, {a: 1}
    q = deque([a])
    while q:
        u = q.popleft()
        for v in adj[u]:
            if v not in dist:
                dist[v] = dist[u] + 1
                count[v] = 0
                q.append(v)
            if dist[v] == dist[u] + 1:
                count[v] += count[u]
    return dist, count


def trails(out_edges, a: int, lo: int, hi: int) -> int:
    """Number of trails (no edge twice; vertices may repeat) of lo..hi
    edges starting at ``a`` — the engine's VLE semantics."""
    n = 0
    used: set[int] = set()

    def walk(u: int, depth: int):
        nonlocal n
        if depth >= lo:
            n += 1
        if depth == hi:
            return
        for eid, v in out_edges[u]:
            if eid not in used:
                used.add(eid)
                walk(v, depth + 1)
                used.discard(eid)

    walk(a, 0)
    return n


class Traversal:
    TIMED_ROUNDS = 1

    def __init__(self, seed: int, work: str):
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq

        from ..data import small_world

        self.edges = small_world(seed, PARTS, PART_SIZE, SHORTCUTS)
        self.n = PARTS * PART_SIZE
        self.adj = defaultdict(list)
        self.out = defaultdict(list)
        for eid, (s, t) in enumerate(self.edges):
            self.adj[s].append(t)
            self.out[s].append((eid, t))
        self.label_bits = 0  # the V label's id, known once loaded
        self.vpath = os.path.join(work, "vertices.parquet")
        self.epath = os.path.join(work, "edges.parquet")
        pq.write_table(pa.table({"vid": np.arange(self.n, dtype=np.int64),
                                 "k": np.arange(self.n, dtype=np.int64)}), self.vpath)
        pq.write_table(pa.table({
            "eid": np.arange(len(self.edges), dtype=np.int64),
            "s": np.array([e[0] for e in self.edges], dtype=np.int64),
            "t": np.array([e[1] for e in self.edges], dtype=np.int64),
        }), self.epath)

    def load(self, spark) -> None:
        from age_spark import AgeSession

        self.age = AgeSession(spark)
        g = self.age.create_graph("smallworld")
        g = self.age.load_vertices(g, "V", spark.read.parquet(self.vpath), id_col="vid")
        g = self.age.load_edges(g, "R", spark.read.parquet(self.epath), start_col="s",
                                end_col="t", start_label="V", end_label="V", id_col="eid")
        self.graph = g
        self.label_bits = g.meta.label("V").label_id << 48

    def gid(self, v: int) -> int:
        return self.label_bits | v

    def round(self, rng) -> list[Op]:
        part = rng.randrange(PARTS)
        a = part * PART_SIZE + rng.randrange(PART_SIZE)
        dist, _ = bfs(self.adj, a)
        far = [v for v, d in dist.items() if 2 <= d <= MAX_HOPS]
        b, c = rng.choice(far), rng.choice(far)
        d = ((part + 1 + rng.randrange(PARTS - 1)) % PARTS) * PART_SIZE + rng.randrange(PART_SIZE)
        ga, gb, gc, gd = (self.gid(x) for x in (a, b, c, d))
        meta = {"a": a, "b": b, "c": c, "d": d}
        return [
            Op("sp_out", SP.format(fn="shortest_path", a=ga, b=gb, dir="out"), None, meta),
            Op("sp_in_swapped", SP.format(fn="shortest_path", a=gb, b=ga, dir="in"), None, meta),
            Op("all_sp", SP.format(fn="all_shortest_paths", a=ga, b=gc, dir="out"), None, meta),
            Op("sp_unreachable", SP.format(fn="shortest_path", a=ga, b=gd, dir="out"), None, meta),
            Op("vle_count", VLE, {"k": a}, meta),
        ]

    def run(self, op: Op):
        return [tuple(r) for r in self.age.cypher(self.graph, op.query, op.params).df.collect()]

    def expected(self, op: Op):
        m = op.meta
        dist, count = bfs(self.adj, m["a"])
        if op.kind in ("sp_out", "sp_in_swapped"):
            return [(dist[m["b"]],)]
        if op.kind == "all_sp":
            return [(dist[m["c"]],)] * count[m["c"]]
        if op.kind == "sp_unreachable":
            return []
        if op.kind == "vle_count":
            return [(trails(self.out, m["a"], 1, 4),)]
        raise ValueError(op.kind)

    def check(self, records) -> list[str]:
        errors = []
        last_out = None
        for i, rec in enumerate(records):
            if rec.error is not None:
                continue
            want = self.expected(rec.op)
            if sorted(rec.rows or []) != sorted(want):
                errors.append(f"op {i} {rec.op.kind} {rec.op.meta}: got {rec.rows[:5] if rec.rows else rec.rows} "
                              f"want {want[:5]} ({len(rec.rows or [])} vs {len(want)} rows)")
            if rec.op.kind == "sp_out":
                last_out = rec.rows
            elif rec.op.kind == "sp_in_swapped" and last_out is not None and rec.rows != last_out:
                errors.append(f"op {i}: shortest_path(b, a, in) {rec.rows} != "
                              f"shortest_path(a, b, out) {last_out}")
        return errors
