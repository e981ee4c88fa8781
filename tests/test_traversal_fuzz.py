"""Differential fuzzing of the traversal runtime (``runtime/vle.py``).

Hypothesis draws small multigraphs — at most 7 vertices and 10 edges, with
self-loops, parallel edges and isolated vertices — and checks every
traversal surface against a pure-Python reference:

  - VLE patterns ``[*a..b]``, ``[*]`` and ``[*0..]`` in out, in and
    undirected directions, counted per endpoint pair (the slim lane) or
    returned as full paths (edge and node sequences);
  - ``CALL shortest_path`` / ``CALL all_shortest_paths`` with label or
    graphid endpoints and ``min_hops`` 0, 1 and 2, including endpoint
    cardinalities that take the direction-swap lane;
  - the scalar ``shortest_path(a, b)`` / ``all_shortest_paths(a, b)`` in
    RETURN, which runs the path-carrying lanes.

The reference side enumerates edge-isomorphic trails (edges may not repeat
within a path, vertices may — ``age_vle.c:27-39``).  A shortest-path answer
for a pair is the first depth ``>= min_hops`` that has a trail, and the
trails at that depth are its paths: with ``min_hops`` 0 this is the BFS
distance and its minimal-path count, since a minimal walk never repeats an
edge.  Trail enumeration is factorial on cycle-rich graphs (a vertex with
ten self-loops has ~10^7 undirected trails), for the engine as much as for
the reference, so draws whose answer exceeds ``_CAP`` trails are rejected
rather than enumerated.
"""

import itertools
from collections import Counter, defaultdict, deque

import pytest
from hypothesis import HealthCheck, assume, example, given, settings
from hypothesis import strategies as st

from age_spark import AgeSession

_SLOW = dict(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)

_CAP = 4000  # largest trail set a draw may ask the engine to enumerate
_ENTRY_BITS = 48  # graphid = label_id << 48 | entry id

_names = itertools.count()


class _TooMany(Exception):
    pass


# ---------------------------------------------------------------- strategies


@st.composite
def multigraphs(draw):
    """(labels, edges): vertex i carries labels[i] ("A" or "B"); edges are
    (start, end) index pairs, so repeats are parallel edges and s == e is a
    self-loop.  Vertices no edge touches stay isolated."""
    n = draw(st.integers(1, 7))
    labels = draw(st.lists(st.sampled_from("AAB"), min_size=n, max_size=n))
    vid = st.integers(0, n - 1)
    edges = draw(st.lists(st.tuples(vid, vid), max_size=10))
    return labels, edges


_RANGES = st.one_of(
    st.sampled_from([("*", 1, None), ("*0..", 0, None)]),
    st.integers(0, 2).flatmap(
        lambda a: st.integers(max(a, 1), a + 3).map(lambda b: (f"*{a}..{b}", a, b))
    ),
)

_DIRECTIONS = st.sampled_from(["out", "in", "both"])


# ----------------------------------------------------------------- reference


def _arcs(edges, direction):
    """Oriented (edge index, from, to) arcs: an undirected self-loop is one
    arc, not one per orientation (age_global_graph.c:642-657)."""
    out = []
    for k, (s, d) in enumerate(edges):
        if direction in ("out", "both"):
            out.append((k, s, d))
        if direction == "in" or (direction == "both" and s != d):
            out.append((k, d, s))
    return out


def _trails(arcs, starts, lo, hi):
    """Every edge-distinct walk from a start with length in [lo, hi] (hi
    None: unbounded), as (edge index tuple, vertex index tuple)."""
    adj = defaultdict(list)
    for k, u, v in arcs:
        adj[u].append((k, v))
    found = []

    def walk(ks, ns):
        if len(ks) >= lo:
            found.append((ks, ns))
            if len(found) > _CAP:
                raise _TooMany
        if hi is not None and len(ks) >= hi:
            return
        for k, v in adj[ns[-1]]:
            if k not in ks:
                walk(ks + (k,), ns + (v,))

    for s in starts:
        walk((), (s,))
    return found


def _shortest(arcs, starts, targets, min_hops, max_hops):
    """{(s, t): [edge index tuples]} — the trails s -> t at the first depth
    >= min_hops (and <= max_hops) that has one."""
    answer = {}
    if min_hops == 0:
        # BFS layers, then every minimal path through the layer DAG
        adj = defaultdict(list)
        for k, u, v in arcs:
            adj[u].append((k, v))
        for s in starts:
            dist = {s: 0}
            dq = deque([s])
            while dq:
                u = dq.popleft()
                for _, v in adj[u]:
                    if v not in dist:
                        dist[v] = dist[u] + 1
                        dq.append(v)
            for t in targets:
                if t not in dist or (max_hops is not None and dist[t] > max_hops):
                    continue
                paths = []

                def down(ks, u, _t=t):
                    if u == _t and len(ks) == dist[_t]:
                        paths.append(ks)
                        return
                    for k, v in adj[u]:
                        if dist.get(v) == dist[u] + 1 and dist[v] <= dist[_t]:
                            down(ks + (k,), v)

                down((), s)
                answer[(s, t)] = paths
        return answer
    by_pair = defaultdict(lambda: defaultdict(list))
    for ks, ns in _trails(arcs, starts, min_hops, max_hops):
        by_pair[(ns[0], ns[-1])][len(ks)].append(ks)
    for (s, t), depths in by_pair.items():
        if t in targets:
            answer[(s, t)] = depths[min(depths)]
    return answer


# ------------------------------------------------------------------- engine


@pytest.fixture(scope="module")
def age(spark):
    # <100-row graphs: the wall time is per-statement JVM overhead, so run
    # with the shared tiny-statement confs (semantics are identical)
    from conftest import tiny_query_confs

    with tiny_query_confs(spark):
        yield AgeSession(spark)


def _load(age, labels, edges):
    """Load the drawn multigraph; returns (graph, gid) where gid[i] is
    vertex i's graphid.  Vertices carry property i, edges property k."""
    spark = age.spark
    g = age.create_graph(f"fuzz{next(_names)}")
    for lab in sorted(set(labels)):
        rows = [(i + 1, i) for i, x in enumerate(labels) if x == lab]
        g = age.load_vertices(
            g, lab, spark.createDataFrame(rows, "vid long, i long"), id_col="vid"
        )
    gid = [
        (g.meta.label(lab).label_id << _ENTRY_BITS) + i + 1
        for i, lab in enumerate(labels)
    ]
    rows = [(k + 1, gid[s], gid[d], k) for k, (s, d) in enumerate(edges)]
    g = age.load_edges(
        g, "R",
        spark.createDataFrame(rows, "eid long, s long, d long, k long"),
        start_col="s", end_col="d", id_col="eid",
    )
    return g, gid


def _arrow(direction, body):
    return {"out": f"-[{body}]->", "in": f"<-[{body}]-", "both": f"-[{body}]-"}[direction]


def _members(labels, spec):
    """Vertex indexes an endpoint spec selects: a label or a vertex index."""
    if isinstance(spec, str):
        return [i for i, x in enumerate(labels) if x == spec]
    return [spec]


# a label, or a vertex index (taken modulo the vertex count)
_ENDPOINTS = st.one_of(st.sampled_from(["A", "B"]), st.integers(0, 6))


# -------------------------------------------------------------------- tests


@settings(**_SLOW)
@given(
    graph=multigraphs(),
    rng=_RANGES,
    direction=_DIRECTIONS,
    src_label=st.sampled_from(["", "A"]),
    dst=st.sampled_from(["", "A", "B", "bound"]),
    bound=st.integers(0, 6),
    paths=st.booleans(),
)
def test_vle_matches_trail_enumeration(age, graph, rng, direction, src_label, dst, bound, paths):
    """For any small multigraph, ``(a)-[*lo..hi]-(b)`` returns exactly the
    edge-distinct trails between the endpoints: counted per endpoint pair
    through the slim lane, or as edge and node sequences through the
    path-carrying lane.  A bound destination and a label destination feed
    the bounded lane's target-closure pruning."""
    labels, edges = graph
    text, lo, hi = rng
    n = len(labels)
    starts = _members(labels, "A") if src_label else list(range(n))
    if dst == "bound":
        t = bound % n
        targets, head = {t}, f"MATCH (b) WHERE b.i = {t} "
        b = "(b)"
    else:
        targets = set(_members(labels, dst)) if dst else set(range(n))
        head, b = "", f"(b{':' + dst if dst else ''})"
    try:
        want = [
            (ks, ns) for ks, ns in _trails(_arcs(edges, direction), starts, lo, hi)
            if ns[-1] in targets
        ]
    except _TooMany:
        assume(False)
    g, _ = _load(age, labels, edges)
    a = f"(a{':' + src_label if src_label else ''})"
    if paths:
        q = (
            f"{head}MATCH p = {a}{_arrow(direction, 'e' + text)}{b} "
            "RETURN [x IN relationships(p) | x.k] AS ks, [v IN nodes(p) | v.i] AS ns"
        )
        got = Counter((tuple(r.ks), tuple(r.ns)) for r in age.cypher(g, q).df.collect())
        assert got == Counter(want), q
    else:
        q = f"{head}MATCH {a}{_arrow(direction, text)}{b} RETURN a.i AS a, b.i AS b, count(*) AS c"
        got = {(r.a, r.b): r.c for r in age.cypher(g, q).df.collect()}
        assert got == dict(Counter((ns[0], ns[-1]) for _, ns in want)), q


@settings(**_SLOW)
@given(
    graph=multigraphs(),
    all_paths=st.booleans(),
    direction=st.sampled_from(["out", "in", "any", None]),
    min_hops=st.sampled_from([0, 1, 2]),
    max_hops=st.sampled_from([None, None, 2, 3]),
    scalar=st.booleans(),
    src=_ENDPOINTS,
    tgt=_ENDPOINTS,
)
# 6 starts against one target: the slim CALL lane swaps direction
@example(
    graph=(["A"] * 6, [(0, 1), (1, 2), (2, 0), (3, 2), (4, 4), (1, 2), (5, 0)]),
    all_paths=True, direction="out", min_hops=0, max_hops=None, scalar=False,
    src="A", tgt=2,
)
# a start exactly max_hops (odd) hops from the target: the target closure
# must keep the last hop's predecessors
@example(
    graph=(["A"] * 4, [(0, 1), (1, 2), (2, 3)]),
    all_paths=False, direction="out", min_hops=0, max_hops=3, scalar=False,
    src="A", tgt=3,
)
def test_shortest_paths_match_oracle(
    age, graph, all_paths, direction, min_hops, max_hops, scalar, src, tgt
):
    """``shortest_path`` / ``all_shortest_paths`` return, per endpoint pair,
    the trails at the first depth >= min_hops: one row per pair or one per
    path, through the CALL (slim) and scalar (path-carrying) surfaces."""
    labels, edges = graph
    n = len(labels)
    src, tgt = (x % n if isinstance(x, int) else x for x in (src, tgt))
    d = {"any": "both", None: "both"}.get(direction, direction)
    starts, targets = _members(labels, src), set(_members(labels, tgt))
    try:
        want = _shortest(_arcs(edges, d), starts, targets, min_hops, max_hops)
    except _TooMany:
        assume(False)
    g, gid = _load(age, labels, edges)
    fn = "all_shortest_paths" if all_paths else "shortest_path"
    lit = lambda x: "null" if x is None else (f'"{x}"' if isinstance(x, str) else str(x))
    opts = f'"R", {lit(direction)}, {min_hops}, {lit(max_hops)}'
    if scalar:
        def match(var, spec):
            return f"({var}:{spec})" if isinstance(spec, str) else f"({var} {{i: {spec}}})"

        q = (
            f"MATCH {match('a', src)}, {match('b', tgt)} "
            f"RETURN a.i AS a, b.i AS b, "
            f"[x IN relationships({fn}(a, b, {opts})) | x.k] AS ks"
        )
        got = [(r.a, r.b, tuple(r.ks)) for r in age.cypher(g, q).df.collect()]
        if all_paths:
            expect = [(s, t, ks) for (s, t), ps in want.items() for ks in ps]
            assert Counter(got) == Counter(expect), q
        else:
            assert sorted((s, t) for s, t, _ in got) == sorted(want), q
            for s, t, ks in got:
                assert ks in want[(s, t)], q
    else:
        ends = lambda spec: lit(spec) if isinstance(spec, str) else str(gid[spec])
        q = (
            f"CALL {fn}({ends(src)}, {ends(tgt)}, {opts}) "
            "YIELD src, dst, hops RETURN src, dst, hops"
        )
        index = {x: i for i, x in enumerate(gid)}
        got = Counter(
            (index[r.src], index[r.dst], r.hops) for r in age.cypher(g, q).df.collect()
        )
        expect = Counter()
        for (s, t), ps in want.items():
            expect[(s, t, len(ps[0]))] += len(ps) if all_paths else 1
        assert got == expect, q
