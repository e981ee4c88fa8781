"""Variable-length edges (VLE) + shortest paths as iterative DataFrame BFS.

The reference implements `-[e*min..max]->` as a C depth-first enumerator over
an in-memory whole-graph adjacency cache (``src/backend/utils/adt/age_vle.c``:
design note at :20-75, DFS at :1045/:1190) — a single-node algorithm that
cannot scale past RAM. Our engine replaces it with **frontier-expansion via
joins**: each hop is one equi-join of the frontier against the edge table, so
Spark distributes the traversal and AQE handles skew. Semantics kept from the
reference (``age_vle.c:27-39``):

  - **edge-isomorphism**: no edge repeats within one path; vertices MAY
    repeat (openCypher-mandated; vertex-visited pruning would be incorrect).
  - zero-hop lower bound (``[*0..]``) yields the start vertex itself with an
    empty edge list (zero container, ``age_vle.c:1699``).
  - undirected traversal unions both edge orientations.
  - unbounded ``[*]`` terminates by edge depletion; we additionally cap depth
    at ``DEFAULT_MAX_HOPS`` (documented deviation — on cycle-rich 100 TB
    graphs unbounded enumeration is factorial, the cap is the scale-safe
    choice; raise it per-query when needed).  The same cap bounds the
    shortest-path ``min_hops`` regime, which enumerates edge-distinct paths
    too.  A shortest-path BFS with a NULL ``max_hops`` is unbounded, like the
    reference's: visited-set pruning guarantees it drains.

Per-hop state is (src, cur, edges ARRAY<edge>, nodes ARRAY<vertex>); the
uniqueness filter is an ARRAY containment check evaluated JVM-side.

Every loop is a sequence of frontier rounds built from one kernel: a gated
frontier join (``_gated_join``), one stop-decision job per round
(``_round_probe``), the two-hops-per-round set BFS (``_two_hop_rounds``) and
the path-state helpers (``_path_frontier``, ``_extend``,
``_append_interior``, ``_first_path_per_pair``).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

DEFAULT_MAX_HOPS = 30

# BFS sides below this row count broadcast into their joins (ids only, so
# ~4M rows ≈ 32 MB serialized — inside executor memory at any scale); above
# it the joins fall back to shuffle exchanges
_SP_BCAST_ROWS = 4_000_000


def _pruning_small_enough(graph, targets) -> bool:
    """Size gate for the target-closure pruning broadcast, via limit-probes
    and never a full count: the whole-graph capped probe (cached per
    snapshot, invalidated by in-place loads) bounds any target subset, so
    repeated VLE queries on a small graph pay no per-query job; only when
    the graph itself exceeds the bound does the target set get its own
    LocalLimit probe, which stops scanning at _SP_BCAST_ROWS rows — a
    label-sized target set at 100x never pays a full-table count just to
    learn "too big"."""
    return (
        graph.vertex_count_capped(_SP_BCAST_ROWS) < _SP_BCAST_ROWS
        or targets.limit(_SP_BCAST_ROWS).count() < _SP_BCAST_ROWS
    )


def _oriented_edges(
    graph, types, direction: str, slim: bool = False, edge_filter=None
) -> DataFrame:
    scan = graph.scan_edges(types)
    if edge_filter is not None:
        # edge property prototype `[e*1..2 {k: v}]`: filter the edge scan
        # BEFORE traversal so the predicate pushes to parquet and the
        # frontier never carries non-matching edges (reference threads the
        # prototype into the DFS context, age_vle.c:1928 edge_prototype).
        scan = scan.filter(edge_filter(scan))
    if slim:
        # traversal-only state: the uniqueness filter needs just the edge id
        e = F.struct(F.col("id")).alias("_e")
    else:
        e = F.struct(
            F.col("id"), F.col("start_id"), F.col("end_id"), F.col("label"), F.col("properties")
        ).alias("_e")
    fwd = scan.select(e, F.col("start_id").alias("_s"), F.col("end_id").alias("_d"))
    if direction == "out":
        return fwd
    rev = scan.select(e, F.col("end_id").alias("_s"), F.col("start_id").alias("_d"))
    if direction == "in":
        return rev
    # undirected: a SELF-LOOP must appear once, not once per orientation —
    # the reference keeps self-loops in their own edges_self list exactly
    # so traversal visits them once (age_global_graph.c:642-657). The
    # filter pushes to the scan; no shuffle.
    rev_noloop = scan.filter(F.col("start_id") != F.col("end_id")).select(
        e, F.col("end_id").alias("_s"), F.col("start_id").alias("_d")
    )
    return fwd.unionByName(rev_noloop)


# ---- the frontier-round kernel


def _union_all(parts: list[DataFrame]) -> DataFrame:
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _round_probe(pieces, edges=None, ekey=None, front=None, fkey="cur"):
    """A round's stop decision in ONE job: the row count of each of the
    round's (just checkpointed) pieces as a marker-keyed aggregate, plus —
    when ``edges`` is given — a LocalLimit(1) branch telling whether any
    edge meets ``front`` (``edges[ekey] == front[fkey]``).  When none does,
    the next round's expansion is provably empty BEFORE its anti-join or
    isomorphism filter (a superset test), so its checkpoint plans — each an
    edge pass at AQE plan time — are never built.

    Orientation (measured): STREAM the edges and hash the small,
    materialized frontier — frontier-semi-edges would build a hash table
    over the whole edge table before LocalLimit could fire (~2x the cost at
    sf0.1), while edges-semi-frontier short-circuits at the first matching
    edge in continuing rounds.  No broadcast hint: the frontier's blocks are
    materialized, so AQE sizes the build side at runtime and an oversized
    frontier degrades to a shuffle instead of a driver-killing broadcast.

    A piece whose size does not matter beyond emptiness is passed as
    ``piece.limit(1)``: counting every row of a path frontier measured
    ~10% slower on the unbounded ``[*1..]`` lane than the limited branch.

    Returns ([count per piece], whether an edge meets the frontier)."""
    branches = [p.select(F.lit(i).alias("_h")) for i, p in enumerate(pieces)]
    if edges is not None:
        branches.append(
            edges.join(front, edges[ekey] == front[fkey], "left_semi")
            .select(F.lit(-1).alias("_h"))
            .limit(1)
        )
    counts = {
        r["_h"]: r["n"]
        for r in _union_all(branches).groupBy("_h").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    return [counts.get(i, 0) for i in range(len(pieces))], -1 in counts


def _once(build):
    """Memoize a zero-argument builder (the gated join's fallback table is
    built only if some round ever needs it)."""
    cell = []

    def get():
        if not cell:
            cell.append(build())
        return cell[0]

    return get


def _gated_join(front, fkey: str, n_front: int, edges, ekey: str, partitioned):
    """One hop's frontier join.  The frontier is usually tiny next to the
    edge table: below _SP_BCAST_ROWS broadcast it into a join against the
    edge scan (no edge shuffle — the scan streams map-side; ``n_front`` may
    be a proxy, a wrong guess costs one hop's plan shape, never
    correctness).  Past the gate, join against ``partitioned()``: the edge
    table hash-partitioned on the join key ONCE (LogicalRDD keeps the
    partitioning through localCheckpoint), so the big table never
    re-exchanges per hop — the property that matters at 100 TB."""
    if n_front < _SP_BCAST_ROWS:
        return F.broadcast(front).join(edges, front[fkey] == edges[ekey])
    part = partitioned()
    return front.join(part, front[fkey] == part[ekey])


def _two_hop_rounds(front, n_front, seen, n_seen, expand, edges, ekey, fkey, max_hops):
    """Set BFS two hops per driver round, from ``front`` until the frontier
    drains or ``max_hops`` hops are done (None: until it drains).

    ``expand(front, n_front, seen, n_seen)`` returns the next hop's lazy
    frontier, anti-joined against ``seen`` (the pieces are disjoint, so the
    visited set is their plain lazy union — no dedup, no checkpoint of its
    own).  Hop 2k+1 rides as a LAZY checkpoint whose stage runs inside the
    round's single probe job, so the sequential scheduling rounds — the
    dominant BFS cost at local scale — halve without changing the per-hop
    joins that matter at 100 TB.  The second hop's broadcast gates use the
    round-entry frontier size as the proxy.  ``seen`` (a list of pieces)
    grows in place; returns ([(hop, piece)] for every non-empty hop, the
    visited row count)."""
    layers = []
    hop = 1
    while max_hops is None or hop <= max_hops:
        s1 = expand(front, n_front, _union_all(seen), n_seen).localCheckpoint(eager=False)
        if hop == max_hops:  # odd tail: single-hop round
            (n1,), _ = _round_probe([s1])
            if n1:
                layers.append((hop, s1))
                seen.append(s1)
                n_seen += n1
            break
        # NOTE (measured, negative): fusing s1+s2 into ONE marker-split
        # checkpointed union per round looked like a driver-round saving
        # but was 4-6x SLOWER — without s1's own checkpoint, every
        # broadcast-exchange build over the lazy s1 subtree (s2's frontier
        # side, the visited anti-join side, the union branch) re-runs s1's
        # whole expansion INCLUDING its edge-table pass; broadcast builds
        # do not reuse the inner shuffle exchange across branches.  The
        # per-hop checkpoint is load-bearing: it pins each hop's edge pass
        # to exactly one execution.
        s2 = expand(s1, n_front, _union_all(seen + [s1]), n_seen + n_front).localCheckpoint(
            eager=False
        )
        (n1, n2), more = _round_probe([s1, s2], edges, ekey, s2, fkey)
        for h, s, n in ((hop, s1, n1), (hop + 1, s2, n2)):
            if n == 0:
                return layers, n_seen
            layers.append((h, s))
            seen.append(s)
            n_seen += n
        front, n_front = s2, n2
        hop += 2
        if not more:
            break
    return layers, n_seen


# ---- path-state helpers (the path-carrying loops)


def _empty_arrays(edge_dt, vddl):
    """Typed empty (edges, nodes) payload columns."""
    return (
        F.expr("array()").cast(f"array<{edge_dt.simpleString()}>").alias("edges"),
        F.expr("array()").cast(f"array<{vddl}>").alias("nodes"),
    )


def _path_frontier(starts, edge_dt, vddl) -> DataFrame:
    """Zero-hop path state (src, cur, edges, nodes) from a ``src`` column."""
    return starts.select(F.col("src"), F.col("src").alias("cur"), *_empty_arrays(edge_dt, vddl))


def _extend(frontier, edges, isomorphic: bool) -> DataFrame:
    """Extend every path by one edge out of its ``cur`` vertex; with
    ``isomorphic`` the new edge must not already be on the path (the
    arrival vertex is not appended to ``nodes`` — see _append_interior)."""
    joined = frontier.join(edges, frontier["cur"] == edges["_s"])
    if isomorphic:
        joined = joined.filter(
            ~F.exists(F.col("edges"), lambda x: x.getField("id") == F.col("_e").getField("id"))
        )
    return joined.select(
        F.col("src"),
        F.col("_d").alias("cur"),
        F.concat(F.col("edges"), F.array(F.col("_e"))).alias("edges"),
        F.col("nodes"),
    )


def _append_interior(paths, vscan) -> DataFrame:
    """Append the arrival vertex to ``nodes`` for paths that continue: it
    is an interior vertex of every longer path (at emission it is the
    endpoint, so emit BEFORE appending)."""
    vtable = vscan.select(
        F.col("id").alias("_vid"),
        F.struct(F.col("id"), F.col("label"), F.col("properties")).alias("_v"),
    )
    return paths.join(vtable, paths["cur"] == vtable["_vid"]).select(
        "src", "cur", "edges", F.concat(F.col("nodes"), F.array(F.col("_v"))).alias("nodes")
    )


def _first_path_per_pair(paths) -> DataFrame:
    """One deterministic path per (src, dst): the least edge-id sequence."""
    return paths.withColumn(
        "_rn",
        F.row_number().over(
            Window.partitionBy("src", "dst").orderBy(
                F.transform(F.col("edges"), lambda x: x.getField("id"))
            )
        ),
    ).filter(F.col("_rn") == 1).drop("_rn")


def _emit(paths, hop) -> DataFrame:
    return paths.select("src", F.col("cur").alias("dst"), "edges", "nodes", F.lit(hop).alias("hops"))


def vle_pairs(
    graph,
    types: Optional[list[str]],
    direction: str,
    min_hops: int,
    max_hops: Optional[int],
    seeds: Optional[DataFrame] = None,
    slim: bool = False,
    edge_filter=None,
    targets: Optional[DataFrame] = None,
    seeds_unique: bool = False,
) -> DataFrame:
    """All (src, dst, edges, nodes, hops) paths with hop count in
    [min_hops, max_hops]. ``nodes`` holds the interior vertices (between the
    endpoints), used for path materialization.

    ``edge_filter``: callable DataFrame->Column applied to the edge scan —
    the `[e*1..2 {weight: 5}]` property prototype (``age_vle.c:1928``).

    ``seeds``: DataFrame with a single column ``src`` restricting origins —
    the Spark analogue of the reference's terminal-qual rewrite (#2420):
    seeding from the bound side keeps the frontier proportional to the
    actual match, not the whole graph.

    ``slim``: the caller never reads the edge structs or interior nodes
    (anonymous `[*..]` with no path variable — the common aggregate case):
    carry only edge ids in flight and skip the per-hop interior-vertex join.

    ``targets``: single-column (``_tv``) DataFrame of destination vertex
    ids the pattern's next node can match (its label scan) — a PRUNING
    hint, not a semantic filter: for BOUNDED traversals the expansion
    drops frontier rows whose arrival vertex cannot reach any target
    within the remaining hops (a lazy backward distance closure, the
    forward twin of shortest_path's target pruning).  The destination
    join after the traversal remains the semantic gate.
    """
    edges_lazy = _oriented_edges(graph, types, direction, slim=slim, edge_filter=edge_filter)
    if slim and edge_filter is None:
        # Slim traversal state is (edge-id, src, dst) — query-independent
        # given types + direction, so materialize it ONCE per snapshot and
        # share across VLE calls (snapshot-pinned like sp_thin; the GGC
        # analogue).  The lazy plan otherwise re-reads the unified
        # per-label union scan once PER HOP; the eager checkpoint is a
        # single pass reused by every hop of every query on the snapshot.
        edges = graph._scan_cached(
            ("vle_thin", tuple(types or ()), direction),
            [graph.scan_edges(types)],
            lambda: edges_lazy.localCheckpoint(eager=True),
        )
    else:
        edges = edges_lazy

    # backward distance-to-target levels, built lazily INSIDE the one-job
    # plan (bounded case only): dist_leq[r] = ids within <= r reverse hops
    # of a target.  hard_max is small (<= 4 here), so the unrolled levels
    # stay a modest plan; each level is distinct()-deduped.  Size gate
    # (same constant shortest_path uses): the un-deduped target count is a
    # shuffle-free upper bound — past _SP_BCAST_ROWS the pruning hint would
    # force a broadcast of a potentially label-sized id set (driver OOM at
    # 100x), so pruning is skipped entirely and the post-traversal
    # destination join stays the (only) semantic gate.  Below it, only
    # dist_leq[0] (bounded by the counted target set) carries a broadcast
    # hint; the grown closure levels r >= 1 are UNBOUNDED (<=3 reverse hops
    # can approach the vertex set), so their semi-joins carry no hint and
    # AQE picks broadcast-vs-shuffle from runtime sizes — a too-big closure
    # degrades to a shuffle instead of killing the query.
    dist_leq: Optional[list[DataFrame]] = None
    if (
        targets is not None
        and max_hops is not None
        and 1 <= max_hops <= 4
        and _pruning_small_enough(graph, targets)
    ):
        rev = edges.select(F.col("_d").alias("_rs"), F.col("_s").alias("_rd"))
        # the base level keeps its distinct even for provably-unique label
        # scans: the Aggregate both dedups AND gives Catalyst a small size
        # estimate for the closure union, which keeps the per-hop continue
        # semi-join broadcast in the initial plan (measured: eliding it
        # flipped that join to SortMergeJoin + a frontier exchange)
        level = targets.select(F.col("_tv").alias("_pv")).distinct()
        dist_leq = [level]
        for _ in range(max_hops - 1):
            nxt_level = (
                level.join(rev, level["_pv"] == rev["_rs"])
                .select(F.col("_rd").alias("_pv"))
                .distinct()
            )
            dist_leq.append(dist_leq[-1].unionByName(nxt_level).distinct())
            level = nxt_level

    if seeds is None:
        # a whole-graph vertex scan's ids are unique by construction
        seeds = graph.scan_vertices(None).select(F.col("id").alias("src"))
    elif not seeds_unique:
        # duplicate seed rows would multiply every emitted path (and the
        # caller's join-back) — dedup unless the caller proved uniqueness
        seeds = seeds.distinct()

    frontier = _path_frontier(seeds, edges.schema["_e"].dataType, _vertex_ddl(graph))
    hard_max = max_hops if max_hops is not None else DEFAULT_MAX_HOPS
    results = [_emit(frontier, 0)] if min_hops <= 0 else []
    vscan = graph.scan_vertices(None)

    for hop in range(1, hard_max + 1):
        nxt = _extend(frontier, edges, isomorphic=True)
        if hop >= min_hops:
            emitted = nxt
            if dist_leq is not None:
                # emitted paths must END at a target — semi-join against
                # the target set inside the same job (broadcast is safe:
                # dist_leq[0] is bounded by the counted, gated target set)
                emitted = emitted.join(
                    F.broadcast(dist_leq[0]), emitted["cur"] == dist_leq[0]["_pv"], "left_semi"
                )
            results.append(_emit(emitted, hop))
        if hop == hard_max:
            break
        if dist_leq is not None:
            # continuing rows must still be able to REACH a target in the
            # remaining hard_max - hop hops: prune against the backward
            # closure.  Closure levels are size-unbounded -> no broadcast
            # hint; AQE decides (see the dist_leq comment above).
            allowed = dist_leq[min(hard_max - hop, len(dist_leq) - 1)]
            nxt = nxt.join(allowed, nxt["cur"] == allowed["_pv"], "left_semi")
        if not slim:
            nxt = _append_interior(nxt, vscan)
        # cut lineage growth for DEEP traversals: each hop becomes a fresh
        # plan over materialized state instead of a 2^k nested plan. For
        # small bounded ranges ([*1..4] and tighter) skip the checkpoint so
        # Catalyst/AQE optimize the whole traversal as ONE plan
        # (broadcasts, reordering) with no per-hop materialization.
        if max_hops is None or hard_max > 4:
            nxt = nxt.localCheckpoint(eager=False)
        frontier = nxt
        if max_hops is None:
            # Unbounded: stop when the frontier drains or no frontier
            # vertex has an outgoing edge, in one job riding the
            # just-materialized checkpoint blocks.
            (n,), more = _round_probe([nxt.limit(1)], edges, "_s", nxt)
            if n == 0 or not more:
                break

    if not results:
        return _emit(frontier, 0).limit(0)
    return _union_all(results)


def _vertex_ddl(graph) -> str:
    vprops = graph.vertex_property_schema(None)
    if vprops:
        inner = ",".join(f"`{n}`:{t.simpleString()}" for n, t in vprops)
    else:
        inner = "`_none`:string"
    return f"struct<id:bigint,label:string,properties:struct<{inner}>>"


def shortest_path_pairs(
    graph,
    start_filter=None,
    end_filter=None,
    types: Optional[list[str]] = None,
    direction: str = "out",
    min_hops: int = 0,
    max_hops: Optional[int] = None,
    all_paths: bool = False,
    slim: bool = False,
    starts_df: Optional[DataFrame] = None,
    targets_df: Optional[DataFrame] = None,
    _chosen: bool = False,
    _n_starts: Optional[int] = None,
    _starts_unique: bool = False,
    _targets_unique: bool = False,
) -> DataFrame:
    """Unweighted shortest path(s) between vertex sets — BFS with early stop.

    ``slim``: caller only reads (src, dst, hops) — carry edge ids only (for
    the deterministic single-path tie-break) and skip interior-node
    materialization entirely.

    Mirrors ``shortest_path``/``all_shortest_paths``
    (``age_vle.c:3877/3892``, ``sp_compute_paths``): level-synchronous BFS
    from the start set; at the first level where a target is reached, emit
    the path(s) and stop. ``all_paths=False`` keeps one path per (src, dst)
    pair; True keeps all minimal-length paths.  A NULL ``max_hops`` runs
    until the BFS drains.

    A ``min_hops`` ABOVE the true shortest distance switches regimes: plain
    BFS cannot enumerate longer paths, so the search falls back to
    edge-distinct path enumeration (vertices MAY repeat, edges may not —
    ``age_vle.c:3600-3612``; ``age_shortest_path.sql`` sp_revisit pins the
    A->B->C->B->D length-4 path at min_hops=4).  Since the first qualifying
    depth of that regime equals the BFS answer whenever min_hops <= the
    shortest distance, any positive min_hops runs the exhaustive regime.

    start_filter/end_filter: functions DataFrame->Column over the unified
    vertex scan, selecting endpoints; starts_df/targets_df give the
    endpoint id sets as DataFrames (col `id`) instead — the shape used by
    the scalar shortest_path(a, b) function, whose endpoints come from the
    enclosing MATCH rows.
    """
    vscan = graph.scan_vertices(None)
    # endpoint sets sourced from the vertex scan are unique by
    # construction (ids ARE the scan's key), so their dedup exchanges are
    # statically elidable — the §2.4 distinct-on-unique-data class the
    # r10 VLE seed elision opened.  Caller-supplied endpoint DataFrames
    # (the scalar shortest_path(a, b) shape: ids from MATCH rows) keep
    # the distinct unless the recursion proved uniqueness (_*_unique).
    starts_unique = _starts_unique or starts_df is None
    targets_unique = _targets_unique or targets_df is None
    if starts_df is not None:
        starts = starts_df.select(F.col("id").alias("src"))
    else:
        starts = vscan.filter(start_filter(vscan)).select(F.col("id").alias("src"))
    if targets_df is not None:
        targets = targets_df.select(F.col("id").alias("_tgt"))
    else:
        targets = vscan.filter(end_filter(vscan)).select(F.col("id").alias("_tgt"))
    if not targets_unique:
        targets = targets.distinct()
    # Direction choice by endpoint cardinality (slim counting shapes only):
    # BFS state is |sources| x reachable-vertices, so traversing FROM the
    # smaller endpoint set over reversed edges and swapping (src, dst) at
    # the end shrinks every frontier, aggregation and anti-join by the
    # cardinality ratio — the lever that matters when a 100 TB call pairs
    # a huge start label with a handful of targets.  Safe in slim mode:
    # hops, the zero-hop (v, v) set, and minimal-path multiplicity are all
    # direction-symmetric, and slim never materializes path content (whose
    # deterministic representative COULD differ under reversal).  Two
    # LocalLimit probes decide; they stop scanning at the cap.
    if slim and not (min_hops and min_hops > 0) and not _chosen:
        # both LocalLimit probes in ONE marker-keyed job (they were two
        # sequential driver round-trips; the fixed start-side cap covers
        # the worst case 4 * probe + 8, so the swap decision is identical).
        # The capped counts are memoized per Graph like _vcount_capped
        # (keyed on the endpoint plans' semanticHash + _mutation_count, so
        # in-place loads/DDL self-invalidate and snapshot() writes start
        # fresh): a metadata gate, not a result — repeated calls over the
        # same snapshot skip the probe job entirely.
        _SWAP_PROBE = 4096
        _memo_key = (
            graph._mutation_count,
            targets.semanticHash(),
            starts.semanticHash(),
        )
        _probe_counts = graph._sp_probe_memo.get(_memo_key)
        if _probe_counts is None:
            _probe_counts = _round_probe(
                [targets.limit(_SWAP_PROBE), starts.limit(4 * _SWAP_PROBE + 8)]
            )[0]
            graph._sp_probe_memo[_memo_key] = _probe_counts
            while len(graph._sp_probe_memo) > 32:
                graph._sp_probe_memo.pop(next(iter(graph._sp_probe_memo)))
        n_t, n_s = _probe_counts
        if n_t < _SWAP_PROBE and n_s > 4 * n_t:
            rev = {"out": "in", "in": "out"}.get(direction, direction)
            sw = shortest_path_pairs(
                graph, types=types, direction=rev,
                min_hops=min_hops, max_hops=max_hops, all_paths=all_paths,
                slim=True,
                starts_df=targets.select(F.col("_tgt").alias("id")),
                targets_df=starts.select(F.col("src").alias("id")),
                _chosen=True,
                _n_starts=n_t,
                # uniqueness proofs swap with the endpoints
                _starts_unique=targets_unique,
                _targets_unique=starts_unique,
            )
            return sw.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"),
                "edges", "nodes", "hops",
            )

    edges = _oriented_edges(graph, types, direction, slim=slim)
    edge_dt = edges.schema["_e"].dataType
    vddl = _vertex_ddl(graph)

    if min_hops and min_hops > 0:
        hard_max = max_hops if max_hops is not None else DEFAULT_MAX_HOPS
        if hard_max < min_hops:
            # unsatisfiable window (sp_min: min_hops > max_hops -> 0 rows)
            return _empty_sp_result(starts, edge_dt, vddl)
        return _sp_exhaustive(
            starts, targets, edges, edge_dt, vddl, vscan, min_hops, hard_max, all_paths, slim,
        )

    # Target-closure pruning: every vertex on a path that ENDS at a target
    # can itself reach a target, so the forward BFS never needs edges whose
    # head lies outside the backward closure of the target set. Compute the
    # closure with a cheap set-BFS over reversed edges (vertex SET, no
    # per-source state), then semi-join the edge table down to it. For
    # selective targets this cuts the frontier from whole-graph size to the
    # relevant funnel (the common CALL shape: label-to-label with a small
    # target label); when targets reach most of the graph it degrades to
    # one extra pass over the edges, a constant factor the per-source
    # savings still dominate.
    npart = int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    # The unified edge scan (per-label union + struct build) costs a full
    # pass each time it is read; the iterative loops read it once per hop,
    # so for the slim traversal materialize the thin (src, dst) projection
    # ONCE and let every hop hit the cached rows instead (the path-carrying
    # mode keeps the lazy scan — its per-hop frontier join needs the edge
    # payload anyway).  The thin table is query-independent (types +
    # direction only), so it is memoized per Graph snapshot — the Spark
    # analogue of the reference's whole-graph GGC adjacency cache
    # (age_global_graph.c); _scan_cached pins the underlying scan identity,
    # so any label swap/write snapshot self-invalidates.
    thin_lazy = edges.select("_s", "_d")
    if slim:
        edges_thin = graph._scan_cached(
            ("sp_thin", tuple(types or ()), direction),
            [graph.scan_edges(types)],
            lambda: thin_lazy.localCheckpoint(eager=True),
        )
    else:
        edges_thin = thin_lazy
    ep_fused = None
    if _chosen:
        # Swapped run: the closure loop below runs zero rounds, so the
        # targets checkpoint's only consumer is the per-hop hit join, and
        # the starts side would otherwise pay its own frontier checkpoint
        # inside _sp_slim_bfs.  The two endpoint projections are
        # INDEPENDENT (no cross-dependence — unlike the s1/s2 hops, whose
        # fusion re-ran the inner edge pass), so materialize both in ONE
        # plan-time job via a marker-keyed union and read each side back
        # as marker-filtered blocks: one driver-blocking checkpoint
        # planning instead of two, zero recompute (post-checkpoint
        # filters are block scans).  Seed counters are never read in this
        # lane — skip the counting job too.  The swapped targets are the
        # ORIGINAL (large) start set, whose backward closure approaches the
        # whole graph — a closure BFS would cost driver rounds for
        # near-zero selectivity; the cardinality swap already encodes the
        # small-set optimization.
        ep_fused = (
            starts.select(F.lit(1).alias("_m"), F.col("src").alias("_id"))
            .unionByName(targets.select(F.lit(0).alias("_m"), F.col("_tgt").alias("_id")))
            .localCheckpoint(eager=False)
        )
        starts = ep_fused.filter(F.col("_m") == 1).select(F.col("_id").alias("src"))
        reach0 = ep_fused.filter(F.col("_m") == 0).select(F.col("_id").alias("_rv"))
        if slim:
            edges = edges_thin
    else:
        # lazy checkpoint: the count() is the materializing action, so the
        # checkpoint+count pair costs ONE job instead of two
        reach0 = targets.select(F.col("_tgt").alias("_rv")).localCheckpoint(eager=False)
        n_reach = reach0.count()
        def edges_by_d():
            # the partitioned fallback is query-independent: cached per snapshot
            return graph._scan_cached(
                ("sp_thin_by_d", tuple(types or ()), direction, npart),
                [graph.scan_edges(types)],
                lambda: edges_thin.repartition(npart, "_d").localCheckpoint(eager=True),
            )

        def expand_back(front, n_front, reach, n_reach):
            """Predecessors of ``front`` not yet reached."""
            rc = F.broadcast(reach) if n_reach < _SP_BCAST_ROWS else reach
            return (
                _gated_join(front, "_rv", n_front, edges_thin, "_d", edges_by_d)
                .select(F.col("_s").alias("_rv"))
                .distinct()
                .join(rc, "_rv", "left_anti")
            )

        # the closure keeps s1 and s2 as reached pieces and continues from
        # s2 alone: every predecessor of s1 is already in s2 or reached
        reach_parts = [reach0]
        _, n_reach = _two_hop_rounds(
            reach0, n_reach, reach_parts, n_reach, expand_back,
            edges_thin, "_d", "_rv", max_hops,
        )
        reach = _union_all(reach_parts)
        rc = F.broadcast(reach) if n_reach < _SP_BCAST_ROWS else reach
        if slim:
            # prune the CACHED thin table — the forward hops then never
            # touch the expensive unified scan again
            edges = edges_thin.join(rc, edges_thin["_d"] == reach["_rv"], "left_semi")
        else:
            edges = edges.join(rc, edges["_d"] == reach["_rv"], "left_semi")
        starts = starts.join(rc, starts["src"] == reach["_rv"], "left_semi")

    if slim:
        # the target-id set is already cached as reach0 — reuse it for the
        # per-hop hit joins rather than re-filtering the vertex scan
        return _sp_slim_bfs(
            starts, reach0.select(F.col("_rv").alias("_tgt")), edges, edge_dt, vddl,
            max_hops, all_paths, n_starts=_n_starts, starts_unique=starts_unique,
            starts_materialized=ep_fused is not None,
        )
    return _sp_full_paths(starts, targets, edges, vscan, edge_dt, vddl, max_hops, all_paths)


def _sp_full_paths(starts, targets, edges, vscan, edge_dt, vddl, max_hops, all_paths):
    """Path-carrying BFS (the scalar shortest_path(a, b) lane).

    Shortest paths are computed per (src, dst) PAIR: a source must keep
    expanding after its first hit, or pairs to farther targets are lost
    (the reference computes a path per endpoint pair, ``age_vle.c:3877``).
    Which targets a source can still reach is unknowable mid-BFS, so there
    is NO valid per-source early stop: termination is visited-set frontier
    drain (each source stops when it runs out of unvisited vertices) —
    also cheaper than tracking found pairs, which costs extra distinct +
    aggregate + anti-join shuffles per hop. A (src, dst) pair cannot be
    re-emitted at a later hop: dst enters the visited set when first hit.
    Vertex-level pruning IS correct for shortest paths, unlike VLE."""
    frontier = _path_frontier(starts.distinct(), edge_dt, vddl)
    visited = frontier.select("src", F.col("cur").alias("vid"))

    def hits(paths, hop):
        return _emit(paths.join(targets, paths["cur"] == targets["_tgt"]), hop)

    found = [hits(frontier, 0)]
    hop = 1
    while max_hops is None or hop <= max_hops:
        joined = _extend(frontier, edges, isomorphic=False)
        joined = joined.join(
            visited,
            (joined["src"] == visited["src"]) & (joined["cur"] == visited["vid"]),
            "left_anti",
        ).localCheckpoint(eager=False)
        (n,), more = _round_probe([joined.limit(1)], edges, "_s", joined)
        if n == 0:
            break
        found.append(hits(joined, hop) if all_paths else _first_path_per_pair(hits(joined, hop)))
        if not more:
            break
        visited = visited.unionByName(
            joined.select("src", F.col("cur").alias("vid"))
        ).distinct().localCheckpoint(eager=False)
        frontier = _append_interior(joined, vscan)
        hop += 1
    return _union_all(found)


def _sp_slim_bfs(
    starts, targets, edges, edge_dt, vddl, max_hops: Optional[int], all_paths: bool,
    n_starts: Optional[int] = None, starts_unique: bool = False,
    starts_materialized: bool = False,
) -> DataFrame:
    """Slim BFS: the caller reads only (src, dst, hops), so the state is
    VERTEX-level — (src, cur, path_count) with a sum-aggregated expansion —
    never per-path.  all_paths=True multiplies the emitted (src, dst, hops)
    row by the number of minimal paths (path-counting DP over the BFS DAG,
    the row-multiplicity contract of the reference SRF); single-path mode
    emits one row per pair.  No edge arrays, no window, one aggregation and
    one anti-join shuffle per hop — the shape that scales: frontier size is
    bounded by |V| x |sources|, not by path multiplicity."""
    edges2 = edges.select("_s", "_d")
    # label-scan start sets are unique by construction — the dedup
    # exchange is elided when the caller proved it (§2.4)
    frontier = (starts if starts_unique else starts.distinct()).select(
        F.col("src"), F.col("src").alias("cur"), F.lit(1).cast("long").alias("cnt")
    )
    if not (starts_materialized and starts_unique):
        # materialized by the count (or the first round's probe) below;
        # starts the caller fused into an endpoint checkpoint are re-read
        # as marker-filtered blocks instead — unless they still need their
        # distinct(), which this checkpoint then runs exactly once
        frontier = frontier.localCheckpoint(eager=False)
    # the swapped caller already knows the exact (distinct, probe-measured)
    # start count — skip the counting job; the lazy checkpoint then
    # materializes inside the first round's probe job
    n_frontier = frontier.count() if n_starts is None else n_starts
    npart = int(edges2.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    edges_by_s = _once(lambda: edges2.repartition(npart, "_s").localCheckpoint(eager=True))

    def expand_fwd(fr, n_fr, visited, n_vis):
        """(src, cur, cnt) successors of ``fr`` not yet visited."""
        nxt = (
            _gated_join(fr, "cur", n_fr, edges2, "_s", edges_by_s)
            .groupBy("src", F.col("_d").alias("cur"))
            .agg(F.sum("cnt").alias("cnt"))
        )
        vs = F.broadcast(visited) if n_vis < _SP_BCAST_ROWS else visited
        return nxt.join(
            vs, (nxt["src"] == visited["src"]) & (nxt["cur"] == visited["cur"]), "left_anti"
        )

    def hits(fr, hop):
        return fr.join(targets, fr["cur"] == targets["_tgt"]).select(
            "src", F.col("cur").alias("dst"), "cnt", F.lit(hop).alias("hops")
        )

    # visited: per-(src, cur) distinct pieces (groupBy), each anti-joined
    # against everything before it — disjoint, so a lazy union suffices
    # (the anti-join reads only (src, cur); the optimizer prunes cnt)
    layers, _ = _two_hop_rounds(
        frontier, n_frontier, [frontier], n_frontier, expand_fwd, edges2, "_s", "cur", max_hops
    )
    out = _union_all([hits(frontier, 0)] + [hits(s, h) for h, s in layers])
    if all_paths:
        # one output row per minimal path
        out = out.select(
            "src", "dst", "hops", F.explode(F.sequence(F.lit(1), F.col("cnt"))).alias("_i")
        )
    # schema-compat empty path payload (the slim caller never reads these)
    return out.select("src", "dst", *_empty_arrays(edge_dt, vddl), "hops")


def _empty_sp_result(starts, edge_dt, vddl) -> DataFrame:
    return starts.select(
        F.col("src"), F.col("src").alias("dst"), *_empty_arrays(edge_dt, vddl), F.lit(0).alias("hops")
    ).limit(0)


def _sp_exhaustive(
    starts, targets, edges, edge_dt, vddl, vscan,
    min_hops: int, hard_max: int, all_paths: bool, slim: bool,
) -> DataFrame:
    """min_hops regime (``age_vle.c:3600``): enumerate EDGE-distinct paths
    (vertices may repeat) level by level; for each (src, dst) pair the first
    depth >= min_hops with a hit is its answer — later depths for that pair
    are suppressed.  Terminates by frontier drain (edge-distinctness bounds
    path length by the edge count), when every pair is found, or at
    hard_max.  One probe job per hop: the hop's new pair count (from
    min_hops on), its frontier size and whether any edge leaves it."""
    frontier = _path_frontier(starts.distinct(), edge_dt, vddl)
    n_expected = frontier.count() * targets.count()
    found_pairs: Optional[DataFrame] = None
    n_found = 0
    parts: list[DataFrame] = []
    for hop in range(1, hard_max + 1):
        joined = _extend(frontier, edges, isomorphic=True).localCheckpoint(eager=False)
        pieces = [joined.limit(1)]
        if hop >= min_hops:
            hits = _emit(joined.join(targets, joined["cur"] == targets["_tgt"]), hop)
            if found_pairs is not None:
                hits = hits.join(found_pairs, ["src", "dst"], "left_anti")
            if not all_paths:
                hits = _first_path_per_pair(hits)
            hits = hits.localCheckpoint(eager=False)
            pairs = hits.select("src", "dst").distinct().localCheckpoint(eager=False)
            pieces.append(pairs)
        counts, more = _round_probe(pieces, edges, "_s", joined)
        if hop >= min_hops and counts[1]:
            parts.append(hits)
            found_pairs = (
                pairs if found_pairs is None
                else found_pairs.unionByName(pairs).localCheckpoint(eager=False)
            )
            n_found += counts[1]
            if n_found >= n_expected:
                break
        if counts[0] == 0 or not more:
            break
        frontier = joined if slim else _append_interior(joined, vscan)
    if not parts:
        return _empty_sp_result(starts, edge_dt, vddl)
    return _union_all(parts)
