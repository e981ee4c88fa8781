"""Shortest-path conformance: the reference's sp_big regression fixture
(regress/sql/age_shortest_path.sql:240-420) with its pinned expectations —
120 vertices, a 20-hop main chain with a disjoint 20-hop alternate, a 3x3
lattice, a back-edge triangle, a LIKES shortcut, and isolated vertices.
All checks are hop/count-based, so they transfer id-independently."""

import pytest

from age_spark import AgeSession


@pytest.fixture(scope="module")
def sp_big(spark):
    age = AgeSession(spark)
    g = age.create_graph("sp_big")
    g = age.cypher(g, "UNWIND range(0, 119) AS i CREATE (:N {id: i})").graph
    # main chain 0->1->...->20
    g = age.cypher(
        g,
        "UNWIND range(0, 19) AS i MATCH (a:N {id: i}), (b:N {id: i + 1}) "
        "CREATE (a)-[:KNOWS]->(b)",
    ).graph
    # alternate, disjoint 20-hop path 0->50->51->...->68->20
    g = age.cypher(g, "MATCH (a:N {id: 0}), (b:N {id: 50}) CREATE (a)-[:KNOWS]->(b)").graph
    g = age.cypher(
        g,
        "UNWIND range(50, 67) AS i MATCH (a:N {id: i}), (b:N {id: i + 1}) "
        "CREATE (a)-[:KNOWS]->(b)",
    ).graph
    g = age.cypher(g, "MATCH (a:N {id: 68}), (b:N {id: 20}) CREATE (a)-[:KNOWS]->(b)").graph
    # 3x3 lattice on ids 70..78: right edges then down edges
    g = age.cypher(
        g,
        "UNWIND [0, 1, 2] AS r UNWIND [0, 1] AS c "
        "MATCH (a:N {id: 70 + 3 * r + c}), (b:N {id: 70 + 3 * r + c + 1}) "
        "CREATE (a)-[:KNOWS]->(b)",
    ).graph
    g = age.cypher(
        g,
        "UNWIND [0, 1] AS r UNWIND [0, 1, 2] AS c "
        "MATCH (a:N {id: 70 + 3 * r + c}), (b:N {id: 70 + 3 * (r + 1) + c}) "
        "CREATE (a)-[:KNOWS]->(b)",
    ).graph
    # back-edge triangle 0 -> 96 -> 95 -> 0
    g = age.cypher(g, "MATCH (a:N {id: 0}), (b:N {id: 96}) CREATE (a)-[:KNOWS]->(b)").graph
    g = age.cypher(g, "MATCH (a:N {id: 96}), (b:N {id: 95}) CREATE (a)-[:KNOWS]->(b)").graph
    g = age.cypher(g, "MATCH (a:N {id: 95}), (b:N {id: 0}) CREATE (a)-[:KNOWS]->(b)").graph
    # labelled shortcut 0 -[:LIKES]-> 20
    g = age.cypher(g, "MATCH (a:N {id: 0}), (b:N {id: 20}) CREATE (a)-[:LIKES]->(b)").graph
    return age, g


def _vid(age, g, i, label="N", key="id"):
    return age.cypher(g, f"MATCH (n:{label} {{{key}: {i}}}) RETURN id(n) AS i").df.collect()[0].i


def _hops(age, g, call):
    return [r.hops for r in age.cypher(g, call + " YIELD src, dst, hops RETURN hops").df.collect()]


def test_fixture_count(sp_big):
    age, g = sp_big
    assert age.cypher(g, "MATCH (n) RETURN count(n) AS c").df.collect()[0].c == 120


def test_all_shortest_two_disjoint_20_hop_routes(sp_big):
    age, g = sp_big
    a, b = _vid(age, g, 0), _vid(age, g, 20)
    got = _hops(age, g, f'CALL all_shortest_paths({a}, {b}, "KNOWS", "out")')
    assert got == [20, 20]


def test_any_label_shortcut_collapses(sp_big):
    age, g = sp_big
    a, b = _vid(age, g, 0), _vid(age, g, 20)
    got = _hops(age, g, f'CALL all_shortest_paths({a}, {b}, null, "out")')
    assert got == [1]  # the LIKES shortcut


def test_lattice_six_minimal_paths(sp_big):
    age, g = sp_big
    a, b = _vid(age, g, 70), _vid(age, g, 78)
    got = _hops(age, g, f'CALL all_shortest_paths({a}, {b}, "KNOWS", "out")')
    assert got == [4] * 6  # C(4,2)


def test_max_hops_truncates_then_admits(sp_big):
    age, g = sp_big
    a, b = _vid(age, g, 0), _vid(age, g, 20)
    assert _hops(age, g, f'CALL shortest_path({a}, {b}, "KNOWS", "out", null, 19)') == []
    assert _hops(age, g, f'CALL all_shortest_paths({a}, {b}, "KNOWS", "out", null, 20)') == [20, 20]


def test_directed_vs_undirected_back_edge(sp_big):
    age, g = sp_big
    a, b = _vid(age, g, 0), _vid(age, g, 95)
    # directed out must go 0->96->95
    assert _hops(age, g, f'CALL shortest_path({a}, {b}, null, "out")') == [2]
    # the default direction is UNDIRECTED (age_vle.c:2912): the 95->0
    # back-edge collapses it to one hop
    assert _hops(age, g, f"CALL shortest_path({a}, {b})") == [1]


def test_lattice_against_flow(sp_big):
    age, g = sp_big
    a, b = _vid(age, g, 78), _vid(age, g, 70)
    assert _hops(age, g, f'CALL shortest_path({a}, {b}, null, "out")') == []
    assert _hops(age, g, f"CALL all_shortest_paths({a}, {b})") == [4] * 6


def test_isolated_unreachable_and_zero_length(sp_big):
    age, g = sp_big
    a, z = _vid(age, g, 0), _vid(age, g, 119)
    assert _hops(age, g, f"CALL shortest_path({a}, {z})") == []
    assert _hops(age, g, f"CALL shortest_path({a}, {a})") == [0]



def test_direction_choice_swap_equivalence(sp_big):
    """Endpoint-cardinality direction choice (slim BFS runs from the
    smaller endpoint set over reversed edges, src/dst swapped back) must
    be observationally identical to the forced-unswapped run: same
    (src, dst, hops) multiset, including all_paths multiplicities and
    zero-hop pairs.  The sp_big fixture's id<5 target set against the
    full N label triggers the swap (120 starts vs <=5 targets)."""
    from age_spark.runtime.vle import shortest_path_pairs

    age, g = sp_big

    def pairs(all_paths, **kw):
        df = shortest_path_pairs(
            g,
            start_filter=lambda v: v["label"] == "N",
            end_filter=lambda v: v["properties"]["id"] < 5,
            direction="out",
            all_paths=all_paths,
            slim=True,
            **kw,
        )
        return sorted((r["src"], r["dst"], r["hops"]) for r in df.collect())

    # ground truth (ADVICE r7): an independent driver-side BFS with
    # minimal-path counting over the collected fixture edges — neither
    # engine arm is trusted to check the other
    from collections import defaultdict, deque

    edges = [
        (r.start_id, r.end_id)
        for r in g.scan_edges(None).select("start_id", "end_id").collect()
    ]
    vrows = age.cypher(
        g, "MATCH (n:N) RETURN id(n) AS gid, n.id AS pid"
    ).df.collect()
    start_ids = [r.gid for r in vrows]
    target_ids = {r.gid for r in vrows if r.pid < 5}
    adj = defaultdict(list)
    for s, d in edges:
        adj[s].append(d)

    def py_pairs(all_paths):
        rows = []
        for src in start_ids:
            dist = {src: 0}
            cnt = defaultdict(int)
            cnt[src] = 1
            dq = deque([src])
            while dq:
                u = dq.popleft()
                for v in adj[u]:
                    if v not in dist:
                        dist[v] = dist[u] + 1
                        dq.append(v)
                    if dist[v] == dist[u] + 1:
                        cnt[v] += cnt[u]
            for t in target_ids:
                if t in dist:
                    rows += [(src, t, dist[t])] * (cnt[t] if all_paths else 1)
        return sorted(rows)

    for ap in (False, True):
        swapped = pairs(ap)                  # cardinality gate fires
        forced = pairs(ap, _chosen=True)     # swap suppressed
        expected = py_pairs(ap)
        assert len(expected) > 0
        assert swapped == expected, "swapped arm diverges from ground truth"
        assert forced == expected, "unswapped arm diverges from ground truth"


def test_null_max_hops_runs_until_drain(spark):
    """A NULL max_hops leaves the BFS unbounded, like the reference's:
    on a 32-vertex directed ring the pair 31 hops apart is found (a depth
    cap of 30 used to drop it)."""
    from pyspark.sql import functions as F

    age = AgeSession(spark)
    g = age.create_graph("sp_ring32")
    g = age.load_vertices(
        g, "V", spark.range(32).select(F.col("id"), F.col("id").alias("i")), id_col="id"
    )
    g = age.load_edges(
        g, "R",
        spark.range(32).select(F.col("id").alias("s"), ((F.col("id") + 1) % 32).alias("t")),
        start_col="s", end_col="t", start_label="V", end_label="V",
    )
    a, b = _vid(age, g, 0, "V", "i"), _vid(age, g, 31, "V", "i")
    assert _hops(age, g, f'CALL shortest_path({a}, {b}, "R", "out")') == [31]
