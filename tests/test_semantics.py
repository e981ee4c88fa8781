"""Per-clause golden-semantics conformance tests.

Modeled on the reference's regression corpus (regress/sql/cypher_match.sql,
expr.sql, cypher_vle.sql, cypher_merge.sql ... — SURVEY §5): a small fixture
graph, exact expected outputs inline. Pins the semantics the reference's
golden files pin: direction handling, edge-uniqueness, OPTIONAL MATCH scoping,
UNWIND null/empty, 0-based substring, stdev n=1 -> 0, SET NULL removes a key,
MERGE intra-statement dedup, VLE bounds and zero-hop, shortest-path
unreachability.
"""

import pytest
from pyspark.sql import functions as F

from age_spark import AgeSession


@pytest.fixture(scope="module")
def social(spark):
    """alice->bob->carol, alice->carol, carol->dave, dave->alice (cycle),
    eve isolated; one LIKES alice->dave."""
    age = AgeSession(spark)
    g = age.create_graph("social")
    people = spark.createDataFrame(
        [
            (1, "alice", 30),
            (2, "bob", 25),
            (3, "carol", 35),
            (4, "dave", None),
            (5, "eve", 28),
        ],
        "pid long, name string, age long",
    )
    g.add_vertices("Person", people, id_col="pid")
    knows = spark.createDataFrame(
        [(1, 1, 2, 2010), (2, 2, 3, 2012), (3, 1, 3, 2015), (4, 3, 4, 2020), (5, 4, 1, 2021)],
        "kid long, s long, t long, since long",
    )
    g.add_edges("KNOWS", knows, start_col="s", end_col="t",
                start_label="Person", end_label="Person", id_col="kid")
    likes = spark.createDataFrame([(1, 1, 4)], "lid long, s long, t long")
    g.add_edges("LIKES", likes, start_col="s", end_col="t",
                start_label="Person", end_label="Person", id_col="lid")
    return age, g


def rows(age, g, q, params=None):
    return sorted(
        tuple(r) for r in age.cypher(g, q, params=params).df.collect()
    )


# ---------------------------------------------------------------- MATCH


def test_directed_out(social):
    age, g = social
    assert rows(age, g, "MATCH (a:Person {name:'alice'})-[:KNOWS]->(b) RETURN b.name AS n") == [
        ("bob",), ("carol",)]


def test_directed_in(social):
    age, g = social
    assert rows(age, g, "MATCH (a:Person {name:'alice'})<-[:KNOWS]-(b) RETURN b.name AS n") == [
        ("dave",)]


def test_undirected(social):
    age, g = social
    assert rows(age, g, "MATCH (a:Person {name:'alice'})-[:KNOWS]-(b) RETURN b.name AS n") == [
        ("bob",), ("carol",), ("dave",)]


def test_no_label_scan(social):
    age, g = social
    assert rows(age, g, "MATCH (n) RETURN count(*) AS c") == [(5,)]


def test_any_edge_label(social):
    age, g = social
    assert rows(age, g, "MATCH (a {name:'alice'})-[e]->(b) RETURN b.name AS n") == [
        ("bob",), ("carol",), ("dave",)]


def test_edge_uniqueness_two_hops(social):
    # a-[e1]->b-[e2]->c requires e1 <> e2: alice->bob->carol, alice->carol->dave,
    # bob->carol->dave, carol->dave->alice, dave->alice->{bob,carol}
    age, g = social
    assert rows(age, g,
        "MATCH (a)-[e1:KNOWS]->(b)-[e2:KNOWS]->(c) RETURN a.name AS a, c.name AS c") == [
        ("alice", "carol"), ("alice", "dave"), ("bob", "dave"),
        ("carol", "alice"), ("dave", "bob"), ("dave", "carol")]


def test_multi_pattern_cross(social):
    age, g = social
    # two independent patterns = cross product (5 persons x 1 liker)
    assert rows(age, g,
        "MATCH (n:Person), (a)-[:LIKES]->(b) RETURN count(*) AS c") == [(5,)]


def test_multi_rel_types(social):
    # [:A|B] — beyond the reference (its grammar allows one type per rel,
    # cypher_gram.y:1530 label_opt); standard openCypher alternation
    age, g = social
    got = rows(age, g,
        "MATCH (a:Person {name:'alice'})-[e:KNOWS|LIKES]->(b) RETURN b.name AS n")
    assert got == [("bob",), ("carol",), ("dave",)]


def test_edge_props(social):
    age, g = social
    assert rows(age, g,
        "MATCH (a)-[e:KNOWS]->(b) WHERE e.since > 2014 RETURN a.name AS a, b.name AS b, e.since AS y") == [
        ("alice", "carol", 2015), ("carol", "dave", 2020), ("dave", "alice", 2021)]


def test_optional_match_null(social):
    age, g = social
    assert rows(age, g,
        "MATCH (p:Person) OPTIONAL MATCH (p)-[:LIKES]->(x) "
        "RETURN p.name AS p, x.name AS x") == [
        ("alice", "dave"), ("bob", None), ("carol", None), ("dave", None), ("eve", None)]


def test_exists_pattern_where(social):
    age, g = social
    assert rows(age, g,
        "MATCH (p:Person) WHERE EXISTS { MATCH (p)-[:LIKES]->(q) } RETURN p.name AS n") == [
        ("alice",)]


# ------------------------------------------------------- projection / agg


def test_unwind_empty_drops_row(social):
    age, g = social
    assert rows(age, g, "UNWIND [] AS x RETURN x") == []
    assert rows(age, g, "WITH [1, 2] AS l UNWIND l AS x RETURN x") == [(1,), (2,)]


def test_orderby_nulls_last(social):
    age, g = social
    got = [r[0] for r in age.cypher(
        g, "MATCH (p:Person) RETURN p.age AS a ORDER BY a ASC").df.collect()]
    assert got == [25, 28, 30, 35, None]


def test_skip_limit(social):
    age, g = social
    got = [r[0] for r in age.cypher(
        g, "MATCH (p:Person) RETURN p.name AS n ORDER BY n SKIP 1 LIMIT 2").df.collect()]
    assert got == ["bob", "carol"]


def test_union_dedup_vs_all(social):
    age, g = social
    assert rows(age, g,
        "MATCH (p:Person) RETURN 'x' AS t UNION MATCH (p:Person) RETURN 'x' AS t") == [("x",)]
    assert len(rows(age, g,
        "MATCH (p:Person) RETURN 'x' AS t UNION ALL MATCH (p:Person) RETURN 'x' AS t")) == 10


def test_implicit_grouping(social):
    age, g = social
    assert rows(age, g,
        "MATCH (a)-[:KNOWS]->(b) RETURN a.name AS a, count(*) AS c") == [
        ("alice", 2), ("bob", 1), ("carol", 1), ("dave", 1)]


def test_distinct_aggregates(social):
    age, g = social
    got = rows(age, g,
        "UNWIND [1, 1, 2, 2, 3] AS x "
        "RETURN sum(DISTINCT x) AS s, count(DISTINCT x) AS c, "
        "round(avg(DISTINCT x), 2) AS a, min(DISTINCT x) AS mn")
    assert got == [(6, 3, 2.0, 1)]


def test_stdev_single_value_is_zero(social):
    age, g = social
    assert rows(age, g,
        "MATCH (p:Person {name:'bob'}) RETURN stdev(p.age) AS s") == [(0.0,)]


def test_collect_skips_nulls(social):
    age, g = social
    assert rows(age, g,
        "MATCH (p:Person) RETURN size(collect(p.age)) AS n") == [(4,)]


def test_with_where_chained(social):
    age, g = social
    assert rows(age, g,
        "MATCH (a)-[:KNOWS]->(b) WITH a.name AS n, count(*) AS c WHERE c > 1 RETURN n, c") == [
        ("alice", 2)]


# ----------------------------------------------------------- expressions


def test_substring_zero_based(social):
    age, g = social
    assert rows(age, g, "RETURN substring('hello', 1, 3) AS s") == [("ell",)]


def test_left_right_split(social):
    age, g = social
    assert rows(age, g,
        "RETURN left('hello', 2) AS l, right('hello', 2) AS r, split('a.b.c', '.') AS sp") == [
        ("he", "lo", ["a", "b", "c"])]


def test_list_index_and_slice(social):
    age, g = social
    assert rows(age, g,
        "WITH [10, 20, 30, 40] AS l RETURN l[0] AS a, l[-1] AS b, l[1..3] AS c, l[-2..] AS d") == [
        (10, 40, [20, 30], [30, 40])]


def test_case_and_null_propagation(social):
    age, g = social
    assert rows(age, g,
        "MATCH (p:Person) RETURN p.name AS n, "
        "CASE WHEN p.age IS NULL THEN 'unknown' WHEN p.age < 30 THEN 'young' ELSE 'adult' END AS b") == [
        ("alice", "adult"), ("bob", "young"), ("carol", "adult"),
        ("dave", "unknown"), ("eve", "young")]


def test_arithmetic_null_propagates(social):
    age, g = social
    assert rows(age, g,
        "MATCH (p:Person {name:'dave'}) RETURN p.age + 1 AS a, p.age * 2 AS b") == [(None, None)]


def test_int_division_truncates(social):
    age, g = social
    assert rows(age, g, "RETURN 7 / 2 AS d, 7 % 2 AS m, 2 ^ 10 AS p") == [(3, 1, 1024.0)]


def test_tointeger_string_float(social):
    # golden: regress/expected/expr.out:3628-3642 — toInteger("1.2") -> 1
    age, g = social
    assert rows(age, g,
        "RETURN toInteger('1.2') AS a, toInteger(1.2) AS b, toInteger('nope') AS c") == [
        (1, 1, None)]


def test_typecasts(social):
    age, g = social
    assert rows(age, g,
        "RETURN '42'::int AS i, 3::float AS f, '2.5'::float AS g, "
        "1::bool AS b, 7::string AS s") == [(42, 3.0, 2.5, True, "7")]


def test_prepared_statement(social):
    age, g = social
    run = age.prepare(g, "MATCH (p:Person) WHERE p.age > $min RETURN count(*) AS c")
    assert [tuple(r) for r in run({"min": 29}).df.collect()] == [(2,)]
    assert [tuple(r) for r in run({"min": 24}).df.collect()] == [(4,)]
    assert "match" in age.get_cypher_keywords()


def test_prepare_matches_cypher(spark):
    """prepare() runs cypher()'s compile path: session-aware functions,
    the catalog following a write, and $param binding all agree."""
    age = AgeSession(spark)
    g = age.create_graph("prep_eq")
    g = age.cypher(g, "UNWIND range(1, 4) AS i CREATE (:T {k: i})").graph

    def same(stmt, params=None):
        want = sorted(map(tuple, age.cypher(g, stmt, params).df.collect()))
        got = sorted(map(tuple, age.prepare(g, stmt)(params).df.collect()))
        assert got == want, stmt
        return got

    assert same("RETURN graph_stats('prep_eq')")
    assert same("MATCH (n:T) WHERE n.k > $min RETURN n.k AS k", {"min": 2}) == [(3,), (4,)]
    res = age.prepare(g, "CREATE (:T {k: 9})")()
    assert res.graph is not g
    assert age.graphs["prep_eq"] is res.graph
    assert age.cypher(res.graph, "MATCH (n:T) RETURN count(*) AS c").df.collect()[0].c == 5


def test_map_projection(social):
    age, g = social
    got = age.cypher(
        g, "MATCH (p:Person {name:'alice'}) RETURN p{.name, .age, extra: 1} AS m"
    ).df.collect()
    assert [tuple(r.m) for r in got] == [("alice", 30, 1)]


def test_parameters(social):
    age, g = social
    assert rows(age, g,
        "MATCH (p:Person) WHERE p.name = $who RETURN p.age AS a",
        params={"who": "carol"}) == [(35,)]


# ------------------------------------------------------------------ VLE


def test_vle_bounds(social):
    age, g = social
    # alice -[*1..2]-> : bob, carol (1 hop); carol (via bob), dave (via carol, 2 hops)
    assert rows(age, g,
        "MATCH (a:Person {name:'alice'})-[e:KNOWS*1..2]->(b) RETURN b.name AS n") == [
        ("bob",), ("carol",), ("carol",), ("dave",)]


def test_vle_zero_hop(social):
    age, g = social
    assert rows(age, g,
        "MATCH (a:Person {name:'eve'})-[e:KNOWS*0..1]->(b) RETURN b.name AS n") == [("eve",)]


def test_vle_edge_isomorphism_on_cycle(social):
    # cycle alice->...->dave->alice: unbounded traversal terminates (edge
    # depletion), vertices may repeat but edges may not
    age, g = social
    got = rows(age, g,
        "MATCH (a:Person {name:'alice'})-[e:KNOWS*]->(b:Person {name:'alice'}) "
        "RETURN count(*) AS c")
    assert got == [(2,)]  # a->b->c->d->a and a->c->d->a


def test_vle_edge_property_prototype(social):
    # [e*.. {k: v}] filters EVERY traversed edge (age_vle.c:1928
    # edge_prototype; regress/sql/cypher_vle.sql property-filtered cases).
    age, g = social
    # only edge alice->bob has since=2010; 2-hop would need both hops at 2010
    assert rows(age, g,
        "MATCH (a:Person {name:'alice'})-[e:KNOWS*1..2 {since: 2010}]->(b) "
        "RETURN b.name AS n") == [("bob",)]
    # prototype that matches no edge -> no paths (but 0-hop is exempt: the
    # zero container has no edges to test)
    assert rows(age, g,
        "MATCH (a:Person {name:'alice'})-[e:KNOWS*1..3 {since: 1999}]->(b) "
        "RETURN b.name AS n") == []
    # chainable prototype: alice-[{since:2015}]->carol-[{since:2020}]->dave
    # has mixed years, so {since:2015} stops after carol
    assert rows(age, g,
        "MATCH (a:Person {name:'alice'})-[e:KNOWS*1..2 {since: 2015}]->(b) "
        "RETURN b.name AS n") == [("carol",)]


def test_named_path_vle_interior_nodes(social):
    # nodes(p) over a VLE segment must include interior vertices
    # (_agtype_build_path interleaves vertex/edge/vertex, agtype.c:2081)
    age, g = social
    got = rows(age, g,
        "MATCH p = (a:Person {name:'alice'})-[e:KNOWS*2..2]->(b) "
        "RETURN size(nodes(p)) AS nn, size(relationships(p)) AS ne, "
        "nodes(p)[1].name AS mid, b.name AS endv")
    # two 2-hop paths: alice->bob->carol and alice->carol->dave
    assert got == [(3, 2, "bob", "carol"), (3, 2, "carol", "dave")]


def test_named_path_vle_zero_hop_single_vertex(social):
    # a 0-edge path is a single vertex, not a doubled endpoint
    age, g = social
    got = rows(age, g,
        "MATCH p = (a:Person {name:'eve'})-[e:KNOWS*0..1]->(b) "
        "RETURN size(nodes(p)) AS nn, size(relationships(p)) AS ne")
    assert got == [(1, 0)]


def test_vle_undirected(social):
    age, g = social
    # eve is isolated: no results even undirected, at any depth
    assert rows(age, g,
        "MATCH (a:Person {name:'eve'})-[e:KNOWS*1..3]-(b) RETURN b.name AS n") == []
    # bob undirected 1 hop: alice (in), carol (out)
    assert rows(age, g,
        "MATCH (a:Person {name:'bob'})-[e:KNOWS*1..1]-(b) RETURN b.name AS n") == [
        ("alice",), ("carol",)]


def test_explain_prefix(social):
    age, g = social
    df = age.cypher(g, "EXPLAIN MATCH (p:Person) RETURN p.name AS n").df
    text = "\n".join(r[0] for r in df.collect())
    assert "Physical Plan" in text and df.columns == ["QUERY PLAN"]


def test_register_views_sql_interop(social):
    age, g = social
    names = age.register_views(g)
    got = age.spark.sql(
        f"SELECT count(*) AS c FROM {names[0]} WHERE label = 'Person'"
    ).collect()
    assert got[0].c == 5


def test_missing_label_matches_zero_rows(social):
    # reference parity: nonexistent labels -> false WHERE, zero rows
    # (cypher_clause.c:8104 make_false_where_clause), not an error
    age, g = social
    assert rows(age, g, "MATCH (n:NoSuchLabel) RETURN n.name AS x") == []
    assert rows(age, g, "MATCH (a:Person)-[e:NO_SUCH_EDGE]->(b) RETURN a.name AS x") == []
    assert rows(age, g,
        "MATCH (p:Person) OPTIONAL MATCH (p)-[:NO_SUCH]->(q) RETURN count(*) AS c") == [(5,)]


def test_error_paths(social):
    age, g = social
    from age_spark.cypher.parser import CypherSyntaxError
    from age_spark.compiler.context import CompileError

    with pytest.raises(CypherSyntaxError, match="offset"):
        age.cypher(g, "MATCH (n:Person RETURN n")
    with pytest.raises(CompileError, match="`m` is not defined"):
        age.cypher(g, "MATCH (n:Person) RETURN m.name")
    with pytest.raises(CompileError, match="unknown function"):
        age.cypher(g, "RETURN frobnicate(1)")
    with pytest.raises(CompileError, match="unknown procedure"):
        age.cypher(g, "CALL no_such_proc()")
    # no parameters argument at all -> the reference's exact error
    # (expr.out:73); a SUPPLIED map missing the key yields NULL instead
    with pytest.raises(Exception, match="parameters argument is missing"):
        age.cypher(g, "MATCH (p:Person) WHERE p.name = $who RETURN p")
    assert rows(age, g, "MATCH (p:Person) WHERE p.name = $who RETURN p.name AS n",
                params={"other": 1}) == []


def test_all_shortest_paths_vs_single(spark):
    # diamond A->B->D, A->C->D: two minimal paths A->D
    age = AgeSession(spark)
    g = age.create_graph("diamond")
    g.add_vertices("P", spark.createDataFrame(
        [(1, "A"), (2, "B"), (3, "C"), (4, "D")], "vid long, name string"), id_col="vid")
    g.add_edges("E", spark.createDataFrame(
        [(1, 1, 2), (2, 1, 3), (3, 2, 4), (4, 3, 4)], "eid long, s long, t long"),
        start_col="s", end_col="t", start_label="P", end_label="P", id_col="eid")
    a_id = (g.meta.label("P").label_id << 48) | 1
    d_id = (g.meta.label("P").label_id << 48) | 4
    single = age.cypher(
        g, f"CALL shortest_path({a_id}, {d_id}) YIELD src, dst, hops RETURN hops"
    ).df.collect()
    allp = age.cypher(
        g, f"CALL all_shortest_paths({a_id}, {d_id}) YIELD src, dst, hops RETURN hops"
    ).df.collect()
    assert [r.hops for r in single] == [2]
    assert [r.hops for r in allp] == [2, 2]


def test_shortest_path_targets_at_different_distances(spark):
    # chain A->B->C->D->E with targets {C, E}: C at hop 2, E at hop 4.
    # Early-stop must be per (src, dst) pair — stopping the source at its
    # first hit (C) would silently drop (A, E). Reference computes one path
    # per endpoint pair (age_vle.c:3877).
    age = AgeSession(spark)
    g = age.create_graph("chain5")
    g.add_vertices("Src", spark.createDataFrame([(1, "A")], "vid long, name string"),
                   id_col="vid")
    g.add_vertices("Mid", spark.createDataFrame([(2, "B"), (4, "D")], "vid long, name string"),
                   id_col="vid")
    g.add_vertices("Tgt", spark.createDataFrame([(3, "C"), (5, "E")], "vid long, name string"),
                   id_col="vid")
    sid = g.meta.label("Src").label_id << 48
    mid = g.meta.label("Mid").label_id << 48
    tid = g.meta.label("Tgt").label_id << 48
    edges = spark.createDataFrame(
        [(1, sid | 1, mid | 2), (2, mid | 2, tid | 3), (3, tid | 3, mid | 4),
         (4, mid | 4, tid | 5)],
        "eid long, s long, t long")
    g.add_edges("E", edges, start_col="s", end_col="t", id_col="eid")
    got = rows(age, g,
        'CALL shortest_path("Src", "Tgt") YIELD src, dst, hops RETURN dst, hops')
    assert got == [(tid | 3, 2), (tid | 5, 4)]


def test_shortest_path_unreachable(social):
    age, g = social
    got = rows(age, g,
        'CALL shortest_path("Person", "Person", "KNOWS") YIELD src, dst, hops '
        "RETURN count(*) AS c")
    # per-(src,dst) shortest: every src reaches itself at 0 hops -> >= 5 rows
    assert got[0][0] >= 5


def test_second_match_joins_on_bound_var(social):
    age, g = social
    got = rows(age, g,
        "MATCH (a:Person {name:'alice'}) MATCH (a)-[:KNOWS]->(b) RETURN b.name AS n")
    assert got == [("bob",), ("carol",)]


def test_optional_match_correlated_where(social):
    age, g = social
    got = rows(age, g,
        "MATCH (p:Person) OPTIONAL MATCH (p)-[:KNOWS]->(q) WHERE q.age > 26 "
        "RETURN p.name AS p, q.name AS q")
    # alice->carol(35) passes; alice->bob(25) filtered inside the optional;
    # dave->alice(30) passes; others null
    assert got == [
        ("alice", "carol"), ("bob", "carol"), ("carol", None),
        ("dave", "alice"), ("eve", None)]


def test_entity_alias_through_with(social):
    age, g = social
    got = rows(age, g,
        "MATCH (p:Person {name:'bob'}) WITH p AS person "
        "RETURN person.name AS n, person.age AS a")
    assert got == [("bob", 25)]


def test_create_edge_with_props(spark):
    age = AgeSession(spark)
    g = age.create_graph("ep")
    r = age.cypher(g, "CREATE (a:T {k: 1})-[r:R {w: 5}]->(b:T {k: 2}) RETURN r.w AS w")
    assert [tuple(x) for x in r.df.collect()] == [(5,)]
    assert rows(age, r.graph, "MATCH ()-[r:R]->() RETURN r.w AS w") == [(5,)]


def test_with_limit_then_match_chain(social):
    age, g = social
    # WITH ... ORDER BY ... LIMIT then further MATCH continues the pipeline
    got = rows(age, g,
        "MATCH (p:Person) WITH p ORDER BY p.name LIMIT 2 "
        "MATCH (p)-[:KNOWS]->(q) RETURN p.name AS p, q.name AS q")
    assert got == [("alice", "bob"), ("alice", "carol"), ("bob", "carol")]


def test_unwind_after_aggregate(social):
    age, g = social
    got = rows(age, g,
        "MATCH (p:Person) WITH collect(p.name) AS names "
        "UNWIND names AS n RETURN n ORDER BY n")
    assert got == [("alice",), ("bob",), ("carol",), ("dave",), ("eve",)]


def test_orderby_aggregate_not_in_return(social):
    age, g = social
    got = [r[0] for r in age.cypher(g,
        "MATCH (a)-[:KNOWS]->(b) RETURN a.name AS n ORDER BY count(*) DESC, n ASC"
    ).df.collect()]
    assert got[0] == "alice"  # 2 outgoing KNOWS


# ---------------------------------------------------------------- writes


def test_create_visible_to_later_match(spark):
    # read-your-writes across clauses in ONE statement (cypher_utils.c CID
    # handling; ours: clause-by-clause snapshots)
    age = AgeSession(spark)
    g = age.create_graph("rw")
    g = age.cypher(g, "CREATE (a:T {k: 1})").graph
    r = age.cypher(g, "CREATE (b:T {k: 2}) WITH b MATCH (n:T) RETURN count(*) AS c")
    assert [tuple(x) for x in r.df.collect()] == [(2,)]


def test_create_returns_and_persists(spark):
    age = AgeSession(spark)
    g = age.create_graph("w1")
    r = age.cypher(g, "CREATE (n:T {v: 1}) RETURN n.v AS v")
    assert [tuple(x) for x in r.df.collect()] == [(1,)]
    assert rows(age, r.graph, "MATCH (n:T) RETURN n.v AS v") == [(1,)]


def test_set_null_removes_key(spark):
    age = AgeSession(spark)
    g = age.create_graph("w2")
    g = age.cypher(g, "CREATE (n:T {v: 1, w: 2})").graph
    g = age.cypher(g, "MATCH (n:T) SET n.w = NULL").graph
    assert rows(age, g, "MATCH (n:T) RETURN n.v AS v, n.w AS w") == [(1, None)]


def test_set_plus_equals_merges(spark):
    age = AgeSession(spark)
    g = age.create_graph("w3")
    g = age.cypher(g, "CREATE (n:T {v: 1})").graph
    g = age.cypher(g, "MATCH (n:T) SET n += {w: 5, v: 9}").graph
    assert rows(age, g, "MATCH (n:T) RETURN n.v AS v, n.w AS w") == [(9, 5)]


def test_merge_intra_statement_dedup(spark):
    # multiple input rows merging the same pattern create it ONCE
    # (cypher_merge.c:594-637)
    age = AgeSession(spark)
    g = age.create_graph("w4")
    g = age.cypher(g, "UNWIND [1, 1, 1] AS x MERGE (n:T {k: 'same'})").graph
    assert rows(age, g, "MATCH (n:T) RETURN count(*) AS c") == [(1,)]


def test_detach_delete_cascades(spark):
    age = AgeSession(spark)
    g = age.create_graph("w5")
    g = age.cypher(g, "CREATE (a:T {k: 1})-[:E]->(b:T {k: 2})").graph
    g = age.cypher(g, "MATCH (n:T {k: 1}) DETACH DELETE n").graph
    assert rows(age, g, "MATCH (n:T) RETURN n.k AS k") == [(2,)]
    assert rows(age, g, "MATCH ()-[e:E]->() RETURN count(*) AS c") == [(0,)]


def test_snapshot_isolation_of_new_labels(spark):
    # a label created by a later write (shared catalog meta) must not break
    # scans over the earlier snapshot
    age = AgeSession(spark)
    g = age.create_graph("iso")
    g = age.cypher(g, "CREATE (a:T {k: 1})").graph
    age.cypher(g, "MERGE (b:NEWLABEL {k: 9})")  # snapshot discarded
    assert rows(age, g, "MATCH (n) RETURN count(*) AS c") == [(1,)]
    assert rows(age, g, "MATCH ()-[e]->() RETURN count(*) AS c") == [(0,)]


def test_merge_relationship_bound_endpoints(spark):
    age = AgeSession(spark)
    g = age.create_graph("w7")
    g = age.cypher(g, "CREATE (a:T {k: 1}) CREATE (b:T {k: 2})").graph
    q = "MATCH (a:T {k: 1}), (b:T {k: 2}) MERGE (a)-[:R]->(b)"
    g = age.cypher(g, q).graph
    g = age.cypher(g, q).graph  # second MERGE must not duplicate
    assert rows(age, g, "MATCH ()-[e:R]->() RETURN count(*) AS c") == [(1,)]


def test_self_loop_pattern(spark):
    age = AgeSession(spark)
    g = age.create_graph("w8")
    g = age.cypher(g, "CREATE (a:T {k: 1})-[:R]->(a)").graph
    assert rows(age, g, "MATCH (a:T)-[e:R]->(a) RETURN a.k AS k") == [(1,)]


def test_delete_edge_only(spark):
    age = AgeSession(spark)
    g = age.create_graph("w9")
    g = age.cypher(g, "CREATE (a:T {k: 1})-[:R]->(b:T {k: 2})").graph
    g = age.cypher(g, "MATCH (:T)-[e:R]->(:T) DELETE e").graph
    assert rows(age, g, "MATCH ()-[e:R]->() RETURN count(*) AS c") == [(0,)]
    assert rows(age, g, "MATCH (n:T) RETURN count(*) AS c") == [(2,)]


def test_remove_property(spark):
    age = AgeSession(spark)
    g = age.create_graph("w6")
    g = age.cypher(g, "CREATE (n:T {v: 1, w: 2})").graph
    g = age.cypher(g, "MATCH (n:T) REMOVE n.w").graph
    assert rows(age, g, "MATCH (n:T) RETURN n.v AS v, n.w AS w") == [(1, None)]


def test_paren_arith_not_pattern(spark):
    """(1+2)-(3) is subtraction, not a node pattern (parser disambiguation:
    a bare '-' followed by '(' is never a relationship continuation)."""
    age = AgeSession(spark)
    g = age.create_graph("pp1")
    assert rows(age, g, "RETURN (1 + 2) - (3) AS v") == [(0,)]
    assert rows(age, g, "RETURN (10) - (4) - (1) AS v") == [(5,)]


def test_paren_pattern_predicate_still_works(spark):
    age = AgeSession(spark)
    g = age.create_graph("pp2")
    g = age.cypher(g, "CREATE (a:P {k: 1})-[:R]->(b:P {k: 2}), (c:P {k: 3})").graph
    assert rows(
        age, g, "MATCH (n:P) WHERE (n)-[:R]->() RETURN n.k AS k"
    ) == [(1,)]
    # anonymous '--' continuation form
    assert sorted(
        rows(age, g, "MATCH (n:P) WHERE (n)--() RETURN n.k AS k")
    ) == [(1,), (2,)]


def test_set_last_update_wins_deterministic(spark):
    """Multiple SET rows hitting one entity: winner is the max row id, not
    partial-agg merge order (reference: updates apply in result row order)."""
    age = AgeSession(spark)
    g = age.create_graph("pp3")
    g = age.cypher(g, "CREATE (n:T {k: 0})").graph
    # UNWIND produces 50 update rows for the same vertex; last (x=50) wins
    g = age.cypher(
        g, "UNWIND range(1, 50) AS x MATCH (n:T) SET n.k = x"
    ).graph
    assert rows(age, g, "MATCH (n:T) RETURN n.k AS k") == [(50,)]


def test_external_function_fallthrough(spark):
    """Unknown Cypher function names resolve against Spark's registry —
    builtins and registered UDFs (reference: any SQL function is callable,
    cypher_expr.c transform_external_ext_FuncCall)."""
    from pyspark.sql.types import LongType

    age = AgeSession(spark)
    g = age.create_graph("extfn")
    # a Spark builtin the Cypher registry does not define
    assert rows(age, g, "RETURN levenshtein('kitten', 'sitting') AS d") == [(3,)]
    # a user-registered UDF
    spark.udf.register("triple_it", lambda x: x * 3, LongType())
    assert rows(age, g, "RETURN triple_it(14) AS t") == [(42,)]
    # unknown names still fail with a clear compile error
    from age_spark.compiler.context import CompileError

    with pytest.raises(CompileError):
        age.cypher(g, "RETURN definitely_not_a_function(1)")


def test_call_spark_table_function_fallthrough(spark):
    """CALL of names outside the @procedure registry resolves against
    Spark-registered table functions (parity with the reference CALLing
    any set-returning SQL function — cypher_gram.y:436-553,
    regress/sql/cypher_call.sql)."""
    from pyspark.sql.functions import udtf

    from age_spark.compiler.context import CompileError

    age = AgeSession(spark)
    g = age.create_graph("callsrf")

    @udtf(returnType="n int, squared int")
    class SquaresUdtf:
        def eval(self, limit: int):
            for i in range(limit):
                yield i, i * i

    spark.udtf.register("call_squares", SquaresUdtf)

    got = rows(age, g, "CALL call_squares(5) YIELD n, squared WHERE n >= 2 RETURN n, squared ORDER BY n")
    assert got == [(2, 4), (3, 9), (4, 16)]
    # SQL built-in table functions work too, and solo CALL returns all cols
    got = rows(age, g, "CALL range(3) YIELD id RETURN id ORDER BY id")
    assert got == [(0,), (1,), (2,)]
    # string/param args render as literals
    got = rows(age, g, "CALL call_squares($k) YIELD n RETURN count(*) AS c", params={"k": 4})
    assert got == [(4,)]
    # non-literal args are rejected, unknown names still error
    with pytest.raises(CompileError, match="literals or parameters"):
        age.cypher(g, "MATCH (x:Nope) CALL call_squares(x.v) YIELD n RETURN n")
    with pytest.raises(CompileError, match="unknown procedure"):
        age.cypher(g, "CALL definitely_not_registered()")


# ------------------------------------------------- CALL prev/next rule set


def test_call_no_yield_with_prev_errors(social):
    """transform_cypher_call_stmt (cypher_clause.c:1268): a CALL inside a
    larger query must name outputs with YIELD — even as the FINAL clause."""
    from age_spark.compiler.context import CompileError

    age, g = social
    with pytest.raises(CompileError, match="naming results implicitly"):
        age.cypher(g, "MATCH (a) CALL sqrt(64)")


def test_call_yield_cannot_conclude_query(social):
    """CALL YIELD with a preceding clause and no following clause errors
    'Query cannot conclude with CALL' (not the standalone-WHERE error)."""
    from age_spark.compiler.context import CompileError

    age, g = social
    with pytest.raises(CompileError, match="Query cannot conclude with CALL"):
        age.cypher(g, "MATCH (a) CALL sqrt(64) YIELD sqrt")
    with pytest.raises(CompileError, match="Query cannot conclude with CALL"):
        age.cypher(g, "MATCH (a) CALL sqrt(64) YIELD sqrt WHERE sqrt > 1")


def test_call_standalone_yield_ok(social):
    age, g = social
    got = [tuple(r) for r in age.cypher(g, "CALL sqrt(64) YIELD sqrt").df.collect()]
    assert got == [(8.0,)]


# ------------------------------------------- numeric sum NaN/Inf propagation


def test_sum_numeric_nan_propagates(social):
    """PG's numeric sum propagates NaN/Infinity; the DECIMAL lane must not
    silently drop special rows (they cast to NULL decimal)."""
    age, g = social
    q = "UNWIND [1::numeric, 'NaN'::numeric, 2::numeric] AS x RETURN sum(x) AS s"
    out = age.cypher(g, q).df.collect()[0][0]
    # tagged numeric result: __d carries the spelling
    assert out["__d"] == "NaN"

    q2 = "UNWIND [1::numeric, 'inf'::numeric] AS x RETURN sum(x) AS s"
    out2 = age.cypher(g, q2).df.collect()[0][0]
    assert out2["__d"] == "Infinity"

    q3 = "UNWIND ['inf'::numeric, '-inf'::numeric] AS x RETURN sum(x) AS s"
    out3 = age.cypher(g, q3).df.collect()[0][0]
    assert out3["__d"] == "NaN"

    # a float NaN in a group WITH a numeric row promotes to numeric NaN
    q4 = "UNWIND [1::numeric, toFloat('NaN')] AS x RETURN sum(x) AS s"
    out4 = age.cypher(g, q4).df.collect()[0][0]
    assert out4["__d"] == "NaN"

    # finite lane unchanged
    q5 = "UNWIND [1.5::numeric, 2::numeric] AS x RETURN sum(x) AS s"
    out5 = age.cypher(g, q5).df.collect()[0][0]
    assert out5["__d"] == "3.5"


def test_numeric_constant_fold_exact(social):
    """Constant numeric arithmetic folds to EXACT arbitrary precision with
    PG display scales (select_div_scale, numeric.c) — beyond the runtime
    DECIMAL(38,18) lane (agtype.out >int64 blocks)."""
    age, g = social

    def d(q):
        return age.cypher(g, q).df.collect()[0][0]["__d"]

    assert d("RETURN 9223372036854775807::numeric * 9223372036854775807::integer AS r") == \
        "85070591730234615847396907784232501249"
    assert d("RETURN 9223372036854775807::numeric / 9223372036854775807::integer AS r") == \
        "1.00000000000000000000"
    assert d("RETURN 1.10::numeric + 2 AS r") == "3.10"      # add keeps max scale
    assert d("RETURN 1.10::numeric * 2 AS r") == "2.20"      # mul scale d1+d2
    assert d("RETURN 24.45::numeric / 7 AS r") == "3.4928571428571429"
    assert d("RETURN -2::numeric + 3 AS r") == "1"


def test_call_rule_errors_precede_resolution(social):
    """transform_cypher_call_stmt checks the prev/next rules BEFORE the
    procedure lookup — an unknown procedure inside a query still reports
    the implicit-naming error, not function-does-not-exist."""
    from age_spark.compiler.context import CompileError

    age, g = social
    with pytest.raises(CompileError, match="naming results implicitly"):
        age.cypher(g, "MATCH (a) CALL totally_unknown_proc(1)")


def test_quantifier_and_reduce_over_dynamic_source(spark):
    """A property that is a list on one vertex and a scalar on another
    merges to a dynamic column: quantifiers and reduce() iterate the
    array-kind payload and yield NULL on non-list rows — the same
    unwrap the list-comprehension compiler applies (the reference's
    iterator raises on a non-list; a per-row raise is not expressible
    in a vectorized plan, so NULL is this engine's documented surface)."""
    from age_spark.runtime.agvalue import agtype_out

    age = AgeSession(spark)
    g = age.create_graph("dynsrc")
    g = age.cypher(
        g, "CREATE (:P {name:'A', mix: [1,2,3]}), (:P {name:'B', mix: 7})"
    ).graph

    def rows(q):
        return sorted(
            tuple(agtype_out(v) for v in r) for r in age.cypher(g, q).df.collect()
        )

    assert rows(
        "MATCH (a:P) RETURN a.name AS nm, any(x IN a.mix WHERE x > 1) AS t"
    ) == [('"A"', "true"), ('"B"', None)]
    assert rows(
        "MATCH (a:P) RETURN a.name AS nm, single(x IN a.mix WHERE x = 2) AS t"
    ) == [('"A"', "true"), ('"B"', None)]
    assert rows(
        "MATCH (a:P) RETURN a.name AS nm, reduce(s = 0, x IN a.mix | s + x) AS t"
    ) == [('"A"', "6"), ('"B"', None)]

