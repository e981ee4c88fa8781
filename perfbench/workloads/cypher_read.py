"""cypher_read: parameterized read templates over a TPC-H graph.

Every round runs each of the ten parameterized templates once, with
parameters drawn from the seeded stream, plus the six parameter-free
"dashboard" queries verbatim (three eighths of the ops; after the
warm-up round they are plan-cache hits). ``$params`` bypass the plan cache, so the
other ops each pay parse, compile, Catalyst planning and a small execute.

Oracle: each template has a DuckDB twin run with the same parameters over
the same parquet files; rows are compared as multisets (as lists for the
ORDER BY template) with floats rounded.
"""

from __future__ import annotations

import os

from ..harness import Op
from . import compare

SF = 0.02

# (name, cypher, sql twin, param drawer). The drawer gets the RNG and the
# workload (for table sizes) and returns the params dict.
TEMPLATES = [
    (
        "nation_agg",
        "MATCH (c:Customer)-[:FROM_NATION]->(n:Nation {name: $nation}) "
        "RETURN count(*) AS n, sum(c.acctbal) AS bal",
        "SELECT count(*), sum(c_acctbal) FROM customer "
        "JOIN nation ON c_nationkey = n_nationkey WHERE n_name = $nation",
        lambda r, w: {"nation": w.nation(r)},
    ),
    (
        "customer_orders",
        "MATCH (c:Customer {name: $name})-[:PLACED]->(o:Order) "
        "RETURN o.totalprice AS price, o.orderstatus AS status",
        "SELECT o_totalprice, o_orderstatus FROM customer "
        "JOIN orders ON o_custkey = c_custkey WHERE c_name = $name",
        lambda r, w: {"name": w.customer(r)},
    ),
    (
        "three_hop_edge_filter",
        "MATCH (c:Customer {mktsegment: $seg})-[:PLACED]->(o:Order)-[l:LINE]->(p:Part) "
        "WHERE l.quantity > $qty AND c.acctbal > $bal "
        "RETURN p.brand AS brand, count(*) AS n",
        "SELECT p_brand, count(*) FROM customer "
        "JOIN orders ON o_custkey = c_custkey JOIN lineitem ON l_orderkey = o_orderkey "
        "JOIN part ON l_partkey = p_partkey "
        "WHERE c_mktsegment = $seg AND l_quantity > $qty AND c_acctbal > $bal "
        "GROUP BY p_brand",
        lambda r, w: {"seg": r.choice(w.SEGMENTS), "qty": r.randint(40, 48),
                      "bal": float(r.randint(5000, 9000))},
    ),
    (
        "optional_match",
        "MATCH (c:Customer)-[:FROM_NATION]->(:Nation {name: $nation}) "
        "OPTIONAL MATCH (c)-[:PLACED]->(o:Order {orderpriority: $prio}) "
        "RETURN c.mktsegment AS seg, count(o) AS n_orders, count(DISTINCT c) AS n_cust",
        "SELECT c_mktsegment, count(o_orderkey), count(DISTINCT c_custkey) FROM customer "
        "JOIN nation ON c_nationkey = n_nationkey "
        "LEFT JOIN orders ON o_custkey = c_custkey AND o_orderpriority = $prio "
        "WHERE n_name = $nation GROUP BY c_mktsegment",
        lambda r, w: {"nation": w.nation(r), "prio": r.choice(w.PRIORITIES)},
    ),
    (
        "not_exists",
        "MATCH (c:Customer)-[:FROM_NATION]->(:Nation {name: $nation}) "
        "WHERE NOT EXISTS { MATCH (c)-[:PLACED]->(:Order {orderstatus: $status}) } "
        "RETURN count(*) AS n",
        "SELECT count(*) FROM customer JOIN nation ON c_nationkey = n_nationkey "
        "WHERE n_name = $nation AND NOT EXISTS (SELECT 1 FROM orders "
        "WHERE o_custkey = c_custkey AND o_orderstatus = $status)",
        lambda r, w: {"nation": w.nation(r), "status": r.choice(w.STATUSES)},
    ),
    (
        "count_subquery",
        "MATCH (c:Customer)-[:FROM_NATION]->(:Nation {name: $nation}) "
        "WHERE COUNT { MATCH (c)-[:PLACED]->(:Order) } >= $k "
        "RETURN count(*) AS n",
        "SELECT count(*) FROM customer JOIN nation ON c_nationkey = n_nationkey "
        "WHERE n_name = $nation AND "
        "(SELECT count(*) FROM orders WHERE o_custkey = c_custkey) >= $k",
        lambda r, w: {"nation": w.nation(r), "k": r.randint(10, 20)},
    ),
    (
        "vle_2hop",
        "MATCH (c:Customer {name: $name})-[*2..2]->(x) RETURN count(*) AS n",
        "SELECT (SELECT count(*) FROM customer JOIN nation ON c_nationkey = n_nationkey "
        "        JOIN region ON n_regionkey = r_regionkey WHERE c_name = $name) "
        "     + (SELECT count(*) FROM customer JOIN orders ON o_custkey = c_custkey "
        "        JOIN lineitem ON l_orderkey = o_orderkey WHERE c_name = $name)",
        lambda r, w: {"name": w.customer(r)},
    ),
    (
        "order_skip_limit",
        "MATCH (c:Customer)-[:FROM_NATION]->(:Nation {name: $nation}) "
        "RETURN c.name AS name, c.acctbal AS bal ORDER BY bal DESC, name SKIP $skip LIMIT 10",
        "SELECT c_name, c_acctbal FROM customer JOIN nation ON c_nationkey = n_nationkey "
        "WHERE n_name = $nation ORDER BY c_acctbal DESC, c_name OFFSET $skip LIMIT 10",
        lambda r, w: {"nation": w.nation(r), "skip": r.randint(0, 200)},
    ),
    (
        "case_strings",
        "MATCH (p:Part) WHERE p.name STARTS WITH $word OR p.name ENDS WITH $word "
        "RETURN CASE WHEN p.type CONTAINS 'AR' THEN 'ar-type' "
        "WHEN p.brand ENDS WITH '1' THEN 'brand-1' ELSE 'other' END AS cls, count(*) AS n",
        "SELECT CASE WHEN contains(p_type, 'AR') THEN 'ar-type' "
        "WHEN ends_with(p_brand, '1') THEN 'brand-1' ELSE 'other' END, count(*) "
        "FROM part WHERE starts_with(p_name, $word) OR ends_with(p_name, $word) GROUP BY 1",
        lambda r, w: {"word": r.choice(w.PART_WORDS)},
    ),
    (
        # unbounded: the traversal runs hop by hop until its frontier
        # drains (runtime/vle.py's per-hop checkpoints and drain probes);
        # the paths are c->n, c->n->r, c->o and c->o->p per line item
        "vle_unbounded",
        "MATCH (c:Customer {name: $name})-[*1..]->(x) RETURN count(*) AS n",
        "SELECT 2 * (SELECT count(*) FROM customer JOIN nation ON c_nationkey = n_nationkey "
        "            JOIN region ON n_regionkey = r_regionkey WHERE c_name = $name) "
        "     + (SELECT count(*) FROM customer JOIN orders ON o_custkey = c_custkey "
        "        WHERE c_name = $name) "
        "     + (SELECT count(*) FROM customer JOIN orders ON o_custkey = c_custkey "
        "        JOIN lineitem ON l_orderkey = o_orderkey WHERE c_name = $name)",
        lambda r, w: {"name": w.customer(r)},
    ),
]

# parameter-free queries, repeated verbatim every round (dashboard refresh).
# Six of a round's sixteen ops: besides keeping the plan cache in play,
# they put the round's median op among the one-hop templates (0.3-0.4 s),
# not at the edge between those and the 0.6 s multi-hop ones, so the
# median latency does not hang on the slowest one-hop call of a run.
DASHBOARD = [
    (
        "dash_nations_per_region",
        "MATCH (n:Nation)-[:IN_REGION]->(r:Region) RETURN r.name AS region, count(*) AS n",
        "SELECT r_name, count(*) FROM nation JOIN region ON n_regionkey = r_regionkey "
        "GROUP BY r_name",
    ),
    (
        "dash_orders_by_priority",
        "MATCH (o:Order) RETURN o.orderpriority AS prio, count(*) AS n",
        "SELECT o_orderpriority, count(*) FROM orders GROUP BY o_orderpriority",
    ),
    (
        "dash_negative_balances",
        "MATCH (c:Customer) WHERE c.acctbal < 0 RETURN c.mktsegment AS seg, count(*) AS n",
        "SELECT c_mktsegment, count(*) FROM customer WHERE c_acctbal < 0 "
        "GROUP BY c_mktsegment",
    ),
    (
        "dash_parts_by_type",
        "MATCH (p:Part) RETURN p.type AS type, count(*) AS n",
        "SELECT p_type, count(*) FROM part GROUP BY p_type",
    ),
    (
        "dash_suppliers_per_nation",
        "MATCH (s:Supplier)-[:SUPP_NATION]->(n:Nation) RETURN n.name AS nation, count(*) AS n",
        "SELECT n_name, count(*) FROM supplier JOIN nation ON s_nationkey = n_nationkey "
        "GROUP BY n_name",
    ),
    (
        "dash_top_balance_per_segment",
        "MATCH (c:Customer) RETURN c.mktsegment AS seg, count(*) AS n, max(c.acctbal) AS top",
        "SELECT c_mktsegment, count(*), max(c_acctbal) FROM customer GROUP BY c_mktsegment",
    ),
]

ORDERED = {"order_skip_limit"}


class CypherRead:
    TIMED_ROUNDS = 3

    from ..data import PART_WORDS, PRIORITIES, SEGMENTS, STATUSES

    def __init__(self, seed: int, work: str):
        from ..data import write_tpch

        self.dir = os.path.join(work, "tpch")
        tables = write_tpch(seed, SF, self.dir)
        self.n_customers = len(tables["customer"]["c_custkey"])

    # -- parameter drawers
    def nation(self, r) -> str:
        return f"NATION_{r.randrange(25)}"

    def customer(self, r) -> str:
        return f"Customer#{r.randrange(self.n_customers):09d}"

    # -- engine side
    def load(self, spark) -> None:
        from age_spark import AgeSession
        from age_spark.demo import build_tpch_graph

        self.graph = build_tpch_graph(spark, self.dir)
        self.age = AgeSession(spark)

    def round(self, rng) -> list[Op]:
        ops = [Op(name, cy, draw(rng, self), {"sql": sql})
               for name, cy, sql, draw in TEMPLATES]
        ops += [Op(name, cy, None, {"sql": sql}) for name, cy, sql in DASHBOARD]
        rng.shuffle(ops)
        return ops

    def run(self, op: Op):
        return [tuple(r) for r in self.age.cypher(self.graph, op.query, op.params).df.collect()]

    # -- oracle
    def check(self, records) -> list[str]:
        import duckdb

        con = duckdb.connect()
        for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem"):
            con.execute(f"CREATE TABLE {t} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(self.dir, t + '.parquet')}')")
        errors = []
        for i, rec in enumerate(records):
            if rec.error is not None:
                continue
            sql = rec.op.meta["sql"]
            cur = con.execute(sql, rec.op.params) if rec.op.params else con.execute(sql)
            want = cur.fetchall()
            err = compare.rows_equal(rec.rows, want, ordered=rec.op.kind in ORDERED)
            if err:
                errors.append(f"op {i} {rec.op.kind} {rec.op.params}: {err}")
        con.close()
        return errors
