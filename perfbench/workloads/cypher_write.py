"""cypher_write: a seeded write stream over a small TPC-H graph.

The session uses ``AgeSession(spark, mutable_graphs=True)``, so every write
goes through ``runtime/mutate.py``, snapshot replacement and the release of
superseded checkpoint blocks. A round is seven statements: CREATE (an
order PLACED by an existing customer), SET, MERGE, DETACH DELETE (the
orders of another customer below a price) and three read-backs: both
customers and the tags. Every round MERGEs the same tag, so its ON CREATE
branch runs once, in the warm-up, and the timed rounds take ON MATCH.
After the timed phase two final queries count vertices and edges per
label.

Oracle: a pure-Python model of the graph, started from the same parquet
rows, replays the identical statement stream; every read-back and the
final per-label counts must equal the model's.
"""

from __future__ import annotations

import os

from ..harness import Op
from . import compare

SF = 0.01

CREATE = (
    "MATCH (c:Customer {name: $name}) "
    "CREATE (c)-[:PLACED {totalprice: $price}]->"
    "(:Order {orderstatus: 'O', totalprice: $price, orderpriority: $prio, tag: $tag})"
)
SET_BALANCE = "MATCH (c:Customer {name: $name}) SET c.acctbal = $bal"
READ_CUSTOMER = (
    "MATCH (c:Customer {name: $name}) OPTIONAL MATCH (c)-[:PLACED]->(o:Order) "
    "RETURN c.acctbal AS bal, count(o) AS n, sum(o.totalprice) AS total"
)
MERGE_TAG = (
    "MERGE (t:Tag {name: $tag}) ON CREATE SET t.hits = 1 ON MATCH SET t.hits = t.hits + 1"
)
HOT_TAG = "hot"
DELETE_ORDERS = (
    "MATCH (c:Customer {name: $name})-[:PLACED]->(o:Order) "
    "WHERE o.totalprice < $price DETACH DELETE o"
)
READ_TAGS = "MATCH (t:Tag) RETURN t.name AS name, t.hits AS hits"
COUNT_VERTICES = "MATCH (n) RETURN label(n) AS label, count(*) AS n"
COUNT_EDGES = "MATCH ()-[e]->() RETURN type(e) AS label, count(*) AS n"


class Model:
    """The graph as plain Python: customers, orders, tags, edge counts."""

    def __init__(self, tables: dict):
        c = tables["customer"]
        self.balance = dict(zip(c["c_name"], (float(x) for x in c["c_acctbal"])))
        names = list(c["c_name"])
        o = tables["orders"]
        lines: dict[int, int] = {}
        for k in tables["lineitem"]["l_orderkey"]:
            lines[int(k)] = lines.get(int(k), 0) + 1
        # order id -> [customer name, price, line items]
        self.orders = {
            int(k): [names[int(ck)], float(p), lines.get(int(k), 0)]
            for k, ck, p in zip(o["o_orderkey"], o["o_custkey"], o["o_totalprice"])
        }
        self.next_id = -1  # created orders get negative model ids
        self.tags: dict[str, int] = {}
        self.fixed_vertices = {
            "Region": 5, "Nation": 25, "Customer": len(names),
            "Supplier": len(tables["supplier"]["s_suppkey"]),
            "Part": len(tables["part"]["p_partkey"]),
        }
        self.fixed_edges = {
            "IN_REGION": 25, "FROM_NATION": len(names),
            "SUPP_NATION": len(tables["supplier"]["s_suppkey"]),
        }

    def of(self, name):
        return [o for o in self.orders.values() if o[0] == name]

    def apply(self, op: Op):
        """Apply a write; return the expected rows of a read."""
        p = op.params or {}
        k = op.kind
        if k == "create":
            self.orders[self.next_id] = [p["name"], p["price"], 0]
            self.next_id -= 1
        elif k == "set_balance":
            self.balance[p["name"]] = p["bal"]
        elif k == "merge_tag":
            self.tags[p["tag"]] = self.tags.get(p["tag"], 0) + 1
        elif k == "delete_orders":
            self.orders = {i: o for i, o in self.orders.items()
                           if not (o[0] == p["name"] and o[1] < p["price"])}
        elif k == "read_customer":
            mine = self.of(p["name"])
            total = sum(o[1] for o in mine) if mine else None
            return [(self.balance[p["name"]], len(mine), total)]
        elif k == "read_tags":
            return list(self.tags.items())
        elif k == "count_vertices":
            v = dict(self.fixed_vertices, Order=len(self.orders))
            if self.tags:
                v["Tag"] = len(self.tags)
            return list(v.items())
        elif k == "count_edges":
            e = dict(self.fixed_edges, PLACED=len(self.orders),
                     LINE=sum(o[2] for o in self.orders.values()))
            return list(e.items())
        else:
            raise ValueError(f"unknown op kind {k}")
        return None


class CypherWrite:
    TIMED_ROUNDS = 3

    def __init__(self, seed: int, work: str):
        from ..data import write_tpch

        self.dir = os.path.join(work, "tpch")
        self.tables = write_tpch(seed, SF, self.dir)
        self.names = list(self.tables["customer"]["c_name"])
        self.n_created = 0

    def load(self, spark) -> None:
        from age_spark import AgeSession
        from age_spark.demo import build_tpch_graph

        self.graph = build_tpch_graph(spark, self.dir)
        self.age = AgeSession(spark, mutable_graphs=True)

    def round(self, rng) -> list[Op]:
        from ..data import PRIORITIES

        def money(lo, hi):
            return round(rng.uniform(lo, hi), 2)

        self.n_created += 1
        buyer = rng.choice(self.names)
        other = rng.choice(self.names)
        return [
            Op("create", CREATE, {"name": buyer, "price": money(1000, 500000),
                                  "prio": rng.choice(PRIORITIES),
                                  "tag": f"w{self.n_created}"}),
            Op("set_balance", SET_BALANCE, {"name": buyer, "bal": money(-999, 9999)}),
            Op("merge_tag", MERGE_TAG, {"tag": HOT_TAG}),
            Op("delete_orders", DELETE_ORDERS, {"name": other, "price": money(50000, 250000)}),
            Op("read_customer", READ_CUSTOMER, {"name": buyer}),
            Op("read_customer", READ_CUSTOMER, {"name": other}),
            Op("read_tags", READ_TAGS, None),
        ]

    def final_ops(self) -> list[Op]:
        return [Op("count_vertices", COUNT_VERTICES), Op("count_edges", COUNT_EDGES)]

    def run(self, op: Op):
        r = self.age.cypher(self.graph, op.query, op.params)
        rows = [tuple(x) for x in r.df.collect()]
        self.graph = r.graph
        return rows

    def check(self, records) -> list[str]:
        model = Model(self.tables)
        errors = []
        created = deleted = 0
        for i, rec in enumerate(records):
            if rec.error is not None:
                # a failed write leaves the engine and the model apart:
                # nothing after it can be compared
                return errors + [f"op {i} {rec.op.kind} failed: {rec.error}"]
            before = len(model.orders)
            want = model.apply(rec.op)
            if rec.op.kind == "create":
                created += 1
            elif rec.op.kind == "delete_orders":
                deleted += before - len(model.orders)
            if want is not None:
                err = compare.rows_equal(rec.rows, want)
                if err:
                    errors.append(f"op {i} {rec.op.kind} {rec.op.params}: {err}")
        final = [r.rows for r in records if r.op.kind == "count_vertices"]
        start = len(self.tables["orders"]["o_orderkey"])
        if not final:
            errors.append("final per-label counts were not read")
        elif dict(final[-1]).get("Order") != start + created - deleted:
            errors.append(f"final Order count {dict(final[-1]).get('Order')} != start {start} "
                          f"+ creates {created} - deletes {deleted}")
        return errors
