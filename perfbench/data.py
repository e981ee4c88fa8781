"""Seeded input generators for the benchmark's workloads.

Every generator is a pure function of its seed: the same seed writes the
same rows. Inputs are written as parquet under the run's work directory so
the engine loads them the way a user would (``spark.read.parquet``), and
the oracles (DuckDB, pure Python) read the very same files.

The shapes are taken from the shared sf0.01 / sf0.1 tables the engine's
tests and ``bench.py`` run on (see "Input shapes" in README.md for the
measured figures); a run may read only inside its checkout, so the
benchmark writes look-alike tables instead of reading those.

- ``write_tpch``: the TPC-H-style star schema (region, nation, customer,
  supplier, part, orders, lineitem) with the column names and types that
  ``age_spark.demo.TPCH_SCHEMAS`` expects. Every column is an independent
  uniform draw over the range measured in the shared tables; foreign keys
  are uniform over the referenced table, so orders per customer and line
  items per order are near-Poisson (means 10 and 4), as there.
- ``write_documents``: the documents table: 50 000 x sf documents of 10-99
  words drawn uniformly from a 30-word vocabulary, 5% of them a copy of
  another document with the word ``dup`` appended.
- ``small_world``: a directed ring with random shortcuts, split into
  weakly connected parts.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
# p_name is "<adjective> <noun>": 64 distinct names
PART_ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_WORDS = PART_ADJECTIVES + PART_NOUNS
RETURN_FLAGS = ["A", "N", "R"]
LINE_STATUSES = ["F", "O"]

# rows at scale factor 1, as in the shared tables (600 000 line items at
# sf0.1: four per order)
_SF1_ROWS = {"customer": 150_000, "supplier": 10_000, "part": 200_000,
             "orders": 1_500_000, "lineitem": 6_000_000, "documents": 50_000}
_DAY = np.timedelta64(86_400_000_000, "us")
_ORDER_DATES = (np.datetime64("1995-01-01", "us"), 2404)  # first day, span in days
_SHIP_DATES = (np.datetime64("1995-01-02", "us"), 2498)


def _write(path: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), path)


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _dates(rng, n, first_span):
    first, span = first_span
    return first + rng.integers(0, span + 1, n) * _DAY


def tpch_tables(seed: int, sf: float) -> dict[str, dict]:
    """Column dicts (numpy arrays / lists) for the seven TPC-H tables."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part, n_ord, n_li = (
        int(_SF1_ROWS[t] * sf) for t in ("customer", "supplier", "part", "orders", "lineitem"))

    t: dict[str, dict] = {}
    t["region"] = {
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": REGIONS,
    }
    t["nation"] = {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    }
    t["customer"] = {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, n_cust, -1000.0, 10000.0),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)].tolist(),
    }
    t["supplier"] = {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, n_supp, -1000.0, 10000.0),
    }
    adj, noun = np.array(PART_ADJECTIVES), np.array(PART_NOUNS)
    t["part"] = {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 8, n_part)]).tolist(),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)].tolist(),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
    }
    t["orders"] = {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(STATUSES)[rng.integers(0, 3, n_ord)].tolist(),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
        "o_orderdate": _dates(rng, n_ord, _ORDER_DATES),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)].tolist(),
    }
    # Line items draw their order, line number, price and dates on their
    # own, as in the shared tables: about 1.8% of orders have no line item,
    # and (orderkey, linenumber) repeats within an order.
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = {
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": _money(rng, n_li, 900.0, 105_000.0),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n_li), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_li), 2),
        "l_returnflag": np.array(RETURN_FLAGS)[rng.integers(0, 3, n_li)].tolist(),
        "l_linestatus": np.array(LINE_STATUSES)[rng.integers(0, 2, n_li)].tolist(),
        "l_shipdate": _dates(rng, n_li, _SHIP_DATES),
    }
    return t


def write_tpch(seed: int, sf: float, out_dir: str) -> dict[str, dict]:
    """Write the TPC-H tables as ``<out_dir>/<table>.parquet``; returns the
    column dicts for oracles that work in Python."""
    os.makedirs(out_dir, exist_ok=True)
    tables = tpch_tables(seed, sf)
    for name, cols in tables.items():
        _write(os.path.join(out_dir, f"{name}.parquet"), cols)
    return tables


DOC_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
DOC_LANGS = ["en", "de", "es", "fr", "zh"]
DOC_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
DOC_DUP_SHARE = 0.05


def documents(seed: int, sf: float) -> dict[str, list]:
    """Columns of the documents table: ``doc_id``, ``text``, ``lang``,
    ``source``, ``n_chars``. Texts are 10-99 words drawn uniformly from
    ``DOC_VOCAB``; ``DOC_DUP_SHARE`` of the documents, taken in id order,
    are replaced by the current text of another document plus the word
    ``dup``, so copies of copies and identical copies of one source arise
    as in the shared table."""
    rng = np.random.default_rng(seed)
    n = int(_SF1_ROWS["documents"] * sf)
    vocab = np.array(DOC_VOCAB)
    lens = rng.integers(10, 100, n)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in lens]
    for i in np.flatnonzero(rng.random(n) < DOC_DUP_SHARE):
        src = int(rng.integers(0, n - 1))
        texts[i] = texts[src + (src >= i)] + " dup"
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(DOC_LANGS)[rng.choice(len(DOC_LANGS), n, p=DOC_LANG_P)].tolist(),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    }


def write_documents(seed: int, sf: float, path: str) -> dict[str, list]:
    cols = documents(seed, sf)
    _write(path, cols)
    return cols


def small_world(seed: int, parts: int, part_size: int,
                shortcuts: int) -> list[tuple[int, int]]:
    """Directed edge list over vertices ``0 .. parts*part_size-1``.

    Each part is a directed ring (``i -> i+1`` mod part_size) plus
    ``shortcuts`` edges per vertex to random vertices of the same part,
    which keeps the diameter logarithmic in ``part_size``. Parts
    share no edge, so a pair in two different parts is unreachable."""
    rng = np.random.default_rng(seed)
    edges: list[tuple[int, int]] = []
    for p in range(parts):
        base = p * part_size
        far = rng.integers(0, part_size, (part_size, shortcuts))
        for i in range(part_size):
            edges.append((base + i, base + (i + 1) % part_size))
            for j in far[i]:
                edges.append((base + i, base + int(j)))
    return edges
