"""Self-test of the benchmark's checkers; needs no Spark.

    cd perfbench && python3 selftest.py

Each workload's checker is first fed outputs computed by its own oracle
(it must pass), then a corrupted copy (it must fail):

- cypher_read: a count off by one;
- cypher_write: an engine that lost one write;
- traversal: a wrong hop count, and an unreachable pair that returns a row;
- dedup: a dropped pair, and a MinHash pair below the threshold;
- the result line: a warm-up operation that raises counts as failed.

Exits 0 when every corruption is caught.
"""

from __future__ import annotations

import os
import random
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.harness import OUT_DIR, Op, Record, measure, tally  # noqa: E402
from perfbench.workloads.cypher_read import CypherRead  # noqa: E402
from perfbench.workloads.cypher_write import CypherWrite, Model  # noqa: E402
from perfbench.workloads.dedup import Dedup  # noqa: E402
from perfbench.workloads.traversal import Traversal  # noqa: E402

SEED = 7


def ops_of(wl, rounds: int) -> list:
    rng = random.Random(SEED)
    return [op for _ in range(rounds) for op in wl.round(rng)]


def expect(name: str, errors: list, should_fail: bool) -> bool:
    ok = bool(errors) == should_fail
    what = "caught" if should_fail else "clean"
    print(f"{'ok  ' if ok else 'FAIL'} {name}: {what if ok else errors[:2] or 'not caught'}")
    return ok


def read_cases(work: str) -> list[bool]:
    import duckdb

    wl = CypherRead(SEED, work)
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem"):
        con.execute(f"CREATE TABLE {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(wl.dir, t + '.parquet')}')")
    records = []
    for op in ops_of(wl, 1):
        sql = op.meta["sql"]
        rows = (con.execute(sql, op.params) if op.params else con.execute(sql)).fetchall()
        records.append(Record(op, "timed", 0.0, rows))
    res = [expect("cypher_read oracle rows", wl.check(records), False)]
    bad = [Record(r.op, r.phase, 0.0, list(r.rows)) for r in records]
    i = next(i for i, r in enumerate(bad) if r.op.kind == "nation_agg")
    n, bal = bad[i].rows[0]
    bad[i].rows[0] = (n + 1, bal)
    res.append(expect("cypher_read count off by one", wl.check(bad), True))
    return res


def write_cases(work: str) -> list[bool]:
    wl = CypherWrite(SEED, work)
    ops = ops_of(wl, 3) + wl.final_ops()

    def engine(skip: int = -1) -> list:
        """Records as an engine would return them; ``skip`` loses one write."""
        m = Model(wl.tables)
        out = []
        for i, op in enumerate(ops):
            rows = None if i == skip else m.apply(op)
            out.append(Record(op, "timed", 0.0, rows or []))
        return out

    lost = next(i for i, op in enumerate(ops) if op.kind == "create")
    return [
        expect("cypher_write model replay", wl.check(engine()), False),
        expect("cypher_write missing write", wl.check(engine(skip=lost)), True),
    ]


def traversal_cases(work: str) -> list[bool]:
    wl = Traversal(SEED, work)
    records = [Record(op, "timed", 0.0, wl.expected(op)) for op in ops_of(wl, 2)]
    res = [expect("traversal BFS rows", wl.check(records), False)]
    hop = [Record(r.op, r.phase, 0.0, r.rows) for r in records]
    i = next(i for i, r in enumerate(hop) if r.op.kind == "sp_out")
    hop[i].rows = [(hop[i].rows[0][0] + 1,)]
    res.append(expect("traversal wrong hop count", wl.check(hop), True))
    unreach = [Record(r.op, r.phase, 0.0, r.rows) for r in records]
    i = next(i for i, r in enumerate(unreach) if r.op.kind == "sp_unreachable")
    unreach[i].rows = [(3,)]
    res.append(expect("traversal unreachable pair with a row", wl.check(unreach), True))
    return res


def dedup_cases(work: str) -> list[bool]:
    wl = Dedup(SEED, work)
    want = wl.oracle()
    def records(edit=None):
        rows = {k: list(v) for k, v in want.items()}
        if edit:
            edit(rows)
        return [Record(op, "timed", 0.0, rows) for op in ops_of(wl, 1)]

    def drop(rows):
        rows["simhash_pairs"].pop()

    def below(rows):
        a, b, _ = rows["minhash_pairs"][0]
        rows["minhash_pairs"][0] = (a, b, 0.25)

    return [
        expect("dedup oracle pairs", wl.check(records(), want), False),
        expect("dedup dropped pair", wl.check(records(drop), want), True),
        expect("dedup pair below threshold", wl.check(records(below), want), True),
    ]


def tally_cases(work: str) -> list[bool]:
    """A workload whose first (warm-up) operation raises: the run's
    ``failed`` must count it, although the timed phase is clean."""

    class FailsFirst:
        TIMED_ROUNDS = 2

        def __init__(self):
            self.calls = 0

        def round(self, rng):
            return [Op("noop")]

        def run(self, op):
            self.calls += 1
            if self.calls == 1:
                raise RuntimeError("warm-up failure")
            return []

    records, _, _ = measure(FailsFirst(), SEED, 0.0)
    attempted, failed = tally(records)
    ok = (attempted, failed) == (3, 1)
    print(f"{'ok  ' if ok else 'FAIL'} warm-up failure counted: "
          f"attempted {attempted}, failed {failed}")
    return [ok]


def main() -> int:
    results = []
    os.makedirs(OUT_DIR, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=OUT_DIR) as work:
        for cases in (read_cases, write_cases, traversal_cases, dedup_cases, tally_cases):
            results += cases(work)
    print(f"{sum(results)}/{len(results)} checks behaved")
    return 0 if all(results) else 1


if __name__ == "__main__":
    sys.exit(main())
