"""dedup: MinHash and SimHash near-duplicate pairs over a seeded corpus.

An op is one dedup pass over the whole corpus:
``minhash_dedup_pairs(threshold=0.5, hash_fn="md5")`` and
``simhash_near_pairs(max_hamming=8, hash_fn="md5")``, each collected. One
op holds both, so every op does the same work and the median latency does
not sit between two kinds of op. The work is execute-bound (``age_spark.pipeline``:
shingling, hashing, shuffles and aggregates) with almost no driver-side
compile.

Oracle: the md5-lane DuckDB twins in ``__spark_entry__.oracle_sql()``
(``p_minhash_pairs``, ``p_simhash_pairs``) over the same parquet file; pair
sets must be equal, every MinHash pair must have ``id_a < id_b`` and an
estimated Jaccard at or above the threshold.
"""

from __future__ import annotations

import os

from ..harness import Op
from . import compare

SF = 0.02
THRESHOLD = 0.5
MAX_HAMMING = 8


class Dedup:
    TIMED_ROUNDS = 3

    def __init__(self, seed: int, work: str):
        from ..data import write_documents

        self.path = os.path.join(work, "documents.parquet")
        write_documents(seed, SF, self.path)

    def load(self, spark) -> None:
        self.docs = spark.read.parquet(self.path)

    def round(self, rng) -> list[Op]:
        return [Op("dedup_pass")]

    def run(self, op: Op):
        from age_spark.pipeline.dedup import minhash_dedup_pairs, simhash_near_pairs

        mh = minhash_dedup_pairs(self.docs, threshold=THRESHOLD, hash_fn="md5")
        sh = simhash_near_pairs(self.docs, max_hamming=MAX_HAMMING, hash_fn="md5")
        return {"minhash_pairs": [tuple(r) for r in mh.collect()],
                "simhash_pairs": [tuple(r) for r in sh.collect()]}

    def oracle(self) -> dict[str, list]:
        import duckdb

        import __spark_entry__

        sql = __spark_entry__.oracle_sql()
        con = duckdb.connect()
        con.execute(f"CREATE TABLE documents AS SELECT * FROM read_parquet('{self.path}')")
        out = {
            "minhash_pairs": con.execute(sql["p_minhash_pairs"]).fetchall(),
            "simhash_pairs": con.execute(sql["p_simhash_pairs"]).fetchall(),
        }
        con.close()
        return out

    def check(self, records, want=None) -> list[str]:
        want = want if want is not None else self.oracle()
        errors = []
        for i, rec in enumerate(records):
            if rec.error is not None:
                continue
            for kind in ("minhash_pairs", "simhash_pairs"):
                err = compare.rows_equal(rec.rows[kind], want[kind])
                if err:
                    errors.append(f"op {i} {kind}: {err}")
            bad = [r for r in rec.rows["minhash_pairs"]
                   if not (r[0] < r[1] and r[2] >= THRESHOLD)]
            if bad:
                errors.append(f"op {i} minhash pairs break id_a < id_b or threshold: {bad[:3]}")
        if not want["minhash_pairs"] or not want["simhash_pairs"]:
            errors.append("the corpus yields no near-duplicate pair: nothing was checked")
        return errors
