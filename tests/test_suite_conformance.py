"""Full-script replay of the reference's regression suites (beyond
cypher_match, which has its own long-standing test): each suite's
expected-output file is extracted to cases (tests/gen_conformance_cases.py)
and replayed statement-by-statement in script order against one engine
session, pinning row counts, id-free value multisets, and expected errors.

Per-suite skips document the few cases a distributed engine cannot (or
should not) reproduce; everything else must match.
"""

import os

import pytest

from conformance_replay import replay

DATA = os.path.join(os.path.dirname(__file__), "data")

# query-text -> reason, consulted per case.
# NUMERIC storage/printing is EXACT (text-backed __d slot: NaN/Infinity
# spellings, >38-digit literals, the in-container ::numeric marker all
# survive).  Numeric arithmetic is EXACT at arbitrary precision with PG
# display scales both at compile time (exprs.py:_fold_const_numeric) and
# on column data (the vectorized Arrow kernel, runtime/pgnumeric.py),
# including arithmetic trees inside HOF lambdas and reduce() folds
# (eval_arith_tree / make_numeric_fold_udf) AND, since round 8,
# arithmetic subtrees feeding non-arithmetic functions inside lambda
# PREDICATES and list-comprehension PROJECTIONS (the _lambda_arith_pre
# pre-pass; `toString(x*y)` reads the exact spliced __d,
# tests/test_pgnumeric.py::TestProjectionNonTreeExact).  Since round 9
# the fold tree also carries ('abs'|'neg') unary nodes (the two numeric
# functions the reference computes exactly on NUMERIC), so abs(acc + x)
# / -(acc - x) step bodies fold exactly at any width
# (TestUnaryNodesExact).  The bounded DECIMAL(38,18) lane survives only
# inside reduce() STEP bodies rooted at FLOAT-returning wrappers
# (floor/ceil/round — float in the reference too) and inside
# nested-inner lambdas (documented, COVERAGE.md).
SKIPS = {
    "cypher_with": {
        # the outer SQL resultset casts the value to a PG type before psql
        # prints it — boolean renders 't', a composite row decomposes the
        # vertex; both are outside the Cypher engine's print contract
        "WITH true AS b RETURN b": "outer-SQL bool cast renders 't'",
        "MATCH (n:Person) WITH n as m RETURN m ORDER BY id(m) ASC":
            "outer-SQL composite decomposition of the vertex",
    },
    "pg_trgm": {
        # before CREATE EXTENSION pg_trgm the reference has no trigram
        # functions; the engine's registry always carries them (like the
        # pgvector kernels) so the not-installed errors don't reproduce
        "RETURN show_trgm(\"hello\")": "extension-not-installed state is PG-level",
    },
    "cypher_call": {
        # the suite defines its own PG functions (CREATE SCHEMA + SQL /
        # plpgsql bodies) and CALLs them; the engine resolves CALL against
        # the Cypher registry + Spark TVFs, not a PG function catalog
        "CALL call_stmt_test.add_agtype(1,2)": "suite-defined SQL function",
        "CALL myfunc(25) YIELD myfunc RETURN myfunc": "suite-defined plpgsql function",
        "CALL ag_catalog.myfunc(25) YIELD myfunc RETURN myfunc": "suite-defined plpgsql function",
    },
    "age_shortest_path": {
        # the reference REFUSES min_hops > shortest-distance combined with
        # multiple relationship types ("not supported with multiple
        # relationship types", age_vle.c); the engine's edge-distinct
        # fallback handles that case and returns the correct paths instead
        # of erroring — a deliberate capability deviation
        "SELECT count(*) FROM age_all_shortest_paths(#119":
            "reference limitation: engine supports multi-type min_hops fallback",
    },
    "age_load": {
        # the suite's security section DELETEs the loaded rows through raw
        # SQL (`DELETE FROM agload_security."Person1"`) before re-loading;
        # without that PG-level cleanup the re-load correctly trips the
        # engine's duplicate-id check
        "load_labels_from_file#76": "raw SQL DELETE between statements",
    },
    "age_global_graph": {
        # these read after raw `UPDATE/DELETE FROM ag_graph_1._ag_label_*`
        # heap statements (testing the reference's GGC invalidation against
        # dangling rows) — direct PG table manipulation outside the engine
        "MATCH (a:Node {name: 'a'})-[:Edge*1..3]->(n:Node) RETURN n.name ORDER BY n.name":
            "raw heap UPDATE/DELETE between statements (GGC dangling-edge test)",
        "RETURN graph_stats('ag_graph_1')#39":
            "count after raw heap DELETE (the engine has no stale cache to "
            "report); the three other occurrences of this text value-check",
    },
}

SUITES = [
    "cypher_match",
    "cypher_create",
    "cypher_delete",
    "cypher_set",
    "cypher_remove",
    "cypher_merge",
    "cypher_union",
    "cypher_unwind",
    "cypher_with",
    "cypher",
    "cypher_subquery",
    "list_comprehension",
    "map_projection",
    "pattern_expression",
    "predicate_functions",
    "age_reduce",
    "expr",
    "agtype",
    "jsonb_operators",
    "scan",
    "direct_field_access",
    "reserved_keyword_alias",
    "name_validation",
    "agtype_jsonb_cast",
    "cypher_call",
    "age_global_graph",
    "analyze",
    "catalog",
    "age_shortest_path",
    "age_load",
    "graph_generation",
    "subgraph",
    "drop",
    "cypher_vle",
    "pg_trgm",
]


def _run_suite(spark, suite):
    return replay(
        spark,
        os.path.join(DATA, f"{suite}_cases.json"),
        f"sc_{suite[:10]}",
        SKIPS.get(suite),
    )


# Serial per-suite tests for debugging one suite:
#   SPARK_GRAFT_SERIAL_SUITES=1 pytest -k 'suite_replay[expr]'
if os.environ.get("SPARK_GRAFT_SERIAL_SUITES") == "1":

    @pytest.mark.parametrize("suite", SUITES)
    def test_suite_replay(spark, suite):
        fails = _run_suite(spark, suite)
        assert not fails, f"{len(fails)} failures:\n" + "\n".join(fails[:25])

else:

    # The ~3,700-statement batch is the test suite's wall-time whale
    # (~14 min at its tuned floor: 16 threads, interpreted mode, tiny
    # shuffles — each statement is py4j/compile LATENCY, not data).
    # conftest's pytest_runtestloop hook kicks it off AT RUN START on a
    # PRIVATE Spark session so it overlaps the entire rest of the suite;
    # the test below only joins the futures.  newSession() shares the JVM
    # but has its own SQLConf, so the batch's interpreted-mode/
    # 4-partition confs cannot leak into concurrently-running tests
    # (test_plans asserts WholeStageCodegen under the session defaults).
    # The engine is already exercised concurrently (this batch itself is
    # 16-way); each suite keeps its own AgeSession and graph-name prefix.
    def _kickoff_replays():
        from concurrent.futures import ThreadPoolExecutor

        from pyspark.sql import SparkSession

        base = (
            SparkSession.builder.master("local[*]")
            .config("spark.sql.shuffle.partitions", "32")
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.ui.enabled", "false")
            # this builder can run before conftest's: keep the same
            # no-progress-bar setting, or the log fills with [Stage ...]
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.driver.memory", "8g")
            .config("spark.python.sql.dataFrameDebugging.enabled", "false")
            .appName("age_spark-tests")
            .getOrCreate()
        )
        base.sparkContext.setLogLevel("ERROR")
        rs = base.newSession()
        rs.conf.set("spark.sql.session.timeZone", "UTC")
        rs.conf.set("spark.sql.adaptive.enabled", "true")
        # interpreted mode + small shuffles: strictly faster for
        # thousands of unique tiny statements (20:47 -> 14:05 measured),
        # confined to this private session
        rs.conf.set("spark.sql.codegen.wholeStage", "false")
        rs.conf.set("spark.sql.shuffle.partitions", "4")
        pool = ThreadPoolExecutor(max_workers=16)
        return pool, {s: pool.submit(_run_suite, rs, s) for s in SUITES}

    _REPLAY_STATE: list = []

    def ensure_replays_started():
        """Idempotent kickoff, called from conftest's pytest_runtestloop
        ONLY when this test survives collection/deselection — an
        import-time pool would burn the full batch (and block interpreter
        exit on the executor's atexit join) on -k runs that never join
        it."""
        if not _REPLAY_STATE:
            _REPLAY_STATE.append(_kickoff_replays())
        return _REPLAY_STATE[0]

    def test_suite_replays_parallel():
        pool, futures = ensure_replays_started()
        results = {
            suite: fut.result(timeout=3600) for suite, fut in futures.items()
        }
        pool.shutdown(wait=False)
        report = []
        for suite, fails in results.items():
            if fails:
                report.append(f"--- {suite}: {len(fails)} failures")
                report.extend(fails[:10])
        assert not report, "\n".join(report)
