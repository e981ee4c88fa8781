import pytest
from pyspark.sql import SparkSession


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master("local[*]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        # no [Stage ...] progress bars: they filled over a third of the
        # log bytes and pushed the pytest summary out of a tail
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "8g")
        # per-op Python call-site capture costs ~4 py4j round-trips per
        # Column method — 3-4x the compiler's driver-side plan time
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .appName("age_spark-tests")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s


import contextlib


@contextlib.contextmanager
def tiny_query_confs(spark):
    """Runtime confs for statement-replay batches over <100-row fixtures.

    These batches run thousands of UNIQUE tiny statements; the wall time
    is JVM-side per-statement overhead (whole-stage-codegen class
    compilation per unique plan, 32-partition shuffles), not data.  Both
    are documented runtime-mutable SQL confs; semantics are identical —
    plan-shape tests elsewhere still run with the session defaults.
    Measured on the 37-suite conformance batch: 20:47 -> 14:05.
    (Tried and rejected: adaptive.enabled=false overflows the plan-
    recursion stack on 200-hop VLE statements; constraintPropagation off
    measured no win; applying these confs to the OTHER replay modules was
    net-negative — their wall time sits in few large HOF-heavy statements
    where codegen pays for itself, e.g. a 5-row cross-pattern count went
    14 s -> 71 s interpreted. Only the many-small-statements batch wins.)"""
    keys = (
        "spark.sql.codegen.wholeStage",
        "spark.sql.shuffle.partitions",
    )
    saved = {k: spark.conf.get(k) for k in keys}
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        yield
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def pytest_runtestloop(session):
    """Overlap the ~14-min reference-suite replay batch with the rest of
    the run: session.items here is FINAL (post -k/-x deselection), so the
    batch starts only when its joining test will actually run.  The batch
    lives on a private newSession() whose interpreted-mode confs cannot
    leak into concurrent tests; returning None continues pytest's default
    loop."""
    if any(i.name == "test_suite_replays_parallel" for i in session.items):
        import test_suite_conformance

        test_suite_conformance.ensure_replays_started()
    return None
