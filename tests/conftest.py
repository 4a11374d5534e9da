from __future__ import annotations

import os
import sys
import uuid

import pytest

_TESTS_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(_TESTS_DIR))
sys.path.insert(0, _TESTS_DIR)  # sibling imports (pooled_cases)

from relational_query_engine_sql_spark.session import get_spark  # noqa: E402

SF_SMALL = "/root/testdata/sf0.001"
# CI default is the smallest SF so `pytest tests/ -q` stays under the
# 5-minute budget as the registry grows (the differential suite is
# ~253 parameterized cases). The STRICT gate at the driver's sf0.01
# is tools/driver_sim.py (hash compare, no float tolerance) — run it
# before a round closes; this suite's job in CI is catching breakage
# fast. Override for a full-scale pass:
#   SPARK_GRAFT_ORACLE_SF=/root/testdata/sf0.01 python -m pytest tests/
SF_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.001")

# Hypothesis example count for the Spark-heavy property tests (each
# example is 1-4 full Spark jobs, so examples dominate those tests'
# wall time). CI default keeps the property checks meaningful while
# fitting the time budget; the pre-round-close full pass raises it:
#   SPARK_GRAFT_PROP_EXAMPLES=10 python -m pytest tests/ -q
PROP_EXAMPLES = int(os.environ.get("SPARK_GRAFT_PROP_EXAMPLES", "4"))


def job_ids(spark, group: str | None) -> list[int]:
    return list(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def in_job_group(spark, fn):
    """Run ``fn`` under a fresh job group; return (result, job ids)."""
    sc = spark.sparkContext
    group = f"test-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, job_ids(spark, group)


@pytest.fixture(scope="session")
def spark():
    # 4 threads, 4 shuffle partitions: measured sweet spot (round 5).
    # The suite is dominated by LATENCY of tiny sequential jobs, so
    # task count per stage is the cost driver: 16 threads was ~2x
    # slower than 8 (round 4), and 4/4 beat 8/8 by another ~20% on the
    # commit-protocol scenarios (148s -> 116s on test_txnlog.py) while
    # the thread-pooled parity suite stayed flat within VM noise.
    # Re-measure before changing — don't guess.
    # The engine's default driver heap (24g) is sized for large hosts;
    # the suite runs at sf0.001, and 3g is what perfbench gives sf0.1.
    # An explicit SPARK_DRIVER_MEMORY still wins.
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "3g")
    s = get_spark(
        app_name="tests",
        cpus=int(os.environ.get("SPARK_GRAFT_TEST_CPUS", "4")),
        shuffle_partitions=int(
            os.environ.get("SPARK_GRAFT_TEST_SHUFFLE", "4")
        ),
    )
    yield s


@pytest.fixture(scope="session")
def sf_small() -> str:
    return SF_SMALL


@pytest.fixture(scope="session")
def sf_oracle() -> str:
    return SF_ORACLE


def pytest_collection_modifyitems(config, items):
    """In pooled mode (the default), the heavy audited-pool-safe
    scenario tests run concurrently inside
    test_pooled_scenarios::test_pooled_scenarios — skip the serial
    originals so nothing runs twice. SPARK_GRAFT_PARITY_SERIAL=1
    flips it: originals run per-case, the pooled runner skips."""
    if os.environ.get("SPARK_GRAFT_PARITY_SERIAL"):
        return
    from pooled_cases import ALL_CASES

    pooled = {t for _m, t in ALL_CASES}
    skip = pytest.mark.skip(
        reason="covered by the pooled-scenarios runner "
        "(SPARK_GRAFT_PARITY_SERIAL=1 for per-case mode)"
    )
    for item in items:
        name = item.name.split("[")[0]
        if name in pooled and "test_pooled_scenarios" not in item.nodeid:
            item.add_marker(skip)
