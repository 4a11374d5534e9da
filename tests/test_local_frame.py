"""Driver-built rows enter the plan as Arrow local relations, and
``load_table`` reuses the schema it inferred.

- ``local_frame`` returns what ``createDataFrame`` returns (rows and
  schema) for every scalar type the engine builds frames from, as a
  ``LocalRelation`` with no ``ExistingRDD`` scan.
- A repeated ``load_table`` of an unchanged file runs no Spark job; a
  rewritten or re-stamped file is inferred again.
- ``collect_at_most`` returns a frame's rows up to its cap, None past
  it, in one Spark job; a cap of 0 runs none.
- ``session.run_independent`` returns its results in argument order,
  and after a failure starts no further thunk; jobs it starts keep the
  caller's job group.
- No module in the package calls ``createDataFrame`` directly except
  ``local_frame`` itself and the fixtures' pandas input, only
  ``run_independent`` builds a thread pool, only ``write_parquet``
  and ``collect_at_most`` collect Arrow, and only ``write_parquet``'s
  file writer writes parquet with pyarrow.
- The package reads only four deployment settings from the
  environment; tuning gates are module constants.
- ``TxnLogTable`` reads parquet through one merge-on-read scan: only
  ``_scan`` and the deletion-vector read ``_tombstones`` (plus the
  write-time stats pass) call ``spark.read``, and only ``_carried``
  and ``read_with_row_ids`` ask the scan for row ids.
"""

from __future__ import annotations

import ast
import datetime as dt
import os
import shutil
import time
from decimal import Decimal
from functools import partial
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from relational_query_engine_sql_spark import plans
from relational_query_engine_sql_spark.schemas import DRIVER_TABLES
from relational_query_engine_sql_spark.session import run_independent
from relational_query_engine_sql_spark.sources import (
    catalog,
    collect_at_most,
    load_table,
    local_frame,
)
from tests.conftest import in_job_group, job_ids

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "relational_query_engine_sql_spark"

ALL_TYPES = T.StructType(
    [
        T.StructField("i", T.IntegerType()),
        T.StructField("b", T.LongType()),
        T.StructField("s", T.StringType()),
        T.StructField("d", T.DoubleType()),
        T.StructField("f", T.BooleanType()),
        T.StructField("day", T.DateType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("m", T.DecimalType(27, 6)),
    ]
)
ALL_ROWS = [
    (
        1,
        2**40,
        "a",
        1.5,
        True,
        dt.date(1999, 9, 9),
        dt.datetime(2020, 2, 29, 23, 59, 59, 123456),
        Decimal("123456789.000001"),
    ),
    (
        -7,
        -(2**62),
        "ü,\n",
        -0.0,
        False,
        dt.date(1970, 1, 1),
        dt.datetime(1969, 12, 31, 23, 0),
        Decimal("-0.5"),
    ),
    # one null per column, then an all-null row
    (None, 3, "x", 2.0, True, dt.date(2000, 1, 1), None, Decimal("1")),
    (4, None, None, None, None, None, dt.datetime(2001, 1, 1), None),
    (None,) * 8,
]


@pytest.mark.parametrize("n", [len(ALL_ROWS), 0], ids=["rows", "empty"])
def test_local_frame_matches_create_dataframe(spark, n):
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    rows = ALL_ROWS[:n]
    got = local_frame(spark, rows, ALL_TYPES)
    want = spark.createDataFrame(rows, ALL_TYPES)
    assert got.schema == want.schema == ALL_TYPES
    assert got.collect() == want.collect()


def test_local_frame_ddl_schema(spark):
    ddl = "k long, name string, day date"
    rows = [(1, "a", dt.date(2024, 1, 2)), (None, None, None)]
    got = local_frame(spark, rows, ddl)
    want = spark.createDataFrame(rows, ddl)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    assert local_frame(spark, [], ddl).schema == want.schema


def test_local_frame_is_a_local_relation(spark):
    for rows in (ALL_ROWS, []):
        qe = local_frame(spark, rows, ALL_TYPES)._jdf.queryExecution()
        optimized = qe.optimizedPlan().toString()
        physical = qe.executedPlan().toString()
        assert optimized.startswith("LocalRelation"), optimized
        assert "ExistingRDD" not in physical, physical
    empty = local_frame(spark, [], ALL_TYPES)._jdf.queryExecution()
    assert "<empty>" in empty.optimizedPlan().toString()


def test_load_table_reuses_inferred_schema(spark, sf_small, tmp_path):
    shutil.copy(f"{sf_small}/nation.parquet", tmp_path / "nation.parquet")
    path = str(tmp_path / "nation.parquet")

    def load():
        return load_table(spark, str(tmp_path), "nation")

    first, jobs = in_job_group(spark, load)
    assert jobs, "the first read infers the schema with a Spark job"
    again, jobs = in_job_group(spark, load)
    assert jobs == [], f"unchanged file re-inferred: jobs {jobs}"
    assert again.schema == first.schema
    assert sorted(again.collect()) == sorted(first.collect())

    # rewritten with another schema (new size and mtime): inferred again
    pq.write_table(pa.table({"n_nationkey": [1], "extra": ["x"]}), path)
    new, jobs = in_job_group(spark, load)
    assert jobs, "a rewritten file must be inferred again"
    assert new.columns == ["n_nationkey", "extra"]
    # same bytes, new mtime only: inferred again
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    _, jobs = in_job_group(spark, load)
    assert jobs, "a re-stamped file must be inferred again"


def test_load_table_directory_listing_invalidates(spark, tmp_path):
    d = tmp_path / "t.parquet"
    d.mkdir()
    pq.write_table(pa.table({"k": [1, 2]}), d / "part-0.parquet")

    def load():
        return load_table(spark, str(tmp_path), "t")

    first, jobs = in_job_group(spark, load)
    assert jobs and first.count() == 2
    _, jobs = in_job_group(spark, load)
    assert jobs == []
    pq.write_table(pa.table({"k": [3]}), d / "part-1.parquet")
    grown, jobs = in_job_group(spark, load)
    assert jobs, "an added data file must be inferred again"
    assert grown.count() == 3


@pytest.mark.parametrize("n", [5, 6], ids=["at_cap", "over_cap"])
def test_collect_at_most_boundary(spark, n):
    # a limit-collect() over these 8 checkpointed partitions runs 3 jobs
    df = spark.range(0, n, 1, 8).localCheckpoint(eager=True)
    table, jobs = in_job_group(spark, lambda: collect_at_most(df, 5))
    assert len(jobs) == 1, jobs
    if n <= 5:
        assert table.column("id").to_pylist() == list(range(n))
    else:
        assert table is None
    nothing, jobs = in_job_group(spark, lambda: collect_at_most(df, 0))
    assert nothing is None and jobs == []


def test_cached_schema_equals_inferred_for_driver_tables(spark, sf_small):
    for name in DRIVER_TABLES:
        load_table(spark, sf_small, name)  # fills the cache
        path = f"{sf_small}/{name}.parquet"
        assert catalog._stamp(path) is not None, name
        cached = load_table(spark, sf_small, name)
        catalog._SCHEMAS.get(spark, {}).clear()
        fresh = load_table(spark, sf_small, name)
        assert cached.schema == fresh.schema, name


@pytest.mark.parametrize(
    "name",
    [
        "s7_cascade_delete",
        "eval_dedup_recall",
        "dedup_incremental_ingest",
        "eval_kmeans_invariants",
        "eval_whiten_ann_recall",
    ],
)
def test_pool_jobs_keep_the_caller_job_group(spark, sf_small, name):
    """Each query overlaps independent actions with run_independent (s7
    clones four tables and cascades through two sibling subtrees); none
    of their jobs may lose the caller's job group."""
    untagged_before = set(job_ids(spark, None))
    q = plans.get(name)
    rows, tagged = in_job_group(spark, lambda: q.fn(spark, sf_small).collect())
    new_untagged = set(job_ids(spark, None)) - untagged_before
    assert rows and tagged
    assert new_untagged == set(), f"{len(new_untagged)} jobs lost the group"


def test_run_independent_returns_results_in_argument_order(spark):
    def after(delay, value):
        time.sleep(delay)
        return value

    # the later the argument, the sooner it finishes
    thunks = [partial(after, 0.05 * (3 - i), i) for i in range(4)]
    assert run_independent(spark, *thunks) == [0, 1, 2, 3]
    assert run_independent(spark) == []


def test_run_independent_starts_nothing_after_a_failure(spark):
    started, finished = set(), set()

    def thunk(i):
        started.add(i)
        if i == 0:
            raise ValueError("thunk 0")
        if i <= 3:
            time.sleep(0.3)
        finished.add(i)

    with pytest.raises(ValueError, match="thunk 0"):
        run_independent(spark, *[partial(thunk, i) for i in range(6)])
    # thunks 4 and 5 wait for a worker and see the failure first
    assert started.isdisjoint({4, 5})
    # every thunk that started has finished by the time the call raises
    assert started - {0} == finished


# Calls allowed in the package only at these (file, function) sites.
_ALLOWED = {
    "createDataFrame": {
        ("sources/catalog.py", "local_frame"),  # the Arrow table it builds
        ("fixtures.py", "conform"),  # pandas input, already through Arrow
    },
    # overlap independent actions with session.run_independent
    "ThreadPoolExecutor": {("session.py", "run_independent")},
    "inheritable_thread_target": {("session.py", "run_independent")},
    # Arrow writes go through sources.write_parquet, whose files match
    # Spark's layout and footer
    "toArrow": {
        ("sources/catalog.py", "write_parquet"),
        # one job decides a driver gate and delivers its rows
        ("sources/catalog.py", "collect_at_most"),
    },
    "write_table": {("sources/catalog.py", "write_arrow_file")},
}

# The only environment the package reads: deployment settings, at
# these sites. Tuning gates are module constants a test or an A/B sets
# on the module, never environment variables.
_ENV_SITES = {
    ("session.py", "get_spark"),
    ("sources/catalog.py", "DEFAULT_SF_DIR"),
}
_ENV_NAMES = {
    "SPARK_GRAFT_SF_DIR",
    "SPARK_GRAFT_WAREHOUSE",
    "SPARK_GRAFT_CPUS",
    "SPARK_DRIVER_MEMORY",
}


def _call_name(call: ast.Call) -> str | None:
    if isinstance(call.func, ast.Attribute):
        return call.func.attr
    if isinstance(call.func, ast.Name):
        return call.func.id
    return None


def _sites(match):
    """(file, scope, node) for every node of the package that
    ``match`` accepts; scope is the enclosing function's name, or at
    module level the name a one-target assignment binds."""
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()

        def walk(node, scope):
            for child in ast.iter_child_nodes(node):
                name = scope
                if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    name = child.name
                elif (
                    scope is None
                    and isinstance(child, ast.Assign)
                    and len(child.targets) == 1
                    and isinstance(child.targets[0], ast.Name)
                ):
                    name = child.targets[0].id
                if match(child):
                    yield rel, scope, child
                yield from walk(child, name)

        yield from walk(ast.parse(path.read_text(), str(path)), None)


@pytest.mark.parametrize("call", sorted(_ALLOWED))
def test_call_only_at_allowed_sites(call):
    found = [
        f"{rel}:{node.lineno} in {scope}"
        for rel, scope, node in _sites(
            lambda n: isinstance(n, ast.Call) and _call_name(n) == call
        )
        if (rel, scope) not in _ALLOWED[call]
    ]
    sites = sorted(_ALLOWED[call])
    assert found == [], f"{call} outside {sites}: {', '.join(found)}"


def _env_ref(node) -> bool:
    name = getattr(node, "attr", getattr(node, "id", None))
    return isinstance(node, (ast.Attribute, ast.Name)) and name in (
        "environ",
        "getenv",
    )


def test_environment_read_only_for_deployment_settings():
    refs = list(_sites(_env_ref))
    outside = [
        f"{rel}:{node.lineno} in {scope}"
        for rel, scope, node in refs
        if (rel, scope) not in _ENV_SITES
    ]
    assert outside == [], f"environment read outside {sorted(_ENV_SITES)}"
    # each is an environ.get("<deployment setting>", default)
    gets = [
        node.args[0].value
        for _, _, node in _sites(
            lambda n: isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and n.func.attr == "get"
            and _env_ref(n.func.value)
        )
    ]
    assert len(gets) == len(refs)
    assert set(gets) == _ENV_NAMES


# Per-file stats and bloom probe slices are computed in one place: the
# add-action builder of operators/txnlog.py, which batch commits and the
# streaming sink's write task both call, so no writer keeps its own.
_FILE_STATS_SITES = {
    "min_max": {("operators/txnlog.py", "_arrow_stat_row")},
    "md5": {("operators/txnlog.py", "_key_slices")},
}


def test_file_stats_built_in_one_place():
    found = {
        call: {
            (rel, scope)
            for rel, scope, _ in _sites(
                lambda n: isinstance(n, ast.Call) and _call_name(n) == call
            )
            if rel.startswith(("operators/", "sources/"))
        }
        for call in _FILE_STATS_SITES
    }
    assert found == _FILE_STATS_SITES


# TxnLogTable's parquet reads: the merge-on-read scan, the one read of
# deletion-vector files, and the stats pass over files just written.
_TXNLOG_READS = {"_scan": 1, "_tombstones": 1, "_write_files": 2}
# the two callers that choose whether the scan attaches _row_id: the
# copy-on-write rewrites' reader, and the public row-id read
_ROW_ID_CHOOSERS = {"_carried", "read_with_row_ids"}


def test_txnlog_reads_through_one_scan():
    def txnlog(match):
        return [
            (scope, node)
            for rel, scope, node in _sites(match)
            if rel == "operators/txnlog.py"
        ]

    reads: dict[str, int] = {}
    for scope, _ in txnlog(
        lambda n: isinstance(n, ast.Attribute)
        and n.attr == "read"
        and isinstance(n.value, ast.Attribute)
        and n.value.attr == "spark"
    ):
        reads[scope] = reads.get(scope, 0) + 1
    assert reads == _TXNLOG_READS
    choosers = {
        scope
        for scope, node in txnlog(
            lambda n: isinstance(n, ast.Call)
            and _call_name(n) == "_scan"
            and any(k.arg == "row_ids" for k in n.keywords)
        )
    }
    assert choosers == _ROW_ID_CHOOSERS
    defined = {
        node.name
        for _, node in txnlog(lambda n: isinstance(n, ast.FunctionDef))
    }
    assert not defined & {
        "_read_files",
        "_read_files_mor",
        "_read_files_mor_with_row_ids",
        "_scan_files",
        "_attach_row_ids",
    }
