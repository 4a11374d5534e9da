"""Tests of the benchmark itself.

    python3 -m pytest perfbench/test_perfbench.py -q

The end-to-end cases run every workload for one round at sf 0.001 in
both modes and pin the printed metric names and units to
BENCHMARK.json, with no failed op. They start one Spark JVM each
(about a minute apiece on 4 cores).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import run  # noqa: E402
import tracing  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


def _bench(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=600,
    )


@pytest.mark.parametrize("trace", ["0", "1"])
@pytest.mark.parametrize("workload", sorted(run.WORKLOADS))
def test_workload_prints_pinned_metrics(workload: str, trace: str) -> None:
    p = _bench(
        ROOT, "--workload", workload, "--seed", "1", "--seconds", "1",
        "--trace", trace, "--sf", "0.001",
    )
    assert p.returncode == 0, p.stderr[-4000:]
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= len(run.WORKLOADS[workload])
    wanted = _spec()["per_layer" if trace == "1" else "end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in wanted
    }
    assert all(isinstance(v["value"], float) for v in result["metrics"].values())
    if trace == "0":
        assert any(line.startswith("fail_frac      0.0000") for line in lines)
        assert all(v["value"] > 0 for v in result["metrics"].values())


def test_refuses_to_run_without_the_engine(tmp_path) -> None:
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = _bench(
        str(tmp_path), "--workload", "trade_write", "--seed", "1",
        "--seconds", "1", "--trace", "0",
    )
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


def test_wrong_rows_do_not_match() -> None:
    from pyspark.sql import types as T

    from tools.driver_sim import canon

    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("v", T.DoubleType())]
    )

    def digest(rows):
        return run.result_hash(canon(run.rows_to_pandas(rows, schema)))

    want = digest([(1, 0.5), (2, None)])
    assert digest([(2, None), (1, 0.5)]) == want
    assert digest([(1, 0.5), (2, 0.25)]) != want
    assert digest([(1, 0.5)]) != want


@pytest.mark.parametrize("sf", run.SCALES)
def test_inputs_match_their_checksums(sf: str) -> None:
    data_dir, sums = run.check_inputs(sf)
    assert len(sums) == 10
    assert sorted(os.listdir(data_dir)) == sorted(
        os.path.basename(line.split()[1]) for line in sums
    )


def test_self_time_subtracts_the_union_of_children() -> None:
    spans = [
        tracing.Span("op", 0.0, 10.0, None, 0),
        tracing.Span("a", 1.0, 4.0, 0, 0),
        tracing.Span("b", 3.0, 5.0, 0, 0),  # overlaps a: union is 1..5
        tracing.Span("c", 2.0, 3.0, 1, 0),
    ]
    assert tracing.self_times(spans) == [6.0, 2.0, 2.0, 1.0]
