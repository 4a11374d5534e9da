"""Unit tests for bench.py's regression detector — the tooling whose
round-2 silent failure let a 2.2x drift go unflagged. Pure-python (no
Spark): pins prior-round selection (same-round artifacts excluded,
driver wrapper unwrapped) and the ratio+floor gates, plus the
registry's export order (the driver window heads it, and it depends on
nothing outside the package).
"""

from __future__ import annotations

import importlib.util
import json
import os
import sys

_spec = importlib.util.spec_from_file_location(
    "bench",
    os.path.join(os.path.dirname(os.path.dirname(__file__)), "bench.py"),
)
bench = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(bench)


def test_regression_gates_ratio_and_floor():
    prior = {"queries": {"fast": 0.1, "slow": 4.0, "gone": 1.0}}
    now = {
        "fast": 0.35,   # 3.5x but only +0.25s -> under floor, ignored
        "slow": 7.0,    # 1.75x and +3s -> flagged
        "new": 9.9,     # no prior -> ignored
    }
    out = bench._regressions(now, prior)
    assert set(out) == {"slow"}
    assert "1.75x" in out["slow"]


def test_prior_bench_unwraps_driver_artifact(tmp_path, monkeypatch):
    """The driver wraps bench output under 'parsed'; the detector must
    read queries through the wrapper and skip same/future rounds."""
    wrapped = {
        "n": 2,
        "rc": 0,
        "parsed": {"sf": "0.1", "queries": {"q": 1.0}},
    }
    (tmp_path / "BENCH_r02.json").write_text(json.dumps(wrapped))
    (tmp_path / "BENCH_r03.json").write_text(
        json.dumps({"sf": "0.1", "queries": {"q": 99.0}})
    )
    monkeypatch.setenv("SPARK_GRAFT_ROUND", "3")
    # tmp_path is not a git repo -> the glob fallback path runs
    prior, rnd = bench._prior_bench(str(tmp_path), "0.1")
    assert rnd == 2
    assert prior["queries"] == {"q": 1.0}


def test_prior_bench_drops_top_round_without_hint(tmp_path, monkeypatch):
    """With no SPARK_GRAFT_ROUND the highest round on disk may be our
    own earlier attempt — it must be excluded."""
    for rnd, t in [(1, 1.0), (2, 2.0)]:
        (tmp_path / f"BENCH_r{rnd}.json").write_text(
            json.dumps({"sf": "0.1", "queries": {"q": t}})
        )
    monkeypatch.delenv("SPARK_GRAFT_ROUND", raising=False)
    prior, rnd = bench._prior_bench(str(tmp_path), "0.1")
    assert rnd == 1 and prior["queries"]["q"] == 1.0


def test_prior_bench_none_when_no_prior(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_ROUND", "1")
    prior, rnd = bench._prior_bench(str(tmp_path), "0.1")
    assert prior is None and rnd is None


def test_export_head_is_the_driver_window():
    """The driver checks the first 50 exported queries: they are
    DRIVER_WINDOW, in order, 50 unique registered names."""
    import relational_query_engine_sql_spark.plans as P

    names = list(P.all_queries())
    assert len(P.DRIVER_WINDOW) == len(set(P.DRIVER_WINDOW)) == 50
    assert names[:50] == P.DRIVER_WINDOW


def test_every_query_has_a_driver_row_or_is_in_the_window():
    """A query with no row in any CORRECTNESS_r*.json and no slot in
    DRIVER_WINDOW would never be checked by the driver."""
    import glob

    import relational_query_engine_sql_spark.plans as P

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = sorted(glob.glob(os.path.join(here, "CORRECTNESS_r*.json")))
    assert len(paths) >= 12, paths
    checked: set[str] = set(P.DRIVER_WINDOW)
    for path in paths:
        with open(path) as f:
            checked |= set(json.load(f))
    orphans = set(P.all_queries()) - checked
    assert not orphans, f"queries with no path to a driver row: {orphans}"


def test_export_order_does_not_depend_on_files_beside_the_package(tmp_path):
    """Importing a copy of the package from a directory holding nothing
    else gives the same export order as importing it in place."""
    import shutil
    import subprocess

    import relational_query_engine_sql_spark as pkg
    import relational_query_engine_sql_spark.plans as P

    src = os.path.dirname(os.path.abspath(pkg.__file__))
    shutil.copytree(
        src,
        tmp_path / "relational_query_engine_sql_spark",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    code = (
        "import relational_query_engine_sql_spark.plans as P\n"
        "print(P.__file__)\n"
        "print('\\n'.join(P.all_queries()))\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        check=True,
    ).stdout.splitlines()
    assert out[0].startswith(str(tmp_path)), out[0]
    assert out[1:] == list(P.all_queries())


def test_prior_bench_recovers_queries_from_truncated_tail(
    tmp_path, monkeypatch
):
    """Round 3's driver artifact was truncated (parsed: null, only the
    tail of the JSON line captured). The detector must regex real
    query timings out of the tail — and must NOT mistake wrapper pairs
    like "sf": 0.1 for queries."""
    tail = (
        '.62, "a1_pricing_summary": 1.234, "j1_join_dims": 0.5, '
        '"not_a_query": 9.9, "sf": 0.1, "regressions": {}}\n'
    )
    (tmp_path / "BENCH_r03.json").write_text(
        json.dumps({"n": 3, "rc": 0, "sf": 0.1, "tail": tail, "parsed": None})
    )
    monkeypatch.setenv("SPARK_GRAFT_ROUND", "4")
    prior, rnd = bench._prior_bench(str(tmp_path), "0.1")
    assert rnd == 3
    assert prior["queries"] == {
        "a1_pricing_summary": 1.234,
        "j1_join_dims": 0.5,
    }


def test_hash_lint_alias_parser_and_raw_double_rules():
    """The round-9 ratchet's plan-text parser: alias extraction is
    bracket-balanced, attribute renames and struct-field chains are
    passthroughs, and the frozen legacy set refuses growth silently
    (documented invariant: additions are prohibited)."""
    import importlib.util
    import os

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "hash_lint", os.path.join(here, "tools", "hash_lint.py")
    )
    hl = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(hl)

    plan = (
        "Project [value#12 AS v#45, round(x#1, 2) AS r#46, "
        "(a#2 / b#3) AS ratio#47, payload#9.price AS price#48, "
        "coalesce(f(x#1, y#2), 0.0) AS filled#49]\n"
        "+- Relation [value#12] parquet"
    )
    exprs = hl._alias_exprs(plan)
    assert exprs["v"] == "value#12"
    assert exprs["r"] == "round(x#1, 2)"
    assert exprs["ratio"] == "(a#2 / b#3)"
    assert exprs["price"] == "payload#9.price"
    # bracket balance: the nested comma inside f(...) must not split
    assert exprs["filled"] == "coalesce(f(x#1, y#2), 0.0)"
    assert hl._ATTR_ONLY.fullmatch("value#12")
    assert hl._ATTR_ONLY.fullmatch("value#12L")
    assert hl._ATTR_ONLY.fullmatch("payload#9.price")
    assert not hl._ATTR_ONLY.fullmatch("(a#2 / b#3)")
    # the legacy set only SHRINKS from its round-9 freeze (20): each
    # migration to a rounded/integer-scaled emission removes its entry
    # when the row rotates through a driver window (mm_media_catalog.
    # avg_width migrated r10)
    assert len(hl.LEGACY_RAW_DOUBLE) <= 20
    assert len(hl.LEGACY_RAW_DOUBLE) == 19  # bump DOWN per migration
    assert ("mm_media_catalog", "avg_width") not in hl.LEGACY_RAW_DOUBLE


def test_retime_suspects_union_covers_fallback_only_names():
    """A steal-window spike in a query ABSENT from the (truncated)
    driver prior must still earn a retime when the committed
    bench_full.json fallback carries its timing — under the
    fallback's OWN canary-derived VM factor."""
    timings = {"a": 8.4, "b": 2.0, "c": 0.9}
    prior = {  # driver artifact: truncated, knows only b
        "queries": {"b": 1.9},
        "canary": {"best": 0.3},
    }
    fallback = {  # committed bench_full.json: knows a and c
        "queries": {"a": 2.5, "c": 0.85},
        "canary": {"best": 0.3},
    }
    got = bench._retime_suspects(
        timings, prior, vm_factor=1.0, fallback=fallback,
        canary_first=0.3,
    )
    assert got == {"a"}  # b within noise, c tiny delta, a spiked
    # a 2x-slow host (canary 0.6 vs committed 0.3) halves the
    # adjusted timing: 8.4/2 = 4.2 vs 2.5 prior still suspects `a`,
    # but a 4x-slow host (adj 2.1) clears it
    assert bench._retime_suspects(
        timings, None, 1.0, fallback, canary_first=0.6
    ) == {"a"}
    assert bench._retime_suspects(
        timings, None, 1.0, fallback, canary_first=1.2
    ) == set()
    # no fallback, no prior -> nothing to suspect
    assert bench._retime_suspects(timings, None, 1.0, None, 0.3) == set()
