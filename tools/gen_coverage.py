#!/usr/bin/env python
"""Regenerate COVERAGE.md from the query registry.

Usage: python tools/gen_coverage.py > COVERAGE.md
"""

from __future__ import annotations

import os
import sys
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from relational_query_engine_sql_spark.plans.registry import registry  # noqa: E402


SECTIONS = [
    ("Reference parity (SURVEY.md §2)", lambda s: s[:1].isupper()),
    ("Streaming (§2.9 / §7 additive)", lambda s: s.startswith("streaming:")),
    ("Beyond-reference: training-data pipeline", lambda s: s.startswith("beyond:")),
    ("Engine extensions (free via Catalyst)", lambda s: s.startswith("ext:")),
]


def main() -> None:
    ordered = list(registry().values())  # export order, window first
    rows = sorted(ordered, key=lambda q: q.name)
    print("# COVERAGE — query registry → SURVEY.md §2 operator map")
    print()
    print(
        f"Generated by `tools/gen_coverage.py`. {len(rows)} registered "
        f"queries, {sum(1 for q in rows if q.oracle)} with a DuckDB "
        "oracle (the rest are rows-only checked: approximate or "
        "engine-specific numerics)."
    )
    print()
    print(
        "**Driver window.** The driver's correctness harness checks "
        "the first 50 queries of the registry's export order. Those 50 "
        "are `DRIVER_WINDOW` in `plans/__init__.py` (installed with "
        "`registry.set_rotation`); the rest follow by priority and "
        "registration order. The window is re-cut by hand at round "
        "close, risk first: every query whose code changed since its "
        "last driver row, the `a1_pricing_summary` canary, then the "
        "queries whose last row is oldest. The record of what the "
        "driver checked in which round is the committed "
        "`CORRECTNESS_r*.json` files; together with the window they "
        "cover every registered query (pinned in "
        "`tests/test_bench_harness.py`). `tools/driver_sim.py` replays "
        "the driver's strict compare locally, and "
        "`tests/test_oracle_parity.py` re-checks every oracle on every "
        "test run."
    )
    print()
    print("Driver window (export positions 1-50):")
    print()
    for i, q in enumerate(ordered[:50], 1):
        print(f"{i}. `{q.name}`" + ("" if q.oracle else " (rows-only)"))
    seen: set[str] = set()
    for title, pred in SECTIONS:
        group = [q for q in rows if q.name not in seen and any(
            pred(tag.strip()) for tag in q.survey.split(",") if tag.strip()
        )]
        if not group:
            continue
        seen.update(q.name for q in group)
        print(f"\n## {title}\n")
        print("| query | survey ids | oracle |")
        print("|---|---|---|")
        for q in group:
            print(f"| `{q.name}` | {q.survey} | {'yes' if q.oracle else 'rows-only'} |")
    rest = [q for q in rows if q.name not in seen]
    if rest:
        print("\n## Other\n")
        print("| query | survey ids | oracle |")
        print("|---|---|---|")
        for q in rest:
            print(f"| `{q.name}` | {q.survey} | {'yes' if q.oracle else 'rows-only'} |")

    # Invariant-flag oracles (round-10 verdict watch item): keep the
    # pattern DELIBERATE and enumerable. FLAG_ONLY rows hash nothing
    # but the row universe plus constant TRUE flags — the real
    # verification is an in-plan assert whose failure aborts the query,
    # so a green row proves universe + assert-fired, never values.
    # Each entry records why values cannot be cross-engine hashed.
    # Hybrid rows (value columns AND flags) are listed mechanically.
    import re as _re

    FLAG_ONLY = {
        "emb_pca_whiten": (
            "whitening matrix comes from numpy eigh — eigenvector "
            "floats are engine-specific; cov≈I / orthonormality / "
            "variance-descent asserted in-plan"
        ),
        "eval_whiten_ann_recall": (
            "whitened coordinates are eigenvector-derived; the "
            "reindex≥stale and nprobe-monotone recall invariants are "
            "asserted in-plan"
        ),
        "eval_kmeans_invariants": (
            "Lloyd centroids depend on float reduction order; "
            "assignment-total/k-bound/inertia-monotone asserted "
            "in-plan"
        ),
        "eval_numpy_jvm_parity": (
            "pins BLAS-numpy vs JVM rank agreement — the compared "
            "artifacts exist only engine-side; 10/10 rank match "
            "asserted in-plan"
        ),
        "eval_quantization_recall": (
            "int8 ADC scores are quantizer-specific; recall@10 ≥ 0.8 "
            "vs the float path asserted in-plan"
        ),
    }
    flagged = {
        q.name
        for q in rows
        if q.oracle and _re.search(r"TRUE\s+AS", q.oracle)
    }
    missing = set(FLAG_ONLY) - flagged
    if missing:  # renamed/retired rows must break the generator loudly
        raise SystemExit(f"FLAG_ONLY rows without a TRUE flag: {missing}")
    print("\n## Invariant-flag oracles (declared pattern)\n")
    print(
        "A green driver row normally proves a cross-engine VALUE hash. "
        "The rows below are the declared exceptions, in two tiers.\n"
    )
    print(
        "**Flag-only** — the oracle pins row universe + constant TRUE "
        "flags; all value verification is an in-plan assert (the query "
        "throws, and the driver row goes red, if the invariant fails). "
        "Used only where the values are engine-specific by nature:\n"
    )
    for name in sorted(FLAG_ONLY):
        print(f"- `{name}` — {FLAG_ONLY[name]}")
    hybrid = sorted(flagged - set(FLAG_ONLY))
    print(
        "\n**Hybrid** — the oracle value-hashes real data columns AND "
        "carries invariant flags for scenario/engine state the SQL "
        "cannot see (e.g. \"replay consumed nothing new\", \"row ids "
        "stable across restart\", \"DPP present in the plan\"):\n"
    )
    print(", ".join(f"`{n}`" for n in hybrid))

    # §2 operator ids covered (parity section)
    ids = defaultdict(list)
    for q in rows:
        for tag in q.survey.split(","):
            tag = tag.strip()
            if tag and tag[:1].isupper() and ":" not in tag:
                ids[tag].append(q.name)
    print("\n## SURVEY §2 operator ids → queries\n")
    print("| id | queries |")
    print("|---|---|")
    for op in sorted(ids):
        print(f"| {op} | {', '.join(f'`{n}`' for n in sorted(ids[op]))} |")
    print()
    print(
        "Operators not in the registry (and where they ARE exercised):\n\n"
        "- **F8, F9** (access-control predicates) — the registered\n"
        "  `f8_analog_acl` covers the predicate shape on driver tables;\n"
        "  the reference's stocklist/review/share fixture semantics live\n"
        "  in `operators/domain.py`, `tests/test_domain_semantics.py`.\n"
        "- **S8** (chart PNG sink) — out of engine scope per SURVEY §2.1;\n"
        "  **U3** (bcrypt auth) — out of scope per §2.10.\n"
        "- **Streaming variants** (watermarked tumbling/sliding/session\n"
        "  windows, dropDuplicatesWithinWatermark, applyInPandasWithState)\n"
        "  — driven with a memory sink in `tests/test_streaming.py`;\n"
        "  batch equivalents are the `streaming:*` registry rows above.\n\n"
        "S3–S7 and U2 are registered, oracle-checked queries as of round 2\n"
        "(`plans/queries_mutation.py`): each clones driver tables into a\n"
        "scratch ParquetTable, mutates through the real write path, and is\n"
        "hash-compared against a DuckDB post-state replay."
    )


if __name__ == "__main__":
    main()
