"""Strict simulation of the driver's correctness pass.

The driver compares the Spark result and the DuckDB oracle by sorting
columns by name, sorting rows, stringifying values, and hashing — NO
float tolerance. The local parity suite (tests/test_oracle_parity.py)
compares floats at tolerance, which hides ulp-level summation-order
drift that WOULD flip the driver's hash. This tool replays the strict
compare over every oracled query (or the first N with --prefix) so
hash-flakiness is caught before the round ends, not in
CORRECTNESS_r{N}.json.

Usage:
    python tools/driver_sim.py [--sf /root/testdata/sf0.01] [--prefix 50]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import duckdb  # noqa: E402
import pandas as pd  # noqa: E402

from relational_query_engine_sql_spark import plans  # noqa: E402
from relational_query_engine_sql_spark.plans.registry import (  # noqa: E402
    registry,
)
from relational_query_engine_sql_spark.schemas import DRIVER_TABLES  # noqa: E402
from relational_query_engine_sql_spark.session import get_spark  # noqa: E402


def canon(df: pd.DataFrame) -> pd.DataFrame:
    """Canonicalize the way the driver does before hashing: columns
    sorted by name, rows sorted by all columns, values as strings.
    Numeric widths are unified first (int64/float64) so e.g. int32 vs
    int64 doesn't read as a value difference — the driver hashes the
    arrow values, not the python reprs of different dtypes — then
    everything becomes its string form with NO tolerance."""
    import datetime as _dt
    import decimal as _decimal

    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        kind = df[c].dtype.kind
        if kind == "f":
            df[c] = df[c].astype("float64")
        elif kind in "iu":
            df[c] = df[c].astype("int64")
        elif kind == "M":
            df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
        elif df[c].dtype == object:
            sample = df[c].dropna()
            first = sample.iloc[0] if len(sample) else None
            if isinstance(first, (_dt.date, _dt.datetime)):
                df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
            elif isinstance(first, _decimal.Decimal):
                # Stringify decimals EXACTLY (normalized scale) — the
                # r6/r7 sketch_hll_estimate driver reds hid behind a
                # float64 coercion here: any disagreement below 2^53
                # precision in a ~2^65 DECIMAL(38,0) hashed identically
                # locally while the real driver hashes the arrow
                # decimal values. No numeric coercion for decimals.
                df[c] = df[c].map(
                    lambda v: (
                        v
                        if not isinstance(v, _decimal.Decimal)
                        else str(
                            v.quantize(_decimal.Decimal(1))
                            if v == v.to_integral_value()
                            else v.normalize()
                        )
                    )
                )
            elif isinstance(first, bool):
                pass
            elif isinstance(first, int):
                df[c] = df[c].astype("int64")
            elif isinstance(first, float):
                df[c] = df[c].astype("float64")
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    # stringify datetime columns EXPLICITLY, one column at a time:
    # DataFrame.astype(str) formats datetime64 BLOCK-wise, so a
    # date-valued column sharing a consolidated block with a true
    # timestamp column renders '2024-01-01 00:00:00.000000' while the
    # same column in a frame with separate blocks renders
    # '2024-01-01' — and the two engines' frames arrive with
    # different block layouts (found via s33's date+timestamp output)
    out = {}
    for c in df.columns:
        if df[c].dtype.kind == "M":
            out[c] = (
                df[c].dt.strftime("%Y-%m-%d %H:%M:%S.%f").fillna("NaT")
            )
        else:
            out[c] = df[c].astype(str)
    return pd.DataFrame(out)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--prefix", type=int, default=0, help="0 = all")
    ap.add_argument("--only", default="", help="comma-separated names")
    args = ap.parse_args()

    # the JVM and its Python workers inherit the environment at
    # session start: without the checkout on PYTHONPATH, a worker
    # started from another directory cannot import the package
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    spark = get_spark()
    con = duckdb.connect()
    for t in DRIVER_TABLES:
        con.sql(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM '{args.sf}/{t}.parquet'"
        )

    ordered = list(registry().values())
    if args.prefix:
        ordered = ordered[: args.prefix]
    if args.only:
        keep = set(args.only.split(","))
        ordered = [q for q in ordered if q.name in keep]

    failures: list[str] = []
    for pos, q in enumerate(ordered, 1):
        t0 = time.time()
        try:
            spdf = q.fn(spark, args.sf).toPandas()
        except Exception as e:  # noqa: BLE001
            failures.append(q.name)
            print(f"{pos:3d} {q.name:42s} SPARK-ERR {e}")
            continue
        if q.oracle is None:
            print(
                f"{pos:3d} {q.name:42s} rows-only ({len(spdf)} rows, "
                f"{time.time() - t0:.1f}s)"
            )
            continue
        try:
            opdf = con.sql(q.oracle).df()
        except Exception as e:  # noqa: BLE001
            failures.append(q.name)
            print(f"{pos:3d} {q.name:42s} ORACLE-ERR {e}")
            continue
        status = []
        if len(spdf) != len(opdf):
            status.append(f"rows {len(spdf)}!={len(opdf)}")
        if sorted(spdf.columns) != sorted(opdf.columns):
            status.append(
                f"cols {sorted(spdf.columns)}!={sorted(opdf.columns)}"
            )
        if not status:
            s, o = canon(spdf), canon(opdf)
            bad_cols = [c for c in s.columns if not s[c].equals(o[c])]
            if bad_cols:
                for c in bad_cols:
                    neq = s[c][s[c] != o[c]]
                    i = neq.index[0]
                    status.append(
                        f"hash:{c} ({len(neq)} diffs, first "
                        f"{s[c].loc[i]!r} vs {o[c].loc[i]!r})"
                    )
        if status:
            failures.append(q.name)
            print(f"{pos:3d} {q.name:42s} FAIL {'; '.join(status)}")
        else:
            print(
                f"{pos:3d} {q.name:42s} ok ({len(spdf)} rows, "
                f"{time.time() - t0:.1f}s)"
            )

    print()
    if failures:
        print(f"FAILED ({len(failures)}): {', '.join(failures)}")
        return 1
    print(f"all {len(ordered)} strict-green")
    return 0


if __name__ == "__main__":
    sys.exit(main())
