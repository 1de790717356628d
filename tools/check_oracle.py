"""Local replica of the driver's DuckDB-oracle correctness check.

Runs every registered query (or a named subset) on Spark at a given sf_dir,
runs its oracle SQL in DuckDB over the same parquet files, and compares
row count, schema (column names), and an order-insensitive value hash.

CANONICALIZATION (round-5 rewrite — this is the part that must mirror the
driver): BOTH sides are pulled through a pandas DataFrame (`sdf.toPandas()`
for Spark, `res.df()` for DuckDB) and normalized with TYPE-STRICT reprs —
an integer 6 and a float 6.0 hash DIFFERENTLY.  That is exactly the
round-1-q12 / round-4 artifact class: DuckDB `SUM(BIGINT)` returns HUGEINT,
which pandas renders as float64 (`6.0`), while Spark's BIGINT sum stays
int64 (`6`).  The old replica fetched DuckDB results natively (HUGEINT →
Python int) and so could never see the divergence; five round-4 oracles
shipped driver-red because of it.  Rule for oracle authors: wrap every
SUM()/AVG()-derived projected column in an explicit CAST (BIGINT for the
repo's integer-quantized convention); tests/test_properties.py lints this
mechanically.

Floats are normalized strictly (17 significant digits) — a double column
that isn't bit-identical across engines fails here, which matches the
round-3 lesson (ROUND(double, n) is not reproducible across engines).
Prefer exact-integer outputs: CAST(FLOOR(x*scale + 0.5) AS BIGINT) on both
sides.  Never emit array/map columns — the driver's canonicalizer cannot
hash them (round-3 multimodal_feature_extract crash).

Usage:
    python tools/check_oracle.py [--sf /root/testdata/sf0.01] [names...]
"""

from __future__ import annotations

import argparse
import hashlib
import math
import os
import sys
import time
from datetime import date, datetime

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402
import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402

from distributed_database_for_sql_spark import TABLES  # noqa: E402
from distributed_database_for_sql_spark.queries import registry  # noqa: E402
from distributed_database_for_sql_spark.session import get_spark  # noqa: E402


def _norm(v):
    """Type-strict scalar repr.  int 6 -> '6'; float 6.0 -> 'f6' (tagged) —
    the tag is what makes the HUGEINT->float64 class visible."""
    if v is None:
        return "NULL"
    if isinstance(v, (bool, np.bool_)):
        return str(int(v))
    if isinstance(v, (np.floating, float)):
        v = float(v)
        if math.isnan(v):
            return "NaN"
        return "f%.17g" % v
    if isinstance(v, (np.integer, int)):
        return str(int(v))
    if isinstance(v, pd.Timestamp):
        return v.isoformat(sep=" ").replace("+00:00", "")
    if isinstance(v, datetime):
        return v.isoformat(sep=" ").replace("+00:00", "")
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def _cell(v):
    # pd.isna on arrays raises/vectorizes; only scalar-test non-containers.
    if not isinstance(v, (list, tuple, np.ndarray, bytes, str)):
        try:
            if pd.isna(v):
                return "NULL"
        except (TypeError, ValueError):
            pass
    return _norm(v)


def _frame_lines(df: pd.DataFrame) -> list[str]:
    cols = sorted(df.columns)
    return sorted(
        "|".join(_cell(row[c]) for c in cols)
        for row in df.to_dict("records")
    )


def frame_hash(df: pd.DataFrame) -> str:
    h = hashlib.sha256()
    for line in _frame_lines(df):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def session_alive(spark) -> bool:
    """True when the Spark session still runs a trivial job."""
    try:
        spark.range(1).collect()
        return True
    except Exception:  # noqa: BLE001
        return False


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    specs = registry()
    names = args.names or sorted(specs)
    spark = get_spark("check_oracle")
    con = duck_con(args.sf)

    n_pass = n_fail = n_rowsonly = 0
    for i, name in enumerate(names):
        spec = specs[name]
        t0 = time.time()
        try:
            sdf = spec.fn(spark, args.sf)
            s_cols = sdf.columns
            s_pd = sdf.toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            n_fail += 1
            if not session_alive(spark):
                # a lost JVM would fail every remaining query the same way
                print(f"ABORT spark session lost after {name}: "
                      f"{len(names) - i - 1} queries not run")
                print(f"\n{n_pass} pass, {n_fail} fail, "
                      f"{n_rowsonly} rows-only")
                return 2
            continue
        dt = time.time() - t0
        if spec.oracle is None:
            print(f"ROWS  {name}: {len(s_pd)} rows ({dt:.1f}s) [rows-only]")
            n_rowsonly += 1
            continue
        try:
            d_pd = con.execute(spec.oracle).df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {e}")
            n_fail += 1
            continue
        problems = []
        if len(s_pd) != len(d_pd):
            problems.append(f"rowcount spark={len(s_pd)} duck={len(d_pd)}")
        if sorted(s_cols) != sorted(d_pd.columns):
            problems.append(
                f"schema spark={sorted(s_cols)} duck={sorted(d_pd.columns)}")
        if not problems:
            hs, hd = frame_hash(s_pd), frame_hash(d_pd)
            if hs != hd:
                problems.append(f"hash spark={hs} duck={hd}")
                for a, b in zip(_frame_lines(s_pd), _frame_lines(d_pd)):
                    if a != b:
                        problems.append(f"first diff:\n  spark={a}\n  duck ={b}")
                        break
        if problems:
            print(f"FAIL  {name}: " + "; ".join(problems))
            n_fail += 1
        else:
            print(f"PASS  {name}: {len(s_pd)} rows ({dt:.1f}s)")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rowsonly} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
