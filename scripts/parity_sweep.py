#!/usr/bin/env python
"""Oracle parity sweep at an arbitrary scale factor (default sf0.1 — 10x
the driver's correctness gate). The per-round gate runs at sf0.01 and the
in-repo test gate at sf0.001; this sweep exists because some divergence
is SCALE-DEPENDENT and invisible down there: the events_hourly avg/ulp
boundary (found by this sweep, 2026-08-14: round(avg(value),6) split
43.472812/43.472813 across engines at sf0.1 only — fixed by deriving avg
from the rounded sum) needed thousands of groups before a mean landed on
a 6-dp rounding boundary.

Usage: python scripts/parity_sweep.py [SF_DIR] [name ...]
  no names: every oracle-backed query (~12 min at sf0.1);
  names:    only those (a name without an oracle is reported as SKIP).
Each failure prints its first differing row pair (or both column sets on
a schema mismatch). Exit status is nonzero on any mismatch.
"""

from __future__ import annotations

import math
import sys
import time
from itertools import zip_longest
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def norm(v):
    # Fold NULL/NaT/NaN to one marker and stringify everything else —
    # pandas NaT != NaT, so a raw-value compare false-flags any query
    # emitting NULL timestamps (user_state_scd2's open intervals did
    # exactly that, 2026-08-15). The driver hashes string forms and
    # accepts NULLs; this mirrors it (same rule as the /verify recipe).
    import pandas as pd

    if v is None or v is pd.NaT or (isinstance(v, float) and math.isnan(v)):
        return "<NULL>"
    return str(round(v, 6)) if isinstance(v, float) else str(v)


def compare(name, fn, sql, spark, con, sf_dir) -> bool:
    """Run one query and its oracle; print OK/FAIL with first-diff
    diagnostics. A crash is a mismatch."""
    try:
        sdf = fn(spark, sf_dir).toPandas()
        odf = con.execute(sql).df()
    except Exception as ex:  # noqa: BLE001
        print(f"FAIL {name}: EXC {str(ex)[:200]}")
        return False
    cols = sorted(sdf.columns)
    same_cols = cols == sorted(odf.columns)
    s_rows = sorted(
        tuple(norm(v) for v in r) for r in sdf[cols].itertuples(index=False)
    )
    o_rows = (
        sorted(tuple(norm(v) for v in r) for r in odf[cols].itertuples(index=False))
        if same_cols
        else []
    )
    ok = same_cols and s_rows == o_rows
    print(f"{'OK  ' if ok else 'FAIL'} {name}: spark={len(sdf)} oracle={len(odf)}")
    if not same_cols:
        print("  columns: spark", cols, "vs oracle", sorted(odf.columns))
    elif not ok:
        for a, b in zip_longest(s_rows, o_rows):
            if a != b:
                print("  first diff:", a, "vs", b)
                break
    return ok


def main() -> None:
    import __spark_entry__ as e
    from week5_datingnlp_big_data_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    qs, sqls = e.queries(), e.oracle_sql()
    names = sys.argv[2:] or [n for n in qs if n in sqls]
    spark = get_spark("parity-sweep")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    bad, n = [], 0
    t0 = time.time()
    for name in names:
        if name not in sqls:
            print(f"SKIP {name}: no oracle sql")
            continue
        n += 1
        if not compare(name, qs[name], sqls[name], spark, con, sf_dir):
            bad.append(name)
    print(
        f"parity sweep @ {sf_dir}: {n} oracle-backed queries, "
        f"{len(bad)} mismatches, {time.time() - t0:.0f}s"
    )
    if bad:
        raise SystemExit(f"mismatches: {bad}")


if __name__ == "__main__":
    main()
