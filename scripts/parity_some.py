#!/usr/bin/env python
"""Targeted oracle parity: same compare as parity_sweep, restricted to
the named queries. Usage: python scripts/parity_some.py SF_DIR name...
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
    import pandas as pd

    if v is None or v is pd.NaT or (isinstance(v, float) and math.isnan(v)):
        return "<NULL>"
    return str(round(v, 6)) if isinstance(v, float) else str(v)


def main() -> None:
    import __spark_entry__ as e
    from week5_datingnlp_big_data_spark.session import get_spark

    sf_dir = sys.argv[1]
    names = sys.argv[2:]
    spark = get_spark("parity-some")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    qs, sqls = e.queries(), e.oracle_sql()
    bad = []
    t0 = time.time()
    for name in names:
        sql = sqls.get(name)
        if sql is None:
            print(f"SKIP {name}: no oracle sql")
            continue
        sdf = qs[name](spark, sf_dir).toPandas()
        odf = con.execute(sql).df()
        cols = sorted(sdf.columns)
        same_cols = cols == sorted(odf.columns)
        s_rows = sorted(
            tuple(norm(v) for v in r) for r in sdf[cols].itertuples(index=False)
        )
        o_rows = (
            sorted(
                tuple(norm(v) for v in r)
                for r in odf[cols].itertuples(index=False)
            )
            if same_cols
            else []
        )
        ok = same_cols and s_rows == o_rows
        print(f"{'OK  ' if ok else 'FAIL'} {name}: spark={len(sdf)} oracle={len(odf)}")
        if not ok:
            bad.append(name)
        if not same_cols:
            print("  columns: spark", cols, "vs oracle", sorted(odf.columns))
        else:
            for a, b in zip_longest(s_rows, o_rows):
                if a != b:
                    print("  first diff:", a, "vs", b)
                    break
    print(f"{len(names) - len(bad)}/{len(names)} ok in {time.time()-t0:.0f}s")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
