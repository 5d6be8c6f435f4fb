#!/usr/bin/env python
"""Local stand-in for the driver's CORRECTNESS gate.

Runs each __spark_entry__ query AND its oracle SQL on the same sf dir,
sorts columns by name, canonicalizes values, and compares row counts +
value hashes. Usage:

  python scripts/check_oracle.py [query ...]       # default: all with oracles
  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 python scripts/check_oracle.py
"""

from __future__ import annotations

import hashlib
import os
import sys

import duckdb
import numpy as np
import pandas as pd

# the repo on PYTHONPATH before the JVM starts, so the Python workers it
# forks import transcriptts from any working directory
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (REPO, os.environ.get("PYTHONPATH")) if p)

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def canon(df: pd.DataFrame) -> tuple[int, str]:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if np.issubdtype(s.dtype, np.datetime64):
            df[c] = s.dt.strftime("%Y-%m-%d %H:%M:%S.%f")
        elif s.dtype == object:
            df[c] = s.astype(str)
        elif np.issubdtype(s.dtype, np.floating):
            df[c] = s.map(lambda v: "null" if pd.isna(v) else repr(float(v)))
        elif np.issubdtype(s.dtype, np.integer):
            df[c] = s.astype("int64").astype(str)
        else:
            df[c] = s.astype(str)
    rows = sorted("\x1f".join(r) for r in df.astype(str).itertuples(index=False))
    h = hashlib.md5("\x1e".join(rows).encode()).hexdigest()
    return len(rows), h


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    import __spark_entry__ as em
    from transcriptts.session import get_spark

    qs = em.queries()
    oracles = em.oracle_sql()
    names = sys.argv[1:] or [n for n in qs if n in oracles]

    spark = get_spark(app_name="oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    failures = []
    for name in names:
        if name not in qs:
            print(f"{name}: UNKNOWN QUERY")
            failures.append(name)
            continue
        sdf = qs[name](spark, sf_dir).toPandas()
        sn, sh = canon(sdf)
        if name not in oracles:
            print(f"{name}: rows={sn} (no oracle)")
            continue
        odf = con.execute(oracles[name]).fetchdf()
        on, oh = canon(odf)
        ok = sn == on and sh == oh
        status = "OK " if ok else "FAIL"
        print(f"{name}: {status} spark_rows={sn} oracle_rows={on} hash={'=' if sh == oh else '!='}")
        if not ok:
            failures.append(name)
            s = sdf[sorted(sdf.columns)]
            o = odf[sorted(odf.columns)]
            print("  spark cols:", list(s.columns))
            print("  oracle cols:", list(o.columns))
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
