"""Local stand-in for the driver's correctness gate.

Runs every registered query (``queries.QUERIES``: the driver-facing
50-query window and every local extra) on Spark and its oracle SQL twin
on DuckDB over the same parquet fixtures, then compares row count,
schema (as pandas dtypes after normalization), and an order-insensitive
value hash.  Usage:

    python tools/selfcheck.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import duckdb
import pandas as pd

from pigout_spark.session import get_spark

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    out = pdf.copy()
    out = out[sorted(out.columns)]
    for c in out.columns:
        s = out[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            out[c] = pd.to_datetime(s).astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(s):
            out[c] = s.astype("float64")
        elif pd.api.types.is_integer_dtype(s):
            out[c] = s.astype("Int64")
    return out


def value_hash(pdf: pd.DataFrame) -> str:
    pdf = _normalize(pdf)
    rows = sorted(
        "\x1f".join("" if pd.isna(v) else repr(v) for v in row)
        for row in pdf.itertuples(index=False)
    )
    return hashlib.md5("\x1e".join(rows).encode()).hexdigest()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("selfcheck")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    from pigout_spark.queries import QUERIES

    failures = []
    for name, spec in QUERIES.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = spec.fn(get_spark("selfcheck"), sf_dir)
            spdf = sdf.toPandas()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: spark error: {type(e).__name__}: {e}")
            continue
        if spec.sql is None:
            print(f"ROWS  {name}: {len(spdf)} rows (no oracle — rows-only)")
            continue
        try:
            opdf = con.execute(spec.sql).df()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {type(e).__name__}: {e}")
            continue
        problems = []
        if len(spdf) != len(opdf):
            problems.append(f"rowcount {len(spdf)} vs {len(opdf)}")
        sn, on_ = _normalize(spdf), _normalize(opdf)
        if list(sn.columns) != list(on_.columns):
            problems.append(f"columns {list(sn.columns)} vs {list(on_.columns)}")
        elif [str(d) for d in sn.dtypes] != [str(d) for d in on_.dtypes]:
            problems.append(
                "dtypes "
                + str(list(zip(sn.columns, map(str, sn.dtypes), map(str, on_.dtypes))))
            )
        if not problems and value_hash(spdf) != value_hash(opdf):
            problems.append("value-hash mismatch")
            merged = sn.merge(on_, how="outer", indicator=True)
            diff = merged[merged["_merge"] != "both"]
            print(diff.head(10).to_string())
        dt = time.time() - t0
        if problems:
            failures.append(name)
            print(f"FAIL  {name}: {'; '.join(problems)}  ({dt:.1f}s)")
        else:
            print(f"OK    {name}: {len(spdf)} rows  ({dt:.1f}s)")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
