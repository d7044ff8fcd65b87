"""sf1 CORRECTNESS sweep (r10 verdict #3): hash-compare the driver
window's queries against their DuckDB oracles at a 10x fixture, with a
PER-ORACLE subprocess cap so a baseline blow-up (the quadratic-ish
near-dup oracles) is RECORDED as DNF instead of hanging the sweep.
This converts the scale story from wall-clock evidence (BENCH_SF1) to
correctness evidence: the engine's answers at 10x data are the same
answers the oracle gives wherever the oracle can run at all.

Usage:
    python tools/sf1_check.py [sf_dir] [out.json] [per-oracle-cap-s] [query ...]

Defaults: .localdata/sf1, /tmp/sf1_check.json, 360 s, all driver-window
queries.  Spark runs have no cap (the engine is the thing under test —
a Spark hang should fail the sweep loudly).
"""

from __future__ import annotations

import json
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as entrymod  # noqa: E402
from pigout_spark.queries import QUERIES  # noqa: E402
from pigout_spark.session import get_spark  # noqa: E402
from tools.selfcheck import TABLES, _normalize, value_hash  # noqa: E402

#: oracle runs in a subprocess: computes the SAME normalization + hash
#: as selfcheck (imported, not re-implemented) and prints one JSON line
_ORACLE_RUNNER = r"""
import json, sys
sys.path.insert(0, sys.argv[3])
import duckdb
from tools.selfcheck import _normalize, value_hash
sf_dir, tables = sys.argv[1], sys.argv[2]
sql = sys.stdin.read()
con = duckdb.connect()
# long-running queries print a PROGRESS BAR into captured stdout, and
# the final JSON then lands on the SAME line as bar fragments — the
# parent's line parser finds no parseable line and misreads a
# succeeded oracle as an error (found at sf1: the 20 M-row minhash
# pair oracle "errored" with rc=0 and no output)
con.execute("SET enable_progress_bar = false")
for t in tables.split():
    con.execute(
        f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
    )
pdf = con.execute(sql).df()
print("\n" + json.dumps({
    "rows": len(pdf),
    "columns": list(_normalize(pdf).columns),
    "dtypes": [str(d) for d in _normalize(pdf).dtypes],
    "hash": value_hash(pdf),
}))
"""


def oracle_digest(sf_dir: str, sql: str, cap_s: float) -> dict | None:
    """{rows, columns, dtypes, hash} or None on DNF/timeout."""
    repo = str(Path(__file__).resolve().parent.parent)
    try:
        out = subprocess.run(
            [sys.executable, "-c", _ORACLE_RUNNER, sf_dir, " ".join(TABLES), repo],
            input=sql,
            capture_output=True,
            text=True,
            timeout=cap_s,
            cwd=repo,
        )
    except subprocess.TimeoutExpired:
        return None
    # progress-bar hardening: split on \r as well as \n, and parse from
    # the first '{' so bar fragments sharing the line can't mask a
    # succeeded oracle
    for line in reversed(out.stdout.strip().replace("\r", "\n").splitlines()):
        brace = line.find("{")
        if brace < 0:
            continue
        try:
            return json.loads(line[brace:])
        except json.JSONDecodeError:
            continue
    print(f"  oracle runner error (rc={out.returncode}): {out.stderr[-300:]}",
          flush=True)
    return {"error": out.stderr[-300:]}


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else ".localdata/sf1"
    out_path = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sf1_check.json"
    cap = float(sys.argv[3]) if len(sys.argv) > 3 else 360.0
    only = set(sys.argv[4:])

    spark = get_spark("sf1-check")
    # explicitly-named queries may live outside the driver window
    names = [n for n in QUERIES if n in only] if only else list(entrymod.queries())
    qs = {n: QUERIES[n].fn for n in names}
    oracles = {n: QUERIES[n].sql for n in names if QUERIES[n].sql}
    results: dict[str, dict] = {}
    green = dnf = mismatch = 0
    for name, fn in qs.items():
        # Oracle FIRST (it carries the cap): when it DNFs there is no
        # digest to compare against, so collecting the Spark result to
        # the driver would be pure waste — at 10x data the near-dup
        # pair relations run to 10^7+ rows, and a pointless toPandas
        # of one of those is exactly how the first sweep fell over.
        dig = "skip"
        oracle_s = None
        if name in oracles:
            t1 = time.time()
            dig = oracle_digest(sf_dir, oracles[name], cap)
            oracle_s = round(time.time() - t1, 1)
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            if dig is None or dig == "skip":
                n_spark = sdf.count()  # distributed rows evidence only
            else:
                spdf = sdf.toPandas()
                n_spark = len(spdf)
        except Exception as e:  # a Spark failure at sf1 is a finding
            results[name] = {"status": "spark-error",
                             "err": f"{type(e).__name__}: {e}"[:300]}
            mismatch += 1
            print(f"FAIL  {name}: spark error: {type(e).__name__}", flush=True)
            continue
        spark_s = round(time.time() - t0, 1)
        if dig == "skip":
            results[name] = {"status": "rows-only", "rows": n_spark,
                             "spark_s": spark_s}
            print(f"ROWS  {name}: {n_spark} rows ({spark_s}s)", flush=True)
            continue
        if dig is None:
            results[name] = {"status": "oracle-dnf", "rows": n_spark,
                             "spark_s": spark_s, "cap_s": cap}
            dnf += 1
            print(f"DNF   {name}: oracle exceeded {cap:.0f}s "
                  f"(spark {spark_s}s, {n_spark} rows)", flush=True)
            continue
        if "error" in dig:
            results[name] = {"status": "oracle-error", "spark_s": spark_s,
                             "err": dig["error"]}
            mismatch += 1
            print(f"FAIL  {name}: oracle error", flush=True)
            continue
        sn = _normalize(spdf)
        problems = []
        if len(spdf) != dig["rows"]:
            problems.append(f"rowcount {len(spdf)} vs {dig['rows']}")
        if list(sn.columns) != dig["columns"]:
            problems.append(f"columns {list(sn.columns)} vs {dig['columns']}")
        elif [str(d) for d in sn.dtypes] != dig["dtypes"]:
            problems.append("dtypes mismatch")
        if not problems and value_hash(spdf) != dig["hash"]:
            problems.append("value-hash mismatch")
        if problems:
            results[name] = {"status": "mismatch", "detail": problems,
                             "spark_s": spark_s, "oracle_s": oracle_s}
            mismatch += 1
            print(f"FAIL  {name}: {'; '.join(problems)}", flush=True)
        else:
            results[name] = {"status": "hash-green", "rows": len(spdf),
                             "spark_s": spark_s, "oracle_s": oracle_s}
            green += 1
            print(f"OK    {name}: {len(spdf)} rows "
                  f"(spark {spark_s}s, oracle {oracle_s}s)", flush=True)
    summary = {"sf_dir": sf_dir, "cap_s": cap, "hash_green": green,
               "oracle_dnf": dnf, "mismatch_or_error": mismatch,
               "results": results}
    Path(out_path).write_text(json.dumps(summary, indent=1))
    print(f"\nsf1 sweep: {green} hash-green, {dnf} oracle-DNF, "
          f"{mismatch} mismatch/error -> {out_path}", flush=True)
    return 1 if mismatch else 0


if __name__ == "__main__":
    raise SystemExit(main())
