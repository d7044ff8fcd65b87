"""One-off scale-rehearsal bench (r9 verdict task 2): per-query Spark
vs DuckDB wall times at an arbitrary fixture dir, with a PER-ORACLE
subprocess timeout so a baseline blow-up at scale is RECORDED instead
of hanging the whole run (the stock bench.py assumes the baseline
always finishes — true at sf0.1, not at sf1 where the quadratic-ish
dedup oracles spill).

Usage:
    python tools/bench_scale.py <sf_dir> [out.json] [per-oracle-timeout-s]

Prints per-query progress lines and writes a bench.py-shaped JSON
(plus "duck_timeout" entries listing oracles that exceeded the cap).
"""

from __future__ import annotations

import json
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from bench import HEADLINE, TABLES, _sweep_persisted, _warmup  # noqa: E402
from pigout_spark.session import get_spark  # noqa: E402

_DUCK_RUNNER = r"""
import json, sys, time
import duckdb
sf_dir, sql = sys.argv[1], sys.stdin.read()
con = duckdb.connect()
for t in "{tables}".split():
    con.execute(
        f"CREATE VIEW {{t}} AS SELECT * FROM read_parquet('{{sf_dir}}/{{t}}.parquet')"
    )
t0 = time.perf_counter()
con.execute(sql).fetchall()
print(json.dumps(round(time.perf_counter() - t0, 3)))
""".format(tables=" ".join(TABLES))


def duck_time(sf_dir: str, sql: str, timeout_s: float) -> float | None:
    try:
        out = subprocess.run(
            [sys.executable, "-c", _DUCK_RUNNER, sf_dir],
            input=sql,
            capture_output=True,
            text=True,
            timeout=timeout_s,
        )
        for line in reversed(out.stdout.strip().splitlines()):
            try:
                return float(json.loads(line))
            except (json.JSONDecodeError, TypeError, ValueError):
                continue
        print(f"duck runner produced no timing (rc={out.returncode}): "
              f"{out.stderr[-300:]}", flush=True)
        return None
    except subprocess.TimeoutExpired:
        return None


def main() -> int:
    sf_dir = sys.argv[1]
    out_path = sys.argv[2] if len(sys.argv) > 2 else "/tmp/bench_scale.json"
    cap = float(sys.argv[3]) if len(sys.argv) > 3 else 360.0

    from pigout_spark.queries import QUERIES

    names = [n for n in HEADLINE if n in QUERIES]
    spark = get_spark(
        "pigout-bench-scale",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    _warmup(spark, sf_dir)

    timings: dict[str, float] = {}
    for name in names:
        # r14: every run rebuilds the plan (bench.py parity — a cached
        # checkpoint-bearing handle would time a checkpoint READ)
        fn = QUERIES[name].fn.__wrapped__
        best = None
        for _ in range(2):
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
            # r15 (ADVICE bench.py:304): every run rebuilds here, so a
            # checkpoint-bearing run leaks its blocks — sweep untimed
            _sweep_persisted(spark)
        timings[name] = round(best, 3)
        print(f"spark {name}: {timings[name]}", flush=True)

    duck: dict[str, float] = {}
    timed_out: list[str] = []
    for name in names:
        if QUERIES[name].sql is None:
            continue
        dt = duck_time(sf_dir, QUERIES[name].sql, cap)
        if dt is None:
            timed_out.append(name)
            print(f"duck  {name}: TIMEOUT >{cap}s", flush=True)
        else:
            duck[name] = dt
            print(f"duck  {name}: {dt}", flush=True)

    both = [n for n in timings if n in duck]
    dp = [n for n in both if duck[n] >= 0.05]
    summary = {
        "metric": "headline_queries_total_wall",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "duckdb": duck,
        "duck_timeout": timed_out,
        "duckdb_total_comparable": round(sum(duck[n] for n in both), 3),
        "spark_total_comparable": round(sum(timings[n] for n in both), 3),
        "ratio_comparable": round(
            sum(timings[n] for n in both) / sum(duck[n] for n in both), 2
        )
        if both
        else None,
        "ratio_data_proportional": round(
            sum(timings[n] for n in dp) / sum(duck[n] for n in dp), 2
        )
        if dp
        else None,
        "n_data_proportional": len(dp),
        "worst5_ratio": dict(
            sorted(
                ((n, round(timings[n] / duck[n], 2)) for n in dp),
                key=lambda kv: -kv[1],
            )[:5]
        ),
        "sf_dir": sf_dir,
    }
    Path(out_path).write_text(json.dumps(summary) + "\n")
    print(json.dumps(summary), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
