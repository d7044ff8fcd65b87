"""Time individual queries exactly the way bench.py does (noop sink,
min-of-N on a warmed session) without the full headline sweep — the
optimization-round iteration tool.

Usage: python tools/time_query.py [-n N] [--sf DIR] query [query ...]
"""

from __future__ import annotations

import argparse
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from bench import _needs_rebuild, _sweep_persisted, _warmup  # noqa: E402
from pigout_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("-n", type=int, default=3)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    from pigout_spark.queries import QUERIES

    spark = get_spark(
        "pigout-time", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    _warmup(spark, args.sf)
    for name in args.queries:
        # r14 bench.py parity: checkpoint-bearing plans (LogicalRDD in
        # the analyzed plan) rebuild every run — a cached handle would
        # time a checkpoint READ; pure plans keep the prepared-handle
        # methodology.
        raw = QUERIES[name].fn.__wrapped__
        probe = raw(spark, args.sf)
        has_ckpt = _needs_rebuild(probe)
        fn = raw if has_ckpt else (lambda s, d, _df=probe: _df)
        if has_ckpt:
            # r15 (ADVICE bench.py:304): release the probe's leaked
            # checkpoint blocks before timing — see bench._sweep_persisted
            del probe
            _sweep_persisted(spark)
        runs = []
        for _ in range(args.n):
            spark.sparkContext.setJobDescription(f"time: {name}")
            t0 = time.perf_counter()
            df = fn(spark, args.sf)
            df.write.format("noop").mode("overwrite").save()
            runs.append(time.perf_counter() - t0)
            if has_ckpt:
                del df
                _sweep_persisted(spark)
        print(
            f"{name:26s} best={min(runs):7.3f}  runs="
            + " ".join(f"{r:.3f}" for r in runs),
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
