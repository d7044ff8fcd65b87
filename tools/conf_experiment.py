"""One-off conf experiment: time a subset of headline queries under a
conf overlay passed as JSON in argv[1].  Fresh JVM per invocation."""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from bench import _warmup  # noqa: E402
from pigout_spark.session import get_spark  # noqa: E402

QUERIES = [
    "q01_group_agg",
    "q03_join_agg",
    "q05_broadcast_join",
    "q11_cube",
    "dedup_simhash",
    "sim_ann_topk",
    "stream_session",
]


def main() -> None:
    overlay = json.loads(sys.argv[1]) if len(sys.argv) > 1 else {}
    sf_dir = "/root/testdata/sf0.1"
    # get_spark applies the overlay at session start, static confs included
    spark = get_spark("conf-exp", extra_conf=overlay)
    from pigout_spark import queries as qmod

    _warmup(spark, sf_dir)
    out = {}
    for name in QUERIES:
        fn = qmod.QUERIES[name].fn
        best = None
        for _ in range(3):
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        out[name] = round(best, 3)
    out["_total"] = round(sum(out.values()), 3)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
