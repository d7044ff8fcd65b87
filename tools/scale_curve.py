"""Spark wall-clock growth curves across fixture scales (r11): time a
set of data-proportional queries at several SFs in ONE session and
print wall vs data-factor — the direct empirical answer to "does the
plan's cost grow like the data or faster".  Complements sf1_check
(correctness at scale) and BENCH_SF1 (ratio vs baseline at one scale).

Usage:
    python tools/scale_curve.py [query ...] -- [sf_dir ...]

Defaults: the 6 representative data-proportional queries below over
/root/testdata/sf0.1, .localdata/sf1, .localdata/sf3.  Each query is
noop-written twice per SF (plan rebuilt each time; best-of-2 reported)
smallest SF first, so caches warm on the cheap fixture.
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pigout_spark.session import get_spark  # noqa: E402

DEFAULT_QUERIES = [
    "dedup_minhash",      # banded LSH near-dup (pair relation grows ~SF)
    "text_quality",       # narrow per-doc feature map
    "x_bigram_lm",        # corpus LM aggregation + scoring join
    "x_pagerank",         # iterative joins, 3 exchanges/iter
    "x_item_cf",          # capped pair explosion + topk
    "x_sessionize",       # key window over the event log
]
DEFAULT_SFS = ["/root/testdata/sf0.1", ".localdata/sf1", ".localdata/sf3"]


def main() -> None:
    args = sys.argv[1:]
    if "--" in args:
        cut = args.index("--")
        names, sfs = args[:cut] or DEFAULT_QUERIES, args[cut + 1:] or DEFAULT_SFS
    else:
        names, sfs = args or DEFAULT_QUERIES, DEFAULT_SFS

    from pigout_spark.queries import QUERIES

    spark = get_spark("scale-curve")

    walls: dict[str, list[float]] = {n: [] for n in names}
    for sf in sfs:
        for n in names:
            best = None
            for _ in range(2):
                t0 = time.perf_counter()
                QUERIES[n].fn(spark, sf).write.format("noop").mode(
                    "overwrite"
                ).save()
                w = time.perf_counter() - t0
                best = w if best is None else min(best, w)
            walls[n].append(best)
            print(f"{sf:24s} {n:18s} {best:7.2f}s", flush=True)

    print(f"\n{'query':18s}" + "".join(f"{Path(s).name:>10s}" for s in sfs)
          + "   growth (vs data x)")
    for n in names:
        ws = walls[n]
        growth = " ".join(
            f"x{ws[i + 1] / ws[i]:.1f}" for i in range(len(ws) - 1)
        )
        print(f"{n:18s}" + "".join(f"{w:10.2f}" for w in ws)
              + f"   {growth}")


if __name__ == "__main__":
    main()
