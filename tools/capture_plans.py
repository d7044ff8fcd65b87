"""Capture .explain("formatted") for named queries into plans/<tag>/.

Usage:
    python tools/capture_plans.py <tag> <suffix> [query ...]

Writes plans/<tag>/<query>_<suffix>.txt for each query (default: a
built-in target list).  Planning only — no job is executed, so this is
safe to run alongside other work.  The optimization rounds commit these
files as the plan evidence the judge checks claims against.
"""

from __future__ import annotations

import io
import sys
from contextlib import redirect_stdout
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pigout_spark.queries import QUERIES
from pigout_spark.session import get_spark

DEFAULT_TARGETS = [
    "x_item_cf",
    "x_pagerank",
    "x_passage_stats",
    "x_bigram_lm",
    "x_dsir_weights",
    "dedup_embedding",
    "x_dedup_passages",
    "x_png_meta",
    "x_winnow",
    "x_cms_estimate",
    "x_bfs_hops",
    "x_fuzzy_pairs",
    "x_grouped_mw_fdr",
]


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "r14"
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    names = sys.argv[3:] or DEFAULT_TARGETS
    sf_dir = "/root/testdata/sf0.1"
    out_dir = Path(__file__).resolve().parent.parent / "plans" / tag
    out_dir.mkdir(parents=True, exist_ok=True)
    spark = get_spark(
        "pigout-plans", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    for name in names:
        if name not in QUERIES:
            print(f"skip {name}: not registered", file=sys.stderr)
            continue
        fn = QUERIES[name].fn.__wrapped__
        df = fn(spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        (out_dir / f"{name}_{suffix}.txt").write_text(buf.getvalue())
        print(f"wrote {name}_{suffix}.txt ({len(buf.getvalue())} bytes)")
    spark.stop()


if __name__ == "__main__":
    main()
