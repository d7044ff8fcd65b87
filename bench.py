"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec, ...}, "sf": ...}.

One shared SparkSession; a warmup action amortizes JVM/codegen startup
(the DuckDB baseline has no session cost — BASELINE.md caveat).
"""

from __future__ import annotations

import json
import logging
import os
import sys
import time
from pathlib import Path

from py4j.protocol import Py4JError

sys.path.insert(0, str(Path(__file__).resolve().parent))

from pigout_spark.session import get_spark  # noqa: E402

log = logging.getLogger("bench")

#: Headline set: the scan→group→agg spine, the big shuffling joins, the
#: window/top-k path, cube, tokenize-explode, and the extension pillars
#: (dedup, similarity, text, streaming-in-batch).
HEADLINE = [
    "q01_group_agg",
    "q03_join_agg",
    "q05_broadcast_join",
    "q09_order_limit",
    "q11_cube",
    "q13_flatten_tokenize",
    "q15_nested_topk",
    "q22_distinct_agg",
    "dedup_exact",
    "dedup_minhash",
    "dedup_simhash",
    "dedup_simhash_pairs",
    "dedup_embedding",
    "x_dedup_passages",
    "x_passage_stats",
    "x_dsir_weights",
    "sim_cosine_topk",
    "sim_ann_topk",
    "sim_ivf_topk",
    "sim_quant_topk",
    "x_text_pack",
    "text_quality",
    "text_fingerprint",
    "stream_tumbling",
    "stream_sliding",
    "stream_session",
    # r5 behavioral additions — both data-proportional window passes
    # over the full event log (sessionize: lag+cumsum+rollup; funnel:
    # chained conditional mins), not fixed-cost constants
    "x_sessionize",
    "x_funnel",
    # r6: the multi-pass data-proportional heavyweights that had no perf
    # reading — pagerank (iterated equi-join + checkpoint rounds) and
    # cohort retention (two window passes + a self-aligned join)
    "x_pagerank",
    "x_cohort_retention",
    # r7: the new data-proportional ops — bigram-LM scoring (corpus-
    # sized model aggregations + scoring join) and the leakage-safe
    # split (MinHash -> clusters -> keyed assignment; the first
    # headline query where the SQL oracle, not Spark, carries the
    # asymptotic handicap — its twin must replay the whole chain)
    "x_bigram_lm",
    "x_split_safe",
    # r8: the new data-proportional ops — item CF (distinct incidence +
    # capped pair self-join + ranked neighbors, the heaviest r8 plan),
    # the CDC merge (changelog compaction + anti-join over the full
    # orders snapshot), and per-key OLS (six-moment groupBy spine)
    "x_item_cf",
    "x_apply_cdc",
    "x_trend_fit",
]

#: Second, clearly-labeled bench set (r10 verdict #8): families the
#: frozen 35-query headline never times — graph beyond pagerank,
#: sketches, survival statistics, grouped statistical tests.  Reported
#: as separate `extended_*` fields so the headline series stays
#: like-for-like with r4–r10; per-query extended numbers live in
#: BENCH_DETAIL.json.
EXTENDED = [
    # graph beyond pagerank (x_triangles deliberately EXCLUDED: its
    # wedge-enumeration oracle runs ~60 s at sf0.1 and DNFs at sf1 —
    # a per-round bench must stay bounded; it keeps its r11 driver
    # correctness row and pytest coverage)
    "x_bfs_hops",
    "x_sssp",
    "x_kcore",
    "x_label_prop",
    # sketches
    "x_kmv_merge",
    "x_cms_estimate",
    "x_qdigest_quantiles",
    # survival statistics
    "x_kaplan_meier",
    "x_logrank",
    # grouped statistical tests
    "x_grouped_mw_fdr",
    "x_anova_f",
    # r14 data-proportional additions (extended_total grows vs r13 by
    # exactly these two rows — noted for series comparability)
    "x_fuzzy_pairs",
    "x_readability",
    # r14 late additions (post-series: the n=5 BASELINE.md series
    # predates these four rows — compare extended_total accordingly)
    "x_fs_linkage",
    "x_png_meta",
    "x_winnow",
    "x_img_dhash",
]

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

#: r14 MEASUREMENT-BUG FIX (optimization round; kept loud on purpose):
#: this set used to name the only queries rebuilt from scratch each
#: timed run; every other query re-ran its prepared-plan-cache handle,
#: which is only honest while the plan holds no localCheckpoint — a
#: checkpointed plan re-executes by READING the persisted RDD, i.e.
#: runs 2..N timed a result cache, not the computation.  The set was
#: correct when written (r9) but silently rotted as checkpoints spread
#: (x_dsir_weights, x_cms_estimate r14; the graph family x_bfs_hops /
#: x_sssp / x_kcore / x_label_prop since their build rounds; and
#: x_split_safe, whose honest wall was ~30-45 s where the artifact
#: recorded a 0.1 s checkpoint read).  Every timed run now rebuilds its
#: plan (see time_set) — symmetric with DuckDB, which re-parses and
#: re-executes its SQL every run.  Old artifacts BENCH_r10..r13 carry
#: the stale numbers for the affected queries; see OPTIMIZATION_r14.md.

#: best-of-N per query, BOTH engines: single-run wall times on this box
#: swing ±50% run-to-run (shared machine); min-of-3 reports the
#: steady-state each engine can actually sustain, symmetrically.
N_RUNS = 3


def _sweep_persisted(spark) -> None:
    """Unpersist every RDD still registered with the block manager.

    r15 (ADVICE r14 bench.py:304): checkpoint-bearing queries leak their
    DISK_ONLY/memory checkpoint blocks until Python GC plus the JVM
    ContextCleaner get around to them — measured cross-pollution of up
    to 5× on queries timed AFTER a checkpoint-heavy one in the same
    session (dedup_minhash read 7.3 s following x_split_safe's leaked
    blocks vs ~1.4 s clean).  Called OUTSIDE every timed region, only
    around checkpoint-bearing (rebuild-per-run) queries: pure prepared
    plans persist nothing, and their cached handle must not be touched.
    Safe by construction: between queries the only persisted RDDs are
    the previous build's checkpoints, which no live handle will ever
    re-execute."""
    import gc

    from py4j.protocol import Py4JError

    gc.collect()  # drop py4j refs so the JVM side can release the plans
    swept = []
    try:
        for jrdd in spark.sparkContext._jsc.getPersistentRDDs().values():
            jrdd.unpersist(False)
            swept.append(jrdd.id())
    except Py4JError:
        # best-effort hygiene: never fail the bench over it, but say so
        log.warning("sweeping persisted RDDs failed", exc_info=True)
    log.debug("swept persisted RDDs %s", swept)


def _needs_rebuild(probe) -> bool:
    """True when a prepared handle would NOT honestly re-time the
    computation: localCheckpoint leaves a LogicalRDD in the analyzed
    plan (re-running the handle reads the persisted RDD), and
    persist()/cache() leaves an InMemoryRelation in the optimized plan
    (runs 2..N would read the cache) — the r15 ADVICE hole in the r14
    LogicalRDD-only auto-detect.  Unprovable plans rebuild honestly."""
    try:
        qe = probe._jdf.queryExecution()
        return (
            "LogicalRDD" in qe.analyzed().toString()
            or "InMemoryRelation" in qe.optimizedPlan().toString()
        )
    except Py4JError as e:
        log.warning("cannot read the plan, rebuilding each run: %s", e)
        return True


def _duckdb_con(sf_dir: str):
    """DuckDB connection with the fixture views — the baseline side of
    the ≤2× gate (BASELINE.md), timed in the same process INTERLEAVED
    with the Spark runs (r10 verdict #2: back-to-back engine blocks let
    box drift land entirely on whichever engine ran second; adjacent
    alternating samples make drift cancel in the ratio)."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _warmup(spark, sf_dir: str) -> None:
    """One-time engine-path initialization, kept OUT of per-query time
    (BASELINE.md: amortize fixed session costs; DuckDB pays none).

    Exercises each physical machinery the headline queries use — parquet
    reader, hash aggregate, shuffle+AQE, broadcast join, window, explode,
    higher-order funcs, Python-UDF runner, noop sink — on throwaway tiny
    plans, never the benchmarked queries themselves."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from pyspark.sql.pandas.functions import pandas_udf

    region = spark.read.parquet(f"{sf_dir}/region.parquet")  # parquet path
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    j = nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    j.groupBy("r_name").count().write.format("noop").mode("overwrite").save()
    nation.join(region, nation.n_regionkey == region.r_regionkey).groupBy(
        "r_name"
    ).count().collect()  # shuffle join + AQE
    nation.withColumn(
        "rn", F.row_number().over(Window.partitionBy("n_regionkey").orderBy("n_name"))
    ).collect()  # window
    nation.select(
        F.explode(F.split("n_name", "_")).alias("t")
    ).groupBy("t").count().collect()  # explode + agg
    nation.select(
        F.aggregate(
            F.transform(F.split("n_name", "_"), F.length),
            F.lit(0),
            lambda a, x: a + x,
        )
    ).collect()  # higher-order functions

    @pandas_udf("long")
    def _plus1(s):
        return s + 1

    nation.select(_plus1("n_nationkey")).collect()  # Python-UDF runner
    nation.cube("n_regionkey").count().collect()  # Expand (cube/rollup)
    nation.select(
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("ts"), "n_nationkey"
    ).groupBy(F.session_window("ts", "5 minutes")).count().collect()  # session windows
    nation.select(
        F.bit_count(F.shiftright(F.col("n_nationkey"), 1).bitwiseAND(7))
    ).collect()  # bit ops (simhash family)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from pigout_spark.queries import QUERIES

    # headline queries come from the whole registry, not only the
    # driver window
    names = [n for n in HEADLINE if n in QUERIES]
    ext_names = [n for n in EXTENDED if n in QUERIES]
    # r5 post-mortem: the driver tail-captures stdout and the 28-query
    # JSON line interleaved with Spark's \r stage-progress output was
    # truncated past parseability (BENCH_r05.json "parsed": null).
    # Progress bars off for the bench session; summary line kept compact.
    spark = get_spark(
        "pigout-bench", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    # r15 (VERDICT r14 #3): TWO warmup passes.  The r14 driver artifact
    # recorded q01_group_agg at 1.37 s (2× the quiet-box band) with no
    # code change on that path; re-measurement this round put the first
    # post-warmup executions of a fresh JVM at 2-4× steady state (C2
    # JIT still compiling codegen'd stages) with q01 — the FIRST
    # headline row — eating the residual ramp.  A second pass over the
    # same throwaway warmup plans (never the benchmarked queries) lets
    # the JIT finish before the first timed run; this amortizes the
    # session fixed cost the bench has excluded by declared design
    # since r1, symmetric with DuckDB paying no session cost at all.
    _warmup(spark, sf_dir)
    _warmup(spark, sf_dir)
    con = _duckdb_con(sf_dir)
    # Load gate (r11 verdict #7): the one contended r11 durability pass
    # (worst 1.92, start load 10.5 vs ~4-6 clean) needed a prose
    # explanation; the gate makes box state machine-checkable instead.
    # Every run RECORDS load_ok; a durability run (BENCH_REQUIRE_QUIET=1)
    # additionally WAITS for the box to quiet down and refuses (exit 3)
    # if it never does — so no recorded durability pass can start
    # contended.  Threshold 8.0 on the 1-min average: clean r11 passes
    # started at 4-6 on this 32-cpu box, the flagged one at 10.5.
    load_threshold = float(os.environ.get("BENCH_LOAD_THRESHOLD", "8.0"))
    # r13 (VERDICT r12 #2): waiting for a quiet box is now the DEFAULT,
    # not an opt-in — the r12 driver artifact recorded ratio 2.01 with
    # load_ok=false (start load 8.5) because an unattended run could
    # still start contended.  Every run now waits up to
    # BENCH_QUIET_WAIT_S (default 600 s) for the 1-min load to drop
    # under the threshold, then proceeds EITHER WAY and records load_ok
    # honestly — an unattended driver run always produces an artifact,
    # it just can't start contended when quiet was reachable.
    # BENCH_REQUIRE_QUIET=1 keeps the strict durability contract
    # (refuse, exit 3, if the box never quiets); BENCH_NO_WAIT=1 skips
    # the wait entirely for quick local iteration.
    wait_budget = float(os.environ.get("BENCH_QUIET_WAIT_S", "600"))
    # r13 ADVICE: BENCH_NO_WAIT=1 + BENCH_REQUIRE_QUIET=1 used to
    # silently drop the strict exit-3 contract (the whole wait loop —
    # including the refuse branch — was skipped).  The flags contradict
    # each other; error out instead of guessing.
    if os.environ.get("BENCH_NO_WAIT") and os.environ.get("BENCH_REQUIRE_QUIET"):
        print(
            "bench: BENCH_NO_WAIT=1 and BENCH_REQUIRE_QUIET=1 conflict — "
            "NO_WAIT skips the wait loop that REQUIRE_QUIET's refuse-on-"
            "contended (exit 3) contract lives in; unset one",
            file=sys.stderr,
        )
        raise SystemExit(2)
    if not os.environ.get("BENCH_NO_WAIT"):
        deadline = time.time() + wait_budget
        while os.getloadavg()[0] > load_threshold:
            if time.time() > deadline:
                if os.environ.get("BENCH_REQUIRE_QUIET"):
                    print(
                        f"bench: start load {os.getloadavg()[0]:.2f} stayed "
                        f"above threshold {load_threshold} for "
                        f"{wait_budget:.0f} s — refusing the durability "
                        "pass (BENCH_REQUIRE_QUIET)",
                        file=sys.stderr,
                    )
                    raise SystemExit(3)
                print(
                    f"bench: start load {os.getloadavg()[0]:.2f} still "
                    f"above {load_threshold} after {wait_budget:.0f} s — "
                    "proceeding; artifact will record load_ok=false",
                    file=sys.stderr,
                )
                break
            time.sleep(15)
    load_start = os.getloadavg()
    load_ok = load_start[0] <= load_threshold

    def time_set(set_names: list[str]) -> tuple[dict, dict]:
        timings: dict[str, float] = {}
        duck: dict[str, float] = {}
        for name in set_names:
            # Checkpoint-bearing plans materialize their
            # localCheckpoints on the first action; re-running the same
            # plan handle would time a checkpoint *read*, not the
            # computation.  r14: instead of the hand-maintained
            # REBUILD_PER_RUN set (see the note above — it rotted),
            # AUTO-DETECT: build the plan once (untimed probe) and scan
            # the analyzed plan for LogicalRDD nodes, the footprint
            # every localCheckpoint leaves.  Detected queries rebuild
            # from scratch inside every timed run (full recompute from
            # the parquet inputs); pure plans keep the r1–r13
            # prepared-statement methodology (build once, execute per
            # run — every run still pays JVM-side optimization,
            # scheduling and the full computation).
            raw = QUERIES[name].fn.__wrapped__
            oracle = QUERIES[name].sql
            probe = raw(spark, sf_dir)
            has_ckpt = _needs_rebuild(probe)
            fn = raw if has_ckpt else (lambda s, d, _df=probe: _df)
            if has_ckpt:
                # r15 (ADVICE bench.py:304): drop the probe handle and
                # its leaked checkpoint blocks NOW — an eager-checkpoint
                # query (dedup_clusters, k_core) fully executed during
                # the probe's plan build, and its persisted blocks would
                # otherwise squat on block-manager memory through every
                # timed run below.
                del probe
                _sweep_persisted(spark)
            best = None
            best_d = None
            # Interleave the two engines' samples (S,D,S,D,...) so a
            # transient box slowdown hits both engines' sample sets alike
            # and cancels in the per-query ratio (r10 verdict #2).  The
            # reported statistic is unchanged: best-of-N_RUNS per engine.
            for _ in range(N_RUNS):
                t0 = time.perf_counter()
                df = fn(spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
                dt = time.perf_counter() - t0
                best = dt if best is None else min(best, dt)
                if oracle is not None:
                    t0 = time.perf_counter()
                    con.execute(oracle).fetchall()
                    dd = time.perf_counter() - t0
                    best_d = dd if best_d is None else min(best_d, dd)
                if has_ckpt:
                    # untimed: release this run's checkpoint blocks so
                    # they never pollute the next run or the next query
                    del df
                    _sweep_persisted(spark)
            timings[name] = round(best, 3)
            if best_d is not None:
                duck[name] = round(best_d, 3)
        return timings, duck

    timings, duck = time_set(names)
    ext_timings, ext_duck = time_set(ext_names)
    ratios = {
        n: round(timings[n] / duck[n], 2) for n in timings if duck.get(n)
    }
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # Data-proportional subset (r8 verdict task 10): queries where the
    # baseline itself does ≥50 ms of real work at this SF.  Sub-that,
    # the ratio measures Catalyst+scheduling fixed cost (~0.2–0.5 s)
    # against DuckDB's ~1 ms floor — scale-invariant noise that inverts
    # at real data sizes (BASELINE.md decomposition).  The driver gate
    # stays on ratio_total; this tracks the number that measures WORK.
    dp = [n for n in timings if duck.get(n, 0.0) >= 0.05]
    ratio_dp = (
        round(sum(timings[n] for n in dp) / sum(duck[n] for n in dp), 2)
        if dp
        else None
    )
    summary = {
        "metric": "headline_queries_total_wall",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "duckdb_total": round(sum(duck.values()), 3),
        "ratio_total": round(
            sum(timings[n] for n in duck) / max(sum(duck.values()), 1e-9), 2
        ),
        "ratio_data_proportional": ratio_dp,
        "n_data_proportional": len(dp),
        "worst5_ratio": dict(
            sorted(ratios.items(), key=lambda kv: -kv[1])[:5]
        ),
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        # second, clearly-labeled set (r10 verdict #8) — compact
        # scalars only; per-query extended numbers in BENCH_DETAIL.json
        "extended_total": round(sum(ext_timings.values()), 3),
        "extended_duckdb_total": round(sum(ext_duck.values()), 3),
        "extended_ratio_total": round(
            sum(ext_timings[n] for n in ext_duck)
            / max(sum(ext_duck.values()), 1e-9),
            2,
        ),
        "n_extended": len(ext_timings),
        "load_ok": load_ok,
    }
    # Full per-query baseline + ratio detail goes to a sidecar file —
    # keeping the contract line short enough for the driver's capture.
    detail_path = Path(__file__).resolve().parent / "BENCH_DETAIL.json"
    detail_path.write_text(
        json.dumps(
            {
                **summary,
                "duckdb": duck,
                "ratio_per_query": ratios,
                "extended_queries": ext_timings,
                "extended_duckdb": ext_duck,
                "extended_ratio_per_query": {
                    n: round(ext_timings[n] / ext_duck[n], 2)
                    for n in ext_timings
                    if ext_duck.get(n)
                },
                # box-idle evidence for the durability series (r10
                # verdict #2): 1/5/15-min load averages at measurement
                # start and end
                "load_avg_start": [round(x, 2) for x in load_start],
                "load_avg_end": [round(x, 2) for x in os.getloadavg()],
                "load_threshold": load_threshold,
            },
            indent=1,
        )
    )
    sys.stdout.flush()
    print(json.dumps(summary), flush=True)


if __name__ == "__main__":
    main()
