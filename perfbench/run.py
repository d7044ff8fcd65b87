"""Benchmark harness for pigout_spark: one workload, one seed, one run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The harness generates its fixture under
``.bench_build/perfbench`` (once), starts Spark on ``local[<cores>]`` in
this process, sets up three times, verifies every operation once against
DuckDB in a first untimed pass, then times passes for
``--seconds``. The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` they are the per-layer
ones, from passes that alternate tracing off and on.

See perfbench/README.md for what each metric means and which workload it
should move.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import random
import statistics
import sys
import time
import traceback
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".bench_build" / "perfbench"

#: end-to-end metrics (printed with --trace 0) and their units
END_TO_END = {"setup_s": "s", "pass_s": "s", "cpu_s": "s", "retained_mb": "MB"}

#: per-layer metrics (printed with --trace 1) and their units
PER_LAYER = {
    "latin.compile_s": "s",
    "latin.statements": "count",
    "catalog.load_s": "s",
    "catalog.loads": "count",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "py4j.calls": "count",
    "driver.py_cpu_s": "s",
    "pipeline.graph_s": "s",
    "pipeline.dedup_s": "s",
    "pipeline.text_s": "s",
    "pipeline.leaked_mb": "MB",
    "sources.store_s": "s",
    "sources.output_mb": "MB",
    "sources.files_written": "count",
    "plans.store_many_s": "s",
    "spark.exec_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.input_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.task_skew": "ratio",
    "spark.core_busy_frac": "ratio",
    "spark.task_cpu_frac": "ratio",
    "jvm.gc_s": "s",
    "jvm.codegen_compiles": "count",
    "jvm.codegen_s": "s",
    "jvm.peak_rss_mb": "MB",
    "trace.overhead_s": "s",
    "pass.p25_s": "s",
    "pass.p75_s": "s",
    "pass.count": "count",
    "pass.ramp": "ratio",
    "setup.cold_s": "s",
}

#: self time of these span names, per pass
SELF_TIME = {
    "latin.compile_s": "latin.compile",
    "catalog.load_s": "catalog.load",
    "pipeline.graph_s": "pipeline.graph",
    "pipeline.dedup_s": "pipeline.dedup",
    "pipeline.text_s": "pipeline.text",
    "sources.store_s": "sources.store",
    "plans.store_many_s": "plans.store_many",
}

SETUP_CYCLES = 3
#: timed passes per untraced run, at least; the median of three drops one
#: pass still on the JIT ramp
MIN_TIMED = 3


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def process_age_s() -> float:
    """Seconds since this process started (the kernel's start stamp)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def prepare_env(cores: int) -> None:
    """Everything the JVM and the Python workers inherit: the checkout on
    the import path, and scratch space inside the checkout."""
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(":") if p]
    os.environ["PYTHONPATH"] = ":".join(paths)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)


def spark_confs() -> dict[str, str]:
    tmp = WORK / "tmp"
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(tmp),
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.driver.memory": "4g",
    }


def engine_warmup(spark, sf_dir: str) -> None:
    """Tiny throwaway plans through the machinery every workload uses
    (parquet scan, broadcast and shuffle joins, aggregation, window, noop
    sink). Never the workloads' own operations."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    region = spark.read.parquet(f"{sf_dir}/region.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    on = nation.n_regionkey == region.r_regionkey
    nation.join(F.broadcast(region), on).groupBy("r_name").count().write.format(
        "noop"
    ).mode("overwrite").save()
    nation.join(region, on).withColumn(
        "rn", F.row_number().over(Window.partitionBy("r_name").orderBy("n_name"))
    ).collect()


def stop_spark(spark) -> None:
    """Stop the session, then the JVM this process launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the launcher exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


class Runner:
    def __init__(self, args, workload, sf_dir: Path, cores: int) -> None:
        from perfbench import probes
        from perfbench.trace import Tracer

        self.args = args
        self.workload = workload
        self.sf_dir = str(sf_dir)
        self.cores = cores
        self.rng = random.Random(args.seed)
        self.params = {"MINQTY": str(self.rng.choice([39, 40, 41]))}
        self.tracer = Tracer()
        self.probes = probes
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    # -- set-up ------------------------------------------------------------
    def setup(self, fixture_s: float) -> float:
        """Process start until ready, minus fixture generation: import and
        JVM launch once, then the median of SETUP_CYCLES session start +
        engine warm-up cycles (the first cycle also pays class loading)."""
        from pyspark import SparkContext
        from pyspark.conf import SparkConf

        from pigout_spark.session import get_spark

        confs = spark_confs()
        conf = SparkConf()
        for k, v in confs.items():
            conf.set(k, v)
        SparkContext._ensure_initialized(conf=conf)
        launch_s = process_age_s() - fixture_s
        cycles = []
        spark = None
        for i in range(SETUP_CYCLES):
            t0 = time.perf_counter()
            spark = get_spark(
                "perfbench",
                master=f"local[{self.cores}]",
                shuffle_partitions=self.cores,
                extra_conf=confs,
            )
            spark.sparkContext.setLogLevel("ERROR")
            engine_warmup(spark, self.sf_dir)
            cycles.append(time.perf_counter() - t0)
            if i < SETUP_CYCLES - 1:
                spark.stop()
        log(f"setup: launch {launch_s:.2f} s, cycles {[round(c, 2) for c in cycles]}")
        self.spark = spark
        self.jvm = self.probes.Jvm(spark)
        self.setup_cold_s = launch_s + cycles[0]
        return launch_s + statistics.median(cycles)

    def load_ops(self) -> None:
        from perfbench import trace as tracemod

        if self.args.trace:
            tracemod.install(self.tracer)
        import duckdb

        from perfbench.workloads import Ctx, make_op
        from tools.selfcheck import TABLES

        self.ops = [make_op(n) for n in self.workload.ops]
        self.rng.shuffle(self.ops)
        self.n_passes = 0
        if self.args.trace:
            tracemod.rebind(self.tracer)
        duck = duckdb.connect()
        for t in TABLES:
            duck.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')"
            )
        out_dir = WORK / "out" / self.workload.name
        out_dir.mkdir(parents=True, exist_ok=True)
        self.ctx = Ctx(
            self.spark,
            self.sf_dir,
            out_dir,
            ROOT / "examples",
            duck,
            self.params,
            WORK / "oracle",
        )

    # -- passes ------------------------------------------------------------
    def cleanup(self) -> None:
        """Drop the harness's references and collect garbage in Python and
        the JVM, so Spark's own cleaner can release what the program left
        behind. Never unpersists anything itself."""
        gc.collect()
        self.jvm.full_gc()
        time.sleep(0.05)  # let the ContextCleaner thread act on what GC freed

    def run_pass(self, verify: bool = False, traced: bool = False) -> dict:
        # successive passes rotate the seed's order, so over len(ops) passes
        # every operation runs once in every position
        k = self.n_passes % len(self.ops)
        order = self.ops[k:] + self.ops[:k]
        self.n_passes += 1
        tr = self.tracer
        tr.enabled = traced
        sc = self.spark.sparkContext
        stats: Counter = Counter()
        first_span = len(tr.spans)
        counts0 = Counter(tr.counts)
        wall = cpu = 0.0
        op_walls: dict[str, float] = {}
        for op in order:
            tag = f"{op.name}#{self.attempted}"
            if traced:
                tr.op = tag
                persisted0 = self.jvm.persisted_mb()
                jvm0 = self.jvm.counters()
                out_t0 = time.time()
                sc.setJobGroup(f"{tag}#b", op.name)
            cpu0 = self.probes.tree_cpu_s()
            t0 = time.perf_counter()
            built = handle = None
            ok = False
            try:
                if traced:
                    tr.in_build = True
                    py0 = time.process_time()
                    built = tr.call("queries.build", op.build, self.ctx)
                    stats["driver.py_cpu_s"] += time.process_time() - py0
                    tr.in_build = False
                    sc.setJobGroup(f"{tag}#e", op.name)
                    handle = tr.call("op.execute", op.execute, self.ctx, built, False)
                else:
                    built = op.build(self.ctx)
                    handle = op.execute(self.ctx, built, verify)
                ok = True
            except Exception:
                tr.in_build = False
                self.fail(op.name, traceback.format_exc())
            t1 = time.perf_counter()
            cpu1 = self.probes.tree_cpu_s()
            self.attempted += 1
            op_walls[op.name] = t1 - t0
            wall += t1 - t0
            cpu += cpu1 - cpu0
            if verify and ok:
                try:
                    problem = op.check(self.ctx, handle)
                except Exception:
                    problem = traceback.format_exc()
                if problem:
                    self.fail(op.name, f"wrong result: {problem}")
            if traced:
                sc.setJobGroup(f"{tag}#idle", "")
                self.op_layer_stats(stats, tag, jvm0, out_t0)
            del built, handle
            self.cleanup()
            if traced:
                stats["pipeline.leaked_mb"] += max(0.0, self.jvm.persisted_mb() - persisted0)
        tr.enabled = False
        result = {"wall": wall, "cpu": cpu, "ops": op_walls}
        if traced:
            result["layers"] = self.pass_layers(stats, first_span, counts0, wall)
        return result

    def fail(self, op: str, detail: str) -> None:
        self.failed += 1
        self.failures.append(op)
        log(f"FAILED {op}: {detail}")

    def op_layer_stats(self, stats: Counter, tag: str, jvm0: dict, out_t0: float) -> None:
        for k, v in self.jvm.counters().items():
            stats[k] += v - jvm0[k]
        status = self.probes.SparkStatus(self.spark)
        build = status.group_metrics({f"{tag}#b"})
        stats["queries.build_jobs"] += build["spark.jobs"]
        both = status.group_metrics({f"{tag}#b", f"{tag}#e"})
        skew = both.pop("spark.task_skew")
        stats["spark.task_skew"] = max(stats["spark.task_skew"], skew)
        for k, v in both.items():
            stats[k] += v
        for f in self.ctx.out_dir.rglob("*"):
            if f.is_file() and f.name[0] not in "._" and f.stat().st_mtime >= out_t0:
                stats["sources.files_written"] += 1
                stats["sources.output_mb"] += f.stat().st_size / 2**20

    def pass_layers(self, stats: Counter, first_span: int, counts0: Counter, wall: float):
        tr = self.tracer
        self_t = tr.self_times(first_span)
        totals = tr.totals(first_span)
        out = {k: self_t.get(span, 0.0) for k, span in SELF_TIME.items()}
        out["queries.build_s"] = totals.get("queries.build", 0.0)
        for k in ("latin.statements", "catalog.loads", "py4j.calls"):
            out[k] = float(tr.counts[k] - counts0[k])
        for k in (
            "driver.py_cpu_s",
            "pipeline.leaked_mb",
            "sources.output_mb",
            "sources.files_written",
            "queries.build_jobs",
            "spark.jobs",
            "spark.stages",
            "spark.tasks",
            "spark.shuffle_read_mb",
            "spark.shuffle_write_mb",
            "spark.input_mb",
            "spark.spill_mb",
            "spark.task_skew",
            "jvm.gc_s",
            "jvm.codegen_compiles",
            "jvm.codegen_s",
        ):
            out[k] = float(stats[k])
        out["spark.exec_s"] = stats["spark.job_s"]
        out["spark.core_busy_frac"] = stats["spark.task_run_s"] / (wall * self.cores)
        out["spark.task_cpu_frac"] = (
            stats["spark.task_cpu_s"] / stats["spark.task_run_s"]
            if stats["spark.task_run_s"]
            else 0.0
        )
        return out

    # -- the run -------------------------------------------------------------
    def verify(self) -> float:
        """The verifying pass: the first pass over the workload's own
        operations, checked and not timed. Checks run outside the op
        timings, so its time compares like any other pass's."""
        wall = self.run_pass(verify=True)["wall"]
        log(f"verifying pass: {wall:.2f} s")
        return wall

    def timed(self) -> tuple[list[dict], list[dict]]:
        """Passes for --seconds, and at least MIN_TIMED and one per
        operation, so that the rotation is complete. With tracing, passes
        alternate untraced and traced, and one of each is enough."""
        plain, traced = [], []
        end = time.monotonic() + self.args.seconds
        at_least = 1 if self.args.trace else max(MIN_TIMED, len(self.ops))
        i = 0
        while (
            time.monotonic() < end
            or len(plain) < at_least
            or (self.args.trace and not traced)
        ):
            if self.args.trace and i % 2 == 1:
                traced.append(self.run_pass(traced=True))
            else:
                plain.append(self.run_pass())
            i += 1
        return plain, traced

    def retained_mb(self) -> float:
        self.cleanup()
        self.cleanup()
        return self.jvm.heap_used_mb()


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) == 1:
        return values[0], values[0], values[0]
    q = statistics.quantiles(values, n=4, method="inclusive")
    return q[0], statistics.median(values), q[2]


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument(
        "--sf",
        type=float,
        default=None,
        help="override the workload's fixture scale (the smoke test uses 0.001)",
    )
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "pigout_spark").is_dir() or not (ROOT / "tools").is_dir():
        log(f"no pigout_spark checkout at {ROOT}; run from the repository root")
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench import datagen
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}")
        return 2
    workload = WORKLOADS[args.workload]
    cores = len(os.sched_getaffinity(0))
    prepare_env(cores)

    t0 = time.perf_counter()
    sf_dir = datagen.ensure(WORK / "data", args.sf if args.sf is not None else workload.sf)
    fixture_s = time.perf_counter() - t0

    runner = Runner(args, workload, sf_dir, cores)
    phases = {}
    try:
        phases["fixture"] = fixture_s
        t = time.perf_counter()
        setup_s = runner.setup(fixture_s)
        runner.load_ops()
        phases["setup"] = process_age_s() - fixture_s
        t = time.perf_counter()
        verify_wall = runner.verify()
        phases["verify"] = time.perf_counter() - t
        t = time.perf_counter()
        plain, traced = runner.timed()
        retained = runner.retained_mb()
        peak_rss = runner.probes.peak_rss_mb(runner.jvm.pid)
        phases["timed"] = time.perf_counter() - t
    finally:
        t = time.perf_counter()
        if getattr(runner, "spark", None) is not None:
            stop_spark(runner.spark)
        phases["teardown"] = time.perf_counter() - t
    log("phase seconds: " + json.dumps({k: round(v, 1) for k, v in phases.items()}))

    walls = [p["wall"] for p in plain]
    p25, pass_s, p75 = quartiles(walls)
    cpu_s = statistics.median(p["cpu"] for p in plain)
    fail_frac = runner.failed / runner.attempted
    summary = {
        "workload": workload.name,
        "seed": args.seed,
        "setup_s": round(setup_s, 4),
        "pass_s": round(pass_s, 4),
        "pass_quartiles_s": [round(p25, 4), round(p75, 4)],
        "passes": len(walls),
        "verifying_pass_s": round(verify_wall, 3),
        "timed_passes_s": [round(w, 3) for w in walls],
        "cpu_s": round(cpu_s, 4),
        "retained_mb": round(retained, 2),
        "fail_frac": fail_frac,
        "failed_ops": sorted(set(runner.failures)),
        "op_median_s": {
            name: round(statistics.median(p["ops"][name] for p in plain), 3)
            for name in workload.ops
        },
    }
    print("summary " + json.dumps(summary), flush=True)

    if args.trace:
        metrics = {
            k: statistics.median(p["layers"][k] for p in traced)
            for k in traced[0]["layers"]
        }
        metrics["jvm.peak_rss_mb"] = peak_rss
        metrics["trace.overhead_s"] = statistics.median(
            p["wall"] for p in traced
        ) - statistics.median(walls)
        metrics["pass.p25_s"] = p25
        metrics["pass.p75_s"] = p75
        metrics["pass.count"] = float(len(walls))
        metrics["pass.ramp"] = walls[0] / pass_s
        metrics["setup.cold_s"] = runner.setup_cold_s
        units = PER_LAYER
        runner.tracer.dump(WORK / f"trace-{workload.name}-{args.seed}.json")
    else:
        metrics = {"setup_s": setup_s, "pass_s": pass_s, "cpu_s": cpu_s, "retained_mb": retained}
        units = END_TO_END
    missing = set(units) - set(metrics)
    if missing:
        raise RuntimeError(f"metrics not measured: {sorted(missing)}")
    print(
        json.dumps(
            {
                "correct": runner.failed == 0,
                "attempted": runner.attempted,
                "failed": runner.failed,
                "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
