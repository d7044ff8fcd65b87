"""SparkSession factory with defaults tuned for the 100 TB target.

Reference lifecycle analog (SURVEY.md §3): Pig's parse→logical→physical→
MR-compile pipeline is Catalyst's job here; this module only fixes the
session-level knobs that Pig exposed as job properties (combiner on,
skew handling on, parallelism) to their Spark equivalents.
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import SparkSession

#: Runtime-settable confs applied to ANY session handed to us (including the
#: driver's).  Kept minimal and safe to set mid-session.
RUNTIME_CONFS: dict[str, str] = {
    # events.parquet is written with TIMESTAMP(NANOS) which Spark's reader
    # rejects; read as long and convert in the catalog (catalog.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Oracle comparisons (DuckDB) assume UTC wall-clock timestamps.
    "spark.sql.session.timeZone": "UTC",
    # AQE = runtime re-planning: coalesce post-shuffle partitions, convert
    # to broadcast join when a side turns out small, split skewed joins
    # (Pig's USING 'skewed' — SURVEY.md §2.3 — for free).
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Respect the advisory partition size when coalescing instead of
    # stopping at default parallelism — the Spark docs' recommended
    # production setting.  Post-shuffle stages over small intermediates
    # run a handful of right-sized tasks rather than one tiny task per
    # core (measured r7: ~15% off the per-query constant on
    # floor-dominated queries at sf0.1, neutral on data-proportional
    # ones).  Iterative ops that must keep their per-round parallelism
    # under tiny test inputs pin it explicitly (plans/partitioning.py:
    # pin_partitions).
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
}


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Best-effort apply RUNTIME_CONFS to an existing session."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except AnalysisException:
            pass  # CANNOT_MODIFY_CONFIG on this build — proceed with defaults
    return spark


def get_spark(
    app_name: str = "pigout_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-oriented defaults.

    Local testing uses ``local[$SPARK_GRAFT_CPUS]``; on a real cluster the
    master comes from spark-submit and these confs still apply.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # local mode: one shuffle partition per core is right for the test
        # scale; a 1000-executor cluster overrides via extra_conf/submit.
        try:
            shuffle_partitions = int(cpus) if cpus != "*" else 32
        except ValueError:
            shuffle_partitions = 32

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Arrow for pandas_udf / mapInPandas / toPandas (the slow-path
        # escape hatch must at least be batched).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Don't let tiny local files produce one giant partition each at
        # scale; 128m is the parquet-friendly default.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
    )
    for k, v in RUNTIME_CONFS.items():
        b = b.config(k, v)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    # getOrCreate may have returned a pre-existing session → re-apply.
    return apply_runtime_confs(spark)
