"""Dataset catalog — the PigOut federation-catalog analog.

PigOut maps logical dataset names → (cluster, HDFS path) and uses that
mapping to partition a Pig Latin DAG across clusters (SURVEY.md §1.4,
§2.10).  In Spark the whole federation layer collapses: one SparkSession
reads any mix of ``hdfs://cluster-N/...``, ``s3a://...``, ``file:/...``
URIs in a single plan, so the catalog is *just* the registry — no DAG
partitioning, no script generation, no coordinator (intentional
architecture divergence D5, SURVEY.md §3.4).

A ``Catalog`` entry may carry a post-load transform (e.g. the events
table's nanosecond-timestamp normalization) so every consumer sees one
canonical schema.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pigout_spark.session import apply_runtime_confs

#: The fixture tables (TESTDATA.md).  `events.ts` is TIMESTAMP(NANOS) on
#: disk; Spark reads it as long-nanos (legacy conf) and we normalize to
#: TIMESTAMP_NTZ microseconds here — consumers never see the long.
FIXTURE_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _normalize_events(df: DataFrame) -> DataFrame:
    """events.ts arrives as long nanoseconds (see session.RUNTIME_CONFS).

    Convert to TIMESTAMP_NTZ at microsecond precision (integer division —
    no float round-trip).  Queries must still avoid *emitting* raw ts:
    the DuckDB oracle keeps nanosecond precision (FIXTURES.md gotchas).
    """
    if dict(df.dtypes).get("ts") in ("bigint", "long"):
        df = df.withColumn(
            "ts", F.expr("CAST(timestamp_micros(ts DIV 1000) AS TIMESTAMP_NTZ)")
        )
    return df


@dataclass
class TableSpec:
    uri: str
    fmt: str = "parquet"
    options: dict[str, str] = field(default_factory=dict)
    schema: str | None = None  # DDL string — the Pig `AS (...)` analog
    transform: Callable[[DataFrame], DataFrame] | None = None


class Catalog:
    """Logical name → TableSpec registry.

    URIs may point at different clusters/filesystems — that IS the
    federation story (SURVEY.md §2.10): register ``hdfs://c1/...`` and
    ``hdfs://c2/...`` tables and join them in one plan.
    """

    def __init__(self) -> None:
        self._tables: dict[str, TableSpec] = {}

    def register(
        self,
        name: str,
        uri: str,
        fmt: str = "parquet",
        options: dict[str, str] | None = None,
        schema: str | None = None,
        transform: Callable[[DataFrame], DataFrame] | None = None,
    ) -> "Catalog":
        self._tables[name] = TableSpec(uri, fmt, options or {}, schema, transform)
        return self

    def register_fixture_dir(self, sf_dir: str) -> "Catalog":
        """Register the standard fixture tables rooted at ``sf_dir``."""
        for name in FIXTURE_TABLES:
            self.register(
                name,
                f"{sf_dir.rstrip('/')}/{name}.parquet",
                transform=_normalize_events if name == "events" else None,
            )
        return self

    def names(self) -> list[str]:
        return sorted(self._tables)

    def load(self, spark: SparkSession, name: str) -> DataFrame:
        if name not in self._tables:
            raise KeyError(f"table {name!r} not registered; have {self.names()}")
        spec = self._tables[name]
        df = self._raw_load(spark, spec)
        if spec.transform is not None:
            df = spec.transform(df)
        return df

    def _raw_load(self, spark: SparkSession, spec: TableSpec) -> DataFrame:
        apply_runtime_confs(spark)  # the driver's session may lack our confs
        reader = spark.read.format(spec.fmt)
        if spec.schema:
            reader = reader.schema(spec.schema)
        for k, v in spec.options.items():
            reader = reader.option(k, v)
        return reader.load(spec.uri)

    def load_stream(self, spark: SparkSession, name: str) -> DataFrame:
        """readStream variant of load(): the registered URI becomes a
        file-stream source (new files = new micro-batches).  The schema
        is taken from a batch read of what's already there — production
        registries declare it in the TableSpec instead.  Post-load
        transforms apply identically, so batch-developed pipelines move
        to streaming unchanged (streaming/windows.py parity)."""
        import os

        if name not in self._tables:
            raise KeyError(f"table {name!r} not registered; have {self.names()}")
        spec = self._tables[name]
        apply_runtime_confs(spark)
        # raw (pre-transform) schema: the stream reader sees the file
        # layout; transforms apply after
        schema = spec.schema or self._raw_load(spark, spec).schema
        reader = spark.readStream.format(spec.fmt).schema(schema)
        for k, v in spec.options.items():
            reader = reader.option(k, v)
        uri = spec.uri
        if os.path.isfile(uri.removeprefix("file:")):
            # file-stream sources require a directory: stream the parent
            # filtered to this table's file(s)
            reader = reader.option("pathGlobFilter", os.path.basename(uri))
            uri = os.path.dirname(uri)
        df = reader.load(uri)
        if spec.transform is not None:
            df = spec.transform(df)
        return df

    def create_temp_views(self, spark: SparkSession) -> None:
        """Expose every table to spark.sql() — the Grunt/`alias` analog."""
        for name in self._tables:
            self.load(spark, name).createOrReplaceTempView(name)


#: applicationId → the entries ``memo`` keeps for it (one application).
_MEMO: dict[str, dict] = {}


def memo(spark: SparkSession, key: tuple, build: Callable[[], object]) -> object:
    """Return the value stored under ``key`` for this application, or call
    ``build()`` once and store its result.  Table handles, built query
    plans and k-means codebooks are kept here: resolving a table re-reads
    its parquet footer (~50-100 ms of py4j and schema work), and a
    registered query or codebook is a pure function of its inputs.

    Entries live as long as one application: the first call from a new
    ``applicationId`` drops every entry of the previous one.

    STALENESS CONTRACT: a kept table handle captures the parquet file
    index at first load, and plans and codebooks built from it inherit
    that, so REWRITING a fixture path mid-application yields stale reads
    until ``invalidate_table_cache()`` is called (Spark's own ``REFRESH
    TABLE`` has the identical contract).  Tests that rewrite fixtures must
    invalidate explicitly."""
    app = spark.sparkContext.applicationId
    if app not in _MEMO:
        _MEMO.clear()
        _MEMO[app] = {}
    entries = _MEMO[app]
    if key not in entries:
        entries[key] = build()
    return entries[key]


def invalidate_table_cache() -> None:
    """Drop every memoized table handle, plan and codebook (the
    ``REFRESH TABLE`` analog)."""
    _MEMO.clear()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Fixture loader used throughout queries and tests (memoized)."""
    return memo(
        spark,
        ("table", sf_dir, name),
        lambda: Catalog().register_fixture_dir(sf_dir).load(spark, name),
    )
