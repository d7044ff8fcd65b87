"""Pig LOAD/STORE + the LoadFunc/StoreFunc families (SURVEY.md §2.1).

Pig's pluggable loaders map onto Spark's format registry; pushdown
(LoadPushDown / predicate pushdown into ORC+Parquet) is native to the
DataSource API — `.explain` shows PushedFilters/ReadSchema reaching the
scan, which is the §4.1 PartitionFilter/PredicatePushdown story for free.

| Pig loader            | here                              |
| PigStorage(delim)     | fmt="csv", sep=delim, header opt  |
| TextLoader            | fmt="text"                        |
| JsonLoader/Storage    | fmt="json"                        |
| Parquet               | fmt="parquet" (fixture default)   |
| OrcStorage            | fmt="orc"                         |
| AvroStorage           | fmt="avro" (needs spark-avro jar — gated) |
| SequenceFileLoader    | load_sequencefile / store_sequencefile (RDD API) |
| BinStorage            | interchange role → parquet; container round-trip → sequencefile |
| HBaseStorage          | out of scope (external connector) |
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

_FORMATS = {"parquet", "csv", "json", "text", "orc", "avro"}

_AVRO_AVAILABLE: bool | None = None


def avro_available(spark: SparkSession | None = None) -> bool:
    """True when the spark-avro module is on the session's classpath.
    Avro ships as an external Spark module (org.apache.spark:spark-avro);
    AvroStorage support is gated on detecting it rather than dropped —
    clusters that carry the jar get fmt='avro' with no code change."""
    global _AVRO_AVAILABLE
    if _AVRO_AVAILABLE is None:
        if spark is None:
            from pigout_spark.session import get_spark

            spark = get_spark()
        import shutil
        import tempfile

        # probe with a real one-row write: classpath checks false-positive
        # (avro *classes* can be present while the data source module is
        # not deployed); the result is cached for the process
        d = tempfile.mkdtemp(prefix="avro_probe")
        try:
            spark.createDataFrame([(1,)], "x int").write.format("avro").mode(
                "overwrite"
            ).save(f"{d}/probe")
            _AVRO_AVAILABLE = True
        except AnalysisException:  # "Failed to find data source: avro"
            _AVRO_AVAILABLE = False
        finally:
            shutil.rmtree(d, ignore_errors=True)
    return _AVRO_AVAILABLE


def _check_fmt(fmt: str) -> str:
    if fmt not in _FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; one of {sorted(_FORMATS)}")
    if fmt == "avro" and not avro_available():
        raise RuntimeError(
            "fmt='avro' needs the spark-avro jar on the classpath "
            "(org.apache.spark:spark-avro_2.13); not present in this session"
        )
    return fmt


def load(
    spark: SparkSession,
    uri: str,
    fmt: str = "parquet",
    schema: str | None = None,
    **options,
) -> DataFrame:
    """Pig `A = LOAD 'uri' USING fn(...) [AS (schema)]`.

    `schema` is a DDL string — the `AS` clause.  Without it, parquet/orc
    are self-describing and csv/json infer (Pig's schemaless bytearray
    mode narrowed to schema-on-read, divergence D2).
    """
    reader = spark.read.format(_check_fmt(fmt))
    if schema:
        reader = reader.schema(schema)
    elif fmt in ("csv", "json"):
        reader = reader.option("inferSchema", "true")
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load(uri)


def store(
    df: DataFrame,
    uri: str,
    fmt: str = "parquet",
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    **options,
) -> None:
    """Pig `STORE A INTO 'uri' USING fn;`

    ``partition_by`` writes a hive-layout sink (``k=v/`` directories) —
    beyond the Pig surface, but the standard 100 TB layout: downstream
    scans with a filter on a partition column prune whole directories
    (PartitionFilters in the scan, verified in test_sources.py) instead
    of reading 100 TB to keep 1%.  Choose low-cardinality columns
    (date, category); high-cardinality keys belong in bucketing
    (plans/bucketing.py) — millions of tiny partition dirs are their
    own scale bug.
    """
    writer = df.write.format(_check_fmt(fmt)).mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    for k, v in options.items():
        writer = writer.option(k, v)
    writer.save(uri)


# --- Hadoop SequenceFile (Pig SequenceFileLoader / BinStorage container) ---
# The DataFrame source registry has no sequencefile format, so this is
# one of the rare legitimate RDD-API uses (per-partition Hadoop IO).
# Both directions stay fully parallel: saveAsSequenceFile writes one
# file per partition; sc.sequenceFile splits on sync markers exactly
# like any Hadoop input format — the 100 TB story is the same as Pig's.


def store_sequencefile(
    df: DataFrame, uri: str, sep: str = "\t", key_col: str | None = None
) -> None:
    """STORE into a Text/Text SequenceFile.

    Layout mirrors Pig's common SequenceFile usage (PigStorage rows in a
    binary container): key = ``key_col`` (or the first column) as text,
    value = the remaining fields ``sep``-joined.  NULL renders as the
    empty string (PigStorage convention).
    """
    cols = list(df.columns)
    key = key_col or cols[0]
    if key not in cols:
        raise ValueError(f"key_col {key!r} not in {cols}")
    rest = [c for c in cols if c != key]

    def to_kv(row):
        def s(v):
            return "" if v is None else str(v)

        return (s(row[key]), sep.join(s(row[c]) for c in rest))

    df.rdd.map(to_kv).saveAsSequenceFile(uri)


def load_sequencefile(
    spark: SparkSession,
    uri: str,
    schema: str,
    sep: str = "\t",
) -> DataFrame:
    """LOAD a Text/Text SequenceFile written by store_sequencefile.

    ``schema`` is the DDL string (the Pig ``AS`` clause); the first
    schema column is the key, the rest parse from the ``sep``-joined
    value.  Empty string → NULL on non-string columns via the csv-style
    cast (Pig bytearray→type coercion, divergence D2)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    st = StructType.fromDDL(schema)
    names = [f.name for f in st.fields]
    rdd = spark.sparkContext.sequenceFile(uri)
    raw = spark.createDataFrame(rdd, "k string, v string")
    parts = F.split(F.col("v"), sep, -1)
    cols = [F.col("k").alias(names[0])] + [
        parts.getItem(i).alias(n) for i, n in enumerate(names[1:])
    ]
    out = raw.select(*cols)
    casts = [
        (F.when(F.col(f.name) != "", F.col(f.name)).cast(f.dataType)
         if f.dataType.typeName() != "string" else F.col(f.name)).alias(f.name)
        for f in st.fields
    ]
    return out.select(*casts)
