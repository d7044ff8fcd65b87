"""UDF-surface corpus (SURVEY.md §2.9) + the remaining §2 operators:
STREAM THROUGH, literal GROUP-bag consumption, UNION ONSCHEMA, SAMPLE,
datetime arithmetic, IN-filter.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import functions as F

from pigout_spark.functions.udf import algebraic_agg, eval_func, udtf
from pigout_spark.operators.grouping import group_bag
from pigout_spark.operators.relational import hash_sample, sample, stream_through
from pigout_spark.operators.sets import union_onschema
from pigout_spark.queries.registry import SQL_DSUM, dsum, query, t


# --- §2.9 EvalFunc → Arrow-batched scalar pandas_udf ---
@query(
    "q24_pandas_udf",
    f"""
    SELECT l_returnflag,
           {SQL_DSUM("l_extendedprice * (1 - l_discount)", "revenue")},
           COUNT(*) AS n
    FROM lineitem
    WHERE l_discount < 0.06
    GROUP BY l_returnflag
    """,
)
def q24_pandas_udf(spark, sf_dir):
    """Pig EvalFunc analog: per-row revenue computed in an Arrow-batched
    pandas_udf (IEEE double ops — bit-identical to the SQL expression),
    then decimal-disciplined aggregation.  A DISCRIMINATIVE FilterFunc
    precedes it — discount < 0.06 drops roughly half the fixture rows
    and is mirrored in the oracle WHERE, so a boolean UDF returning
    wrong verdicts hash-mismatches (r5: the r4 predicate passed every
    row by construction and could not catch a broken FilterFunc).
    Demonstrates the UDF escape hatch staying vectorized."""
    from pigout_spark.functions.udf import filter_func

    @eval_func("double")
    def revenue(price: pd.Series, disc: pd.Series) -> pd.Series:
        return price * (1 - disc)

    @filter_func
    def low_discount(disc: pd.Series) -> pd.Series:
        return disc < 0.06

    li = t(spark, sf_dir, "lineitem").filter(low_discount("l_discount"))
    return (
        li.withColumn("rev", revenue("l_extendedprice", "l_discount"))
        .groupBy("l_returnflag")
        .agg(dsum("rev", "revenue"), F.count(F.lit(1)).alias("n"))
    )


# --- §2.9 Algebraic/Accumulator → GROUPED_AGG pandas_udf ---
@query(
    "q25_udaf",
    """
    SELECT o_orderstatus,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
           COUNT(*) AS n
    FROM orders GROUP BY o_orderstatus
    """,
)
def q25_udaf(spark, sf_dir):
    """Pig Algebraic UDAF analog: custom aggregate as a GROUPED_AGG
    pandas_udf.  Sums integer cents — order-free exact arithmetic, so
    the oracle is a plain SQL SUM."""

    @algebraic_agg("long")
    def cents_sum(x: pd.Series) -> int:
        return int((x * 100).round().sum())

    @algebraic_agg("long")
    def n_rows(x: pd.Series) -> int:
        # GROUPED_AGG UDFs cannot mix with built-in aggregates in one
        # agg() — the count is a UDF too.
        return int(len(x))

    o = t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        cents_sum("o_totalprice").alias("cents"), n_rows("o_totalprice").alias("n")
    )


# --- §2.9 bag-returning EvalFunc + FLATTEN (UDTF) ---
@query(
    "q26_udtf",
    """
    WITH grams AS (
      SELECT unnest(list_transform(range(1, length(p_brand)),
                                   i -> substr(p_brand, CAST(i AS INT), 2))) AS bigram
      FROM part
    )
    SELECT bigram, COUNT(*) AS n FROM grams GROUP BY bigram
    """,
)
def q26_udtf(spark, sf_dir):
    """Pig bag-returning EvalFunc consumed by FLATTEN: a Python UDF
    yields the bag (char bigrams), explode multiplies rows."""

    @eval_func("array<string>")
    def bigrams(s: pd.Series) -> pd.Series:
        return s.map(lambda v: [v[i : i + 2] for i in range(len(v) - 1)])

    p = t(spark, sf_dir, "part")
    out = udtf(p.select(bigrams("p_brand").alias("bs")), F.col("bs"), "bigram")
    return out.groupBy("bigram").agg(F.count(F.lit(1)).alias("n"))


# --- §2.9 scripted UDFs through the Latin front end (oracle extra) ---
@query(
    "x_latin_udf",
    """
    SELECT l_returnflag,
           CASE WHEN l_quantity < 10 THEN 'small' ELSE 'large' END AS qty_class,
           COUNT(*) AS n,
           MIN(l_extendedprice * (1 - l_discount)) AS min_net
    FROM lineitem GROUP BY l_returnflag,
           CASE WHEN l_quantity < 10 THEN 'small' ELSE 'large' END
    """,
)
def x_latin_udf(spark, sf_dir):
    """REGISTER'd Python script UDFs driven through a Pig script and
    hash-checked: classify() groups rows, net_price() feeds MIN (per-row
    IEEE double — bit-identical to the SQL expression; MIN is
    order-independent).  Also exercises FLATTEN(group) AS renames."""
    from pathlib import Path

    from pigout_spark.catalog import Catalog
    from pigout_spark.latin import run_script

    udfs = Path(__file__).resolve().parents[2] / "examples" / "udfs.py"
    script = f"""
    REGISTER '{udfs}' AS fns;
    li = LOAD 'lineitem';
    p = FOREACH li GENERATE l_returnflag,
          fns.classify(l_quantity) AS qty_class,
          fns.net_price(l_extendedprice, l_discount) AS net;
    g = GROUP p BY (l_returnflag, qty_class);
    out = FOREACH g GENERATE FLATTEN(group) AS (l_returnflag, qty_class),
          COUNT(p) AS n, MIN(p.net) AS min_net;
    """
    pig = run_script(spark, script, Catalog().register_fixture_dir(sf_dir))
    return pig.df("out")


# --- §2.2 STREAM ... THROUGH (external executable) ---
@query(
    "q27_stream_through",
    """
    SELECT CAST(o_orderkey AS VARCHAR) AS k, o_orderstatus AS s
    FROM orders
    """,
)
def q27_stream_through(spark, sf_dir):
    """Pig `STREAM A THROUGH \\`cat\\``: rows round-trip through an
    external process via the TSV line protocol (mapInPandas +
    subprocess).  Identity command → the oracle is the projection
    itself (strings only: the line protocol is untyped, D2)."""
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    return stream_through(o, ["cat"], "k string, s string")


# --- §2.4 literal GROUP bag, consumed as a value ---
@query(
    "q28_group_bag",
    """
    SELECT s_nationkey AS nationkey,
           array_to_string(list_sort(list(s_name)), ',') AS names,
           COUNT(*) AS n
    FROM supplier GROUP BY s_nationkey
    """,
)
def q28_group_bag(spark, sf_dir):
    """Pig GROUP with the bag consumed whole (BagToString over a sorted
    bag).  collect_list → array_sort → array_join; bag order is
    unspecified in Pig, so canonicalize by sorting (§7-H1)."""
    s = t(spark, sf_dir, "supplier")
    g = group_bag(s.select("s_nationkey", "s_name"), "s_nationkey")
    return g.select(
        F.col("s_nationkey").alias("nationkey"),
        F.array_join(F.array_sort(F.transform("bag", lambda r: r["s_name"])), ",").alias(
            "names"
        ),
        F.size("bag").cast("long").alias("n"),
    )


# --- §2.6 UNION ONSCHEMA ---
@query(
    "q29_union_onschema",
    """
    SELECT c_custkey AS id, c_name AS name, CAST(NULL AS DOUBLE) AS bal
    FROM customer
    UNION ALL
    SELECT s_suppkey AS id, CAST(NULL AS VARCHAR) AS name, s_acctbal AS bal
    FROM supplier
    """,
)
def q29_union_onschema(spark, sf_dir):
    """Pig UNION ONSCHEMA: union by column name, null-filling columns
    missing on either side."""
    c = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"), F.col("c_name").alias("name")
    )
    s = t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("id"), F.col("s_acctbal").alias("bal")
    )
    return union_onschema(c, s)


# --- §2.2 SAMPLE ---
@query(
    "q30_sample",
    """
    SELECT l_orderkey, l_linenumber FROM lineitem
    WHERE ('0x' || substring(md5(coalesce(l_orderkey::VARCHAR, chr(0))
                                 || '|' ||
                                 coalesce(l_linenumber::VARCHAR, chr(0))),
                             1, 8))::BIGINT
          % 10000 < 1000
    """,
)
def q30_sample(spark, sf_dir):
    """Pig `SAMPLE A 0.1` via the deterministic md5 hash-sample — the
    oracle-checkable variant (identical row selection in any engine).
    Pig's own Bernoulli semantics stay available as `sample()`
    (x_sample_bernoulli extra, rows-only by nature)."""
    li = t(spark, sf_dir, "lineitem")
    return hash_sample(
        li.select("l_orderkey", "l_linenumber"),
        0.1,
        ["l_orderkey", "l_linenumber"],
    )


@query("x_sample_bernoulli")
def x_sample_bernoulli(spark, sf_dir):
    """Pig `SAMPLE A 0.1` literal semantics — Bernoulli, seeded for
    Spark-side reproducibility; rows-only (engines sample differently)."""
    li = t(spark, sf_dir, "lineitem")
    return sample(li.select("l_orderkey", "l_linenumber"), 0.1, seed=42)


# --- §2.7 datetime arithmetic (AddDuration / *Between) ---
# Folded into q19_date_funcs for the driver's 50-query window; kept here
# as a locally-verified extra (tools/selfcheck.py --extra).
@query(
    "q31_datetime_arith",
    sql="""
    SELECT month(o_orderdate) AS m,
           COUNT(*) AS n,
           MIN(o_orderdate + INTERVAL 3 MONTH) AS first_plus3m,
           MAX(date_diff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate))
             AS max_days_since
    FROM orders GROUP BY month(o_orderdate)
    """,
)
def q31_datetime_arith(spark, sf_dir):
    """Pig AddDuration('P3M') and DaysBetween over order dates."""
    from pigout_spark.functions.datetime_fns import ADD_DURATION

    o = t(spark, sf_dir, "orders")
    return o.groupBy(F.month("o_orderdate").alias("m")).agg(
        F.count(F.lit(1)).alias("n"),
        F.min(ADD_DURATION("o_orderdate", "P3M")).alias("first_plus3m"),
        F.max(
            F.datediff(
                "o_orderdate", F.lit("1995-01-01 00:00:00").cast("timestamp_ntz")
            )
        ).alias("max_days_since"),
    )


# --- §2.2 IN operator ---
# Folded into q02_filter_project for the driver's 50-query window.
@query(
    "q32_in_filter",
    sql="""
    SELECT o_orderstatus, COUNT(*) AS n
    FROM orders
    WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
    GROUP BY o_orderstatus
    """,
)
def q32_in_filter(spark, sf_dir):
    """Pig `FILTER A BY p IN (...)` → isin."""
    o = t(spark, sf_dir, "orders")
    return (
        o.filter(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
    )
