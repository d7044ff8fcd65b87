"""Scalar-function corpus (SURVEY.md §2.7) — string/date/JSON builtins
exercised with their Pig semantics against SQL oracles written in each
engine's *native* convention, so the index-convention wrappers (D4) are
actually verified, not just mirrored.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pigout_spark.functions.strings import (
    CONCAT,
    INDEXOF,
    LAST_INDEX_OF,
    LOWER,
    REPLACE,
    SUBSTRING,
    UPPER,
)
from pigout_spark.queries.registry import query, t


# --- §2.7 string builtins with Pig index conventions (D4) ---
# One wide projection covering both string rounds (formerly q18 + q35 —
# folded to stay inside the driver's 50-query window).
@query(
    "q18_string_funcs",
    sql="""
    SELECT c_custkey,
           substring(c_name, 1, 8) AS name_prefix,
           strpos(c_name, '_') - 1 AS underscore_at,
           upper(c_mktsegment) AS seg_upper,
           regexp_replace(c_name, '[0-9]+', '#', 'g') AS name_masked,
           c_name || '/' || c_mktsegment AS name_seg,
           length(c_name) AS name_len,
           trim('  ' || c_mktsegment || ' ') AS seg_trim,
           starts_with(c_name, 'Customer') AS is_cust,
           CASE WHEN c_name LIKE '%1' THEN TRUE ELSE FALSE END AS ends_1,
           regexp_extract(c_name, '([0-9]+)', 1) AS digits,
           printf('%05d/%s', c_custkey, c_mktsegment) AS tag,
           string_split(c_name, '_')[2] AS name_part2,
           upper(substring(c_mktsegment, 1, 1)) || lower(substring(c_mktsegment, 2))
             AS seg_title
    FROM customer
    """,
)
def q18_string_funcs(spark, sf_dir):
    """Pig builtins SUBSTRING (0-based stop-exclusive), INDEXOF (0-based,
    -1 missing), UPPER, REPLACE (regex!), CONCAT, SIZE, TRIM,
    STARTSWITH/ENDSWITH, REGEX_EXTRACT (1-based group), SPRINTF,
    STRSPLIT (+ positional tuple projection), UCFIRST title casing — the
    oracle uses DuckDB's native 1-based functions, so a convention slip
    fails the hash (SURVEY.md §7-H4)."""
    from pigout_spark.functions.strings import (
        ENDSWITH,
        REGEX_EXTRACT,
        SPRINTF,
        STARTSWITH,
        STRSPLIT,
        TRIM,
    )

    c = t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        SUBSTRING("c_name", 0, 8).alias("name_prefix"),
        INDEXOF("c_name", "_").alias("underscore_at"),
        UPPER("c_mktsegment").alias("seg_upper"),
        REPLACE("c_name", "[0-9]+", "#").alias("name_masked"),
        CONCAT("c_name", F.lit("/"), "c_mktsegment").alias("name_seg"),
        F.length("c_name").cast("long").alias("name_len"),
        TRIM(F.concat(F.lit("  "), F.col("c_mktsegment"), F.lit(" "))).alias("seg_trim"),
        STARTSWITH("c_name", "Customer").alias("is_cust"),
        ENDSWITH("c_name", "1").alias("ends_1"),
        REGEX_EXTRACT("c_name", "([0-9]+)", 1).alias("digits"),
        SPRINTF("%05d/%s", "c_custkey", "c_mktsegment").alias("tag"),
        F.get(STRSPLIT("c_name", "_"), 1).alias("name_part2"),
        F.concat(
            F.upper(F.substring("c_mktsegment", 1, 1)),
            F.lower(F.expr("substring(c_mktsegment, 2)")),
        ).alias("seg_title"),
    )


# --- §2.7 date/time builtins (incl. AddDuration / DaysBetween arith,
# --- formerly q31 — folded to stay inside the driver's 50-query window) ---
@query(
    "q19_date_funcs",
    """
    SELECT event_type,
           year(ts) AS y, month(ts) AS m,
           COUNT(*) AS n,
           MIN(CAST(date_trunc('day', ts) AS TIMESTAMP)) AS first_day,
           MAX(date_part('hour', ts)) AS max_hour,
           MIN(CAST(date_trunc('day', ts) AS TIMESTAMP) + INTERVAL 3 MONTH)
             AS first_day_plus3m,
           MAX(date_diff('day', TIMESTAMP '2024-01-01 00:00:00',
                         CAST(date_trunc('day', ts) AS TIMESTAMP)))
             AS max_days_since
    FROM events
    GROUP BY event_type, year(ts), month(ts)
    """,
)
def q19_date_funcs(spark, sf_dir):
    """Pig GetYear/GetMonth/GetHour + grouping + AddDuration('P3M') and
    DaysBetween arithmetic.  Raw ts is never emitted (nanosecond fixture
    vs microsecond Spark — FIXTURES.md gotcha); day-truncated timestamps
    are safe."""
    from pigout_spark.functions.datetime_fns import ADD_DURATION

    e = t(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts").cast("timestamp_ntz")
    return e.groupBy(
        "event_type",
        F.year("ts").alias("y"),
        F.month("ts").alias("m"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.min(day).alias("first_day"),
        F.max(F.hour("ts")).alias("max_hour"),
        F.min(ADD_DURATION(day, "P3M")).alias("first_day_plus3m"),
        F.max(
            F.datediff(day, F.lit("2024-01-01 00:00:00").cast("timestamp_ntz"))
        ).alias("max_days_since"),
    )


# --- extension surface: JSON scalar functions (reference has only JsonLoader) ---
@query(
    "q20_json",
    """
    SELECT event_type,
           CAST(SUM(CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT))
                AS BIGINT) AS sum_k,
           COUNT(*) AS n
    FROM events
    GROUP BY event_type
    """,
)
def q20_json(spark, sf_dir):
    """events.props is a JSON string (FIXTURES.md).  Spark side uses the
    real JSON path function (get_json_object); the oracle parses with a
    regex so it does not depend on DuckDB's JSON extension."""
    e = t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.sum(F.get_json_object("props", "$.k").cast("long")).alias("sum_k"),
        F.count(F.lit(1)).alias("n"),
    )


# --- §1.1 scalar projection (1×1 relation used as a scalar) ---
@query(
    "q21_scalar_projection",
    """
    SELECT c_nationkey, COUNT(*) AS n_above
    FROM customer
    WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(20,4))) AS DOUBLE)
                              / COUNT(c_acctbal) FROM customer)
    GROUP BY c_nationkey
    """,
)
def q21_scalar_projection(spark, sf_dir):
    """Pig scalar projection: `B = GROUP A ALL; FOREACH A ... B.avg` —
    a 1×1 relation used as a scalar.  Spark-first: crossJoin(broadcast(
    global agg)) — no driver-side collect, stays one plan."""
    c = t(spark, sf_dir, "customer")
    avg_df = c.agg(
        (
            F.sum(F.col("c_acctbal").cast("decimal(20,4)")).cast("double")
            / F.count("c_acctbal")
        ).alias("__avg")
    )
    return (
        c.crossJoin(F.broadcast(avg_df))
        .filter(F.col("c_acctbal") > F.col("__avg"))
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_above"))
    )


# --- §2.4 DISTINCT aggregates ---
@query(
    "q22_distinct_agg",
    """
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS n_parts,
           COUNT(DISTINCT l_suppkey) AS n_supps,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q22_distinct_agg(spark, sf_dir):
    """Pig nested FOREACH { d = DISTINCT A.partkey; GENERATE COUNT(d) } →
    count_distinct, no bag materialization."""
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count_distinct("l_partkey").alias("n_parts"),
        F.count_distinct("l_suppkey").alias("n_supps"),
        F.count(F.lit(1)).alias("n"),
    )


# --- §2.7 COR / COV builtins (Pig 0.8+: correlation & covariance) ---
@query(
    "q33_corr_cov",
    """
    WITH s AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             CAST(SUM(CAST(CAST(l_quantity AS BIGINT) AS HUGEINT)) AS DOUBLE) AS sx,
             CAST(SUM(CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS HUGEINT)) AS DOUBLE) AS sy,
             CAST(SUM(CAST(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT) AS HUGEINT)) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(CAST(round(l_extendedprice * 100) AS BIGINT)
                           * CAST(round(l_extendedprice * 100) AS BIGINT) AS HUGEINT)) AS DOUBLE) AS syy,
             CAST(SUM(CAST(CAST(l_quantity AS BIGINT)
                           * CAST(round(l_extendedprice * 100) AS BIGINT) AS HUGEINT)) AS DOUBLE) AS sxy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           (n * sxy - sx * sy) / (n * (n - 1)) / 100.0 AS cov_samp,
           (n * sxy - sx * sy)
             / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) AS corr
    FROM s
    """,
)
def q33_corr_cov(spark, sf_dir):
    """Pig COR/COV builtins (quantity vs extendedprice per returnflag).
    Component sums are SCALE-0 integers (quantity integral; price in
    cents — the trend_fit integerized contract), summed exactly, then
    one deterministic IEEE formula; cov_samp reads out in original
    dollar units via one shared /100 (correlation is scale-invariant).
    r12 fix: the previous DECIMAL(·,4) sums hash-matched up to sf0.1
    but diverged at sf1 in the LAST ULP of one corr — once the scaled
    integer exceeds 2^53, DuckDB's decimal→double (int128 cast, then
    /10⁴ — two roundings) can differ from Java BigDecimal's single
    correctly-rounded conversion; scale-0 sums make the cast ONE
    rounding of an exact integer in both engines at any n.  (The
    native corr()/covar() aggregates stream differently per engine
    and would not hash-match at all.)"""
    from pyspark.sql import functions as F  # noqa: F811

    li = t(spark, sf_dir, "lineitem")
    qc = F.col("l_quantity").cast("bigint")
    pc = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(qc.cast("decimal(38,0)")).cast("double").alias("sx"),
        F.sum(pc.cast("decimal(38,0)")).cast("double").alias("sy"),
        F.sum((qc * qc).cast("decimal(38,0)")).cast("double").alias("sxx"),
        F.sum((pc * pc).cast("decimal(38,0)")).cast("double").alias("syy"),
        F.sum((qc * pc).cast("decimal(38,0)")).cast("double").alias("sxy"),
    )
    n = F.col("n")
    num = n * F.col("sxy") - F.col("sx") * F.col("sy")
    return s.select(
        "l_returnflag",
        "n",
        (num / (n * (n - 1)) / F.lit(100.0)).alias("cov_samp"),
        (
            num
            / (
                F.sqrt(n * F.col("sxx") - F.col("sx") * F.col("sx"))
                * F.sqrt(n * F.col("syy") - F.col("sy") * F.col("sy"))
            )
        ).alias("corr"),
    )


# --- beyond-reference: partitioned window functions (Pig has only RANK) ---
@query(
    "q23_window_lag",
    """
    WITH seq AS (
      SELECT user_id, event_id,
             date_diff('second',
                       lag(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id),
                       ts) AS gap_s
      FROM events
    )
    SELECT user_id, COUNT(*) AS n_events,
           COUNT(gap_s) AS n_gaps, CAST(SUM(gap_s) AS BIGINT) AS total_gap_s
    FROM seq GROUP BY user_id
    """,
)
def q23_window_lag(spark, sf_dir):
    """Beyond-reference (Pig has no lag/lead — SURVEY.md §2.5): per-user
    event gaps.  Gap uses floor-to-second diffs, identical under the
    ns→µs fixture truncation."""
    from pyspark.sql import Window

    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id",
        "event_id",
        (
            F.unix_timestamp(F.col("ts").cast("timestamp"))
            - F.unix_timestamp(F.lag("ts").over(w).cast("timestamp"))
        ).alias("gap_s"),
    )
    return seq.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count("gap_s").alias("n_gaps"),
        F.sum("gap_s").alias("total_gap_s"),
    )


# --- §2.7 math builtins (ABS CEIL FLOOR ROUND ROUND_TO SQRT LOG LOG10 SIN) ---
@query(
    "q34_math_funcs",
    """
    SELECT p_partkey,
           abs(p_size - 25) AS size_dev,
           CAST(ceil(p_retailprice) AS BIGINT) AS price_ceil,
           CAST(floor(p_retailprice) AS BIGINT) AS price_floor,
           CAST(round(p_retailprice) AS BIGINT) AS price_round,
           round(p_retailprice, 1) AS price_round1,
           sqrt(p_size) AS size_sqrt,
           round(ln(p_retailprice), 6) AS price_ln,
           round(log10(p_retailprice), 6) AS price_log10,
           round(sin(p_size), 6) AS size_sin,
           p_size % 7 AS size_mod
    FROM part
    """,
)
def q34_math_funcs(spark, sf_dir):
    """Pig math builtins (SURVEY.md §2.7) — 1:1 to pyspark.sql.functions.
    Exact ops (ABS/CEIL/FLOOR/ROUND/SQRT/MOD) hash-match raw; the
    transcendentals (LOG/LOG10/SIN) are libm-implementation-specific at
    the last ulp, so both sides round to 6 decimals (a 1-ulp divergence
    flips the 6th digit with probability ~1e-10 — deterministic in
    practice, and the convention is documented here for the oracle)."""
    p = t(spark, sf_dir, "part")
    sz, price = F.col("p_size"), F.col("p_retailprice")
    return p.select(
        "p_partkey",
        F.abs(sz - 25).alias("size_dev"),
        F.ceil(price).alias("price_ceil"),
        F.floor(price).alias("price_floor"),
        F.round(price).cast("long").alias("price_round"),
        F.round(price, 1).alias("price_round1"),
        F.sqrt(sz).alias("size_sqrt"),
        F.round(F.log(price), 6).alias("price_ln"),
        F.round(F.log10(price), 6).alias("price_log10"),
        F.round(F.sin(sz), 6).alias("size_sin"),
        (sz % 7).alias("size_mod"),
    )


# --- §2.7 string builtins, part 2 (trim/affix/regex/sprintf/split/case) ---
# Folded into q18_string_funcs for the driver's 50-query window.
@query(
    "q35_string_funcs2",
    sql="""
    SELECT c_custkey,
           trim('  ' || c_mktsegment || ' ') AS seg_trim,
           starts_with(c_name, 'Customer') AS is_cust,
           CASE WHEN c_name LIKE '%1' THEN TRUE ELSE FALSE END AS ends_1,
           regexp_extract(c_name, '([0-9]+)', 1) AS digits,
           printf('%05d/%s', c_custkey, c_mktsegment) AS tag,
           string_split(c_name, '_')[2] AS name_part2,
           upper(substring(c_mktsegment, 1, 1)) || lower(substring(c_mktsegment, 2))
             AS seg_title
    FROM customer
    """,
)
def q35_string_funcs2(spark, sf_dir):
    """Pig string builtins round 2 (SURVEY.md §2.7): TRIM, STARTSWITH /
    ENDSWITH, REGEX_EXTRACT (1-based group), SPRINTF, STRSPLIT (+ element
    projection — Pig tuples project positionally), UCFIRST+LOWER title
    casing.  Oracle uses DuckDB-native forms so the D4 wrappers are
    verified against an independent convention."""
    from pigout_spark.functions.strings import (
        ENDSWITH,
        REGEX_EXTRACT,
        SPRINTF,
        STARTSWITH,
        STRSPLIT,
        TRIM,
    )

    c = t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        TRIM(F.concat(F.lit("  "), F.col("c_mktsegment"), F.lit(" "))).alias("seg_trim"),
        STARTSWITH("c_name", "Customer").alias("is_cust"),
        ENDSWITH("c_name", "1").alias("ends_1"),
        REGEX_EXTRACT("c_name", "([0-9]+)", 1).alias("digits"),
        SPRINTF("%05d/%s", "c_custkey", "c_mktsegment").alias("tag"),
        F.get(STRSPLIT("c_name", "_"), 1).alias("name_part2"),
        F.concat(
            F.upper(F.substring("c_mktsegment", 1, 1)),
            F.lower(F.expr("substring(c_mktsegment, 2)")),
        ).alias("seg_title"),
    )


# --- §2.7 string builtins round 3: the last three reference builtins
# --- (VERDICT r8 gap #2) — STRSPLITTOBAG, REGEX_EXTRACT_ALL, UniqueID ---
@query(
    "q39_string_funcs3",
    sql="""
    SELECT regexp_extract(c_name, '^(?:([A-Za-z]+)#([0-9]+))$', 1)
             AS name_word,
           CAST(count(*) AS BIGINT) AS n_customers,
           -- UNIQUE_ID is unique per record by contract, so its distinct
           -- count must equal the distinct-key count (values themselves
           -- are run-dependent in BOTH engines' analogs)
           CAST(count(DISTINCT c_custkey) AS BIGINT) AS n_uids,
           CAST(sum(len(string_split(c_name, '#'))) AS BIGINT)
             AS total_toks,
           CAST(sum(CAST(regexp_extract(
                 c_name, '^(?:([A-Za-z]+)#([0-9]+))$', 2) AS BIGINT))
             AS BIGINT) AS sum_num,
           min(string_split(c_name, '#')[-1]) AS min_last_tok,
           CAST(sum(CASE WHEN regexp_matches(c_name, '^(?:.*[13579])$')
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_odd
    FROM customer
    GROUP BY 1
    ORDER BY 1
    """,
)
def q39_string_funcs3(spark, sf_dir):
    """The final three §2.7 builtins.  STRSPLITTOBAG (bag == array here;
    size + last-element projection — both engines wrap Java-split
    trailing-empty semantics), REGEX_EXTRACT_ALL (ANCHORED full-string
    match returning ALL capture groups as a struct, NULL on no-match —
    the D4 find-vs-matches trap, verified by the partial-only
    ``.*[13579]`` pattern where an unanchored port would over-match),
    and UniqueID (per-record unique id; only uniqueness is contractual,
    checked as count_distinct(uid) == count_distinct(key)).  One
    partial-agg groupBy — no extra exchange beyond the agg itself."""
    from pigout_spark.functions.strings import (
        REGEX_EXTRACT_ALL,
        STRSPLITTOBAG,
        UNIQUE_ID,
    )

    c = t(spark, sf_dir, "customer")
    per = c.select(
        "c_custkey",
        UNIQUE_ID().alias("uid"),
        REGEX_EXTRACT_ALL("c_name", r"([A-Za-z]+)#([0-9]+)").alias("m"),
        STRSPLITTOBAG("c_name", "#").alias("toks"),
        REGEX_EXTRACT_ALL("c_name", r"(.*[13579])").isNotNull().alias(
            "is_odd"
        ),
    )
    return (
        per.groupBy(F.col("m.group_1").alias("name_word"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.count_distinct("uid").alias("n_uids"),
            F.sum(F.size("toks")).cast("long").alias("total_toks"),
            F.sum(F.col("m.group_2").cast("long")).alias("sum_num"),
            F.min(F.element_at("toks", -1)).alias("min_last_tok"),
            F.sum(F.when(F.col("is_odd"), 1).otherwise(0))
            .cast("long")
            .alias("n_odd"),
        )
        .orderBy("name_word")
    )


# --- beyond-reference: exact percentiles (the DataFu Quantile analog —
# --- Pig itself has no percentile builtin; DataFu's was the standard add-on) ---
@query(
    "q36_percentiles",
    """
    SELECT l_returnflag,
           median(l_quantity) AS med_qty,
           quantile_cont(l_quantity, 0.9) AS p90_qty,
           quantile_disc(l_extendedprice, 0.5) AS med_price_disc,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q36_percentiles(spark, sf_dir):
    """Exact per-group percentiles: continuous (interpolated between
    order statistics — deterministic, no float-summation-order issues)
    and discrete (an actual data value).  Spark `percentile` ==
    DuckDB `quantile_cont`; `percentile_disc`'s lower-bound convention
    matches `quantile_disc`."""
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_quantity, 0.5)").alias("med_qty"),
        F.expr("percentile(l_quantity, 0.9)").alias("p90_qty"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY l_extendedprice)").alias(
            "med_price_disc"
        ),
        F.count(F.lit(1)).alias("n"),
    )


# --- §2.7 map constructors & ops (TOMAP, KEYSET, VALUELIST, m#'key') ---
@query(
    "q37_map_ops",
    sql="""
    SELECT c_custkey,
           'name,seg' AS keys_sorted,
           c_mktsegment AS seg_val,
           c_name || '|' || c_mktsegment AS vals_joined,
           CAST(2 AS BIGINT) AS n_keys
    FROM customer
    """,
)
def q37_map_ops(spark, sf_dir):
    """Pig map ops (SURVEY.md §2.7): TOMAP construction, KEYSET,
    VALUELIST, SIZE, and the `m#'key'` lookup (element_at).  Map keys
    here are constants, so the oracle states the expected output
    directly — the Spark side must actually round-trip through a real
    MapType column to reproduce it."""
    from pigout_spark.functions.bags import KEYSET, SIZE, TO_MAP, VALUELIST

    c = t(spark, sf_dir, "customer")
    m = TO_MAP(F.lit("name"), F.col("c_name"), F.lit("seg"), F.col("c_mktsegment"))
    withm = c.select("c_custkey", m.alias("m"))
    return withm.select(
        "c_custkey",
        F.array_join(F.array_sort(KEYSET("m")), ",").alias("keys_sorted"),
        F.element_at("m", F.lit("seg")).alias("seg_val"),
        F.array_join(VALUELIST("m"), "|").alias("vals_joined"),
        SIZE("m").alias("n_keys"),
    )


# --- §2.5 scalable RANK BY / bare RANK — the repo's scale story for
# --- Pig RANK (no keyless global window); rotated INTO the driver
# --- window in r4 (q10's plain-window variant is the local extra) ---
@query(
    "x_rank_by_scalable",
    """
    SELECT c_custkey,
           RANK() OVER (ORDER BY c_acctbal DESC) AS rnk,
           DENSE_RANK() OVER (ORDER BY c_acctbal DESC) AS drnk
    FROM customer
    """,
)
def x_rank_by_scalable(spark, sf_dir):
    """rank_by (no keyless global window: MIN(row_number) over the key
    group / distinct-key join) must hash-match SQL RANK/DENSE_RANK —
    the scale-safe plan produces bit-identical rank values."""
    from pigout_spark.operators.sorting import rank_by

    c = t(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    r = rank_by(c, ["c_acctbal"], [False], out="rnk")
    d = rank_by(c, ["c_acctbal"], [False], dense=True, out="drnk").select(
        "c_custkey", "drnk"
    )
    return r.join(d, "c_custkey").select(
        "c_custkey", F.col("rnk").cast("int"), F.col("drnk").cast("int")
    )


@query(
    "x_row_rank_two_pass",
    """
    SELECT l_orderkey, l_linenumber,
           CAST(ROW_NUMBER() OVER (ORDER BY l_extendedprice, l_orderkey,
                                   l_linenumber) AS BIGINT) AS rn
    FROM lineitem
    """,
)
def x_row_rank_two_pass(spark, sf_dir):
    """Bare RANK (unique row numbers, Pig POCounter two-pass) over a
    deterministic total order must hash-match SQL ROW_NUMBER."""
    from pigout_spark.operators.sorting import row_rank

    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    return row_rank(
        li, "l_extendedprice", "l_orderkey", "l_linenumber", out="rn"
    ).select("l_orderkey", "l_linenumber", "rn")
