"""Core relational corpus — one query per SURVEY.md §2.1–2.6 operator.

Shapes follow Pig idioms (GROUP+FOREACH, COGROUP, SPLIT, nested FOREACH
top-k, RANK, CUBE) expressed Spark-first.  Every aggregate of a double
uses the dsum/davg decimal discipline (registry.py) so the DuckDB oracle
hash-matches exactly.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pigout_spark.functions.strings import TOKENIZE
from pigout_spark.operators.grouping import cogroup, cube_agg, nested_topk, rollup_agg
from pigout_spark.operators.joins import anti_join, cross, join, semi_join
from pigout_spark.operators.relational import filter_by, flatten, foreach, split
from pigout_spark.operators.sets import except_all, intersect, union
from pigout_spark.operators.sorting import order_by, rank
from pigout_spark.queries.registry import SQL_DAVG, SQL_DSUM, davg, dsum, query, t


def _ts(s: str):
    return F.lit(s).cast("timestamp_ntz")


# --- §2.4 GROUP + FOREACH-agg (the flagship: scan→filter→group→agg→order) ---
@query(
    "q01_group_agg",
    f"""
    SELECT l_returnflag, l_linestatus,
           {SQL_DSUM("l_quantity", "sum_qty")},
           {SQL_DSUM("l_extendedprice", "sum_base_price")},
           {SQL_DSUM("l_extendedprice * (1 - l_discount)", "sum_disc_price")},
           {SQL_DAVG("l_quantity", "avg_qty")},
           {SQL_DAVG("l_discount", "avg_disc")},
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q01_group_agg(spark, sf_dir):
    """Pig: GROUP filtered lineitem BY (flag,status); FOREACH GENERATE aggs.
    TPC-H-Q1-shaped: the spine of every Pig script (SURVEY.md §7 phase 1)."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= _ts("1998-09-02 00:00:00"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "sum_disc_price"),
            davg("l_quantity", "avg_qty"),
            davg("l_discount", "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# --- §3.1 the Latin front end itself, driver-checked end-to-end ---
@query(
    "x_latin_q01",
    f"""
    SELECT l_returnflag, l_linestatus,
           {SQL_DSUM("l_quantity", "sum_qty")},
           {SQL_DSUM("l_extendedprice", "sum_base_price")},
           {SQL_DSUM("l_extendedprice * (1 - l_discount)", "sum_disc_price")},
           {SQL_DAVG("l_quantity", "avg_qty")},
           {SQL_DAVG("l_discount", "avg_disc")},
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def x_latin_q01(spark, sf_dir):
    """q01 driven through the Pig Latin front end (latin.py): parse →
    translate → the same fused GROUP+FOREACH plan, hash-checked against
    the identical oracle as q01_group_agg.  The script applies the
    repo's cents discipline in Pig itself — ROUND(x*10000.0) projected
    before the group; integral doubles sum exactly (< 2^53), so the
    result is bit-identical to dsum/davg in any partitioning."""
    from pigout_spark.catalog import Catalog
    from pigout_spark.latin import run_script

    script = """
    li = LOAD 'lineitem';
    f  = FILTER li BY l_shipdate <= '1998-09-02 00:00:00';
    p  = FOREACH f GENERATE l_returnflag, l_linestatus,
           ROUND(l_quantity * 10000.0) AS q_c,
           ROUND(l_extendedprice * 10000.0) AS bp_c,
           ROUND(l_extendedprice * (1.0 - l_discount) * 10000.0) AS dp_c,
           ROUND(l_discount * 10000.0) AS d_c,
           l_quantity AS qty;
    g  = GROUP p BY (l_returnflag, l_linestatus);
    out = FOREACH g GENERATE FLATTEN(group),
           SUM(p.q_c) / 10000.0 AS sum_qty,
           SUM(p.bp_c) / 10000.0 AS sum_base_price,
           SUM(p.dp_c) / 10000.0 AS sum_disc_price,
           SUM(p.q_c) / 10000.0 / COUNT(p.qty) AS avg_qty,
           SUM(p.d_c) / 10000.0 / COUNT(p.qty) AS avg_disc,
           COUNT(p) AS count_order;
    """
    pig = run_script(spark, script, Catalog().register_fixture_dir(sf_dir))
    return pig.df("out")


@query(
    "x_latin_topk",
    """
    WITH r AS (
      SELECT o_orderpriority, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    )
    SELECT o_orderpriority, o_orderkey, o_totalprice FROM r WHERE rn <= 3
    """,
)
def x_latin_topk(spark, sf_dir):
    """The nested-FOREACH top-k block compiled by the Latin front end,
    hash-checked against the SQL window equivalent (the DataFrame-layer
    twin is q15_nested_topk).  The limit arrives via `-param` + the sort
    key via %declare, so parameter substitution sits in the checked
    path too."""
    from pigout_spark.catalog import Catalog
    from pigout_spark.latin import run_script

    script = """
    %declare SORTKEY 'o_totalprice';
    o = LOAD 'orders';
    g = GROUP o BY o_orderpriority;
    top = FOREACH g {
      s = ORDER o BY $SORTKEY DESC, o_orderkey ASC;
      l = LIMIT s $K;
      GENERATE group, FLATTEN(l);
    };
    """
    pig = run_script(
        spark, script, Catalog().register_fixture_dir(sf_dir), params={"K": "3"}
    )
    return pig.df("top").select("o_orderpriority", "o_orderkey", "o_totalprice")


# --- §2.2 ASSERT + FILTER + FOREACH/GENERATE (incl. CASE + IN) ---
@query(
    "q02_filter_project",
    """
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * l_discount AS revenue,
           CASE WHEN l_quantity < 10 THEN 'small'
                WHEN l_quantity < 30 THEN 'medium'
                ELSE 'large' END AS qty_class
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
      AND l_returnflag IN ('N', 'R')
    """,
)
def q02_filter_project(spark, sf_dir):
    """Pig: ASSERT li BY l_quantity > 0 (every fixture row satisfies it,
    so output — and the oracle — are unchanged while the distributed
    non-prunable check executes in the driver gate); FILTER BY compound
    predicate (incl. `flag IN (...)` — §2.2 IN operator, formerly q32);
    FOREACH GENERATE arith + CASE.  Row-level double arithmetic is
    IEEE-deterministic — no rounding needed."""
    from pigout_spark.operators.relational import assert_by

    li = assert_by(
        t(spark, sf_dir, "lineitem"),
        F.col("l_quantity") > 0,
        "lineitem quantity must be positive",
    )
    return foreach(
        filter_by(
            li,
            (F.col("l_shipdate") >= _ts("1996-01-01 00:00:00"))
            & (F.col("l_shipdate") < _ts("1997-01-01 00:00:00"))
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
            & F.col("l_returnflag").isin("N", "R"),
        ),
        "l_orderkey",
        "l_linenumber",
        (F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"),
        F.when(F.col("l_quantity") < 10, "small")
        .when(F.col("l_quantity") < 30, "medium")
        .otherwise("large")
        .alias("qty_class"),
    )


# --- §2.3 n-way shuffle join + group + top-k ---
@query(
    "q03_join_agg",
    f"""
    SELECT l.l_orderkey, o.o_orderdate, o.o_orderpriority,
           {SQL_DSUM("l.l_extendedprice * (1 - l.l_discount)", "revenue")}
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1996-06-01 00:00:00'
      AND l.l_shipdate  > TIMESTAMP '1996-06-01 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q03_join_agg(spark, sf_dir):
    """Pig: JOIN customer/orders/lineitem BY keys; GROUP; ORDER; LIMIT.
    TPC-H-Q3-shaped.  Catalyst plans SMJ/SHJ; AQE may broadcast the
    filtered customer side at runtime."""
    c = t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < _ts("1996-06-01 00:00:00")
    )
    li = t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > _ts("1996-06-01 00:00:00")
    )
    return (
        join(join(c, o, ([ "c_custkey"], ["o_custkey"])), li, (["o_orderkey"], ["l_orderkey"]))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


# --- §2.3 LEFT OUTER join ---
@query(
    "q04_outer_join",
    """
    SELECT c.c_custkey, COUNT(o.o_orderkey) AS order_cnt
    FROM customer c
    LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey
    """,
)
def q04_outer_join(spark, sf_dir):
    """Pig: JOIN customer BY c_custkey LEFT OUTER, orders BY o_custkey;
    then GROUP.  COUNT skips nulls (same in both systems) → 0 for
    order-less customers."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    return join(c, o, (["c_custkey"], ["o_custkey"]), how="left").groupBy(
        "c_custkey"
    ).agg(F.count("o_orderkey").alias("order_cnt"))


# --- §2.3 USING 'replicated' (fragment-replicate → broadcast) ---
@query(
    "q05_broadcast_join",
    f"""
    SELECT n.n_name,
           {SQL_DSUM("l.l_extendedprice * (1 - l.l_discount)", "revenue")}
    FROM region r
    JOIN nation n    ON n.n_regionkey = r.r_regionkey
    JOIN customer c  ON c.c_nationkey = n.n_nationkey
    JOIN orders o    ON o.o_custkey = c.c_custkey
    JOIN lineitem l  ON l.l_orderkey = o.o_orderkey
    JOIN supplier s  ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = c.c_nationkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n.n_name
    """,
)
def q05_broadcast_join(spark, sf_dir):
    """Pig: JOIN ... USING 'replicated' for the small dims.  TPC-H-Q5-
    shaped 6-way join; region/nation/supplier broadcast (the fragment-
    replicate plan), the lineitem⋈orders shuffle is the only big one."""
    r = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = t(spark, sf_dir, "nation")
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1996-01-01 00:00:00"))
        & (F.col("o_orderdate") < _ts("1997-01-01 00:00:00"))
    )
    li = t(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier")
    nr = join(n, r, (["n_regionkey"], ["r_regionkey"]), using="replicated")
    cn = join(c, nr, (["c_nationkey"], ["n_nationkey"]), using="replicated")
    oc = join(o, cn, (["o_custkey"], ["c_custkey"]))
    lo = join(li, oc, (["l_orderkey"], ["o_orderkey"]))
    ls = join(
        lo,
        s,
        (F.col("s_suppkey") == F.col("l_suppkey"))
        & (F.col("s_nationkey") == F.col("c_nationkey")),
        using="replicated",
    )
    return ls.groupBy("n_name").agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue")
    )


# --- §2.3 semi/anti (Pig COGROUP+IsEmpty idiom → first-class) ---
@query(
    "q06_semi_anti",
    """
    SELECT c_mktsegment, 'with_orders' AS kind, COUNT(*) AS n
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c_mktsegment
    UNION ALL
    SELECT c_mktsegment, 'without_orders' AS kind, COUNT(*) AS n
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c_mktsegment
    """,
)
def q06_semi_anti(spark, sf_dir):
    """Pig idiom: COGROUP customer/orders; FILTER BY [not] IsEmpty(orders)
    → left_semi / left_anti, one shuffle each instead of two."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    with_o = (
        semi_join(c, o, (["c_custkey"], ["o_custkey"]))
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
        .select("c_mktsegment", F.lit("with_orders").alias("kind"), "n")
    )
    without_o = (
        anti_join(c, o, (["c_custkey"], ["o_custkey"]))
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
        .select("c_mktsegment", F.lit("without_orders").alias("kind"), "n")
    )
    return union(with_o, without_o)


# --- §2.3 CROSS + theta-join idiom ---
@query(
    "q07_cross_theta",
    """
    SELECT s.s_nationkey AS nationkey, COUNT(*) AS pairs
    FROM supplier s, customer c
    WHERE s.s_nationkey = c.c_nationkey AND s.s_acctbal > c.c_acctbal
    GROUP BY s.s_nationkey
    """,
)
def q07_cross_theta(spark, sf_dir):
    """Pig idiom: CROSS supplier, customer; FILTER BY theta predicate.
    Expressed as a join *condition* so Catalyst plans an equi-join with a
    residual filter instead of materializing the product."""
    s = t(spark, sf_dir, "supplier")
    c = t(spark, sf_dir, "customer")
    pairs = cross(
        s, c, (F.col("s_nationkey") == F.col("c_nationkey")) & (F.col("s_acctbal") > F.col("c_acctbal"))
    )
    return pairs.groupBy(F.col("s_nationkey").alias("nationkey")).agg(
        F.count(F.lit(1)).alias("pairs")
    )


# --- §2.6 UNION + §2.4 DISTINCT ---
@query(
    "q08_union_distinct",
    """
    SELECT DISTINCT nk FROM (
      SELECT c_nationkey AS nk FROM customer
      UNION ALL
      SELECT s_nationkey AS nk FROM supplier
    )
    """,
)
def q08_union_distinct(spark, sf_dir):
    """Pig: U = UNION A, B; D = DISTINCT U.  UNION keeps duplicates
    (bag union), DISTINCT dedupes whole tuples."""
    c = t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nk"))
    s = t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nk"))
    return union(c, s).distinct()


# --- §2.5 ORDER BY + LIMIT (top-k) ---
@query(
    "q09_order_limit",
    """
    SELECT l_orderkey, l_linenumber, l_extendedprice
    FROM lineitem
    ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
    LIMIT 15
    """,
)
def q09_order_limit(spark, sf_dir):
    """Pig: ORDER A BY price DESC; LIMIT 15.  Catalyst plans
    TakeOrderedAndProject (per-partition top-k + merge — no global sort),
    Pig's LimitOptimizer equivalent."""
    li = t(spark, sf_dir, "lineitem")
    return order_by(
        li.select("l_orderkey", "l_linenumber", "l_extendedprice"),
        F.desc("l_extendedprice"),
        "l_orderkey",
        "l_linenumber",
    ).limit(15)


# --- §2.5 RANK [DENSE] ---
@query(
    "q10_rank",
    sql="""
    SELECT c_custkey, c_acctbal,
           RANK() OVER (ORDER BY c_acctbal DESC) AS rnk,
           DENSE_RANK() OVER (ORDER BY c_acctbal DESC) AS drnk
    FROM customer
    """,
)
def q10_rank(spark, sf_dir):
    """Pig: RANK A BY acctbal DESC [DENSE].  Global window — fine for a
    dimension-sized input; full-relation ranking at scale uses the
    two-pass row_rank (operators/sorting.py, SURVEY.md §7-H3)."""
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("c_acctbal"))
    return c.withColumn("rnk", F.rank().over(w)).withColumn(
        "drnk", F.dense_rank().over(w)
    )


# --- §2.4 CUBE ---
@query(
    "q11_cube",
    f"""
    SELECT l_returnflag, l_linestatus,
           {SQL_DSUM("l_quantity", "sum_qty")},
           COUNT(*) AS n
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def q11_cube(spark, sf_dir):
    """Pig: CUBE A BY CUBE(flag,status).  Pig fills rolled-up dims with
    'all'; both engines here use the SQL NULL convention."""
    li = t(spark, sf_dir, "lineitem")
    return cube_agg(
        li,
        ["l_returnflag", "l_linestatus"],
        [dsum("l_quantity", "sum_qty"), F.count(F.lit(1)).alias("n")],
    )


# --- §2.4 ROLLUP ---
@query(
    "q12_rollup",
    f"""
    SELECT o_orderstatus, o_orderpriority,
           {SQL_DSUM("o_totalprice", "sum_price")},
           COUNT(*) AS n
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def q12_rollup(spark, sf_dir):
    """Pig: CUBE A BY ROLLUP(status, priority) — hierarchical rollup."""
    o = t(spark, sf_dir, "orders")
    return rollup_agg(
        o,
        ["o_orderstatus", "o_orderpriority"],
        [dsum("o_totalprice", "sum_price"), F.count(F.lit(1)).alias("n")],
    )


# --- §2.2 FOREACH + FLATTEN(TOKENIZE(...)) — the Pig wordcount idiom ---
@query(
    "q13_flatten_tokenize",
    """
    WITH toks AS (
      SELECT unnest(list_filter(string_split_regex(text, '[ ",()*]'),
                                x -> x <> '')) AS token
      FROM documents
    )
    SELECT token, COUNT(*) AS cnt FROM toks GROUP BY token
    """,
)
def q13_flatten_tokenize(spark, sf_dir):
    """Pig: FOREACH docs GENERATE FLATTEN(TOKENIZE(text)); GROUP; COUNT —
    the canonical Pig wordcount.  TOKENIZE delimiter class ' ",()*'
    reproduced exactly (functions/strings.py)."""
    d = t(spark, sf_dir, "documents").select(TOKENIZE("text").alias("tokens"))
    return (
        flatten(d, "tokens", prefix="token")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


# --- §2.4 COGROUP (n-ary, side-by-side bags) ---
@query(
    "q14_cogroup",
    """
    SELECT COALESCE(cc.nk, ss.nk) AS nationkey,
           COALESCE(cc.n, 0) AS n_custs,
           COALESCE(ss.n, 0) AS n_supps
    FROM      (SELECT c_nationkey AS nk, COUNT(*) AS n FROM customer GROUP BY 1) cc
    FULL JOIN (SELECT s_nationkey AS nk, COUNT(*) AS n FROM supplier GROUP BY 1) ss
    ON cc.nk = ss.nk
    """,
)
def q14_cogroup(spark, sf_dir):
    """Pig: COGROUP customer BY c_nationkey, supplier BY s_nationkey;
    GENERATE group, COUNT(customer), COUNT(supplier).  Bags materialize
    per side then full-outer join on key; absent keys get EMPTY bags
    (size 0), not null — Pig semantics."""
    c = t(spark, sf_dir, "customer")
    s = t(spark, sf_dir, "supplier")
    cg = cogroup([c, s], ["c_nationkey", "s_nationkey"], bag_names=["custs", "supps"])
    return cg.select(
        F.col("group").alias("nationkey"),
        F.size("custs").cast("long").alias("n_custs"),
        F.size("supps").cast("long").alias("n_supps"),
    )


# --- §2.2 nested FOREACH { ORDER; LIMIT } — per-group top-k ---
@query(
    "q15_nested_topk",
    """
    SELECT o_custkey, o_orderkey, o_totalprice,
           ROW_NUMBER() OVER (PARTITION BY o_custkey
                              ORDER BY o_totalprice DESC, o_orderkey) AS rn
    FROM orders
    QUALIFY rn <= 3
    """,
)
def q15_nested_topk(spark, sf_dir):
    """Pig: FOREACH (GROUP orders BY o_custkey) { t = ORDER orders BY
    o_totalprice DESC; t = LIMIT t 3; GENERATE FLATTEN(t); } — rewritten
    to a window row_number: one shuffle on the group key, no bags."""
    o = t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_totalprice")
    return nested_topk(
        o,
        "o_custkey",
        [F.desc("o_totalprice"), F.asc("o_orderkey")],
        3,
        keep_rank="rn",
    )


# --- §2.6 INTERSECT / EXCEPT (Pig idioms via COGROUP+IsEmpty → first-class) ---
@query(
    "q17_intersect_except",
    """
    SELECT 'both' AS kind, COUNT(*) AS n FROM (
      SELECT DISTINCT l_partkey FROM lineitem WHERE l_quantity < 5
      INTERSECT
      SELECT DISTINCT l_partkey FROM lineitem WHERE l_quantity >= 45
    )
    UNION ALL
    SELECT 'only_low' AS kind, COUNT(*) AS n FROM (
      SELECT DISTINCT l_partkey FROM lineitem WHERE l_quantity < 5
      EXCEPT
      SELECT DISTINCT l_partkey FROM lineitem WHERE l_quantity >= 45
    )
    """,
)
def q17_intersect_except(spark, sf_dir):
    """Set ops the reference lacks (Pig idiom: COGROUP + IsEmpty):
    parts appearing in both low- and high-quantity lines vs only low."""
    li = t(spark, sf_dir, "lineitem")
    low = li.filter(F.col("l_quantity") < 5).select("l_partkey").distinct()
    high = li.filter(F.col("l_quantity") >= 45).select("l_partkey").distinct()
    both = intersect(low, high).agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("both").alias("kind"), "n"
    )
    only_low = except_all(low, high).agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("only_low").alias("kind"), "n"
    )
    return union(both, only_low)


# --- §2.2 SPLIT ... OTHERWISE ---
@query(
    "q16_split",
    f"""
    SELECT 'low' AS branch, COUNT(*) AS n, {SQL_DSUM("l_quantity", "sum_qty")}
    FROM lineitem WHERE l_quantity < 10
    UNION ALL
    SELECT 'high' AS branch, COUNT(*) AS n, {SQL_DSUM("l_quantity", "sum_qty")}
    FROM lineitem WHERE l_quantity >= 40
    UNION ALL
    SELECT 'mid' AS branch, COUNT(*) AS n, {SQL_DSUM("l_quantity", "sum_qty")}
    FROM lineitem WHERE NOT (l_quantity < 10) AND NOT (l_quantity >= 40)
    """,
)
def q16_split(spark, sf_dir):
    """Pig: SPLIT lineitem INTO low IF q<10, high IF q>=40, mid OTHERWISE;
    Branches re-unioned into one action here, so no persist needed
    (multi-action scripts pass persist=True under plans.MultiSinkPlan)."""
    li = t(spark, sf_dir, "lineitem").select("l_quantity")
    branches = split(
        li,
        {"low": F.col("l_quantity") < 10, "high": F.col("l_quantity") >= 40},
        otherwise="mid",
    )
    parts = [
        df.agg(F.count(F.lit(1)).alias("n"), dsum("l_quantity", "sum_qty")).select(
            F.lit(name).alias("branch"), "n", "sum_qty"
        )
        for name, df in branches.items()
    ]
    return union(*parts)


# --- §2.3 bloom join (Pig BuildBloom / Bloom) ---
@query(
    "q38_bloom_join",
    f"""
    SELECT p.p_brand, COUNT(*) AS n_items,
           {SQL_DSUM("l.l_quantity", "sum_qty")}
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_size >= 45
    GROUP BY p.p_brand
    """,
)
def q38_bloom_join(spark, sf_dir):
    """Pig `DEFINE bb BuildBloom(...)` + `FILTER ... BY Bloom(key)` +
    JOIN: build the filter on the (selective) dim side, pre-filter the
    fact side before the shuffle, then the exact join — bloom false
    positives are eliminated by the join itself, so results equal the
    plain join (the oracle).  operators/bloom.py."""
    from pigout_spark.operators.bloom import bloom_join

    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part").filter(F.col("p_size") >= 45)
    return bloom_join(li, part, "l_partkey", "p_partkey").groupBy(
        "p_brand"
    ).agg(
        F.count(F.lit(1)).alias("n_items"),
        dsum("l_quantity", "sum_qty"),
    )
