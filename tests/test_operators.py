"""Relational operator semantics (SURVEY.md §2.2–2.6)."""

from __future__ import annotations

import logging
import re
import time
from contextlib import contextmanager

from pyspark.sql import Row
from pyspark.sql import functions as F

from pigout_spark.operators import (
    anti_join,
    cogroup,
    cross,
    flatten,
    join,
    row_rank,
    sample,
    semi_join,
    split,
    union,
    union_onschema,
)
from pigout_spark.operators.grouping import group_bag, nested_topk
from pigout_spark.operators.relational import assert_by, stream_through


def test_join_strategies_same_result(spark):
    a = spark.createDataFrame([(1, "x"), (2, "y"), (3, "z")], ["k", "va"])
    b = spark.createDataFrame([(1, 10), (3, 30), (4, 40)], ["k", "vb"])
    base = sorted(join(a, b, "k").collect())
    assert sorted(join(a, b, "k", using="replicated").collect()) == base
    assert sorted(join(a, b, "k", using="skewed").collect()) == base
    assert sorted(join(a, b, "k", using="merge").collect()) == base
    assert len(base) == 2


@contextmanager
def _broadcast_threshold(spark, value):
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, str(value))
    try:
        yield
    finally:
        spark.conf.set(key, old)


def _tpch(spark, sf_dir):
    """BUILDING customers, orders and lineitem of the fixture; at
    sf0.001 they hold 5.1 kB, 36 kB and 117 kB by Spark's estimate."""
    read = lambda name: spark.read.parquet(f"{sf_dir}/{name}.parquet")  # noqa: E731
    c = read("customer").filter(F.col("c_mktsegment") == "BUILDING")
    return c, read("orders"), read("lineitem")


def _sized_calls(monkeypatch):
    """Record the inputs the default join counts to size them."""
    from pigout_spark.operators import joins

    calls = []
    real = joins.counted_bytes

    def record(df, threshold, label):
        calls.append(label)
        return real(df, threshold, label)

    monkeypatch.setattr(joins, "counted_bytes", record)
    return calls


def _rows(df):
    return sorted(df.select("l_orderkey", "l_linenumber", "o_custkey").collect())


def _static_plan(df):
    return re.sub(r"plan_id=\d+", "", df._jdf.queryExecution().executedPlan().toString())


def _job_descriptions(sc, group):
    """The descriptions of the jobs Spark ran in job group ``group``,
    read once the status store has seen all of them."""
    want = len(sc.statusTracker().getJobIdsForGroup(group))
    for _ in range(50):
        seen = sc._jsc.sc().statusStore().jobsList(None)
        jobs = [seen.apply(i) for i in range(seen.size())]
        jobs = [j for j in jobs if j.jobGroup().isDefined() and j.jobGroup().get() == group]
        if len(jobs) == want:
            return sorted({j.description().get() for j in jobs})
        time.sleep(0.1)
    raise AssertionError(f"the status store saw {len(jobs)} of {want} jobs")


def test_join_broadcasts_a_small_join_output(spark, sf_dir, monkeypatch, caplog):
    """An inner join whose input is a shuffle-free join output, against
    an input estimated above autoBroadcastJoinThreshold, counts that
    input under its own job description and broadcasts it: its counted
    bytes fit the threshold.  Sizing stores nothing, and the large side
    is read where it lies, with no exchange."""
    from pigout_spark.pipeline import iterate

    c, o, li = _tpch(spark, sf_dir)
    keys = (["o_orderkey"], ["l_orderkey"])
    with _broadcast_threshold(spark, -1):
        want = _rows(join(join(c, o, (["c_custkey"], ["o_custkey"])), li, keys))
    calls = _sized_calls(monkeypatch)
    caplog.set_level(logging.DEBUG, logger=iterate.__name__)
    sc = spark.sparkContext
    persisted = sc._jsc.getPersistentRDDs().size()
    sc.setJobGroup("join-sizing-on", "outer")
    try:
        with _broadcast_threshold(spark, 64 << 10):
            out = join(join(c, o, (["c_custkey"], ["o_custkey"])), li, keys)
            plan = _static_plan(out)
        assert sc.getLocalProperty("spark.job.description") == "outer"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert calls == ["join: size input"]
    assert _job_descriptions(sc, "join-sizing-on") == ["join: size input"]
    (line,) = [r.getMessage() for r in caplog.records if r.name == iterate.__name__]
    assert re.fullmatch(r"join input: \d+ bytes, threshold 65536: broadcast", line)
    assert sc._jsc.getPersistentRDDs().size() == persisted
    assert plan.count("BroadcastExchange") == 2
    assert "SortMergeJoin" not in plan and "hashpartitioning" not in plan
    assert _rows(out) == want and len(want) > 0


def test_join_counts_a_large_join_output_no_further_than_the_threshold(spark, sf_dir):
    """The count behind a sizing stops one row past the threshold."""
    from pigout_spark.pipeline.iterate import counted_bytes

    c, o, _ = _tpch(spark, sf_dir)
    co = join(o, c, (["o_custkey"], ["c_custkey"]), using="replicated")
    width = 8 + co._jdf.schema().defaultSize()
    rows = co.count()
    assert counted_bytes(co, 1 << 30, "size") == rows * width
    assert counted_bytes(co, 10 * width, "size") == 11 * width < rows * width


def test_join_sized_input_over_threshold_plans_as_before(spark, sf_dir, monkeypatch, caplog):
    """Below the sized input's counted bytes the join gets today's plan,
    with the same rows."""
    from pigout_spark.pipeline import iterate

    c, o, li = _tpch(spark, sf_dir)
    co = join(o, c, (["o_custkey"], ["c_custkey"]), using="replicated")
    keys = (["o_orderkey"], ["l_orderkey"])
    with _broadcast_threshold(spark, -1):
        want = _rows(join(co, li, keys))
    calls = _sized_calls(monkeypatch)
    caplog.set_level(logging.DEBUG, logger=iterate.__name__)
    with _broadcast_threshold(spark, 1024):
        out = join(co, li, keys)
        plan = _static_plan(out)
        plain = _static_plan(co.join(li, co["o_orderkey"] == li["l_orderkey"]))
    assert calls == ["join: size input"]
    (line,) = [r.getMessage() for r in caplog.records if r.name == iterate.__name__]
    assert line.endswith("threshold 1024: no broadcast")
    assert plan == plain and "SortMergeJoin" in plan
    assert _rows(out) == want


def test_join_sizing_off_at_threshold_minus_one_starts_no_job(spark, sf_dir):
    c, o, li = _tpch(spark, sf_dir)
    sc = spark.sparkContext
    sc.setJobGroup("join-sizing-off", "building a join")
    try:
        with _broadcast_threshold(spark, -1):
            co = join(o, c, (["o_custkey"], ["c_custkey"]), using="replicated")
            out = join(co, li, (["o_orderkey"], ["l_orderkey"]))
            plain = co.join(li, co["o_orderkey"] == li["l_orderkey"])
            assert _static_plan(out) == _static_plan(plain)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup("join-sizing-off")) == []


def test_join_never_sizes_an_input_with_a_shuffle(spark, sf_dir, monkeypatch):
    """A join over a groupBy is more than one map stage: it is joined
    as it is."""
    c, o, li = _tpch(spark, sf_dir)
    keys = (["o_orderkey"], ["l_orderkey"])
    per_cust = o.groupBy("o_custkey").agg(F.max("o_orderkey").alias("o_orderkey"))
    side = join(per_cust, c, (["o_custkey"], ["c_custkey"]), using="replicated")
    co = join(o, c, (["o_custkey"], ["c_custkey"]), using="replicated")
    calls = _sized_calls(monkeypatch)
    with _broadcast_threshold(spark, 64 << 10):
        join(co, li, keys)  # the same join without the groupBy is sized
        assert calls == ["join: size input"]
        plan = _static_plan(join(side, li, keys))
        plain = _static_plan(side.join(li, side["o_orderkey"] == li["l_orderkey"]))
    assert calls == ["join: size input"] and plan == plain


def test_join_sizes_nothing_when_the_other_input_fits(spark, sf_dir, monkeypatch):
    """At the default 10 MB threshold the fixture's lineitem already
    fits, so Spark's own planner decides and nothing is counted."""
    c, o, li = _tpch(spark, sf_dir)
    co = join(c, o, (["c_custkey"], ["o_custkey"]))
    calls = _sized_calls(monkeypatch)
    out = join(co, li, (["o_orderkey"], ["l_orderkey"]))
    plain = co.join(li, co["o_orderkey"] == li["l_orderkey"])
    assert calls == [] and _static_plan(out) == _static_plan(plain)


def test_outer_and_using_joins_plan_as_before(spark, sf_dir, monkeypatch):
    """Only an inner join without USING is sized: outer joins and the
    replicated, merge and skewed strategies plan exactly as the plain
    Spark join (or the salted join) they always were."""
    c, o, li = _tpch(spark, sf_dir)
    co = join(c, o, (["c_custkey"], ["o_custkey"]))
    cond = co["o_orderkey"] == li["l_orderkey"]
    calls = _sized_calls(monkeypatch)
    with _broadcast_threshold(spark, 64 << 10):
        for how in ("left", "right", "full"):
            got = join(co, li, (["o_orderkey"], ["l_orderkey"]), how=how)
            assert _static_plan(got) == _static_plan(co.join(li, cond, how))
        got = join(co, li, (["o_orderkey"], ["l_orderkey"]), using="replicated")
        assert _static_plan(got) == _static_plan(co.join(F.broadcast(li), cond))
        got = join(co, li, (["o_orderkey"], ["l_orderkey"]), using="merge")
        assert _static_plan(got) == _static_plan(co.hint("merge").join(li, cond))
        join(co, li, (["o_orderkey"], ["l_orderkey"]), using="skewed")
    assert calls == []


def test_outer_join_null_keys_do_not_match(spark):
    # Pig & Spark agree: null keys never match (SURVEY.md §1.2).
    a = spark.createDataFrame([(None, "x"), (1, "y")], "k int, va string")
    b = spark.createDataFrame([(None, 10), (1, 11)], "k int, vb int")
    got = join(a, b, (["k"], ["k"]), how="full").count()
    assert got == 3  # (1,1) matches; two null rows null-extend


def test_semi_anti(spark):
    a = spark.createDataFrame([(1,), (2,), (3,)], ["k"])
    b = spark.createDataFrame([(2,), (3,), (4,)], ["k"])
    assert sorted(r.k for r in semi_join(a, b, "k").collect()) == [2, 3]
    assert sorted(r.k for r in anti_join(a, b, "k").collect()) == [1]


def test_cross_and_theta(spark):
    a = spark.createDataFrame([(1,), (2,)], ["x"])
    b = spark.createDataFrame([(10,), (20,)], ["y"])
    assert cross(a, b).count() == 4
    theta = cross(a, b, F.col("x") * 10 < F.col("y"))
    assert sorted((r.x, r.y) for r in theta.collect()) == [(1, 20)]


def test_cogroup_empty_bags_not_null(spark):
    a = spark.createDataFrame([(1, "a1"), (2, "a2")], ["k", "v"])
    b = spark.createDataFrame([(2, "b2"), (3, "b3")], ["k", "v"])
    cg = cogroup([a, b], ["k", "k"], bag_names=["ba", "bb"])
    rows = {r.group: (len(r.ba), len(r.bb)) for r in cg.collect()}
    assert rows == {1: (1, 0), 2: (1, 1), 3: (0, 1)}  # empty bag, never null


def test_cogroup_inner_drops_empty(spark):
    a = spark.createDataFrame([(1, "a1"), (2, "a2")], ["k", "v"])
    b = spark.createDataFrame([(2, "b2"), (3, "b3")], ["k", "v"])
    cg = cogroup([a, b], ["k", "k"], inner=True)
    assert [r.group for r in cg.collect()] == [2]


def test_group_bag_multiset(spark):
    df = spark.createDataFrame([(1, "a"), (1, "a"), (1, "b")], ["k", "v"])
    bag = group_bag(df, "k").first()["bag"]
    assert sorted(r.v for r in bag) == ["a", "a", "b"]  # duplicates kept


def test_flatten_variants(spark):
    df = spark.createDataFrame([Row(k=1, bag=["a", "b"]), Row(k=2, bag=[])])
    assert flatten(df, "bag").count() == 2  # empty bag drops row (Pig)
    assert flatten(df, "bag", outer=True).count() == 3  # keep-empty variant
    st = spark.createDataFrame([Row(k=1, s=Row(x=1, y=2))])
    assert set(flatten(st, "s").columns) == {"k", "x", "y"}
    mp = spark.createDataFrame([Row(k=1, m={"a": 1, "b": 2})])
    fm = flatten(mp, "m")
    assert set(fm.columns) == {"k", "m_key", "m_value"} and fm.count() == 2


def test_split_otherwise_handles_null_predicates(spark):
    # Pig OTHERWISE catches rows where every predicate is false OR null.
    df = spark.createDataFrame([(1,), (5,), (None,)], "x int")
    parts = split(
        df, {"low": F.col("x") < 3, "high": F.col("x") >= 5}, otherwise="rest"
    )
    assert [r.x for r in parts["low"].collect()] == [1]
    assert [r.x for r in parts["high"].collect()] == [5]
    assert [r.x for r in parts["rest"].collect()] == [None]


def test_union_onschema_null_fills(spark):
    a = spark.createDataFrame([(1, "x")], ["k", "va"])
    b = spark.createDataFrame([(2, 9.5)], ["k", "vb"])
    u = union_onschema(a, b)
    assert set(u.columns) == {"k", "va", "vb"}
    assert u.count() == 2
    assert union(a, a).count() == 2  # duplicates kept (bag union)


def test_sample_deterministic_with_seed(spark, sf_dir):
    from pigout_spark.catalog import load_table

    li = load_table(spark, sf_dir, "lineitem")
    n1 = sample(li, 0.1, seed=42).count()
    n2 = sample(li, 0.1, seed=42).count()
    assert n1 == n2 and 0 < n1 < 6000


def test_hash_sample_deterministic_and_partition_stable(spark, sf_dir):
    """md5 hash-sample selects the SAME rows regardless of seed/run/
    partitioning (unlike Bernoulli), and the kept fraction concentrates
    around f.  Cross-engine identity is pinned by q30_sample's oracle."""
    from pigout_spark.catalog import load_table
    from pigout_spark.operators.relational import hash_sample

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber"
    )
    keys = ["l_orderkey", "l_linenumber"]
    a = {tuple(r) for r in hash_sample(li, 0.1, keys).collect()}
    b = {tuple(r) for r in hash_sample(li.repartition(7), 0.1, keys).collect()}
    assert a == b and a  # identical rows under a different partitioning
    n = li.count()
    assert 0.07 * n < len(a) < 0.13 * n
    # same key ⇒ same verdict across relations: orderkey-sampled orders
    # and lineitems stay join-consistent
    o = load_table(spark, sf_dir, "orders")
    so = {r.o_orderkey for r in hash_sample(o, 0.2, ["o_orderkey"]).collect()}
    sl = {
        r.l_orderkey
        for r in hash_sample(
            load_table(spark, sf_dir, "lineitem"), 0.2, ["l_orderkey"]
        ).collect()
    }
    all_l = {
        r.l_orderkey
        for r in load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey")
        .collect()
    }
    assert sl == {k for k in all_l if k in so}


def test_hash_sample_null_keys_cross_engine(spark):
    """NULL key components must neither collide nor get oracle-dropped:
    each component is coalesced to a \\x00 sentinel before concat, so
    the DuckDB twin (coalesce || '|' || coalesce) selects the SAME rows.
    Bare concat_ws would skip NULLs ((NULL,'x') == ('x',NULL)) while
    DuckDB's || nulls the whole key (ADVICE r4)."""
    import duckdb

    from pigout_spark.operators.relational import hash_sample

    rows = [(1, "x", None), (2, None, "x"), (3, None, None), (4, "x", "y")] + [
        (i, f"k{i}", f"v{i % 7}") for i in range(5, 400)
    ]
    df = spark.createDataFrame(rows, ["id", "a", "b"])
    got = {r.id for r in hash_sample(df, 0.5, ["a", "b"]).collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE t (id INT, a VARCHAR, b VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?)", rows)
    want = {
        r[0]
        for r in con.execute(
            """
            SELECT id FROM t
            WHERE ('0x' || substring(md5(
                      coalesce(a, chr(0)) || '|' || coalesce(b, chr(0))
                  ), 1, 8))::BIGINT % 10000 < 5000
            """
        ).fetchall()
    }
    con.close()
    assert got == want  # NULL-keyed rows 1-3 get the same verdict on both


def test_row_rank_two_pass(spark):
    df = spark.createDataFrame([(v,) for v in [30, 10, 20, 40, 5]], ["x"]).repartition(3)
    ranked = row_rank(df, "x")
    got = {r.x: r.rank for r in ranked.collect()}
    assert got == {5: 1, 10: 2, 20: 3, 30: 4, 40: 5}
    # entirely JVM-side: no Python runner ("Scan ExistingRDD" here is the
    # createDataFrame test input, not an RDD round-trip — the parquet
    # test below asserts the full plan shape)
    plan = ranked._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan


def test_row_rank_large_input_unique_and_ordered(spark, sf_dir):
    """Exchange-reuse alignment check at real size: ranks must be a
    permutation of 1..N and order-consistent with the sort key."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    n = li.count()
    ranked = row_rank(li, "l_extendedprice", "l_orderkey", "l_linenumber", out="r")
    plan = ranked._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan and "Scan ExistingRDD" not in plan
    assert ranked.count() == n
    assert ranked.select("r").distinct().count() == n
    assert ranked.agg(F.min("r"), F.max("r")).first() == (1, n)
    # order consistency on a sample boundary: the max-price row ranks last
    top = ranked.orderBy(F.desc("l_extendedprice")).first()
    assert top.r == n


def test_rank_by_matches_window_semantics(spark):
    """rank()/rank_by() match a literal global-window SQL rank (the
    reference semantics, fine at 6 rows) in both directions and both
    dense modes."""
    from pyspark.sql import Window

    from pigout_spark.operators.sorting import rank, rank_by

    rows = [("a", 10), ("b", 10), ("c", 20), ("d", 20), ("e", 5), ("f", 30)]
    df = spark.createDataFrame(rows, ["id", "v"]).repartition(3)
    for dense in (False, True):
        fn = F.dense_rank() if dense else F.rank()
        want = {
            r.id: r.rank
            for r in df.withColumn(
                "rank", fn.over(Window.orderBy("v"))
            ).collect()
        }
        assert {
            r.id: r.rank for r in rank(df, F.col("v"), dense=dense).collect()
        } == want, f"rank dense={dense}"
        assert {
            r.id: r.rank for r in rank_by(df, ["v"], dense=dense).collect()
        } == want, f"rank_by dense={dense}"
    # descending direction, via the sort-order Column form
    want = {
        r.id: r.rank
        for r in df.withColumn(
            "rank", F.rank().over(Window.orderBy(F.col("v").desc()))
        ).collect()
    }
    assert {r.id: r.rank for r in rank(df, F.col("v").desc()).collect()} == want
    assert {r.id: r.rank for r in rank_by(df, ["v"], [False]).collect()} == want


def test_rank_public_api_never_single_partitions_data(spark, sf_dir):
    """The public rank() footgun is closed (r4 verdict #1): its plan
    must contain NO single-partition exchange over data rows — the only
    Exchange SinglePartition allowed is the one feeding the tiny
    per-partition-counts aggregate inside row_rank's offset branch."""
    from pigout_spark.catalog import load_table
    from pigout_spark.operators.sorting import rank

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    plan = (
        rank(li, F.col("l_extendedprice").desc())
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    lines = plan.splitlines()
    single = [i for i, l in enumerate(lines) if "Exchange SinglePartition" in l]
    assert single, "offset branch should still prefix-sum on one partition"
    for i in single:
        # the child (next tree line) must be the counts aggregate, not
        # a data-row operator
        assert "HashAggregate" in lines[i + 1] and "count" in lines[i + 1], (
            lines[i : i + 2]
        )


def test_nested_topk(spark):
    df = spark.createDataFrame(
        [("a", 3), ("a", 1), ("a", 2), ("b", 9)], ["g", "v"]
    )
    top = nested_topk(df, "g", [F.desc("v")], 2)
    assert sorted((r.g, r.v) for r in top.collect()) == [("a", 2), ("a", 3), ("b", 9)]


def test_assert_by(spark):
    df = spark.createDataFrame([(1,), (2,)], ["x"])
    assert assert_by(df, F.col("x") > 0).count() == 2
    import pytest as _pytest

    with _pytest.raises(Exception):
        assert_by(df, F.col("x") > 1).count()


def test_stream_through(spark):
    # Pig: B = STREAM A THROUGH `cat`; — identity via external process.
    df = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"]).coalesce(1)
    out = stream_through(df, ["cat"], "k string, v string")
    assert sorted((r.k, r.v) for r in out.collect()) == [("1", "a"), ("2", "b")]


def test_salted_join_matches_plain_join(spark):
    from pigout_spark.operators.joins import salted_join

    big = spark.createDataFrame(
        [(k, i) for i in range(200) for k in ("hot" if i % 2 else f"k{i}",)],
        ["k", "v"],
    )
    dim = spark.createDataFrame([("hot", 1), ("k4", 2), ("k10", 3)], ["k", "d"])
    plain = sorted((r.k, r.v, r.d) for r in big.join(dim, "k").collect())
    salted = sorted((r.k, r.v, r.d) for r in salted_join(big, dim, "k", salt=4).collect())
    assert salted == plain and len(plain) > 0


def test_bloom_build_filter_and_join(spark, sf_dir):
    """Pig BuildBloom/Bloom: no false negatives ever, real pruning on
    disjoint keys, and bloom_join ≡ plain join (FPs eliminated by the
    join itself)."""
    from pigout_spark.catalog import load_table
    from pigout_spark.operators.bloom import bloom_build, bloom_filter, bloom_join

    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    members = c.filter("c_custkey < 30").select("c_custkey")
    bf = bloom_build(members, "c_custkey")
    assert len(bf.first().bloom) == 64

    # every true member survives (no false negatives)
    kept = bloom_filter(c.filter("c_custkey < 30"), "c_custkey", bf)
    assert kept.count() == members.count()
    # disjoint keys are (almost all) pruned: FP rate at 30 keys in
    # 4096 bits with k=4 is ~1e-5
    rest = bloom_filter(c.filter("c_custkey >= 30"), "c_custkey", bf)
    assert rest.count() <= 2

    # bloom_join == plain join, with the fact side pre-pruned
    want = o.join(members, o.o_custkey == members.c_custkey).count()
    got = bloom_join(o, members, "o_custkey", "c_custkey").count()
    assert got == want > 0

    import pytest as _pytest

    with _pytest.raises(ValueError, match="outer"):
        bloom_join(o, members, "o_custkey", "c_custkey", how="left")


def test_asof_join_semantics_and_tolerance(spark):
    """merge_asof semantics: most recent right row at-or-before each
    left ts per key; equal timestamps match; keys with no prior right
    row get NULLs; tolerance nulls out stale matches."""
    import datetime as dt

    from pigout_spark.operators.joins import asof_join

    t0 = dt.datetime(2024, 1, 1)
    trades = spark.createDataFrame(
        [(1, t0 + dt.timedelta(seconds=s), f"T{s}") for s in (5, 10, 30)]
        + [(2, t0, "T0")],
        "sym long, ts timestamp, trade string",
    )
    quotes = spark.createDataFrame(
        [(1, t0 + dt.timedelta(seconds=s), float(s)) for s in (0, 10, 20)],
        "sym long, ts timestamp, px double",
    )
    out = {r.trade: r for r in asof_join(trades, quotes, by="sym").collect()}
    assert out["T5"].px == 0.0
    assert out["T10"].px == 10.0  # equal ts matches
    assert out["T30"].px == 20.0
    assert out["T0"].px is None and out["T0"].matched_ts is None
    tol = {r.trade: r for r in asof_join(
        trades, quotes, by="sym", tolerance_seconds=8
    ).collect()}
    assert tol["T30"].px is None  # 10s-stale match dropped
    assert tol["T10"].px == 10.0


def test_asof_join_plan_single_key_shuffle(spark):
    """The union-marker asof join must plan ONE hash exchange on the
    key — no cartesian, no range-join nested loop, no single-partition
    window."""
    import datetime as dt

    from pigout_spark.operators.joins import asof_join

    t0 = dt.datetime(2024, 1, 1)
    l = spark.createDataFrame(
        [(i % 7, t0 + dt.timedelta(seconds=i), float(i)) for i in range(100)],
        "k long, ts timestamp, x double",
    )
    r = spark.createDataFrame(
        [(i % 7, t0 + dt.timedelta(seconds=i * 2), float(i)) for i in range(50)],
        "k long, ts timestamp, y double",
    )
    plan = asof_join(l, r, by="k")._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Exchange SinglePartition" not in plan
    assert plan.count("Exchange hashpartitioning(__k") == 1


def test_range_join_semantics_and_plan(spark):
    """Point-in-interval join: exact membership incl. boundary hits
    across bin edges, per-key isolation, overlapping intervals yield
    multiple matches — and the plan is a (key, bin) equi-join, never
    a nested loop over intervals."""
    import datetime as dt

    from pigout_spark.operators.joins import range_join

    t0 = dt.datetime(2024, 1, 1)
    pts = spark.createDataFrame(
        [(1, t0 + dt.timedelta(seconds=s), f"p{s}") for s in (5, 100, 150, 2000)],
        "k long, ts timestamp, pid string",
    )
    iv = spark.createDataFrame(
        [
            (1, t0, t0 + dt.timedelta(seconds=150), "iv1"),       # ends ON p150
            (1, t0 + dt.timedelta(seconds=90), t0 + dt.timedelta(seconds=110), "iv2"),
            (2, t0, t0 + dt.timedelta(seconds=9999), "iv3"),      # other key
        ],
        "k long, iv_start timestamp, iv_end timestamp, ivid string",
    )
    out = range_join(pts, iv, "ts", "iv_start", "iv_end", bin_seconds=60, by="k")
    got = sorted((r.pid, r.ivid) for r in out.collect())
    assert got == [("p100", "iv1"), ("p100", "iv2"), ("p150", "iv1"), ("p5", "iv1")]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_overlap_join_matches_naive_predicate_join(spark):
    """Bucketized overlap join == the naive overlap-predicate join on a
    randomized interval set with touching endpoints, nesting, long
    spans (many bins), and cross-key decoys."""
    import random

    import datetime as dt

    rng = random.Random(7)
    t0 = dt.datetime(2024, 1, 1)

    def mk(n, max_span, tag):
        rows = []
        for i in range(n):
            s = rng.randint(0, 50_000)
            e = s + rng.randint(0, max_span)
            rows.append(
                (
                    rng.randint(1, 4),
                    t0 + dt.timedelta(seconds=s),
                    t0 + dt.timedelta(seconds=e),
                    i,
                )
            )
        return spark.createDataFrame(
            rows, f"k bigint, {tag}_start timestamp, {tag}_end timestamp, {tag}_id bigint"
        )

    left = mk(120, 3000, "l")
    right = mk(120, 9000, "r")  # spans up to 15 bins at 600s

    from pigout_spark.operators.joins import overlap_join

    got = sorted(
        (r.l_id, r.r_id)
        for r in overlap_join(
            left, right, "l_start", "l_end", "r_start", "r_end",
            bin_seconds=600, by="k",
        ).collect()
    )
    naive = sorted(
        (r.l_id, r.r_id)
        for r in left.alias("a")
        .join(
            right.alias("b"),
            (F.col("a.k") == F.col("b.k"))
            & (F.col("a.l_start") <= F.col("b.r_end"))
            & (F.col("b.r_start") <= F.col("a.l_end")),
        )
        .collect()
    )
    assert got == naive
    assert len(got) == len(set(got))  # exactly-once, no dup pairs


def test_overlap_join_touching_endpoints_and_no_key(spark):
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)

    def iv(s, e, i, tag):
        return (
            t0 + dt.timedelta(seconds=s),
            t0 + dt.timedelta(seconds=e),
            i,
        )

    left = spark.createDataFrame(
        [iv(0, 100, 1, "l"), iv(1000, 2000, 2, "l")],
        "l_start timestamp, l_end timestamp, l_id bigint",
    )
    right = spark.createDataFrame(
        [
            iv(100, 200, 10, "r"),   # touches l1 at a single point
            iv(201, 999, 11, "r"),   # gap — matches nothing
            iv(0, 5000, 12, "r"),    # covers both
        ],
        "r_start timestamp, r_end timestamp, r_id bigint",
    )
    from pigout_spark.operators.joins import overlap_join

    got = sorted(
        (r.l_id, r.r_id)
        for r in overlap_join(
            left, right, "l_start", "l_end", "r_start", "r_end",
            bin_seconds=300,
        ).collect()
    )
    assert got == [(1, 10), (1, 12), (2, 12)]


def test_overlap_join_plans_equi_join(spark):
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(1, t0, t0 + dt.timedelta(seconds=60), 1)],
        "k bigint, s timestamp, e timestamp, i bigint",
    )
    from pigout_spark.operators.joins import overlap_join

    plan = (
        overlap_join(
            df,
            df.select(
                F.col("k"),
                F.col("s").alias("s2"),
                F.col("e").alias("e2"),
                F.col("i").alias("i2"),
            ),
            "s", "e", "s2", "e2", bin_seconds=600, by="k",
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan


def test_interval_joins_reject_inverted_intervals(spark):
    """ADVICE r5: end < start would make F.sequence emit a DESCENDING
    bin list and silently drop pairs — the interval-join family now
    fails loudly instead.  Null endpoints still pass through (they can
    never match the BETWEEN residual)."""
    import datetime as dt

    import pytest

    from pigout_spark.operators.joins import overlap_join, range_join

    t0 = dt.datetime(2024, 1, 1)

    def ts(s):
        return t0 + dt.timedelta(seconds=s)

    pts = spark.createDataFrame([(1, ts(30))], "k bigint, ts timestamp")
    bad_iv = spark.createDataFrame(
        [(1, ts(100), ts(0))], "k bigint, iv_start timestamp, iv_end timestamp"
    )
    with pytest.raises(Exception, match="inverted interval"):
        range_join(
            pts, bad_iv, "ts", "iv_start", "iv_end", bin_seconds=60, by="k"
        ).collect()
    good_l = spark.createDataFrame(
        [(1, ts(0), ts(50))], "k bigint, l_start timestamp, l_end timestamp"
    )
    with pytest.raises(Exception, match="inverted interval"):
        overlap_join(
            good_l, bad_iv.withColumnRenamed("iv_start", "r_start")
            .withColumnRenamed("iv_end", "r_end"),
            "l_start", "l_end", "r_start", "r_end", bin_seconds=60, by="k",
        ).collect()
    # null endpoints: no assertion error, and no match emitted
    null_iv = spark.createDataFrame(
        [(1, None, ts(100))], "k bigint, iv_start timestamp, iv_end timestamp"
    )
    assert (
        range_join(
            pts, null_iv, "ts", "iv_start", "iv_end", bin_seconds=60, by="k"
        ).count()
        == 0
    )


def test_edit_distance_join_matches_naive(spark):
    """EDJoin prefix filtering must equal the naive all-pairs DP answer
    on a corpus engineered to stress every path: exact dupes, 1- and
    2-edit variants, short (< q) and empty strings, and unrelated
    noise.  Checked at k=1 and k=2."""
    from pigout_spark.operators.joins import edit_distance_join

    def lev(a, b):
        if len(a) < len(b):
            a, b = b, a
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    strings = [
        "goldenrod lavender", "goldenrod lavender", "goldenrod lavnder",
        "midnight chocolate", "midnight chocolates", "mdnight chocolate",
        "a", "b", "ab", "", "zz", "zzz",
        "completely different thing",
    ]
    rows = [(i, s) for i, s in enumerate(strings)]
    L = spark.createDataFrame(rows, "id bigint, s string")
    R = spark.createDataFrame([(i + 100, s) for i, s in rows], "id bigint, s string")
    for k in (1, 2):
        got = {
            (r[0], r[1], r.dist)
            for r in edit_distance_join(L, R, k=k).collect()
        }
        want = {
            (i, j + 100, lev(a, b))
            for i, a in rows
            for j, b in rows
            if lev(a, b) <= k
        }
        assert got == want, f"k={k}: {sorted(got ^ want)[:8]}"


def test_edit_distance_join_no_cartesian_in_plan(spark):
    """With every string ≥ q chars, the short-string sweep is empty and
    the physical plan must contain no CartesianProduct — candidates
    come from the gram equi-join alone."""
    from pigout_spark.operators.joins import edit_distance_join

    L = spark.range(100).selectExpr("id", "concat('prefixstring', id) AS s")
    explained = (
        edit_distance_join(L, L, k=1)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in explained


def test_asof_join_directions(spark):
    """merge_asof surface: backward takes the latest <=, forward the
    earliest >=, nearest the closer side with ties going backward;
    equal timestamps match in every direction; tolerance bounds each
    direction; NULL left ts never matches."""
    import datetime as dt

    from pigout_spark.operators.joins import asof_join

    T = lambda s: dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s)
    left = spark.createDataFrame(
        [(1, T(100), "a"), (1, T(205), "b"), (1, T(300), "c"),
         (1, None, "n"), (2, T(50), "d")],
        "k bigint, ts timestamp, tag string",
    )
    right = spark.createDataFrame(
        [(1, T(90), 90.0), (1, T(200), 200.0), (1, T(210), 210.0),
         (1, T(300), 300.0)],
        "k bigint, ts timestamp, price double",
    )

    def run(**kw):
        out = asof_join(left, right, by="k", right_cols=["price"], **kw)
        return {r.tag: r.price for r in out.collect()}

    assert run() == {"a": 90.0, "b": 200.0, "c": 300.0, "n": None, "d": None}
    assert run(direction="forward") == {
        "a": 200.0, "b": 210.0, "c": 300.0, "n": None, "d": None
    }
    # nearest: a -> 90 (d10) vs 200 (d100) -> 90; b -> 200 (d5) vs
    # 210 (d5) tie -> backward 200; c -> equal ts -> 300
    assert run(direction="nearest") == {
        "a": 90.0, "b": 200.0, "c": 300.0, "n": None, "d": None
    }
    # tolerance 5: a's backward 90 is 10s stale -> null; forward 200 is
    # 100s ahead -> null; nearest picks nothing for a, 200 or 210 for b
    assert run(tolerance_seconds=5) == {
        "a": None, "b": 200.0, "c": 300.0, "n": None, "d": None
    }
    assert run(direction="forward", tolerance_seconds=5) == {
        "a": None, "b": 210.0, "c": 300.0, "n": None, "d": None
    }
    assert run(direction="nearest", tolerance_seconds=5) == {
        "a": None, "b": 200.0, "c": 300.0, "n": None, "d": None
    }
    import pytest

    with pytest.raises(ValueError, match="unknown asof direction"):
        run(direction="sideways")


def test_percentile_rank_ties_and_plan(spark):
    """percent_rank semantics: ties share the min-rank percentile,
    bounds are [0, 1], a single row gets 0.0 — and the plan must not
    range-sort data rows into one partition beyond row_rank's
    documented two-pass shape (no window over data rows)."""
    from pigout_spark.operators.sorting import percentile_rank

    df = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 20.0), (4, 30.0), (5, 40.0)],
        "id bigint, s double",
    )
    out = {r.id: r.pct_rank for r in percentile_rank(df, "s", ["id"]).collect()}
    # ranks: 10->1, 20->2 (both), 30->4, 40->5; pct = (r-1)/4
    assert out == {1: 0.0, 2: 0.25, 3: 0.25, 4: 0.75, 5: 1.0}
    one = percentile_rank(
        spark.createDataFrame([(1, 5.0)], "id bigint, s double"), "s", ["id"]
    ).collect()
    assert one[0].pct_rank == 0.0


def test_ab_lift_hand_computed(spark):
    """Hand-built experiment: fixed assignment via seed, verify the
    Welch z formula end-to-end against a numpy computation."""
    import math

    from pigout_spark.pipeline.behavioral import ab_assign, ab_lift

    rows = [(i, float(v)) for i, v in enumerate([1, 2, 3, 4, 5, 6, 7, 8, 9, 10])]
    df = spark.createDataFrame(rows, "uid bigint, m double")
    assigned = {
        r.uid: r.variant for r in ab_assign(df, ["uid"], seed="3").collect()
    }
    t = [v for (i, v) in rows if assigned[i] == "treatment"]
    c = [v for (i, v) in rows if assigned[i] == "control"]
    assert len(t) >= 2 and len(c) >= 2  # seed 3 splits this set usably
    out = ab_lift(df, "m", ["uid"], seed="3").collect()[0]
    assert out.n_t == len(t) and out.n_c == len(c)
    mt, mc = sum(t) / len(t), sum(c) / len(c)
    vt = sum((x - mt) ** 2 for x in t) / (len(t) - 1)
    vc = sum((x - mc) ** 2 for x in c) / (len(c) - 1)
    assert abs(out.mean_t - mt) < 1e-9 and abs(out.mean_c - mc) < 1e-9
    assert abs(out.var_t - vt) < 1e-9 and abs(out.var_c - vc) < 1e-9
    z = (mt - mc) / math.sqrt(vt / len(t) + vc / len(c))
    assert abs(out.z - z) < 1e-9
    import pytest

    with pytest.raises(ValueError, match="treat_frac"):
        ab_assign(df, ["uid"], treat_frac=1.5)


def test_merge_intervals_islands_and_gap(spark):
    """Gaps-and-islands: overlapping and touching intervals collapse,
    a contained interval doesn't split its island (running-max, not
    lag), min_gap bridges near-adjacent islands, keys independent."""
    import datetime as dt

    from pigout_spark.operators.joins import merge_intervals

    T = lambda s: dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s)
    rows = [
        (1, T(0), T(100)),
        (1, T(50), T(60)),     # contained
        (1, T(100), T(150)),   # touching endpoint merges
        (1, T(200), T(250)),   # 50s gap: separate island
        (2, T(0), T(10)),
    ]
    df = spark.createDataFrame(rows, "k bigint, iv_start timestamp, iv_end timestamp")
    out = sorted(
        (r.k, r.iv_start, r.iv_end, r.n_merged)
        for r in merge_intervals(df, by="k").collect()
    )
    assert out == [
        (1, T(0), T(150), 3),
        (1, T(200), T(250), 1),
        (2, T(0), T(10), 1),
    ]
    bridged = merge_intervals(df, by="k", min_gap_seconds=60).collect()
    assert sorted((r.k, r.n_merged) for r in bridged) == [(1, 4), (2, 1)]
    # single key exchange (AQE final plan)
    plan = merge_intervals(df, by="k")._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange hashpartitioning") == 1


def test_asof_join_right_tiebreak_pins_duplicate_ts(spark):
    """Duplicate right timestamps within a key: with right_tiebreak
    the LARGEST tiebreak value wins in every direction (highest
    version is the effective row) — run-to-run deterministic where
    the (ts, side)-only order was not (ADVICE r7)."""
    import datetime as dt

    from pigout_spark.operators.joins import asof_join

    t0 = dt.datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [(1, t0 + dt.timedelta(seconds=10), "L")],
        "sym long, ts timestamp, tag string",
    )
    # three right rows at the SAME ts=5 (backward side) and three at
    # ts=20 (forward side), distinguished only by version
    right = spark.createDataFrame(
        [(1, t0 + dt.timedelta(seconds=5), v, float(v)) for v in (1, 3, 2)]
        + [(1, t0 + dt.timedelta(seconds=20), v, float(v)) for v in (7, 9, 8)],
        "sym long, ts timestamp, ver long, px double",
    )
    for direction, want_px in (("backward", 3.0), ("forward", 9.0),
                               ("nearest", 3.0)):
        out = asof_join(
            left, right,
            by="sym", right_cols=["px"],
            direction=direction, right_tiebreak="ver",
        ).collect()
        assert len(out) == 1 and out[0].px == want_px, direction


def test_winsorize_clamps_to_exact_order_statistics(spark):
    from pigout_spark.operators.sorting import winsorize

    # key "a": values 1..20; p=(0.10, 0.90) -> k_lo=2, k_hi=18
    rows = [("a", float(i)) for i in range(1, 21)] + [
        ("a", None),          # NULL passes through, counts nowhere
        ("b", 5.0),           # singleton key: lo == hi == the value
    ]
    df = spark.createDataFrame(rows, "k string, value double")
    out = winsorize(df, "value", ["k"], p_lo=0.10, p_hi=0.90).collect()
    a = {r.value: r.value_w for r in out if r.k == "a"}
    assert a[1.0] == 2.0 and a[2.0] == 2.0      # clamped up
    assert a[19.0] == 18.0 and a[20.0] == 18.0  # clamped down
    assert a[10.0] == 10.0                      # interior untouched
    assert a[None] is None
    b = [r for r in out if r.k == "b"][0]
    assert b.value_w == 5.0

    import pytest as _pytest
    with _pytest.raises(ValueError, match="key_cols"):
        winsorize(df, "value", [])


def test_quantile_bucket_matches_ntile_semantics(spark):
    """Global two-pass path == keyed F.ntile path == SQL ntile: first
    n%k buckets get the extra row; k>n degenerates to bucket=rank;
    NULLs bucket NULL."""
    from pigout_spark.operators.sorting import quantile_bucket

    rows = [(i, float((i * 7) % 23)) for i in range(23)] + [(99, None)]
    df = spark.createDataFrame(rows, "id long, v double")
    g = {
        r.id: r.bucket
        for r in quantile_bucket(df, "v", 4, id_cols=["id"]).collect()
    }
    keyed = {
        r.id: r.bucket
        for r in quantile_bucket(
            df.withColumn("k", F.lit("a")), "v", 4,
            id_cols=["id"], key_cols=["k"],
        ).collect()
    }
    assert g == keyed
    from collections import Counter
    sizes = Counter(v for kk, v in g.items() if v is not None)
    # n=23, k=4 -> sizes 6,6,6,5
    assert sorted(sizes.values(), reverse=True) == [6, 6, 6, 5]
    assert g[99] is None

    tiny = spark.createDataFrame([(1, 1.0), (2, 2.0)], "id long, v double")
    degen = {
        r.id: r.bucket
        for r in quantile_bucket(tiny, "v", 5, id_cols=["id"]).collect()
    }
    assert degen == {1: 1, 2: 2}

    import pytest as _pytest
    with _pytest.raises(ValueError, match="k must"):
        quantile_bucket(tiny, "v", 0)


def test_weighted_quantile_exact(spark):
    """Weighted median/quantiles hit the smallest value whose cumweight
    reaches ceil(p*W); count-weights reduce to plain order statistics;
    the positive-integer weight contract is enforced."""
    import pytest as _pytest
    from pigout_spark.operators.sorting import weighted_quantile

    # values 1..4 with weights 1,1,1,7 (W=10): p=.5 -> cum 3 < 5 -> 4
    rows = [("a", 1.0, 1), ("a", 2.0, 1), ("a", 3.0, 1), ("a", 4.0, 7)]
    df = spark.createDataFrame(rows, "k string, v double, w long")
    got = {
        (r.k, r.p): r.q
        for r in weighted_quantile(df, "v", "w", [0.3, 0.5, 1.0], ["k"]).collect()
    }
    assert got[("a", 0.3)] == 3.0   # ceil(3)=3 -> cum 3 at value 3
    assert got[("a", 0.5)] == 4.0
    assert got[("a", 1.0)] == 4.0

    # unit weights == unweighted order statistic
    u = spark.createDataFrame(
        [("b", float(i), 1) for i in range(1, 11)], "k string, v double, w long"
    )
    gu = {r.p: r.q for r in weighted_quantile(u, "v", "w", [0.5], ["k"]).collect()}
    assert gu[0.5] == 5.0  # ceil(0.5*10)=5 -> 5th smallest

    bad = spark.createDataFrame([("c", 1.0, 0)], "k string, v double, w long")
    with _pytest.raises(Exception, match="positive"):
        weighted_quantile(bad, "v", "w", [0.5], ["k"]).collect()
    with _pytest.raises(ValueError, match="key_cols"):
        weighted_quantile(df, "v", "w", [0.5])


def test_edit_distance_join_low_stratum_guard(spark):
    """An adversarial ALL-SHORT corpus whose distinct low-gram string
    count exceeds ``max_low_distinct`` must fail LOUDLY (assert_true in
    the sweep) instead of silently degrading to broadcast×self; a
    corpus inside the bound still answers exactly."""
    import pytest as _pytest
    from pyspark.errors.exceptions.captured import SparkRuntimeException
    from pigout_spark.operators.joins import edit_distance_join

    # k=1, q=2 → low_len = 4: 3-char strings are all low-gram
    short = spark.range(200).selectExpr(
        "id", "substring(concat('s', cast(id as string)), 1, 3) AS s"
    )
    with _pytest.raises(SparkRuntimeException, match="max_low_distinct"):
        edit_distance_join(short, short, k=1, max_low_distinct=50).collect()

    ok = edit_distance_join(short, short, k=0, max_low_distinct=10_000)
    n = short.select("s").distinct().count()
    # k=0: exact matches only — every id pairs with ids sharing its value
    assert ok.filter("dist = 0").count() >= n
