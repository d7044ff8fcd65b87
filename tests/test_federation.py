"""Federation story (SURVEY.md §2.10, §3.4, divergence D5): PigOut
partitions a Pig DAG across clusters; here ONE SparkSession reads every
cluster's storage by URI in a single plan.  Two fixture scale-dirs stand
in for two clusters."""

from __future__ import annotations

from pyspark.sql import functions as F

from pigout_spark.catalog import Catalog


def test_cross_cluster_join_single_plan(spark):
    cat = (
        Catalog()
        .register("c1_orders", "/root/testdata/sf0.001/orders.parquet")
        .register("c2_customer", "/root/testdata/sf0.01/customer.parquet")
    )
    o = cat.load(spark, "c1_orders")
    c = cat.load(spark, "c2_customer")
    joined = o.join(c, o.o_custkey == c.c_custkey).groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n")
    )
    rows = joined.collect()
    assert sum(r.n for r in rows) == 1500  # every sf0.001 order matches
    # one physical plan, no intermediate STORE/copy steps (D5)
    assert "Scan parquet" in joined._jdf.queryExecution().executedPlan().toString()


def test_catalog_errors_and_views(spark):
    import pytest as _pytest

    cat = Catalog().register_fixture_dir("/root/testdata/sf0.001")
    with _pytest.raises(KeyError):
        cat.load(spark, "nope")
    cat.create_temp_views(spark)
    n = spark.sql("select count(*) n from lineitem").first()["n"]
    assert n == 6000
    got = spark.sql(
        "select count(*) n from events where event_type = 'click'"
    ).first()["n"]
    assert got > 0  # events readable through the nanos normalization


def _stub_session(app_id):
    from types import SimpleNamespace

    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


def test_memo_builds_once_per_key_and_application():
    from pigout_spark.catalog import invalidate_table_cache, memo

    builds = []

    def build(v):
        return lambda: builds.append(v) or v

    a, b = _stub_session("app-a"), _stub_session("app-b")
    assert memo(a, ("k", 1), build(1)) == 1
    assert memo(a, ("k", 1), build(99)) == 1
    assert memo(a, ("k", 2), build(2)) == 2
    assert builds == [1, 2]
    # a second application drops every entry of the first
    assert memo(b, ("k", 1), build(3)) == 3
    assert memo(a, ("k", 1), build(4)) == 4
    assert builds == [1, 2, 3, 4]
    invalidate_table_cache()
    assert memo(a, ("k", 1), build(5)) == 5
    assert builds == [1, 2, 3, 4, 5]
    invalidate_table_cache()


def test_memo_keeps_tables_and_plans_until_invalidated(spark, sf_dir):
    from pigout_spark.catalog import invalidate_table_cache, load_table
    from pigout_spark.queries import QUERIES

    fn = QUERIES["q01_group_agg"].fn
    table = load_table(spark, sf_dir, "orders")
    plan = fn(spark, sf_dir)
    assert load_table(spark, sf_dir, "orders") is table
    assert fn(spark, sf_dir) is plan
    assert fn.__wrapped__(spark, sf_dir) is not plan
    assert fn.__wrapped__(spark, sf_dir) is not fn.__wrapped__(spark, sf_dir)
    invalidate_table_cache()
    assert load_table(spark, sf_dir, "orders") is not table
    assert fn(spark, sf_dir) is not plan


def test_one_process_store_and_no_swallowed_errors():
    """``catalog.memo`` is the package's one process-level store of
    DataFrames, plans and codebooks, and no error is swallowed whole."""
    import ast
    import re
    from pathlib import Path

    pkg = Path(__file__).resolve().parent.parent / "pigout_spark"
    broad = re.compile(r"^\s*except\s*(Exception\b|:)")
    stray = []
    for p in sorted(pkg.rglob("*.py")):
        src = p.read_text()
        rel = p.relative_to(pkg)
        stray += [
            f"{rel}:{n}: broad except"
            for n, line in enumerate(src.splitlines(), 1)
            if broad.match(line)
        ]
        if p.name == "catalog.py":
            continue
        for node in ast.parse(src).body:
            targets = getattr(node, "targets", None) or [getattr(node, "target", None)]
            stray += [
                f"{rel}:{node.lineno}: module-level {t.id}"
                for t in targets
                if isinstance(t, ast.Name) and t.id.endswith("_CACHE")
            ]
    assert not stray, stray
