"""The benchmark's workloads: named operations over a fixture, each with a
timed part (build, then execute) and an untimed output check.

Every operation goes through an entry point a user of ``pigout_spark``
calls: a registered query callable, a Pig Latin script run by
``latin.PigSession``, ``plans.store_many``, ``sources.shards.write_shards``
or ``sources.io.store``. Checks compare against DuckDB over the same
fixture: registered queries against their own oracle SQL, stored outputs
against a DuckDB twin carried here, read back from the written files.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import dataclass
from pathlib import Path
from typing import Any, Callable

import pandas as pd


@dataclass
class Ctx:
    spark: Any
    sf_dir: str
    out_dir: Path
    examples: Path
    duck: Any
    params: dict[str, str]
    oracle_dir: Path

    def oracle(self, sql: str) -> pd.DataFrame:
        """DuckDB's answer to ``sql`` over the fixture. The fixture never
        changes under a directory name, so answers are kept on disk and
        computed once per checkout (some oracles take seconds)."""
        key = hashlib.sha256(f"{self.sf_dir}\n{sql}".encode()).hexdigest()[:24]
        path = self.oracle_dir / f"{key}.parquet"
        if path.exists():
            return pd.read_parquet(path)
        want = self.duck.execute(sql).df()
        self.oracle_dir.mkdir(parents=True, exist_ok=True)
        want.to_parquet(path)
        return want


@dataclass
class Op:
    """``execute(ctx, built, verify)`` runs the action; with ``verify`` it
    returns what ``check`` needs (a query collects its rows instead of
    writing to the noop sink, so the checked pass does not run it twice)."""

    name: str
    build: Callable[[Ctx], Any]
    execute: Callable[[Ctx, Any, bool], Any]
    check: Callable[[Ctx, Any], str | None]


@dataclass(frozen=True)
class Workload:
    name: str
    sf: float
    ops: tuple[str, ...]


# --- result comparison ---------------------------------------------------


def compare(got: pd.DataFrame, want: pd.DataFrame, float_digits: int | None = None):
    """Row count, column names, dtypes and an order-insensitive value hash
    (tools/selfcheck.py's normalisation and hash). ``float_digits`` rounds
    doubles to that many significant digits first, for sums whose last
    bits depend on summation order."""
    from tools.selfcheck import _normalize, value_hash

    if len(got) != len(want):
        return f"rowcount {len(got)} vs {len(want)}"
    g, w = _normalize(got), _normalize(want)
    if list(g.columns) != list(w.columns):
        return f"columns {list(g.columns)} vs {list(w.columns)}"
    if [str(d) for d in g.dtypes] != [str(d) for d in w.dtypes]:
        return f"dtypes {[str(d) for d in g.dtypes]} vs {[str(d) for d in w.dtypes]}"
    if float_digits is not None:
        for c in g.columns:
            if pd.api.types.is_float_dtype(g[c]):
                g[c] = g[c].map(lambda v: float(f"{v:.{float_digits}g}"))
                w[c] = w[c].map(lambda v: float(f"{v:.{float_digits}g}"))
    if value_hash(g) != value_hash(w):
        return "value-hash mismatch"
    return None


# --- registered queries ---------------------------------------------------


def _registry():
    from pigout_spark import queries as q

    return {**q.EXTRA_REGISTRY, **q.REGISTRY}


def query_op(name: str) -> Op:
    spec = _registry()[name]
    if spec.sql is None:
        raise ValueError(f"{name} has no oracle SQL to check it against")
    # __wrapped__ skips the prepared-plan cache, so every pass rebuilds
    build_fn = spec.fn.__wrapped__

    def build(ctx):
        return build_fn(ctx.spark, ctx.sf_dir)

    def execute(ctx, df, verify):
        if verify:
            return df.toPandas()
        df.write.format("noop").mode("overwrite").save()
        return None

    def check(ctx, got):
        return compare(got, ctx.oracle(spec.sql))

    return Op(name, build, execute, check)


# --- Pig Latin scripts ending in STORE --------------------------------------

#: script -> (alias to STORE, storage clause, DuckDB twin of the stored rows,
#: column names of the stored rows in order)
PIG_SCRIPTS = {
    "etl_compat": (
        "by_bucket",
        "",
        """
        SELECT bucket, COUNT(*) AS n_lines, CAST(SUM(cents) AS BIGINT) AS total_cents
        FROM lineitem JOIN (
          SELECT o_orderkey,
                 CAST(trunc(o_totalprice * 100.0) AS BIGINT) AS cents,
                 CASE WHEN o_totalprice > 150000.0 THEN 'big'
                      WHEN o_totalprice > 50000.0 THEN 'mid' ELSE 'small' END AS bucket
          FROM orders) c ON l_orderkey = o_orderkey
        GROUP BY bucket
        """,
        None,
    ),
    "macros_and_cube": (
        "per_dim",
        "",
        """
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n, SUM(l_quantity) AS qty
        FROM lineitem WHERE l_quantity >= 30
        GROUP BY CUBE (l_returnflag, l_linestatus)
        """,
        None,
    ),
    "params_and_stream": (
        "piped",
        "",
        """
        SELECT CAST(l_orderkey AS VARCHAR) AS k, CAST(l_linenumber AS VARCHAR) AS ln
        FROM lineitem WHERE l_quantity >= 40
        """,
        None,
    ),
    "revenue_by_priority": (
        "res",
        "USING PigStorage(',')",
        """
        SELECT o_orderpriority AS "group", COUNT(*) AS n, SUM(l_extendedprice) AS total
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_quantity < 10 GROUP BY o_orderpriority
        """,
        ("group", "n", "total"),
    ),
    "udfs_and_compat": (
        "by_dim",
        "",
        """
        SELECT coalesce(l_returnflag, 'all') AS l_returnflag,
               coalesce(l_linestatus, 'all') AS l_linestatus,
               COUNT(*) AS n, SUM(l_extendedprice * (1.0 - l_discount)) AS net_total
        FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        """,
        None,
    ),
    "wordcount": (
        "t20",
        "USING PigStorage('\\t')",
        """
        SELECT w AS "group", COUNT(*) AS n
        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        GROUP BY w ORDER BY n DESC, w LIMIT 20
        """,
        ("group", "n"),
    ),
}


def read_back(ctx: Ctx, path: Path, csv_cols=None, sep=",") -> pd.DataFrame:
    """Rows of a stored directory, read by DuckDB (not by Spark)."""
    if csv_cols is None:
        return ctx.duck.execute(f"SELECT * FROM read_parquet('{path}/*.parquet')").df()
    cols = ", ".join(f"'{c}': 'VARCHAR'" for c in csv_cols)
    return ctx.duck.execute(
        f"SELECT * FROM read_csv('{path}/*.csv', delim='{sep}', header=false, "
        f"columns={{{cols}}})"
    ).df()


def _typed_like(got: pd.DataFrame, want: pd.DataFrame) -> pd.DataFrame:
    """CSV read back as text, typed like the twin's columns."""
    out = got.copy()
    for c in want.columns:
        if pd.api.types.is_integer_dtype(want[c]):
            out[c] = out[c].astype("int64")
        elif pd.api.types.is_float_dtype(want[c]):
            out[c] = out[c].astype("float64")
    return out


def pig_op(script: str) -> Op:
    from pigout_spark.catalog import Catalog
    from pigout_spark.latin import PigSession

    alias, using, twin, csv_cols = PIG_SCRIPTS[script]

    def build(ctx):
        pig = PigSession(
            ctx.spark, Catalog().register_fixture_dir(ctx.sf_dir), params=ctx.params
        )
        pig.execute((ctx.examples / f"{script}.pig").read_text())
        return pig

    def execute(ctx, pig, verify):
        out = ctx.out_dir / script
        pig.execute(f"STORE {alias} INTO '{out}' {using};")
        return out

    def check(ctx, out):
        want = ctx.oracle(twin)
        sep = "\t" if "\\t" in using else ","
        got = read_back(ctx, out, csv_cols, sep)
        if csv_cols is not None:
            got = _typed_like(got, want)
        return compare(got, want, float_digits=10)

    return Op(f"pig_{script}", build, execute, check)


#: The multi-sink script: one shared filtered scan, two STOREs through
#: plans.store_many. $MINQTY is drawn from the workload seed.
MULTI_SINK = """
%default MINQTY '40';
li = LOAD 'lineitem';
big = FILTER li BY l_quantity >= $MINQTY;
p = FOREACH big GENERATE l_returnflag, l_shipdate, l_quantity;
"""


def multi_sink_op() -> Op:
    from pyspark.sql import functions as F

    from pigout_spark.catalog import Catalog
    from pigout_spark.latin import PigSession
    from pigout_spark.plans.multiquery import store_many
    from pigout_spark.sources.io import store

    def build(ctx):
        pig = PigSession(
            ctx.spark, Catalog().register_fixture_dir(ctx.sf_dir), params=ctx.params
        )
        pig.execute(MULTI_SINK)
        return pig.df("p")

    def execute(ctx, big, verify):
        out = ctx.out_dir / "multi_sink"
        store_many(
            big,
            [
                lambda df: store(
                    df.groupBy("l_returnflag").agg(
                        F.count(F.lit(1)).alias("n"),
                        F.sum("l_quantity").alias("qty"),
                    ),
                    f"{out}/by_flag",
                ),
                lambda df: store(
                    df.groupBy("l_shipdate").agg(F.count(F.lit(1)).alias("n")),
                    f"{out}/by_day",
                ),
            ],
        )
        return out

    def check(ctx, out):
        q = f"FROM lineitem WHERE l_quantity >= {ctx.params['MINQTY']}"
        twins = {
            "by_flag": f"SELECT l_returnflag, COUNT(*) AS n, SUM(l_quantity) AS qty {q} "
            "GROUP BY l_returnflag",
            "by_day": f"SELECT l_shipdate, COUNT(*) AS n {q} GROUP BY l_shipdate",
        }
        for sink, sql in twins.items():
            problem = compare(read_back(ctx, out / sink), ctx.oracle(sql))
            if problem:
                return f"{sink}: {problem}"
        return None

    return Op("multi_sink_store", build, execute, check)


def shards_op() -> Op:
    from pigout_spark.catalog import load_table
    from pigout_spark.sources.shards import verify_shards, write_shards

    def build(ctx):
        return load_table(ctx.spark, ctx.sf_dir, "documents").select(
            "doc_id", "text", "lang", "source"
        )

    def execute(ctx, df, verify):
        out = ctx.out_dir / "shards"
        manifest = write_shards(df, str(out), "doc_id", 8)
        return manifest, verify_shards(ctx.spark, str(out)), out

    def check(ctx, result):
        manifest, verified, out = result
        if not verified["ok"]:
            return f"verify_shards: {verified['errors'][:3]}"
        got = ctx.duck.execute(
            f"SELECT doc_id, text, lang, source FROM "
            f"read_parquet('{out}/*/*.parquet', hive_partitioning=false)"
        ).df()
        want = ctx.oracle("SELECT doc_id, text, lang, source FROM documents")
        on_disk = json.loads((out / "_manifest.json").read_text())["total_rows"]
        if manifest["total_rows"] != len(want) or on_disk != len(want):
            return f"manifest rows {manifest['total_rows']}/{on_disk} vs {len(want)}"
        return compare(got, want)

    return Op("shards_export", build, execute, check)


def latin_q01_store_op() -> Op:
    """x_latin_q01 (TPC-H Q1 as a Pig Latin script) stored twice through
    plans.store_many, as parquet and as tab-separated text: the read side
    is a full lineitem scan, the write side two small files."""
    from pigout_spark.plans.multiquery import store_many
    from pigout_spark.sources.io import store

    spec = _registry()["x_latin_q01"]
    build_fn = spec.fn.__wrapped__

    def build(ctx):
        return build_fn(ctx.spark, ctx.sf_dir)

    def execute(ctx, df, verify):
        out = ctx.out_dir / "latin_q01"
        store_many(
            df,
            [
                lambda d: store(d, str(out / "parquet")),
                lambda d: store(d, str(out / "text"), fmt="csv", sep="\t"),
            ],
        )
        return out, df.columns

    def check(ctx, result):
        out, columns = result
        want = ctx.oracle(spec.sql)
        for got in (
            read_back(ctx, out / "parquet"),
            _typed_like(read_back(ctx, out / "text", columns, "\t"), want),
        ):
            problem = compare(got, want)
            if problem:
                return problem
        return None

    return Op("latin_q01_store", build, execute, check)


ENRICH_TWIN = """
SELECT l.*, o.o_custkey, o.o_orderstatus, o.o_totalprice, o.o_orderdate,
       o.o_orderpriority, c.c_name, c.c_nationkey, c.c_mktsegment
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
"""


def enrich_op() -> Op:
    from pigout_spark.catalog import load_table
    from pigout_spark.sources.io import store

    def build(ctx):
        t = lambda n: load_table(ctx.spark, ctx.sf_dir, n)  # noqa: E731
        o = t("orders")
        c = t("customer").select("c_custkey", "c_name", "c_nationkey", "c_mktsegment")
        return (
            t("lineitem")
            .join(o, t("lineitem").l_orderkey == o.o_orderkey)
            .drop("o_orderkey")
            .join(c, o.o_custkey == c.c_custkey)
            .drop("c_custkey")
        )

    def execute(ctx, df, verify):
        out = ctx.out_dir / "enriched"
        store(df, str(out))
        return out

    def check(ctx, out):
        got = ctx.duck.execute(
            f"SELECT count(*) AS n, bit_xor(hash(l_orderkey, l_linenumber, l_partkey, "
            f"c_name)) AS h FROM read_parquet('{out}/*.parquet')"
        ).fetchone()
        want = ctx.duck.execute(
            f"SELECT count(*), bit_xor(hash(l_orderkey, l_linenumber, l_partkey, "
            f"c_name)) FROM ({ENRICH_TWIN})"
        ).fetchone()
        return None if got == want else f"count/hash {got} vs {want}"

    return Op("enrich_store", build, execute, check)


# --- workloads ------------------------------------------------------------

# Why each workload exists, and why so few operations: perfbench/README.md.
WORKLOADS = {
    w.name: w
    for w in (
        # scan, shuffle and aggregate at 10x sf0.1; plan build is a few percent
        Workload("relational_sf1", 1.0, ("latin_q01_store", "q03_join_agg")),
        # dozens of Spark jobs fired while the plan is built
        Workload("curation_sf0.1", 0.1, ("x_split_safe",)),
        # Pig scripts ending in STORE and the write path; not in BENCHMARK.json
        Workload(
            "pig_store_sf0.1",
            0.1,
            tuple(f"pig_{s}" for s in PIG_SCRIPTS)
            + ("multi_sink_store", "shards_export", "enrich_store"),
        ),
    )
}


def make_op(name: str) -> Op:
    if name.startswith("pig_"):
        return pig_op(name[4:])
    special = {
        "multi_sink_store": multi_sink_op,
        "shards_export": shards_op,
        "enrich_store": enrich_op,
        "latin_q01_store": latin_q01_store_op,
    }
    if name in special:
        return special[name]()
    return query_op(name)
