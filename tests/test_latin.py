"""Pig Latin front-end: scripts must produce the same results as the
equivalent hand-written DataFrame plans."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from pigout_spark.catalog import Catalog
from pigout_spark.latin import PigSession, PigSyntaxError, run_script, translate_expr


@pytest.fixture()
def pig(spark, sf_dir):
    return PigSession(spark, Catalog().register_fixture_dir(sf_dir))


def test_translate_expr_rewrites():
    assert translate_expr("$0 + 1", ["a", "b"]) == "a + 1"
    assert translate_expr("A::x > 2") == "A.x > 2"
    assert (
        translate_expr("name matches 'B.*'") == "name RLIKE '^(?:B.*)$'"
    )
    assert translate_expr("m#'key'") == "m['key']"
    assert (
        translate_expr("SUBSTRING(s, 0, 5)")
        == "substring(s, (0) + 1, (5) - (0))"
    )
    assert translate_expr("UPPER(s)") == "upper(s)"
    assert "filter(split(" in translate_expr("TOKENIZE(text)")
    # Java String.split limit-0 default (trailing-empty drop, D4):
    # r10 construction — split -1, slice to last non-empty element
    got_split = translate_expr("STRSPLIT(s, '#')")
    assert "slice(" in got_split and "split(s, '#', -1)" in got_split
    assert translate_expr("STRSPLIT(s, '#', 2)") == "split(s, '#', 2)"
    # Pig's 1-arg whitespace form (r9 advice: used to IndexError)
    got_1arg = translate_expr("STRSPLIT(s)")
    assert r"'\\s+'" in got_1arg and "slice(" in got_1arg


def test_builtin_names_inside_string_literals_stay_text(spark):
    """A Pig builtin name followed by ``(`` inside a string literal is
    text: neither the rename pass, the templates nor the typed SIZE
    dispatch may touch it."""
    assert (
        translate_expr("CONCAT('ROUND(x) and UPPER(y)', s)")
        == "concat('ROUND(x) and UPPER(y)', s)"
    )
    lit = "'say TOKENIZE(it) or SIZE(s)'"
    got = translate_expr(f"CONCAT({lit}, UPPER(s))", dtypes={"s": "string"})
    assert got == f"concat({lit}, upper(s))"
    assert translate_expr("SIZE(s)", dtypes={"s": "string"}) == "char_length(s)"
    row = spark.range(1).selectExpr(
        f"{got.replace('upper(s)', 'upper(cast(id as string))')} AS v"
    ).first()
    assert row.v == "say TOKENIZE(it) or SIZE(s)0"


def test_load_filter_foreach_store_roundtrip(pig, spark, sf_dir):
    pig.execute(
        """
        -- classic projection script
        li = LOAD 'lineitem';
        cheap = FILTER li BY l_quantity < 5 AND l_discount > 0.05;
        out = FOREACH cheap GENERATE l_orderkey, l_extendedprice * (1 - l_discount) AS net;
        """
    )
    got = pig.df("out")
    from pigout_spark.catalog import load_table

    li = load_table(spark, sf_dir, "lineitem")
    want = (
        li.filter((F.col("l_quantity") < 5) & (F.col("l_discount") > 0.05))
        .select("l_orderkey", (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("net"))
    )
    assert got.columns == ["l_orderkey", "net"]
    assert got.count() == want.count() > 0


def test_group_foreach_fusion_is_one_agg(pig):
    pig.execute(
        """
        li = LOAD 'lineitem';
        g = GROUP li BY l_returnflag;
        s = FOREACH g GENERATE group, COUNT(li) AS n, SUM(li.l_quantity) AS qty,
                               AVG(li.l_discount) AS disc;
        """
    )
    out = pig.df("s")
    assert out.columns == ["group", "n", "qty", "disc"]
    rows = {r.group: r for r in out.collect()}
    assert set(rows) == {"A", "N", "R"}
    assert all(r.n > 0 and r.qty > 0 for r in rows.values())
    # fused: the plan aggregates directly, no collect_list bag anywhere
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "collect_list" not in plan


def test_group_all(pig):
    pig.execute(
        "o = LOAD 'orders'; g = GROUP o ALL;"
        " t = FOREACH g GENERATE COUNT(o) AS n, MAX(o.o_totalprice) AS mx;"
    )
    r = pig.df("t").first()
    assert r.n == 6000 // 4  # 1,500 orders at sf0.001
    assert r.mx > 0


def test_join_replicated_and_wordcount(pig):
    pig.execute(
        """
        n = LOAD 'nation';
        r = LOAD 'region';
        j = JOIN n BY n_regionkey, r BY r_regionkey USING 'replicated';
        g = GROUP j BY r_name;
        c = FOREACH g GENERATE group, COUNT(j) AS n_nations;
        """
    )
    got = {r.group: r.n_nations for r in pig.df("c").collect()}
    assert sum(got.values()) == 25
    plan = pig.df("j")._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_join_merge_hint_pins_sort_merge(pig):
    """USING 'merge' must plan SortMergeJoin even where Catalyst would
    otherwise broadcast the (tiny) side — the per-join hint, not a
    session-wide conf."""
    pig.execute(
        """
        n = LOAD 'nation';
        r = LOAD 'region';
        jm = JOIN n BY n_regionkey, r BY r_regionkey USING 'merge';
        jd = JOIN n BY n_regionkey, r BY r_regionkey;
        """
    )
    merged = pig.df("jm")._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in merged
    assert "BroadcastHashJoin" not in merged
    # the default plan for the same join broadcasts — proving the hint
    # changed THIS join rather than some global setting
    default = pig.df("jd")._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in default
    assert pig.df("jm").count() == pig.df("jd").count() == 25


def test_join_skewed_hint_salts(pig):
    """USING 'skewed' must salt THIS join: the plan shuffles on
    (key, __salt) and explodes the other side; results equal the
    default join's."""
    pig.execute(
        """
        c = LOAD 'customer';
        o = LOAD 'orders';
        js = JOIN o BY o_custkey, c BY c_custkey USING 'skewed';
        jd = JOIN o BY o_custkey, c BY c_custkey;
        """
    )
    salted = pig.df("js")._jdf.queryExecution().executedPlan().toString()
    assert "__salt" in salted
    assert "explode" in salted.lower()
    assert pig.df("js").count() == pig.df("jd").count()
    assert sorted(pig.df("js").columns) == sorted(pig.df("jd").columns)


def test_outer_join(pig):
    pig.execute(
        """
        c = LOAD 'customer';
        o = LOAD 'orders';
        j = JOIN c BY c_custkey LEFT OUTER, o BY o_custkey;
        """
    )
    assert pig.df("j").count() >= 1500


def test_flatten_tokenize_wordcount(pig):
    pig.execute(
        """
        d = LOAD 'documents';
        words = FOREACH d GENERATE FLATTEN(TOKENIZE(text)) AS w;
        g = GROUP words BY w;
        counts = FOREACH g GENERATE group, COUNT(words) AS n;
        """
    )
    out = {r.group: r.n for r in pig.df("counts").collect()}
    assert len(out) > 10 and all(n > 0 for n in out.values())


def test_order_limit_distinct_union_sample(pig):
    pig.execute(
        """
        o = LOAD 'orders';
        ord = ORDER o BY o_totalprice DESC, o_orderkey;
        top = LIMIT ord 5;
        """
    )
    top = pig.df("top").collect()
    assert len(top) == 5
    assert top[0].o_totalprice >= top[-1].o_totalprice
    pig.execute(
        "p1 = FOREACH o GENERATE o_orderstatus; d = DISTINCT p1;"
        " u = UNION p1, p1; s = SAMPLE o 0.5;"
    )
    assert pig.df("d").count() == 3
    assert pig.df("u").count() == 2 * pig.df("p1").count()
    assert 0 < pig.df("s").count() < 1500


def test_split_statement(pig):
    pig.execute(
        """
        li = LOAD 'lineitem';
        SPLIT li INTO small IF l_quantity < 10, big IF l_quantity >= 40, mid OTHERWISE;
        """
    )
    n = pig.df("small").count() + pig.df("big").count() + pig.df("mid").count()
    assert n == 6000


def test_rank_by(pig):
    pig.execute(
        "c = LOAD 'customer'; r = RANK c BY c_acctbal DESC;"
    )
    out = pig.df("r")
    assert "rank_c" in out.columns
    first = out.orderBy("rank_c").first()
    assert first.rank_c == 1


def test_count_excludes_null_first_field(pig, spark, tmp_path):
    """Pig COUNT(A) skips tuples whose FIRST field is null; COUNT_STAR
    counts all — the classic gotcha, now compiled faithfully."""
    uri = str(tmp_path / "nully.parquet")
    spark.createDataFrame(
        [(None, "g"), (1, "g"), (2, "g"), (None, "h")], "v int, k string"
    ).write.parquet(uri)
    pig.execute(
        f"n = LOAD '{uri}';"
        " g = GROUP n BY k;"
        " out = FOREACH g GENERATE group, COUNT(n) AS c, COUNT_STAR(n) AS cs;"
    )
    got = {r.group: (r.c, r.cs) for r in pig.df("out").collect()}
    assert got == {"g": (2, 3), "h": (0, 1)}


def test_size_type_dispatch(pig, spark, tmp_path):
    """Pig SIZE: chararray → char count, bag → element count, numeric →
    1, null → null — dispatched on the column type at compile time."""
    uri = str(tmp_path / "sized.parquet")
    spark.createDataFrame(
        [("abcd", [1, 2, 3], 7.5), (None, [], None)],
        "s string, arr array<int>, x double",
    ).write.parquet(uri)
    pig.execute(
        f"t = LOAD '{uri}';"
        " out = FOREACH t GENERATE s, SIZE(s) AS ls, SIZE(arr) AS la, SIZE(x) AS lx;"
    )
    rows = {r.s: r for r in pig.df("out").collect()}
    r0, r1 = rows["abcd"], rows[None]
    assert (r0.ls, r0.la, r0.lx) == (4, 3, 1)
    assert (r1.ls, r1.la, r1.lx) == (None, 0, None)


def test_register_python_udfs(pig, tmp_path):
    """REGISTER 'udfs.py' AS ns: Pig script UDFs as native Python —
    @outputSchema and annotation-typed functions usable in FOREACH and
    FILTER expressions."""
    udf_file = tmp_path / "myudfs.py"
    udf_file.write_text(
        "@outputSchema('rev:double')\n"
        "def revenue(price, disc):\n"
        "    return price * (1.0 - disc)\n"
        "\n"
        "def shout(s) -> str:\n"
        "    return s.upper() + '!'\n"
    )
    pig.execute(
        f"REGISTER '{udf_file}' USING jython AS fns;"
        " li = LOAD 'lineitem';"
        " out = FOREACH li GENERATE l_orderkey,"
        "       fns.revenue(l_extendedprice, l_discount) AS rev,"
        "       fns.shout(l_returnflag) AS flag;"
        " big = FILTER out BY rev > 0;"
    )
    r = pig.df("out").first()
    assert abs(r.rev) >= 0 and r.flag.endswith("!") and r.flag[:-1].isupper()
    assert pig.df("big").count() > 0
    # missing type info is a clear error
    bad = tmp_path / "bad.py"
    bad.write_text("def untyped(x):\n    return x\n")
    with pytest.raises(PigSyntaxError, match="outputSchema"):
        pig.execute(f"REGISTER '{bad}' AS b;")
    # D8: non-Python scripting engines fail with a loud, specific
    # message naming the divergence, not a generic syntax error
    for eng in ("javascript", "groovy", "jruby"):
        with pytest.raises(PigSyntaxError, match="D8"):
            pig.execute(f"REGISTER 'udfs.js' USING {eng} AS j;")


def test_default_param_does_not_override(spark, sf_dir):
    """%default fills only unset params; run_script(params=...) wins
    (Pig's -param precedence)."""
    from pigout_spark.latin import run_script

    script = (
        "%default LIM '3';\n"
        "o = LOAD 'orders';\n"
        "top = LIMIT o $LIM;\n"
    )
    cat = Catalog().register_fixture_dir(sf_dir)
    assert run_script(spark, script, cat).df("top").count() == 3
    assert run_script(spark, script, cat, params={"LIM": "7"}).df("top").count() == 7


def test_run_script_statement(pig, tmp_path):
    """Grunt RUN 'script.pig': executes in the CURRENT session, aliases
    visible afterwards (Pig's documented RUN behavior)."""
    sub = tmp_path / "sub.pig"
    sub.write_text(
        "n = LOAD 'nation';\nbig = FILTER n BY n_nationkey >= 10;\n"
    )
    pig.execute(f"RUN '{sub}'; c = FOREACH big GENERATE n_name;")
    assert pig.df("big").count() == 15
    assert pig.df("c").columns == ["n_name"]


def test_example_udfs_and_compat_script(spark, sf_dir):
    """examples/udfs_and_compat.pig runs end-to-end: REGISTER'd Python
    UDF + SET all_marker + CUBE, through run_script."""
    import pathlib

    from pigout_spark.latin import run_script

    root = pathlib.Path(__file__).resolve().parent.parent
    script = (root / "examples" / "udfs_and_compat.pig").read_text()
    # the script REGISTERs by repo-relative path
    script = script.replace("examples/udfs.py", str(root / "examples" / "udfs.py"))
    ses = run_script(spark, script, Catalog().register_fixture_dir(sf_dir))
    rows = ses.df("by_dim").collect()
    grand = [r for r in rows if r.l_returnflag == "all" and r.l_linestatus == "all"]
    assert len(grand) == 1 and grand[0].n == 6000 and grand[0].net_total > 0


def test_cube_all_marker_compat(pig):
    """`SET pigout.cube.all_marker true` restores Pig's 'all' string in
    rolled-up dimension slots (default keeps Spark's NULL convention)."""
    pig.execute(
        """
        SET pigout.cube.all_marker true;
        o = LOAD 'orders';
        c = CUBE o BY CUBE(o_orderstatus, o_orderpriority);
        s = FOREACH c GENERATE FLATTEN(group), COUNT(o) AS n;
        """
    )
    rows = pig.df("s").collect()
    vals_status = {r.o_orderstatus for r in rows}
    assert "all" in vals_status and None not in vals_status
    grand = [r for r in rows if r.o_orderstatus == "all" and r.o_orderpriority == "all"]
    assert len(grand) == 1 and grand[0].n == 1500  # sf0.001 orders


def test_filter_matches_is_full_match(pig):
    pig.execute(
        "c = LOAD 'customer';"
        " m = FILTER c BY c_mktsegment matches 'BUILD.*';"
        " nomatch = FILTER c BY c_mktsegment matches 'UILDING';"
    )
    assert pig.df("m").count() > 0
    assert pig.df("nomatch").count() == 0  # substring must NOT match


def test_store_and_reload(pig, spark, tmp_path):
    uri = str(tmp_path / "out_csv")
    pig.execute(
        "n = LOAD 'nation';"
        f" STORE n INTO '{uri}' USING PigStorage(',');"
    )
    back = spark.read.option("sep", ",").csv(uri)
    assert back.count() == 25


def test_positional_refs_and_describe(pig, capsys):
    pig.execute(
        "r = LOAD 'region'; p = FOREACH r GENERATE $1 AS name; DESCRIBE p;"
    )
    assert pig.df("p").columns == ["name"]
    assert "name:string" in capsys.readouterr().out


def test_syntax_errors(pig):
    with pytest.raises(PigSyntaxError):
        pig.execute("x = FROBNICATE y;")
    with pytest.raises(PigSyntaxError):
        pig.execute("b = FILTER nope BY 1 = 1;")


def test_run_script_end_to_end(spark, sf_dir):
    pig = run_script(
        spark,
        """
        li = LOAD 'lineitem';
        o  = LOAD 'orders';
        j  = JOIN li BY l_orderkey, o BY o_orderkey;
        g  = GROUP j BY o_orderpriority;
        res = FOREACH g GENERATE group, COUNT(j) AS n, SUM(j.l_quantity) AS qty;
        """,
        Catalog().register_fixture_dir(sf_dir),
    )
    out = pig.df("res").collect()
    assert len(out) == 5 and sum(r.n for r in out) == 6000


def test_cogroup_statement(pig):
    pig.execute(
        """
        c = LOAD 'customer';
        s = LOAD 'supplier';
        cg = COGROUP c BY c_nationkey, s BY s_nationkey;
        """
    )
    out = pig.df("cg")
    assert set(out.columns) == {"group", "c", "s"}
    rows = out.collect()
    # empty bags are empty arrays, never null (Pig semantics)
    assert all(r.c is not None and r.s is not None for r in rows)
    assert sum(len(r.c) for r in rows) == 150  # sf0.001 customers


def test_group_multi_key_struct(pig):
    pig.execute(
        """
        li = LOAD 'lineitem';
        g = GROUP li BY (l_returnflag, l_linestatus);
        agg = FOREACH g GENERATE group, COUNT(li) AS n;
        """
    )
    out = pig.df("agg")
    rows = out.collect()
    assert len(rows) == 6  # 3 flags x 2 statuses
    assert {(r.group[0], r.group[1]) for r in rows} == {
        ("A", "F"), ("A", "O"), ("N", "F"), ("N", "O"), ("R", "F"), ("R", "O")
    }


def test_params_declare_and_stream(pig):
    pig.execute(
        """
        %declare MINQTY '40';
        li = LOAD 'lineitem';
        big = FILTER li BY l_quantity >= $MINQTY;
        p = FOREACH big GENERATE l_orderkey, l_linenumber;
        DEFINE identity `cat`;
        piped = STREAM p THROUGH identity AS (k:chararray, ln:chararray);
        """
    )
    n_big = pig.df("big").count()
    assert n_big > 0
    piped = pig.df("piped")
    assert piped.columns == ["k", "ln"] and piped.count() == n_big


def test_run_script_params_arg(spark, sf_dir):
    pig = run_script(
        spark,
        "li = LOAD 'lineitem'; f = FILTER li BY l_quantity < $CUT;",
        Catalog().register_fixture_dir(sf_dir),
        params={"CUT": "3"},
    )
    assert pig.df("f").count() > 0


def test_nary_join(pig):
    pig.execute(
        """
        c = LOAD 'customer';
        n = LOAD 'nation';
        r = LOAD 'region';
        cn = JOIN c BY c_nationkey, n BY n_nationkey;
        g = GROUP cn BY n_name;
        cnt = FOREACH g GENERATE group, COUNT(cn) AS n_cust;
        """
    )
    assert sum(row.n_cust for row in pig.df("cnt").collect()) == 150
    pig.execute(
        """
        o = LOAD 'orders';
        li = LOAD 'lineitem';
        j3 = JOIN o BY o_custkey, c BY c_custkey, n BY n_nationkey;
        """
    )
    # 3-way join on transitively-equal keys parses and runs
    assert pig.df("j3").count() >= 0


def test_nary_join_broadcasts_a_sized_join_output(pig, spark, monkeypatch):
    """A 3-way JOIN's second join meets lineitem with the first join's
    output; with the threshold between their sizes that output is
    counted and broadcast, and its alias-qualified keys still resolve,
    to the same rows."""
    from pigout_spark.operators import joins

    pig.execute(
        """
        c = LOAD 'customer';
        cb = FILTER c BY c_mktsegment == 'BUILDING';
        o = LOAD 'orders';
        li = LOAD 'lineitem';
        """
    )
    script = "j3 = JOIN cb BY c_custkey, o BY o_custkey, li BY l_orderkey;"
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    calls = []
    real = joins.counted_bytes

    def record(df, threshold, label):
        calls.append(label)
        return real(df, threshold, label)

    try:
        spark.conf.set(key, "-1")
        pig.execute(script)
        want = sorted(pig.df("j3").collect())
        monkeypatch.setattr(joins, "counted_bytes", record)
        spark.conf.set(key, str(64 << 10))
        pig.execute(script)
        plan = pig.df("j3")._jdf.queryExecution().executedPlan().toString()
        got = sorted(pig.df("j3").collect())
    finally:
        spark.conf.set(key, old)
    assert calls == ["join: size input"]
    assert "SortMergeJoin" not in plan and plan.count("BroadcastExchange") == 2
    assert got == want and len(want) > 0


def test_nary_outer_join_rejected(pig):
    pig.execute("c = LOAD 'customer'; o = LOAD 'orders'; n = LOAD 'nation';")
    with pytest.raises(PigSyntaxError):
        pig.execute("j = JOIN c BY c_custkey LEFT OUTER, o BY o_custkey, n BY n_nationkey;")


def test_nested_foreach_aggregate_path(pig, spark, sf_dir):
    pig.execute(
        """
        li = LOAD 'lineitem';
        g = GROUP li BY l_returnflag;
        x = FOREACH g {
          cheap = FILTER li BY l_quantity < 10;
          parts = DISTINCT li.l_partkey;
          GENERATE group, COUNT(cheap) AS n_cheap, SUM(cheap.l_quantity) AS q_cheap,
                   COUNT(parts) AS n_parts, MAX(li.l_extendedprice) AS mx;
        };
        """
    )
    out = pig.df("x")
    assert out.columns == ["group", "n_cheap", "q_cheap", "n_parts", "mx"]
    # no bag materialization anywhere
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "collect_list" not in plan
    # cross-check against hand-written conditional aggregation
    from pigout_spark.catalog import load_table

    li = load_table(spark, sf_dir, "lineitem")
    want = {
        r["l_returnflag"]: (r["n"], r["np"])
        for r in li.groupBy("l_returnflag")
        .agg(
            F.count(F.when(F.col("l_quantity") < 10, 1)).alias("n"),
            F.count_distinct("l_partkey").alias("np"),
        )
        .collect()
    }
    got = {r.group: (r.n_cheap, r.n_parts) for r in out.collect()}
    assert got == want


def test_nested_foreach_topk_path(pig):
    pig.execute(
        """
        o = LOAD 'orders';
        g = GROUP o BY o_custkey;
        top = FOREACH g {
          s = ORDER o BY o_totalprice DESC, o_orderkey ASC;
          l = LIMIT s 2;
          GENERATE group, FLATTEN(l);
        };
        """
    )
    out = pig.df("top")
    counts = out.groupBy("o_custkey").count().collect()
    assert max(r["count"] for r in counts) <= 2
    # plan uses a window over the group key, not bags
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "collect_list" not in plan


def test_nested_foreach_aggregate_over_limit_alias(pig, spark, sf_dir):
    """SUM/COUNT over an ORDER+LIMIT inner alias (top-k aggregation) —
    compiles to one window row_number + conditional aggregates, mixable
    with unlimited aggregates in the same GENERATE."""
    pig.execute(
        """
        o = LOAD 'orders';
        g = GROUP o BY o_orderpriority;
        x = FOREACH g {
          s = ORDER o BY o_totalprice DESC, o_orderkey ASC;
          l = LIMIT s 3;
          GENERATE group, SUM(l.o_totalprice) AS top3_sum,
                   COUNT(l) AS top3_n, COUNT(o) AS n;
        };
        """
    )
    out = pig.df("x")
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "collect_list" not in plan
    from pyspark.sql import Window

    from pigout_spark.catalog import load_table

    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    want = {
        r.o_orderpriority: (round(r.s, 2), r.tn, r.n)
        for r in o.withColumn("rn", F.row_number().over(w))
        .groupBy("o_orderpriority")
        .agg(
            F.sum(F.when(F.col("rn") <= 3, F.col("o_totalprice"))).alias("s"),
            F.count(F.when(F.col("rn") <= 3, 1)).alias("tn"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    }
    got = {
        r.group: (round(r.top3_sum, 2), r.top3_n, r.n) for r in out.collect()
    }
    assert got == want

    # filtered THEN limited alias: only passing rows are numbered
    pig.execute(
        """
        y = FOREACH g {
          f = FILTER o BY o_orderstatus == 'F';
          s2 = ORDER f BY o_totalprice DESC;
          l2 = LIMIT s2 2;
          GENERATE group, COUNT(l2) AS n2;
        };
        """
    )
    wantf = {
        r.o_orderpriority: r.n2
        for r in o.filter(F.col("o_orderstatus") == "F")
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("o_orderpriority").orderBy(
                    F.desc("o_totalprice")
                )
            ),
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.when(F.col("rn") <= 2, 1)).alias("n2"))
        .collect()
    }
    gotf = {r.group: r.n2 for r in pig.df("y").collect()}
    assert gotf == wantf

    # LIMIT without ORDER in the aggregate path is rejected (unordered
    # LIMIT is nondeterministic)
    import pytest as _pytest

    from pigout_spark.latin import PigSyntaxError

    with _pytest.raises(PigSyntaxError):
        pig.execute(
            """
            z = FOREACH g {
              l3 = LIMIT o 2;
              GENERATE group, COUNT(l3) AS n3;
            };
            """
        )


def test_nested_projection_literal_not_rescanned(pig, spark, sf_dir):
    """Single-pass substitution: a projection value inserted for one
    key may contain a string literal equal to ANOTHER key's name; a
    sequential per-key rescan would rewrite that literal into an
    expression (ADVICE r4: proj {s: \"..'pad'..\", pad: ...} on
    \"s == .. AND pad > ..\" corrupted 'pad')."""
    pig.execute(
        """
        o = LOAD 'orders';
        g = GROUP o BY o_orderpriority;
        x = FOREACH g {
          p = FOREACH o GENERATE CONCAT(o_orderstatus, 'pad') AS s,
                                 o_totalprice AS pad;
          hi = FILTER p BY s == 'Opad' AND pad > 1000.0;
          GENERATE group, COUNT(hi) AS c;
        };
        """
    )
    from pigout_spark.catalog import load_table

    o = load_table(spark, sf_dir, "orders")
    keep = (F.col("o_orderstatus") == "O") & (F.col("o_totalprice") > 1000.0)
    want = {
        r.o_orderpriority: r.c
        for r in o.groupBy("o_orderpriority")
        .agg(F.count(F.when(keep, 1)).alias("c"))
        .collect()
    }
    got = {r.group: r.c for r in pig.df("x").collect()}
    assert got == want and sum(got.values()) > 0


def test_nested_foreach_inner_projection(pig, spark, sf_dir):
    """Inner FOREACH projections feed downstream FILTER/ORDER/aggregates:
    p = FOREACH o GENERATE expr AS x; ... SUM(chain.x)."""
    pig.execute(
        """
        o = LOAD 'orders';
        g = GROUP o BY o_orderpriority;
        x = FOREACH g {
          p = FOREACH o GENERATE o_totalprice * 0.9 AS disc;
          hi = FILTER p BY disc > 100000.0;
          GENERATE group, SUM(hi.disc) AS s, COUNT(hi) AS n;
        };
        """
    )
    from pigout_spark.catalog import load_table

    o = load_table(spark, sf_dir, "orders")
    disc = F.col("o_totalprice") * 0.9
    want = {
        r.o_orderpriority: (round(r.s, 2), r.n)
        for r in o.groupBy("o_orderpriority")
        .agg(
            F.sum(F.when(disc > 100000.0, disc)).alias("s"),
            F.count(F.when(disc > 100000.0, 1)).alias("n"),
        )
        .collect()
    }
    got = {r.group: (round(r.s, 2), r.n) for r in pig.df("x").collect()}
    assert got == want

    # projection + order + limit chain: top-2 by projected value
    pig.execute(
        """
        y = FOREACH g {
          p2 = FOREACH o GENERATE o_totalprice * 2.0 AS dbl;
          s2 = ORDER p2 BY dbl DESC;
          l2 = LIMIT s2 2;
          GENERATE group, SUM(l2.dbl) AS top2;
        };
        """
    )
    from pyspark.sql import Window

    w = Window.partitionBy("o_orderpriority").orderBy(
        (F.col("o_totalprice") * 2.0).desc()
    )
    want2 = {
        r.o_orderpriority: round(r.s, 2)
        for r in o.withColumn("rn", F.row_number().over(w))
        .groupBy("o_orderpriority")
        .agg(F.sum(F.when(F.col("rn") <= 2, F.col("o_totalprice") * 2.0)).alias("s"))
        .collect()
    }
    got2 = {r.group: round(r.top2, 2) for r in pig.df("y").collect()}
    assert got2 == want2


def test_inner_projection_subst_is_literal_safe(pig, spark, sf_dir):
    """Projection inlining must not rewrite string literals, and a
    projection containing regex backslashes must be inserted verbatim
    (not re-interpreted as a re.sub escape template) — ADVICE r3."""
    # alias 'O' collides with the literal 'O' in the filter: rewriting
    # inside the quotes would turn st=='O' into st==st (always true on
    # non-null) — the correct result counts only status-O orders
    pig.execute(
        """
        o = LOAD 'orders';
        g = GROUP o BY o_orderpriority;
        x = FOREACH g {
          p = FOREACH o GENERATE o_orderstatus AS O;
          f = FILTER p BY O == 'O';
          GENERATE group, COUNT(f) AS n;
        };
        """
    )
    from pigout_spark.catalog import load_table

    o = load_table(spark, sf_dir, "orders")
    want = {
        r.o_orderpriority: r.n
        for r in o.groupBy("o_orderpriority")
        .agg(F.count(F.when(F.col("o_orderstatus") == "O", 1)).alias("n"))
        .collect()
    }
    got = {r.group: r.n for r in pig.df("x").collect()}
    assert got == want

    # projection translating to RLIKE '^(?:\d-URGENT)$': the backslash
    # must survive substitution into the downstream FILTER
    pig.execute(
        """
        y = FOREACH g {
          p2 = FOREACH o GENERATE (o_orderkey matches '\\d') AS single;
          f2 = FILTER p2 BY single;
          GENERATE group, COUNT(f2) AS n1;
        };
        """
    )
    want2 = {
        r.o_orderpriority: r.n1
        for r in o.groupBy("o_orderpriority")
        .agg(
            F.count(
                F.when(F.col("o_orderkey").cast("string").rlike(r"^\d$"), 1)
            ).alias("n1")
        )
        .collect()
    }
    got2 = {r.group: r.n1 for r in pig.df("y").collect()}
    assert got2 == want2


def test_projected_alias_unknown_field_rejected(pig):
    """Pig semantics: an inner FOREACH's output has only the projected
    fields — aggregating a base column through it is an error, not a
    silent fall-through to the base relation (ADVICE r3)."""
    pig.execute("o = LOAD 'orders'; g = GROUP o BY o_orderpriority;")
    with pytest.raises(PigSyntaxError, match="unknown field"):
        pig.execute(
            """
            x = FOREACH g {
              p = FOREACH o GENERATE o_totalprice * 2.0 AS dbl;
              GENERATE group, SUM(p.o_totalprice) AS s;
            };
            """
        )


def test_nested_topk_flatten_of_projected_alias(pig, spark, sf_dir):
    """FLATTEN of an ORDER+LIMIT alias that chains through an inner
    FOREACH projection: emits the projected schema (plus group keys
    when named), same window top-k plan — the r3 explicit reject is now
    a supported shape."""
    pig.execute(
        """
        o = LOAD 'orders';
        g = GROUP o BY o_orderpriority;
        y = FOREACH g {
          p = FOREACH o GENERATE o_orderkey AS k, o_totalprice * 2.0 AS dbl;
          s = ORDER p BY dbl DESC;
          l = LIMIT s 2;
          GENERATE group, FLATTEN(l);
        };
        """
    )
    out = pig.df("y")
    assert out.columns == ["o_orderpriority", "k", "dbl"]
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "collect_list" not in plan
    from pyspark.sql import Window

    from pigout_spark.catalog import load_table

    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        (F.col("o_totalprice") * 2.0).desc()
    )
    want = {
        (r.o_orderpriority, r.o_orderkey, round(r.o_totalprice * 2.0, 2))
        for r in o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .collect()
    }
    got = {(r.o_orderpriority, r.k, round(r.dbl, 2)) for r in out.collect()}
    assert got == want

    # without `group,` only the projected fields come out
    pig.execute(
        """
        z = FOREACH g {
          p2 = FOREACH o GENERATE o_orderkey AS k;
          s2 = ORDER p2 BY k ASC;
          l2 = LIMIT s2 1;
          GENERATE FLATTEN(l2);
        };
        """
    )
    z = pig.df("z")
    assert z.columns == ["k"]
    wmin = o.groupBy("o_orderpriority").agg(F.min("o_orderkey").alias("k"))
    assert {r.k for r in z.collect()} == {r.k for r in wmin.collect()}


def test_nested_multi_alias_chain(pig, spark, sf_dir):
    """FILTER -> FOREACH -> ORDER -> LIMIT chained through four inner
    aliases, consumed by aggregates alongside an unchained alias."""
    pig.execute(
        """
        o = LOAD 'orders';
        g = GROUP o BY o_orderpriority;
        x = FOREACH g {
          f = FILTER o BY o_orderstatus == 'F';
          p = FOREACH f GENERATE o_totalprice * 0.5 AS hp;
          s = ORDER p BY hp DESC;
          l = LIMIT s 3;
          GENERATE group, SUM(l.hp) AS top3, COUNT(f) AS nf;
        };
        """
    )
    out = pig.df("x")
    from pyspark.sql import Window

    from pigout_spark.catalog import load_table

    o = load_table(spark, sf_dir, "orders")
    half = F.col("o_totalprice") * 0.5
    isf = F.col("o_orderstatus") == "F"
    w = Window.partitionBy("o_orderpriority").orderBy(
        isf.cast("int").desc(), half.desc()
    )
    want = {
        r.o_orderpriority: (round(r.s or 0.0, 2), r.nf)
        for r in o.withColumn("rn", F.row_number().over(w))
        .groupBy("o_orderpriority")
        .agg(
            F.sum(F.when(isf & (F.col("rn") <= 3), half)).alias("s"),
            F.count(F.when(isf, 1)).alias("nf"),
        )
        .collect()
    }
    got = {r.group: (round(r.top3 or 0.0, 2), r.nf) for r in out.collect()}
    assert got == want


def test_flatten_group_multikey_expands_tuple(pig, spark, sf_dir):
    """Pig FLATTEN(group) on a multi-key GROUP expands the key tuple
    into its fields (plain `group` keeps the struct)."""
    pig.execute(
        """
        li = LOAD 'lineitem';
        g = GROUP li BY (l_returnflag, l_linestatus);
        x = FOREACH g GENERATE FLATTEN(group), COUNT(li) AS n;
        s = FOREACH g GENERATE group, COUNT(li) AS n;
        """
    )
    x = pig.df("x")
    assert x.columns == ["l_returnflag", "l_linestatus", "n"]
    assert pig.df("s").columns == ["group", "n"]
    # AS (a, b) renames the expanded fields; arity is checked
    pig.execute(
        "y = FOREACH g GENERATE FLATTEN(group) AS (flag, status), COUNT(li) AS n;"
    )
    assert pig.df("y").columns == ["flag", "status", "n"]
    with pytest.raises(PigSyntaxError, match="expects 2 names"):
        pig.execute(
            "z = FOREACH g GENERATE FLATTEN(group) AS (only_one), COUNT(li) AS n;"
        )
    from pigout_spark.catalog import load_table

    li = load_table(spark, sf_dir, "lineitem")
    want = {
        (r.l_returnflag, r.l_linestatus): r.n
        for r in li.groupBy("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    got = {(r.l_returnflag, r.l_linestatus): r.n for r in x.collect()}
    assert got == want


def test_assert_statement(pig):
    pig.execute(
        "li = LOAD 'lineitem'; ASSERT li BY l_quantity > 0, 'qty must be positive';"
    )
    assert pig.df("li").count() == 6000  # all rows satisfy → passes
    pig.execute("ASSERT li BY l_quantity > 49;")
    with pytest.raises(Exception):
        pig.df("li").count()  # violated → job fails at action time


def test_cube_statement(pig, spark, sf_dir):
    """CUBE A BY CUBE(a,b): fused to df.cube(); matches a hand plan."""
    pig.execute(
        """
        n = LOAD 'nation';
        c = CUBE n BY CUBE(n_regionkey, n_name);
        out = FOREACH c GENERATE FLATTEN(group), COUNT(cube) AS n;
        """
    )
    got = pig.df("out")
    assert set(got.columns) == {"n_regionkey", "n_name", "n"}
    exp = (
        spark.read.parquet(f"{sf_dir}/nation.parquet")
        .cube("n_regionkey", "n_name")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    from collections import Counter
    assert Counter(map(tuple, got.collect())) == Counter(map(tuple, exp.collect()))


def test_rollup_statement(pig, spark, sf_dir):
    """CUBE A BY ROLLUP(a): hierarchical; aggregates over child alias too."""
    pig.execute(
        """
        li = LOAD 'lineitem';
        r = CUBE li BY ROLLUP(l_returnflag, l_linestatus);
        out = FOREACH r GENERATE FLATTEN(group), SUM(li.l_quantity) AS qty;
        """
    )
    got = pig.df("out")
    exp = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .rollup("l_returnflag", "l_linestatus")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    from collections import Counter
    assert Counter(map(tuple, got.collect())) == Counter(map(tuple, exp.collect()))


def test_cube_bare_dump_materializes_bag(pig):
    """DUMP of a bare CUBE materializes (dims…, cube bag) rows."""
    pig.execute(
        """
        n = LOAD 'nation';
        c = CUBE n BY CUBE(n_regionkey);
        """
    )
    rows = pig.df("c").collect()
    # 5 region keys + the all-rolled-up row
    assert len(rows) == 6
    total = next(r for r in rows if r.n_regionkey is None)
    assert len(total.cube) == 25  # every nation in the rolled-up bag


def test_macro_define_and_invoke(pig, spark, sf_dir):
    """DEFINE name(params) RETURNS out { … } + invocation (Pig 0.9+).
    Inner aliases stay scoped to the macro expansion."""
    pig.execute(
        """
        DEFINE top_nations(rel, min_key) RETURNS out {
          f = FILTER $rel BY n_nationkey >= $min_key;
          g = GROUP f BY n_regionkey;
          $out = FOREACH g GENERATE group, COUNT(f) AS n;
        };
        n = LOAD 'nation';
        big = top_nations(n, 10);
        """
    )
    got = {(r[0], r[1]) for r in pig.df("big").collect()}
    exp = {
        (r[0], r[1])
        for r in spark.read.parquet(f"{sf_dir}/nation.parquet")
        .filter("n_nationkey >= 10")
        .groupBy(F.col("n_regionkey").alias("group"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == exp
    assert "f" not in pig.rels and "g" not in pig.rels  # no alias leakage


def test_macro_import(pig, tmp_path):
    """IMPORT 'macros.pig' loads DEFINE…RETURNS macros from a file."""
    mfile = tmp_path / "macros.pig"
    mfile.write_text(
        "DEFINE just_names(rel) RETURNS out {"
        " $out = FOREACH $rel GENERATE n_name; };"
    )
    pig.execute(
        f"""
        IMPORT '{mfile}';
        n = LOAD 'nation';
        names = just_names(n);
        """
    )
    assert pig.df("names").columns == ["n_name"]
    assert pig.df("names").count() == 25


def test_explain_statement(pig, capsys):
    """EXPLAIN alias prints the (formatted) physical plan."""
    pig.execute("n = LOAD 'nation'; EXPLAIN n;")
    out = capsys.readouterr().out
    assert "Physical Plan" in out


def test_cogroup_inner_flag(pig, spark, sf_dir):
    """COGROUP … INNER drops groups whose bag is empty on that side."""
    pig.execute(
        """
        c = LOAD 'customer';
        hi = FILTER c BY c_acctbal > 5000;
        both = COGROUP c BY c_custkey, hi BY c_custkey INNER;
        free = COGROUP c BY c_custkey, hi BY c_custkey;
        """
    )
    both, free = pig.df("both"), pig.df("free")
    # low-balance customers have an empty hi-bag; INNER drops them
    n_empty = free.filter(F.size("hi") == 0).count()
    assert n_empty > 0
    assert both.filter(F.size("hi") == 0).count() == 0
    assert both.count() == free.count() - n_empty


def test_illustrate_statement(pig, capsys):
    """ILLUSTRATE alias: schema line + a small row sample."""
    pig.execute("n = LOAD 'nation'; ILLUSTRATE n;")
    out = capsys.readouterr().out
    assert "-- n: struct<" in out
    assert out.count("(") == 5  # five sample tuples


def test_parallel_clause_accepted_and_superseded(pig, recwarn):
    """Pig `PARALLEL n` (the reducer-count clause on reduce-side
    statements) must PARSE everywhere — production scripts carry it on
    most GROUP/JOIN/ORDER lines — and by default is superseded by
    Spark's parallelism model (shuffle.partitions + AQE), with a
    one-time warning recording the divergence."""
    pig.execute(
        """
        li = LOAD 'lineitem';
        g = GROUP li BY l_returnflag PARALLEL 16;
        out = FOREACH g GENERATE group, COUNT(li) AS n;
        o = LOAD 'orders'; c = LOAD 'customer';
        j = JOIN o BY o_custkey, c BY c_custkey PARALLEL 8;
        s = ORDER o BY o_totalprice DESC PARALLEL 4;
        d = DISTINCT o PARALLEL 4;
        r = LOAD 'region'; n2 = LOAD 'nation';
        x = CROSS r, n2 PARALLEL 2;
        """
    )
    assert pig.df("out").count() == 3
    assert pig.df("j").count() > 0
    warns = [w for w in recwarn.list if "PARALLEL" in str(w.message)]
    assert len(warns) == 1  # warned once, not once per statement


def test_parallel_honor_applies_reducer_counts(pig, spark):
    """`SET pigout.parallel.honor true` applies PARALLEL faithfully:
    the fused GROUP agg runs on exactly n partitions via ONE exchange
    (the group-key pre-partition satisfies the agg's distribution —
    no second shuffle), and join output lands in n partitions.
    Ordered outputs (ORDER ... PARALLEL) stay untouched — a
    repartition would scramble the sort."""
    pig.execute(
        """
        SET pigout.parallel.honor true;
        li = LOAD 'lineitem';
        g = GROUP li BY l_returnflag PARALLEL 16;
        out = FOREACH g GENERATE group, COUNT(li) AS n;
        o = LOAD 'orders'; c = LOAD 'customer';
        j = JOIN o BY o_custkey, c BY c_custkey PARALLEL 8;
        s = ORDER o BY o_totalprice DESC PARALLEL 4;
        """
    )
    assert pig.df("out").rdd.getNumPartitions() == 16
    assert pig.df("j").rdd.getNumPartitions() == 8
    plan = pig.df("out")._jdf.queryExecution().executedPlan().toString()
    # the agg chain reuses the single REPARTITION_BY_NUM exchange (an
    # executed AQE dump appends the initial plan — inspect the final
    # section only)
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("REPARTITION_BY_NUM") == 1
    assert final.count("Exchange") == 1
    # ordered output is still globally sorted
    vals = [r.o_totalprice for r in pig.df("s").collect()]
    assert vals == sorted(vals, reverse=True)


def test_bincond_ternary(pig, spark, sf_dir):
    """Pig bincond `(cond ? a : b)` — the language's only ternary,
    ubiquitous in real scripts — compiles to CASE WHEN, including
    nested binconds and ?/: characters inside string literals."""
    pig.execute(
        """
        o = LOAD 'orders';
        x = FOREACH o GENERATE o_orderkey,
              (o_totalprice > 150000.0 ? 'big'
                 : (o_totalprice > 50000.0 ? 'mid' : 'small')) AS sz;
        f = FILTER x BY (sz == 'big' ? 1 : 0) == 1;
        """
    )
    from pigout_spark.catalog import load_table

    o = load_table(spark, sf_dir, "orders")
    want = {
        r.o_orderkey: r.sz
        for r in o.select(
            "o_orderkey",
            F.when(F.col("o_totalprice") > 150000.0, "big")
            .when(F.col("o_totalprice") > 50000.0, "mid")
            .otherwise("small")
            .alias("sz"),
        ).collect()
    }
    got = {r.o_orderkey: r.sz for r in pig.df("x").collect()}
    assert got == want and len(set(want.values())) == 3
    assert pig.df("f").count() == sum(1 for v in want.values() if v == "big") > 0


def test_join_multi_key(pig, spark, sf_dir):
    """`JOIN a BY (k1, k2), b BY (k1, k2)` — compound-key joins, the
    standard form in real scripts — builds a conjunctive equi-join
    (still a hash-joinable condition, no cartesian)."""
    pig.execute(
        """
        li = LOAD 'lineitem';
        o = LOAD 'orders';
        j = JOIN li BY (l_orderkey, l_suppkey % 2), o BY (o_orderkey, o_orderkey % 2);
        """
    )
    from pigout_spark.catalog import load_table

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    want = li.join(
        o,
        (li["l_orderkey"] == o["o_orderkey"])
        & (li["l_suppkey"] % 2 == o["o_orderkey"] % 2),
    ).count()
    assert pig.df("j").count() == want > 0
    plan = pig.df("j")._jdf.queryExecution().executedPlan().toString()
    assert "Cartesian" not in plan
    # arity mismatch is a parse-time error, not a wrong plan
    with pytest.raises(PigSyntaxError):
        pig.execute("bad = JOIN li BY (l_orderkey, l_suppkey), o BY o_orderkey;")


def test_inline_nested_statements(pig, spark, sf_dir):
    """Pig 0.12+ inline statements: `FOREACH (GROUP li BY k) GENERATE`
    and arbitrarily nested forms compile via hidden aliases — the
    GROUP+FOREACH still fuses to one agg (no bag materialization)."""
    pig.execute(
        """
        li = LOAD 'lineitem';
        x = FOREACH (GROUP li BY l_returnflag) GENERATE group, COUNT(li) AS n;
        z = FOREACH (GROUP (FILTER li BY l_quantity > 10) BY l_returnflag)
              GENERATE group, COUNT($1) AS n;
        """
    )
    from pigout_spark.catalog import load_table

    li = load_table(spark, sf_dir, "lineitem")
    want = {
        r.l_returnflag: r.n
        for r in li.groupBy("l_returnflag").agg(F.count("*").alias("n")).collect()
    }
    assert {r.group: r.n for r in pig.df("x").collect()} == want
    wantz = {
        r.l_returnflag: r.n
        for r in li.filter("l_quantity > 10")
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert {r.group: r.n for r in pig.df("z").collect()} == wantz
    plan = pig.df("x")._jdf.queryExecution().optimizedPlan().toString()
    assert "collect_list" not in plan  # fusion survived the inline form


def test_c_style_casts(pig, spark, sf_dir):
    """Pig C-style casts `(int)x`, `(chararray)x`, `(long)(expr)` — the
    standard bytearray-to-typed idiom — compile to CAST."""
    pig.execute(
        """
        o = LOAD 'orders';
        c = FOREACH o GENERATE (int)o_totalprice AS ti,
                               (chararray)o_orderkey AS sk,
                               (long)(o_totalprice * 100.0) AS cents;
        """
    )
    out = pig.df("c")
    assert dict(out.dtypes) == {"ti": "int", "sk": "string", "cents": "bigint"}
    # values match the DataFrame reference
    from pigout_spark.catalog import load_table

    o = load_table(spark, sf_dir, "orders")
    want = {
        r.sk: r.cents
        for r in o.select(
            F.col("o_orderkey").cast("string").alias("sk"),
            (F.col("o_totalprice") * 100.0).cast("long").alias("cents"),
        ).collect()
    }
    assert {r.sk: r.cents for r in out.collect()} == want


def test_group_of_two_relations_is_cogroup(pig):
    """Pig treats GROUP and COGROUP as synonyms — GROUP over several
    `alias BY key` inputs produces the side-by-side-bags shape."""
    pig.execute(
        """
        o = LOAD 'orders'; li = LOAD 'lineitem';
        gm = GROUP o BY o_orderkey, li BY l_orderkey;
        cg = COGROUP o BY o_orderkey, li BY l_orderkey;
        """
    )
    assert pig.df("gm").columns == pig.df("cg").columns
    assert pig.df("gm").count() == pig.df("cg").count() > 0


def test_equals_ignore_case(pig):
    pig.execute(
        "o = LOAD 'orders'; e = FILTER o BY EqualsIgnoreCase(o_orderstatus, 'o');"
    )
    rows = pig.df("e").select("o_orderstatus").distinct().collect()
    assert {r.o_orderstatus for r in rows} == {"O"}


def test_etl_compat_example_script(pig, spark, sf_dir):
    """examples/etl_compat.pig — the r5 syntax soup (PARALLEL, bincond,
    C-style casts, inline statements, compound join keys) in ONE
    realistic script — runs end-to-end and matches the DataFrame
    reference."""
    from pathlib import Path

    root = Path(__file__).resolve().parents[1]
    pig.execute((root / "examples" / "etl_compat.pig").read_text())
    from pigout_spark.catalog import load_table

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    cls = o.select(
        "o_orderkey",
        (F.col("o_totalprice") * 100.0).cast("long").alias("cents"),
        F.when(F.col("o_totalprice") > 150000.0, "big")
        .when(F.col("o_totalprice") > 50000.0, "mid")
        .otherwise("small")
        .alias("bucket"),
    )
    want = {
        r.bucket: (r.n_lines, r.total_cents)
        for r in li.join(cls, li["l_orderkey"] == cls["o_orderkey"])
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_lines"), F.sum("cents").alias("total_cents")
        )
        .collect()
    }
    got = {
        r.bucket: (r.n_lines, r.total_cents)
        for r in pig.df("by_bucket").collect()
    }
    assert got == want and set(got) == {"big", "mid", "small"}
    assert pig.df("big_only").count() == 1


def test_script_round3_builtins_end_to_end(pig):
    """A Pig script using the r9 builtins end-to-end: STRSPLITTOBAG +
    FLATTEN (bag form), REGEX_EXTRACT_ALL group projection with the
    anchored-match NULL filter, and UniqueID() per record."""
    pig.execute(
        """
        c = LOAD 'customer';
        m = FOREACH c GENERATE c_custkey,
              REGEX_EXTRACT_ALL(c_name, '([A-Za-z]+)#([0-9]+)') AS g,
              UniqueID() AS uid;
        hit = FILTER m BY g IS NOT NULL;
        toks = FOREACH c GENERATE c_custkey,
              FLATTEN(STRSPLITTOBAG(c_name, '#')) AS tok;
        """
    )
    n = pig.df("c").count()
    hit = pig.df("hit")
    assert hit.count() == n  # every fixture name matches the pattern
    row = hit.first()
    assert row.g.group_1 == "Customer" and row.g.group_2.isdigit()
    assert hit.select("uid").distinct().count() == n
    assert pig.df("toks").count() == 2 * n  # 'Customer' + digits per name


def test_round_keeps_type_and_value(pig, spark, tmp_path):
    """ROUND compiles to the rint kernel only over a DOUBLE; over int,
    bigint, float, decimal and double it gives what Spark's round gives,
    value and type."""
    uri = str(tmp_path / "nums.parquet")
    spark.createDataFrame(
        [
            (7, 2**40 + 3, 2.5, "-2.500", 2.5),
            (-7, -5, -0.5, "0.499", -2.5),
            (0, 0, 1.4999, "-0.500", -0.3),
            (None, None, None, None, 4503599627370495.5),
            (1, 1, 3.5, "1.500", None),
        ],
        "i int, b bigint, f float, d string, x double",
    ).selectExpr("i", "b", "f", "CAST(d AS DECIMAL(10,3)) AS d", "x").write.parquet(
        uri
    )
    pig.execute(
        f"t = LOAD '{uri}';"
        " r = FOREACH t GENERATE ROUND(i) AS i, ROUND(b) AS b, ROUND(f) AS f,"
        " ROUND(d) AS d, ROUND(x) AS x, ROUND(x * 10.0) AS x10,"
        " ROUND(ROUND(x * 10.0) / 4.0) AS xn, CONCAT('round(x)', '') AS s;"
    )
    got = pig.df("r")
    want = spark.read.parquet(uri).selectExpr(
        "round(i) AS i", "round(b) AS b", "round(f) AS f", "round(d) AS d",
        "round(x) AS x", "round(x * 10.0) AS x10",
        "round(round(x * 10.0) / 4.0) AS xn", "concat('round(x)', '') AS s",
    )
    assert got.dtypes == want.dtypes
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in want.collect()]
    assert "-0.0" not in str(got.select("x").collect())
    plan = got.drop("s")._jdf.queryExecution().optimizedPlan().toString()
    assert "rint(" in plan
    assert plan.count("round(") == 4  # int, bigint, float, decimal


def test_round_of_random_keeps_one_rand(pig):
    """The kernel repeats its argument, and every textual rand() gets its
    own seed, so ROUND over a non-deterministic argument keeps round."""
    pig.execute(
        "r = LOAD 'region';"
        " x = FOREACH r GENERATE r_name, ROUND(RANDOM() * 10) AS v;"
    )
    plan = pig.df("x")._jdf.queryExecution().analyzed().toString()
    assert plan.count("rand(") == 1 and "round(" in plan
