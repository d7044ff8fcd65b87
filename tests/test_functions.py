"""Pig builtin-function semantics (SURVEY.md §2.7), especially the
index-convention divergences (D4) flagged as the likeliest source of
silent wrong answers (§7-H4)."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from pigout_spark.functions import (
    BAG_TO_STRING,
    CONCAT,
    DIFF,
    INDEXOF,
    IS_EMPTY,
    LAST_INDEX_OF,
    REPLACE,
    SIZE,
    SUBSTRING,
    SUBTRACT,
    TOKENIZE,
)
from pigout_spark.functions.datetime_fns import (
    ADD_DURATION,
    DAYS_BETWEEN,
    GET_MONTH,
    GET_YEAR,
)


def one(spark, col):
    return spark.range(1).select(col.alias("v")).first()["v"]


def test_substring_pig_conventions(spark):
    # Pig: SUBSTRING('hello world', 0, 5) = 'hello' (0-based, stop-exclusive)
    assert one(spark, SUBSTRING(F.lit("hello world"), 0, 5)) == "hello"
    assert one(spark, SUBSTRING(F.lit("hello world"), 6, 11)) == "world"
    assert one(spark, SUBSTRING(F.lit("hello"), 1, 3)) == "el"


def test_indexof_pig_conventions(spark):
    # Pig: 0-based, -1 when absent
    assert one(spark, INDEXOF(F.lit("hello"), "l")) == 2
    assert one(spark, INDEXOF(F.lit("hello"), "z")) == -1
    assert one(spark, INDEXOF(F.lit("hello"), "h")) == 0
    assert one(spark, INDEXOF(F.lit("hello"), "l", 3)) == 3


def test_last_index_of(spark):
    assert one(spark, LAST_INDEX_OF(F.lit("hello"), "l")) == 3
    assert one(spark, LAST_INDEX_OF(F.lit("hello"), "z")) == -1
    assert one(spark, LAST_INDEX_OF(F.lit("abcabc"), "bc")) == 4


def test_replace_is_regex(spark):
    # Pig REPLACE uses String.replaceAll — regex, not literal.
    assert one(spark, REPLACE(F.lit("a1b22c"), "[0-9]+", "#")) == "a#b#c"


def test_concat_null_propagates(spark):
    assert one(spark, CONCAT(F.lit("a"), F.lit(None).cast("string"))) is None
    assert one(spark, CONCAT(F.lit("a"), F.lit("b"), F.lit("c"))) == "abc"


def test_tokenize_delimiter_class(spark):
    # StringTokenizer " \",()*" drops empty tokens.
    got = one(spark, TOKENIZE(F.lit('one two,three(four)five*six"seven')))
    assert got == ["one", "two", "three", "four", "five", "six", "seven"]


def test_bag_builtins(spark):
    arr = F.array(F.lit(1), F.lit(2), F.lit(2), F.lit(3))
    arr2 = F.array(F.lit(2), F.lit(9))
    assert one(spark, SIZE(arr)) == 4
    assert one(spark, IS_EMPTY(F.array().cast("array<int>"))) is True
    assert one(spark, BAG_TO_STRING(F.array(F.lit("a"), F.lit("b")), "_")) == "a_b"
    assert one(spark, SUBTRACT(arr, arr2)) == [1, 3]
    assert sorted(one(spark, DIFF(arr, arr2))) == [1, 3, 9]


def test_datetime_builtins(spark):
    ts = F.lit("2024-03-15 10:30:00").cast("timestamp")
    assert one(spark, GET_YEAR(ts)) == 2024
    assert one(spark, GET_MONTH(ts)) == 3
    df = spark.createDataFrame([Row(dt="2024-03-15 10:30:00")]).select(
        F.col("dt").cast("timestamp").alias("dt")
    )
    got = df.select(ADD_DURATION("dt", "P1DT2H").alias("v")).first()["v"]
    assert str(got) == "2024-03-16 12:30:00"
    a = F.lit("2024-03-15 00:00:00").cast("timestamp")
    b = F.lit("2024-03-10 00:00:00").cast("timestamp")
    assert one(spark, DAYS_BETWEEN(a, b)) == 5


def test_top_n_of_bag(spark):
    from pigout_spark.functions.bags import TOP

    df = spark.createDataFrame(
        [(1, [{"k": "a", "v": 1}, {"k": "b", "v": 9}, {"k": "c", "v": 5}])],
        "g int, bag array<struct<k:string,v:int>>",
    )
    got = df.select(TOP(2, "v", "bag").alias("t")).first().t
    assert [(r.k, r.v) for r in got] == [("b", 9), ("c", 5)]


def test_datamodel_lazy_cast_and_positional(spark):
    from pigout_spark.datamodel import describe, lazy_cast, positional

    df = spark.createDataFrame([("42", "x")], ["raw", "s"])
    assert df.select(lazy_cast("raw", "long").alias("v")).first().v == 42
    assert df.select(positional(df, 1).alias("p")).first().p == "x"
    assert describe(df) == "struct<raw:string,s:string>"


def test_pluck_prefix_select(spark):
    from pigout_spark.functions.bags import PLUCK

    df = spark.createDataFrame([(1, 2, 3)], ["a_x", "a_y", "b_z"])
    assert PLUCK(df, "a_").columns == ["a_x", "a_y"]
    assert PLUCK(df, "a_", keep=["b_z"]).columns == ["b_z", "a_x", "a_y"]


def test_strsplittobag_java_split_semantics(spark):
    from pigout_spark.functions.strings import STRSPLITTOBAG

    df = spark.createDataFrame(
        [("a#b#c",), ("a##",), ("a##b",), ("solo",), ("##",), ("",)], ["s"]
    )
    got = {
        r.s: list(r.toks)
        for r in df.select("s", STRSPLITTOBAG("s", "#").alias("toks")).collect()
    }
    # Java String.split drops TRAILING empty tokens only
    assert got["a#b#c"] == ["a", "b", "c"]
    assert got["a##"] == ["a"]
    assert got["a##b"] == ["a", "", "b"]  # interior empties survive
    assert got["solo"] == ["solo"]
    assert got["##"] == []  # all-separators → every token trailing-empty
    assert got[""] == [""]  # Java's no-match whole-string return
    # an explicit positive limit keeps trailing empties (Java does too)
    lim = {
        r.s: list(r.toks)
        for r in df.select(
            "s", STRSPLITTOBAG("s", "#", 3).alias("toks")
        ).collect()
    }
    assert lim["a##"] == ["a", "", ""]
    # explicit NEGATIVE limit also keeps trailing empties (Java does;
    # the limit-0 trim must not apply — r9 self-review)
    neg = {
        r.s: list(r.toks)
        for r in df.select(
            "s", STRSPLITTOBAG("s", "#", -1).alias("toks")
        ).collect()
    }
    assert neg["a##"] == ["a", "", ""]
    # the bag's one-row-per-token form is FLATTEN/explode
    n = df.select(F.explode(STRSPLITTOBAG("s", "#")).alias("t")).count()
    assert n == 3 + 1 + 3 + 1 + 0 + 1


def test_java_split_multichar_and_overlapping_patterns(spark):
    """r9 advice regression: Java tokenizes left-to-right, so the
    trailing-empty drop must operate on the TOKEN ARRAY, not trim
    separator runs off the input string — multi-char and overlapping
    patterns diverge under the trim.  Hand-checked against Java:
    'aba'.split('ab|ba') == ['', 'a']; 'x---'.split('--') == ['x','-'];
    '--x--'.split('--') == ['', 'x']."""
    from pigout_spark.functions.strings import STRSPLIT

    df = spark.createDataFrame(
        [("aba", "ab|ba"), ("x---", "--"), ("--x--", "--"), ("----", "--")],
        ["s", "p"],
    )
    rows = df.collect()
    got = {}
    for r in rows:
        one = spark.createDataFrame([(r.s,)], ["s"])
        got[(r.s, r.p)] = list(
            one.select(STRSPLIT("s", r.p).alias("t")).first().t
        )
    assert got[("aba", "ab|ba")] == ["", "a"]
    assert got[("x---", "--")] == ["x", "-"]
    assert got[("--x--", "--")] == ["", "x"]
    assert got[("----", "--")] == []  # all trailing empties


def test_strsplit_one_arg_whitespace_default(spark):
    """Pig's legal 1-arg STRSPLIT(s) splits on whitespace (r9 advice:
    the latin template used to IndexError on it)."""
    from pigout_spark.functions.strings import STRSPLIT
    from pigout_spark.latin import translate_expr

    df = spark.createDataFrame([("a  b\tc ",)], ["s"])
    assert list(df.select(STRSPLIT("s").alias("t")).first().t) == [
        "a",
        "b",
        "c",
    ]
    got = df.selectExpr(
        translate_expr("STRSPLIT(s)") + " AS t"
    ).first()
    assert list(got.t) == ["a", "b", "c"]


def test_regex_extract_all_anchored_groups(spark):
    from pigout_spark.functions.strings import REGEX_EXTRACT_ALL

    df = spark.createDataFrame(
        [("Customer#000042",), ("xCustomer#1x",), ("no-match",)], ["s"]
    )
    rows = {
        r.s: r.m
        for r in df.select(
            "s", REGEX_EXTRACT_ALL("s", r"([A-Za-z]+)#(\d+)").alias("m")
        ).collect()
    }
    # full match → every capture group, positionally (D4: group struct)
    assert rows["Customer#000042"].group_1 == "Customer"
    assert rows["Customer#000042"].group_2 == "000042"
    # Pig uses Matcher.matches(): a PARTIAL match must be rejected —
    # the find()-semantics trap an unanchored port would fall into
    assert rows["xCustomer#1x"] is None
    assert rows["no-match"] is None
    # group-free patterns are a loud error (Pig returns the groups tuple)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        REGEX_EXTRACT_ALL("s", r"\d+")


def test_unique_id_shape_and_uniqueness(spark):
    from pigout_spark.functions.strings import UNIQUE_ID

    df = spark.range(1000).repartition(7)
    got = df.select(UNIQUE_ID().alias("uid"))
    vals = [r.uid for r in got.collect()]
    # contract: unique per record, Pig's "taskindex-counter" shape
    assert len(set(vals)) == 1000
    import re as _re

    assert all(_re.fullmatch(r"\d+-\d+", v) for v in vals)


def test_latin_round3_builtins(spark):
    from pigout_spark.latin import translate_expr

    got = translate_expr("STRSPLITTOBAG(s, '#')")
    # r10 construction: split -1 + slice to last non-empty element
    assert "slice(" in got and "split(s, '#', -1)" in got
    rea = translate_expr("REGEX_EXTRACT_ALL(s, '([a-z]+)-([0-9]+)')")
    assert "RLIKE" in rea and "group_2" in rea and "^(?:" in rea
    uid = translate_expr("UniqueID()")
    assert "monotonically_increasing_id" in uid
    # the rewritten SQL actually runs and matches the Column twins
    df = spark.createDataFrame([("ab-12",), ("nope",)], ["s"])
    r = df.selectExpr(f"{rea} AS m", f"{uid} AS uid").collect()
    ms = {row.uid is not None: row.m for row in r}
    assert all(row.uid for row in r)
    got_m = [row.m for row in r]
    assert any(m is not None and m.group_1 == "ab" and m.group_2 == "12" for m in got_m)
    assert any(m is None for m in got_m)


def test_todate_offset_is_instant_not_zone(spark):
    """D6 (SURVEY divergence register): an explicit offset in a ToDate
    input string is honored when parsing the INSTANT, but Spark's
    TimestampType does not remember the per-value zone Pig's Joda
    datetime carries — components read back in the session timezone.
    This test pins the instant-correctness half of the contract."""
    from pigout_spark.functions.datetime_fns import TO_DATE

    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        df = spark.createDataFrame(
            [("2024-03-01T10:30:00+05:30",), ("2024-03-01T05:00:00+00:00",)],
            ["s"],
        )
        got = df.select(
            TO_DATE("s", "yyyy-MM-dd'T'HH:mm:ssXXX").alias("ts")
        ).collect()
        # +05:30 10:30 == 05:00 UTC: both rows are the SAME instant
        assert got[0].ts == got[1].ts
        # and components render in the session zone (UTC), not +05:30
        hours = df.select(
            F.hour(TO_DATE("s", "yyyy-MM-dd'T'HH:mm:ssXXX")).alias("h")
        ).collect()
        assert [r.h for r in hours] == [5, 5]
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_cents_matches_round_on_fixture_doubles(spark, sf_dir):
    """``to_cents`` gives ``round(x·10⁴)`` as the former ``F.round`` form
    did, row for row, on every DOUBLE column of the sf0.01 fixture and
    on the discounted-price product the TPC-H queries sum."""
    from pathlib import Path

    from pigout_spark.catalog import FIXTURE_TABLES, load_table
    from pigout_spark.functions.math_fns import to_cents

    sf01 = str(Path(sf_dir).parent / "sf0.01")
    checked = 0
    for name in FIXTURE_TABLES:
        df = load_table(spark, sf01, name)
        exprs = [F.col(c) for c, t in df.dtypes if t == "double"]
        if name == "lineitem":
            exprs.append(F.col("l_extendedprice") * (1 - F.col("l_discount")))
        for e in exprs:
            bad = df.filter(
                ~to_cents(e).eqNullSafe(F.round(e * 10000).cast("long"))
            ).count()
            assert bad == 0, (name, str(e), bad)
            checked += 1
    assert checked >= 7


def test_cents_conversion_lives_in_math_fns():
    """Every cents conversion goes through ``functions/math_fns.py:to_cents``,
    so one function decides how a double becomes int64 cents."""
    import re
    from pathlib import Path

    pkg = Path(__file__).resolve().parent.parent / "pigout_spark"
    home = pkg / "functions" / "math_fns.py"
    idiom = re.compile(r"F\.round\(.*\*\s*10000\b")
    stray = [
        f"{p.relative_to(pkg)}:{n}"
        for p in sorted(pkg.rglob("*.py"))
        if p != home
        for n, line in enumerate(p.read_text().splitlines(), 1)
        if idiom.search(line)
    ]
    assert not stray, stray
