"""Pig Latin front-end (subset) — the reference's user-facing entry
points re-created over DataFrames (SURVEY.md §3.1: script runner, Grunt
shell, PigServer API).

A statement-by-statement compiler: each Pig Latin assignment becomes a
DataFrame (aliased with its Pig alias, so ``A::x`` / ``A.x``
disambiguation resolves through Spark's column resolution), and the
plan stays fully declarative — Catalyst sees exactly what a hand-written
DataFrame program would produce.  No custom execution: parse → rewrite
expressions to Spark SQL → ``F.expr``.

Supported statements (the workhorse subset of the Pig Latin manual):

    A = LOAD 'uri' [USING PigStorage(',')] [AS (n:type, ...)];
    A = LOAD 'tablename';                      -- catalog-registered table
    B = FILTER A BY <expr>;
    C = FOREACH A GENERATE <expr> [AS name], ...;   -- incl. FLATTEN(...)
    G = GROUP A BY <expr> | ALL;  /  COGROUP via GROUP of 1 relation
    E = FOREACH G GENERATE group, COUNT(A), SUM(A.x), ...;  -- fused agg
    J = JOIN A BY k [LEFT|RIGHT|FULL] [OUTER], B BY k [USING 'replicated'];
    CG = COGROUP A BY k, B BY k [, ...];       -- side-by-side bags
    O = ORDER A BY x [ASC|DESC], ...;
    L = LIMIT A n;          D = DISTINCT A;        U = UNION A, B, ...;
    S = SAMPLE A 0.1;       R = RANK A BY x [DESC];
    C = CROSS A, B;
    SPLIT A INTO X IF p, Y IF q [, Z OTHERWISE];
    B = STREAM A THROUGH `cmd` [AS (n:type, ...)];
    DEFINE alias `cmd`;                        -- streaming command binding
    REGISTER 'udfs.py' [USING jython] AS ns;   -- script UDFs (CPython)
    SET key 'value';                           -- session options
    RUN 'script.pig';  /  EXEC 'script.pig';   -- Grunt script execution
    %declare NAME 'value';                     -- + run_script(params={...})
    ASSERT A BY p [, 'message'];
    STORE A INTO 'uri' [USING ...];      DUMP A;      DESCRIBE A;

Expression rewrites applied before Spark's SQL parser takes over:
``$i`` positional refs → column names; ``A::x`` → ``A.x``; ``x matches
'p'`` → anchored RLIKE (Pig's matches is a FULL match — Java
String.matches); Pig builtin names → Spark equivalents (including the
index-convention shims, divergence D4); ``m#'k'`` map access →
``m['k']``.

Also supported (implemented below, tested in test_latin.py): macros
(``DEFINE name(params) RETURNS alias { body }``), ``IMPORT 'file'`` of
macro files, parameter substitution (``%declare`` / ``run_script(
params=...)``), and nested FOREACH blocks (FILTER/ORDER/DISTINCT/LIMIT
+ GENERATE, compiled to conditional aggregates or window top-k).

Out of scope (documented): REGISTER of external UDF jars (native Python
UDFs cover this — §2.9) and MAPREDUCE.  Multi-field group keys appear
as a struct named ``group``.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from pigout_spark.catalog import Catalog
from pigout_spark.functions.math_fns import ROUND_HALF_UP_SQL
from pigout_spark.operators.joins import join as op_join
from pigout_spark.operators.relational import split as op_split


class PigSyntaxError(ValueError):
    pass


# ------------------------------------------------------------ expressions ---

#: Pig builtin → Spark SQL function name (1:1 renames; the SQL parser
#: handles arity).  Index-convention shims below handle the rest.
_FN_RENAME = {
    "UPPER": "upper",
    "LOWER": "lower",
    "TRIM": "trim",
    "LTRIM": "ltrim",
    "RTRIM": "rtrim",
    "CONCAT": "concat",
    "SPRINTF": "format_string",
    "STRSPLIT": "",  # template (Java limit-0 default, D4)
    "STRSPLITTOBAG": "",  # template — bag == array; FLATTEN explodes it
    "REPLACE": "regexp_replace",
    "REGEX_EXTRACT": "regexp_extract",
    "STARTSWITH": "startswith",
    "ENDSWITH": "endswith",
    "SIZE": "size",
    "ABS": "abs",
    "CEIL": "ceil",
    "FLOOR": "floor",
    "ROUND": "round",
    "ROUND_TO": "round",
    "EXP": "exp",
    "LOG": "ln",
    "LOG10": "log10",
    "SQRT": "sqrt",
    "CBRT": "cbrt",
    "RANDOM": "rand",
    "SIN": "sin",
    "COS": "cos",
    "TAN": "tan",
    "ASIN": "asin",
    "ACOS": "acos",
    "ATAN": "atan",
    "SINH": "sinh",
    "COSH": "cosh",
    "TANH": "tanh",
    "COPYSIGN": "copysign",
    "SUBTRACT": "array_except",
    "GETYEAR": "year",
    "GETMONTH": "month",
    "GETDAY": "dayofmonth",
    "GETHOUR": "hour",
    "GETMINUTE": "minute",
    "GETSECOND": "second",
    "GETWEEK": "weekofyear",
    "TODATE": "to_timestamp",
    "TOSTRING": "date_format",
    "TOUNIXTIME": "unix_timestamp",
    "CURRENTTIME": "current_timestamp",
    "ISEMPTY": "",  # handled via template below
    "TOTUPLE": "struct",
    "TOBAG": "array",
    "TOMAP": "map",
    "BAGTOSTRING": "array_join",
    "KEYSET": "map_keys",
    "VALUELIST": "map_values",
    "INDEXOF": "",  # template
    "SUBSTRING": "",  # template
    "TOKENIZE": "",  # template
}

def _regex_extract_all_sql(a: list[str]) -> str:
    """Pig REGEX_EXTRACT_ALL(s, pattern): anchored full-string match
    (Matcher.matches) returning the tuple of ALL capture groups, NULL on
    no-match.  Needs the group count, so the pattern must be a string
    LITERAL in the script (it always is in real Pig — the pattern is
    compiled once in the UDF constructor)."""
    pat_sql = a[1].strip()
    if not (pat_sql.startswith("'") and pat_sql.endswith("'")):
        raise ValueError(
            "REGEX_EXTRACT_ALL requires a literal pattern argument"
        )
    pat = pat_sql[1:-1].replace("''", "'")
    n = re.compile(pat).groups
    if n < 1:
        raise ValueError(
            "REGEX_EXTRACT_ALL: pattern has no capture groups"
        )
    anchored = f"^(?:{pat})$"
    lit = "'" + anchored.replace("'", "''") + "'"
    groups = ", ".join(
        f"regexp_extract({a[0]}, {lit}, {i + 1}) AS group_{i + 1}"
        for i in range(n)
    )
    return (
        f"CASE WHEN {a[0]} RLIKE {lit} "
        f"THEN struct({groups}) END"
    )


def _java_split_sql(a: list[str]) -> str:
    """SQL twin of strings._java_split: Pig STRSPLIT/STRSPLITTOBAG wrap
    Java String.split, which differs from Spark's split ONLY at
    limit 0 (Java drops trailing empty tokens; positive AND negative
    limits behave identically in both — r9 self-review).  Any explicit
    non-zero limit passes straight through; the limit-0 default splits
    with limit -1 and slices the array up to its last non-empty element
    — exactly Java's post-tokenize trailing-empty removal (the r9
    trim-the-input construction diverged for multi-char/overlapping
    patterns like 'x---'.split('--') — r9 advice).  Java corners: ''
    → array('') kept explicitly; all-separators → array() falls out
    (slice length 0).  Pig's 1-arg form defaults the pattern to
    whitespace ('\\\\s+')."""
    if len(a) == 1:
        a = [a[0], r"'\\s+'"]
    if len(a) == 3 and a[2].strip() != "0":
        return f"split({a[0]}, {a[1]}, {a[2]})"
    pat_sql = a[1].strip()
    if not (pat_sql.startswith("'") and pat_sql.endswith("'")):
        raise ValueError("STRSPLIT requires a literal pattern argument")
    arr = f"split({a[0]}, {pat_sql}, -1)"
    last = (
        f"array_max(zip_with({arr}, sequence(1, size({arr})), "
        f"(__e, __i) -> CASE WHEN __e != '' THEN __i END))"
    )
    return (
        f"CASE WHEN {a[0]} = '' THEN array('') "
        f"ELSE slice({arr}, 1, coalesce({last}, 0)) END"
    )


#: templates for builtins whose semantics need argument rewrites (D4).
#: INDEXOF is handled inline (optional third argument).
_FN_TEMPLATE = {
    "SUBSTRING": lambda a: f"substring({a[0]}, ({a[1]}) + 1, ({a[2]}) - ({a[1]}))",
    "TOKENIZE": lambda a: (
        f"filter(split({a[0]}, '[ \\\",()*]'), __t -> __t != '')"
    ),
    "ISEMPTY": lambda a: f"(size({a[0]}) = 0)",
    "EQUALSIGNORECASE": lambda a: f"(lower({a[0]}) = lower({a[1]}))",
    # Pig wraps Java String.split: default limit 0 drops trailing empty
    # tokens, whereas Spark keeps them for every limit<=0 — replicate
    # Java via strings._java_split's trim construction (D4)
    "STRSPLIT": lambda a: _java_split_sql(a),
    "STRSPLITTOBAG": lambda a: _java_split_sql(a),
    "REGEX_EXTRACT_ALL": _regex_extract_all_sql,
    # Pig UniqueID: per-record "taskindex-counter" string.  Spark's
    # monotonically_increasing_id is the same construction packed into
    # int64 ((partition << 33) | counter); render the two halves.  Two
    # instances of the expression in one projection advance in lockstep
    # (each counts the same rows per partition), so both refs see the
    # same id.  Only uniqueness is contractual (D-register).
    "UNIQUEID": lambda a: (
        "concat(cast(shiftrightunsigned(monotonically_increasing_id(), 33)"
        " as string), '-', "
        "cast((monotonically_increasing_id() & 8589934591) as string))"
    ),
}

#: Pig C-style cast types → Spark SQL cast targets
_CAST_TYPES = {
    "int": "INT",
    "long": "BIGINT",
    "float": "FLOAT",
    "double": "DOUBLE",
    "chararray": "STRING",
    "boolean": "BOOLEAN",
    "bytearray": "BINARY",
    "biginteger": "DECIMAL(38,0)",
    "bigdecimal": "DECIMAL(38,18)",
    "datetime": "TIMESTAMP",
}

_CAST_RE = re.compile(
    r"\(\s*(" + "|".join(_CAST_TYPES) + r")\s*\)\s*", re.IGNORECASE
)


def _rewrite_casts(s: str) -> str:
    """Pig C-style casts `(int)x` → `CAST(x AS INT)` — the standard
    bytearray-to-typed idiom in real scripts.  The cast binds to the
    next primary expression: an identifier chain with optional call/
    subscript, a parenthesized expression, or another cast (chains
    rewrite on successive passes)."""
    while True:
        m = _CAST_RE.search(s)
        if m is None:
            return s
        target = _CAST_TYPES[m.group(1).lower()]
        i, n = m.end(), len(s)
        if i < n and s[i] == "(":
            j, depth, quote = i + 1, 1, None
            while j < n and depth:
                ch = s[j]
                if quote:
                    if ch == quote and s[j - 1] != "\\":
                        quote = None
                elif ch == "'":
                    quote = ch
                elif ch == "(":
                    depth += 1
                elif ch == ")":
                    depth -= 1
                j += 1
            operand_end = j
        else:
            pm = re.match(r"[\w.$]+", s[i:])
            if not pm:  # bare parenthesized column, not a cast — skip
                return s
            operand_end = i + pm.end()
            # attached call or map subscript belongs to the operand
            while operand_end < n and s[operand_end] in "([":
                close = {"(": ")", "[": "]"}[s[operand_end]]
                j, depth, quote = operand_end + 1, 1, None
                while j < n and depth:
                    ch = s[j]
                    if quote:
                        if ch == quote and s[j - 1] != "\\":
                            quote = None
                    elif ch == "'":
                        quote = ch
                    elif ch == s[operand_end]:
                        depth += 1
                    elif ch == close:
                        depth -= 1
                    j += 1
                operand_end = j
        s = (
            s[: m.start()]
            + f"CAST({s[i:operand_end]} AS {target})"
            + s[operand_end:]
        )


def _rewrite_matches(expr: str) -> str:
    """`x matches 'pat'` → `x RLIKE '^(?:pat)$'` (Pig matches = full
    match, Java String.matches)."""

    def sub(m: re.Match) -> str:
        # The output is a Spark SQL string literal: its parser consumes
        # backslash escapes ('\d' parses as 'd'), so regex backslashes
        # must be doubled to reach RLIKE intact.
        pat = m.group(2).replace("\\", "\\\\")
        return f"{m.group(1)} RLIKE '^(?:{pat})$'"

    return re.sub(
        r"(\S+)\s+matches\s+'((?:[^'\\]|\\.)*)'", sub, expr, flags=re.IGNORECASE
    )


def _split_args(arglist: str) -> list[str]:
    """Split a function arg list on top-level commas."""
    args, depth, start, quote = [], 0, 0, None
    for i, ch in enumerate(arglist):
        if quote:
            if ch == quote and arglist[i - 1] != "\\":
                quote = None
            continue
        if ch in "'\"":
            quote = ch
        elif ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        elif ch == "," and depth == 0:
            args.append(arglist[start:i].strip())
            start = i + 1
    tail = arglist[start:].strip()
    if tail:
        args.append(tail)
    return args


def _close_paren(s: str, j: int) -> int:
    """Index just past the ``)`` that closes the call whose arguments
    start at ``s[j]`` (quote- and nesting-aware)."""
    depth, quote = 1, None
    while j < len(s) and depth:
        ch = s[j]
        if quote:
            if ch == quote and s[j - 1] != "\\":
                quote = None
        elif ch in "'\"":
            quote = ch
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        j += 1
    return j


def _quote_mask(s: str) -> list[bool]:
    """``mask[i]`` is True when ``s[i]`` lies inside a single-quoted
    string literal (backslash escapes honoured; the closing quote
    counts as inside).  A call name found inside a literal is text, not
    a call, and every rewrite that matches call names consults this."""
    in_quote, escaped, mask = False, False, []
    for ch in s:
        mask.append(in_quote)
        if escaped:
            escaped = False
        elif in_quote and ch == "\\":
            escaped = True
        elif ch == "'":
            in_quote = not in_quote
    return mask


def _rewrite_functions(expr: str) -> str:
    """Rewrite Pig builtin calls (rename or template), innermost-first."""
    pattern = re.compile(r"\b([A-Za-z_][A-Za-z_0-9]*)\s*\(")
    while True:
        changed = False
        quoted = _quote_mask(expr)
        for m in pattern.finditer(expr):
            name = m.group(1)
            if quoted[m.start()] or name == name.lower():
                # all-lowercase = already Spark SQL (incl. our own rewrite
                # output) — never re-rewrite, or substring() would gain an
                # index shift on every pass.  Pig builtins are uppercase.
                continue
            uname = name.upper().replace("_", "") if name.upper() in (
                "GET_YEAR", "GET_MONTH", "GET_DAY", "GET_HOUR", "GET_MINUTE",
                "GET_SECOND", "GET_WEEK", "TO_DATE", "TO_STRING", "TO_UNIX_TIME",
                "CURRENT_TIME", "IS_EMPTY",
            ) else name.upper()
            if uname not in _FN_RENAME and uname not in _FN_TEMPLATE:
                continue
            j = _close_paren(expr, m.end())
            inner = expr[m.end() : j - 1]
            args = _split_args(inner)
            if uname == "INDEXOF":
                base = f"(locate({args[1]}, {args[0]}) - 1)" if len(args) == 2 else (
                    f"(locate({args[1]}, {args[0]}, ({args[2]}) + 1) - 1)"
                )
                new = base
            elif uname in _FN_TEMPLATE:
                new = _FN_TEMPLATE[uname](args)
            else:
                new = f"{_FN_RENAME[uname]}({inner})"
            if new != expr[m.start() : j]:
                expr = expr[: m.start()] + new + expr[j:]
                changed = True
                break  # restart scan after mutation
        if not changed:
            return expr


def _rewrite_size_typed(expr: str, dtypes: dict[str, str]) -> str:
    """Pig SIZE is type-dispatched: chararray → character count,
    bytearray → byte count, bag/tuple/map → element count, numerics → 1
    (null in → null out).  Spark has no one function covering all of
    those and CASE branches type-check statically, so bare-column
    SIZE(col) arguments are dispatched here at compile time from the
    relation's schema; non-column arguments fall through to size()
    (collections — the remaining divergence is documented in
    COVERAGE.md §2.7)."""

    def sub(m: re.Match) -> str:
        col = m.group(1)
        dt = dtypes.get(col)
        if dt is None or quoted[m.start()]:
            return m.group(0)
        if dt == "string":
            return f"char_length({col})"
        if dt == "binary":
            return f"octet_length({col})"
        if dt.startswith(("array", "map")):
            return f"size({col})"
        if dt.startswith("struct"):
            n = dt.count(",") + 1
            return f"if({col} IS NULL, NULL, {n})"
        return f"if({col} IS NULL, NULL, 1)"  # numeric/bool/timestamp → 1

    quoted = _quote_mask(expr)
    return re.sub(r"\bSIZE\s*\(\s*(\w+)\s*\)", sub, expr, flags=re.IGNORECASE)



def _dtypes(df) -> dict[str, str]:
    return dict(df.dtypes)


_ROUND_CALL = re.compile(r"(?<![\w.])round\s*\(")


def _innermost_rounds(sql: str):
    """(start, end, argument) of each one-argument ``round(a)`` call in
    ``sql`` that is outside a string literal and holds no other round."""
    quoted = _quote_mask(sql)
    for m in _ROUND_CALL.finditer(sql):
        if quoted[m.start()]:
            continue
        j = _close_paren(sql, m.end())
        args = _split_args(sql[m.end() : j - 1])
        if len(args) == 1 and not _ROUND_CALL.search(args[0]):
            yield m.start(), j, args[0]


def _round_kernel(sqls: list[str], child: DataFrame) -> list[str]:
    """Compile each one-argument ``round(a)`` in the translated ``sqls``
    whose argument is a deterministic DOUBLE on ``child`` to the exact
    half-up kernel (``math_fns.ROUND_HALF_UP_SQL``): the same value as
    Spark's round, without its per-row ``BigDecimal``.  Any other
    argument keeps ``round``, so an int, bigint, float or decimal result
    keeps its type, and a ``rand()`` argument is not repeated with fresh
    seeds.  One analysis of ``child.select(a, ...)`` decides every
    innermost call at once; a call around a compiled one is decided in
    the next round."""
    sqls = list(sqls)
    while True:
        calls = [(i, *c) for i, sql in enumerate(sqls) for c in _innermost_rounds(sql)]
        if not calls:
            return sqls
        try:
            plan = child.select(*(F.expr(c[3]) for c in calls))._jdf.queryExecution()
        except AnalysisException:  # e.g. a lambda variable: keep round
            return sqls
        exprs = plan.analyzed().expressions()
        hits = []
        for k, c in enumerate(calls):
            e = exprs.apply(k)
            if e.dataType().typeName() == "double" and e.deterministic():
                hits.append(c)
        if not hits:
            return sqls
        for i, start, end, arg in reversed(hits):
            sqls[i] = sqls[i][:start] + ROUND_HALF_UP_SQL(arg) + sqls[i][end:]


def _find_bincond(s: str) -> tuple[int, int, int, int] | None:
    """Locate the first closing Pig bincond `(cond ? a : b)` —
    (open, '?', ':', close) indices — quote-aware, nesting-aware (the
    '?'/':' must sit at the paren's own depth)."""
    stack: list[list[int | None]] = []
    in_q = False
    i, n = 0, len(s)
    while i < n:
        c = s[i]
        if in_q:
            if c == "\\":
                i += 2
                continue
            if c == "'":
                in_q = False
        elif c == "'":
            in_q = True
        elif c == "(":
            stack.append([i, None, None])
        elif c == "?" and stack and stack[-1][1] is None:
            stack[-1][1] = i
        elif c == ":" and stack and stack[-1][1] is not None and stack[-1][2] is None:
            stack[-1][2] = i
        elif c == ")" and stack:
            p, qm, cl = stack.pop()
            if qm is not None and cl is not None:
                return (int(p), int(qm), int(cl), i)
        i += 1
    return None


def _rewrite_bincond(s: str) -> str:
    """Pig bincond `(cond ? a : b)` → `(CASE WHEN cond THEN a ELSE b
    END)` — Pig's only ternary, ubiquitous in real scripts.  Loops so
    nested binconds (in the condition or either branch) rewrite too."""
    while True:
        hit = _find_bincond(s)
        if hit is None:
            return s
        p, qm, cl, close = hit
        s = (
            s[:p]
            + "(CASE WHEN "
            + s[p + 1 : qm]
            + " THEN "
            + s[qm + 1 : cl]
            + " ELSE "
            + s[cl + 1 : close]
            + " END)"
            + s[close + 1 :]
        )


def translate_expr(
    expr: str,
    columns: list[str] | None = None,
    dtypes: dict[str, str] | None = None,
) -> str:
    """Pig expression → Spark SQL expression string."""
    out = expr.strip()
    if columns:
        out = re.sub(
            r"\$(\d+)",
            lambda m: columns[int(m.group(1))],
            out,
        )
    out = out.replace("::", ".")
    out = re.sub(r"#\s*'((?:[^'\\]|\\.)*)'", r"['\1']", out)  # map#'k' → map['k']
    out = _rewrite_bincond(out)
    out = _rewrite_casts(out)
    out = _rewrite_matches(out)
    if dtypes:
        out = _rewrite_size_typed(out, dtypes)
    out = _rewrite_functions(out)
    return out


#: aggregate-call rewrites for FOREACH over a grouped relation
_AGG_FN = {"COUNT": "count", "SUM": "sum", "AVG": "avg", "MIN": "min", "MAX": "max",
           "COUNT_STAR": "count"}


def _rewrite_agg_calls(item: str, child: str, first_col: str | None = None) -> str:
    """COUNT_STAR(A) → count(1); COUNT(A) → count(<first field>) — Pig's
    COUNT excludes tuples whose FIRST field is null (the classic COUNT
    vs COUNT_STAR gotcha; builtin COUNT javadoc); SUM(A.x) → sum(x);
    over child alias A."""
    out = re.sub(
        rf"\bCOUNT_STAR\s*\(\s*{child}\s*\)",
        "count(1)",
        item,
        flags=re.IGNORECASE,
    )
    out = re.sub(
        rf"\bCOUNT\s*\(\s*{child}\s*\)",
        f"count({first_col})" if first_col else "count(1)",
        out,
        flags=re.IGNORECASE,
    )
    out = re.sub(
        rf"\b(SUM|AVG|MIN|MAX|COUNT)\s*\(\s*{child}\s*\.\s*(\w+)\s*\)",
        lambda m: f"{_AGG_FN[m.group(1).upper()]}({m.group(2)})",
        out,
        flags=re.IGNORECASE,
    )
    return out


# -------------------------------------------------------------- statements ---

_PIG_TYPES = {
    "int": "int",
    "long": "bigint",
    "float": "float",
    "double": "double",
    "chararray": "string",
    "bytearray": "binary",
    "boolean": "boolean",
    "datetime": "timestamp",
    "biginteger": "decimal(38,0)",
    "bigdecimal": "decimal(38,18)",
}


def _as_schema(spec: str) -> str:
    """`(a:int, b:chararray)` → Spark DDL `a int, b string`."""
    fields = _split_args(spec.strip().lstrip("(").rstrip(")"))
    out = []
    for f_ in fields:
        if ":" in f_:
            name, typ = f_.split(":", 1)
            out.append(f"{name.strip()} {_PIG_TYPES.get(typ.strip().lower(), typ.strip())}")
        else:
            out.append(f"{f_.strip()} string")
    return ", ".join(out)


@dataclass
class _Grouped:
    """A GROUP result kept symbolic so FOREACH-agg can fuse (SURVEY §2.4)."""

    child: str
    child_df: DataFrame
    keys: list[str]  # SQL exprs; empty = GROUP ALL
    mode: str = "group"  # "group" | "cube" | "rollup" (SURVEY §2.4 CUBE stmt)
    materialized: DataFrame | None = None

    def materialize(self) -> DataFrame:
        """Literal (group, bag) shape, for DUMP/STORE of a bare GROUP.
        For CUBE/ROLLUP the bag field is named `cube` as in Pig."""
        if self.materialized is None:
            bag_name = self.child if self.mode == "group" else "cube"
            payload = F.collect_list(F.struct(*self.child_df.columns)).alias(bag_name)
            if not self.keys:
                self.materialized = self.child_df.agg(payload)
            elif self.mode in ("cube", "rollup"):
                dims = [F.expr(k) for k in self.keys]
                grouped = getattr(self.child_df, self.mode)(*dims)
                self.materialized = grouped.agg(payload)
            else:
                key = (
                    F.expr(self.keys[0]).alias("group")
                    if len(self.keys) == 1
                    else F.struct(*[F.expr(k) for k in self.keys]).alias("group")
                )
                self.materialized = self.child_df.groupBy(key).agg(payload)
        return self.materialized


class PigSession:
    """PigServer/Grunt analog: feed it statements, read back DataFrames.

        pig = PigSession(spark, catalog)
        pig.execute(script_text)
        df = pig.df("result_alias")
    """

    def __init__(
        self,
        spark: SparkSession,
        catalog: Catalog | None = None,
        params: dict[str, str] | None = None,
    ) -> None:
        self.spark = spark
        self.catalog = catalog
        self.rels: dict[str, DataFrame | _Grouped] = {}
        self.params: dict[str, str] = dict(params or {})  # -param analog
        self.defines: dict[str, str] = {}  # DEFINE alias `cmd`
        # DEFINE name(params) RETURNS alias { body } (Pig 0.9+ macros)
        self.macros: dict[str, tuple[list[str], str, str]] = {}
        # `SET key 'value'` session options (e.g. pigout.cube.all_marker)
        self.options: dict[str, str] = {}
        # REGISTER'd python UDFs: (namespace, fn) → spark SQL udf name
        self.udfs: dict[tuple[str, str], str] = {}

    # -- public API ------------------------------------------------------
    def execute(self, script: str) -> None:
        for stmt in self._statements(script):
            self._run(self._substitute(stmt))

    def _substitute(self, stmt: str) -> str:
        """Pig parameter substitution: $NAME / ${NAME} from -param /
        %declare.  Positional $0-style refs survive (digits are never
        parameter names).  REGISTER'd UDF calls ``ns.fn(...)`` rewrite
        to their Spark-SQL-registered names here (before expression
        translation, so the lowercase result passes through the builtin
        rewriter untouched)."""
        for (ns, fn), sqlname in self.udfs.items():
            stmt = re.sub(rf"\b{ns}\s*\.\s*{fn}\s*\(", f"{sqlname}(", stmt)
        if not self.params:
            return stmt
        def sub(m: re.Match) -> str:
            name = m.group(1) or m.group(2)
            return self.params.get(name, m.group(0))
        return re.sub(r"\$\{(\w+)\}|\$([A-Za-z_]\w*)", sub, stmt)

    def _register_python_udfs(self, path: str, ns: str) -> None:
        """``REGISTER 'udfs.py' [USING jython] AS ns`` — Pig script UDFs
        run as native CPython (strictly more capable than Jython; same
        per-tuple call contract, but Arrow-batched transfer).

        The file is executed in a namespace pre-seeded with Pig's
        ``@outputSchema('name:type')`` decorator; each top-level function
        defined IN the file becomes a Spark SQL UDF named ``ns__fn``.
        Return types come from @outputSchema (Pig type names) or, absent
        that, the function's Python return annotation (int→bigint,
        float→double, str→string, bool→boolean).  Calls ``ns.fn(...)``
        in any later statement are rewritten to the registered name, so
        they compose with every expression context (FOREACH, FILTER,
        nested blocks)."""
        import pandas as pd
        from pyspark.sql.pandas.functions import pandas_udf

        def outputSchema(schema: str):  # Pig decorator shim
            def deco(fn):
                fn._pig_output_schema = schema
                return fn
            return deco

        glb: dict = {"outputSchema": outputSchema}
        with open(path, encoding="utf-8") as fh:
            src = fh.read()
        # dont_inherit: without it the UDF file inherits THIS module's
        # `from __future__ import annotations` and its return hints
        # become strings instead of classes
        exec(compile(src, path, "exec", dont_inherit=True), glb)
        _ANN_TYPES = {
            int: "bigint", float: "double", str: "string", bool: "boolean",
            "int": "bigint", "float": "double", "str": "string", "bool": "boolean",
        }
        registered = []
        for name, fn in list(glb.items()):
            if name.startswith("_") or not callable(fn):
                continue
            code = getattr(fn, "__code__", None)
            if code is None or code.co_filename != path:
                continue  # imported helpers, the decorator itself, etc.
            schema = getattr(fn, "_pig_output_schema", None)
            if schema:
                pig_t = schema.rsplit(":", 1)[-1].strip().lower()
                ret = _PIG_TYPES.get(pig_t, pig_t)
            else:
                ann = getattr(fn, "__annotations__", {}).get("return")
                if ann not in _ANN_TYPES:
                    raise PigSyntaxError(
                        f"UDF {name} in {path} needs @outputSchema or a "
                        "return annotation (int/float/str/bool)"
                    )
                ret = _ANN_TYPES[ann]

            def make(fn_inner, ret_type):
                # pandas_udf infers from type hints and rejects *args —
                # generate a wrapper with the UDF's exact arity
                import inspect

                nargs = len(inspect.signature(fn_inner).parameters)
                args = ", ".join(f"c{i}" for i in range(nargs))
                hints = ", ".join(f"c{i}: pd.Series" for i in range(nargs))
                lns: dict = {"pd": pd, "fn": fn_inner}
                exec(
                    f"def wrapped({hints}) -> pd.Series:\n"
                    f"    return pd.Series([fn(*v) for v in zip({args})],"
                    f" dtype=object)\n",
                    lns,
                )
                return pandas_udf(ret_type)(lns["wrapped"])

            sqlname = f"{ns}__{name}"
            self.spark.udf.register(sqlname, make(fn, ret))
            self.udfs[(ns, name)] = sqlname
            registered.append(name)
        if not registered:
            raise PigSyntaxError(f"REGISTER {path!r}: no top-level functions found")

    def df(self, alias: str) -> DataFrame:
        rel = self.rels[alias]
        return rel.materialize() if isinstance(rel, _Grouped) else rel

    def dump(self, alias: str, n: int = 20):
        rows = self.df(alias).limit(n).collect()
        for r in rows:
            print(tuple(r))
        return rows

    def describe(self, alias: str) -> str:
        return self.df(alias).schema.simpleString()

    # -- machinery -------------------------------------------------------
    @staticmethod
    def _statements(script: str):
        # strip comments: -- line and /* block */
        script = re.sub(r"/\*.*?\*/", " ", script, flags=re.DOTALL)
        script = re.sub(r"--[^\n]*", " ", script)
        buf, quote, depth = [], None, 0
        for ch in script:
            if quote:
                if ch == quote and (not buf or buf[-1] != "\\"):
                    quote = None
                buf.append(ch)
            elif ch in "'\"":
                quote = ch
                buf.append(ch)
            elif ch == "{":
                depth += 1
                buf.append(ch)
            elif ch == "}":
                depth -= 1
                buf.append(ch)
            elif ch == ";" and depth == 0:
                stmt = "".join(buf).strip()
                if stmt:
                    yield stmt
                buf = []
            else:
                buf.append(ch)
        tail = "".join(buf).strip()
        if tail:
            yield tail

    def _get(self, alias: str) -> DataFrame:
        if alias not in self.rels:
            raise PigSyntaxError(f"unknown alias {alias!r}")
        rel = self.rels[alias]
        return rel.materialize() if isinstance(rel, _Grouped) else rel

    def _run(self, stmt: str) -> None:
        m = re.match(r"^(\w+)\s*=\s*(.*)$", stmt, re.DOTALL)
        if m and m.group(1).upper() not in ("SPLIT",):
            alias, rhs = m.group(1), m.group(2).strip()
            self.rels[alias] = self._compile_op(alias, rhs)
            return
        kw = stmt.split(None, 1)[0].upper()
        if kw == "SET":
            sm = re.match(
                r"SET\s+([\w.]+)\s+(?:'([^']*)'|(\S+))\s*$", stmt, re.IGNORECASE
            )
            if not sm:
                raise PigSyntaxError(f"bad SET: {stmt}")
            self.options[sm.group(1)] = sm.group(2) or sm.group(3)
            return
        if kw in ("%DECLARE", "%DEFAULT"):
            dm = re.match(
                rf"{kw}\s+(\w+)\s+'([^']*)'", stmt, re.IGNORECASE
            )
            if not dm:
                raise PigSyntaxError(f"bad {kw.lower()}: {stmt}")
            # %default only fills a parameter not already set (e.g. by
            # run_script(params=...) — the -param analog); %declare
            # always overwrites (Pig's precedence rules)
            if kw == "%DECLARE" or dm.group(1) not in self.params:
                self.params[dm.group(1)] = dm.group(2)
            return
        if kw == "DEFINE":
            mm = re.match(
                r"DEFINE\s+(\w+)\s*\(([^)]*)\)\s+RETURNS\s+(\w+)\s*\{(.*)\}\s*$",
                stmt,
                re.IGNORECASE | re.DOTALL,
            )
            if mm:  # Pig macro (AP parser/QueryParserDriver macro expansion)
                params = [p.strip() for p in mm.group(2).split(",") if p.strip()]
                self.macros[mm.group(1)] = (params, mm.group(3), mm.group(4))
                return
            dm = re.match(r"DEFINE\s+(\w+)\s+`([^`]+)`", stmt, re.IGNORECASE)
            if not dm:
                raise PigSyntaxError(
                    f"unsupported DEFINE (`cmd` or macro RETURNS): {stmt[:60]}"
                )
            self.defines[dm.group(1)] = dm.group(2)
            return
        if kw == "REGISTER":
            rm = re.match(
                r"REGISTER\s+'([^']+)'"
                r"(?:\s+USING\s+(\w+))?(?:\s+AS\s+(\w+))?\s*$",
                stmt,
                re.IGNORECASE,
            )
            if not rm:
                raise PigSyntaxError(f"bad REGISTER: {stmt}")
            path, engine, ns = rm.groups()
            if path.endswith(".py") or (engine or "").lower() in (
                "jython", "streaming_python", "python", "cpython",
            ):
                import os

                self._register_python_udfs(
                    path, ns or os.path.splitext(os.path.basename(path))[0]
                )
                return
            if (engine or "").lower() in ("javascript", "groovy", "jruby"):
                # D8: Pig's non-Python scripting engines have no analog
                # in a PySpark host — say so loudly instead of a generic
                # syntax error, so a migrating user knows to port.
                raise PigSyntaxError(
                    f"REGISTER USING {engine}: JavaScript/Groovy/JRuby "
                    "scripting UDFs are not supported in this PySpark "
                    "host (divergence D8, COVERAGE.md) — port the UDF "
                    "to Python and REGISTER the .py file instead"
                )
            raise PigSyntaxError(
                "REGISTER supports Python UDF files (.py, run as native "
                "CPython — the Jython/streaming_python analog); external "
                "jars are out of scope"
            )
        if kw in ("IMPORT", "RUN", "EXEC"):
            # IMPORT 'macros.pig' (macro files) and Grunt's RUN/EXEC
            # 'script.pig' (execute a whole script in THIS session —
            # its aliases become visible here, Pig's documented RUN
            # behavior; EXEC isolation is not needed since nothing is
            # lazily queued per-statement)
            im = re.match(rf"{kw}\s+'([^']+)'\s*;?\s*$", stmt, re.IGNORECASE)
            if not im:
                raise PigSyntaxError(f"bad {kw}: {stmt}")
            with open(im.group(1), encoding="utf-8") as fh:
                self.execute(fh.read())
            return
        if kw == "EXPLAIN":
            self.df(stmt.split(None, 1)[1].strip()).explain("formatted")
            return
        if kw == "ILLUSTRATE":
            # Pig's ILLUSTRATE walks the plan with sampled rows; the
            # Spark-first rendering is schema + a small row sample
            # (full example-generation is a Pig-internal debugger, not
            # query surface).
            alias = stmt.split(None, 1)[1].strip()
            df = self.df(alias)
            print(f"-- {alias}: {df.schema.simpleString()}")
            for r in df.limit(5).collect():
                print(tuple(r))
            return
        if kw == "STORE":
            sm = re.match(
                r"STORE\s+(\w+)\s+INTO\s+'([^']+)'(?:\s+USING\s+(\w+)\s*\(\s*(?:'([^']*)')?\s*\))?",
                stmt,
                re.IGNORECASE,
            )
            if not sm:
                raise PigSyntaxError(f"bad STORE: {stmt}")
            alias, uri, fn, arg = sm.groups()
            df = self._get(alias)
            if fn and fn.lower() == "pigstorage":
                df.write.mode("overwrite").option("sep", arg or "\t").csv(uri)
            elif fn and fn.lower() == "jsonstorage":
                df.write.mode("overwrite").json(uri)
            else:
                df.write.mode("overwrite").parquet(uri)
        elif kw == "ASSERT":
            am = re.match(
                r"ASSERT\s+(\w+)\s+BY\s+(.*?)(?:\s*,\s*'([^']*)')?\s*$",
                stmt,
                re.IGNORECASE | re.DOTALL,
            )
            if not am:
                raise PigSyntaxError(f"bad ASSERT: {stmt}")
            from pigout_spark.operators.relational import assert_by

            child = self._get(am.group(1))
            self.rels[am.group(1)] = assert_by(
                child,
                F.expr(translate_expr(am.group(2), child.columns)),
                am.group(3) or f"ASSERT failed on {am.group(1)}",
            )
        elif kw == "DUMP":
            self.dump(stmt.split(None, 1)[1].strip())
        elif kw == "DESCRIBE":
            print(self.describe(stmt.split(None, 1)[1].strip()))
        elif kw == "SPLIT":
            sm = re.match(
                r"SPLIT\s+(\w+)\s+INTO\s+(.*)$", stmt, re.IGNORECASE | re.DOTALL
            )
            if not sm:
                raise PigSyntaxError(f"bad SPLIT: {stmt}")
            child = self._get(sm.group(1))
            branches: dict[str, Column] = {}
            otherwise = None
            for part in _split_args(sm.group(2)):
                bm = re.match(r"(\w+)\s+IF\s+(.*)$", part.strip(), re.IGNORECASE | re.DOTALL)
                om = re.match(r"(\w+)\s+OTHERWISE\s*$", part.strip(), re.IGNORECASE)
                if bm:
                    branches[bm.group(1)] = F.expr(
                        translate_expr(bm.group(2), child.columns)
                    )
                elif om:
                    otherwise = om.group(1)
                else:
                    raise PigSyntaxError(f"bad SPLIT branch: {part}")
            for name, df in op_split(child, branches, otherwise=otherwise).items():
                self.rels[name] = df
        else:
            raise PigSyntaxError(f"unsupported statement: {stmt[:80]}")

    # -- operator compilation -------------------------------------------

    #: operators whose honored-PARALLEL output repartition is safe;
    #: ORDER/RANK/LIMIT outputs are ordered (a round-robin repartition
    #: would scramble them) and stay AQE-governed even under honor
    _PARALLEL_OK = {
        "JOIN", "COGROUP", "CROSS", "DISTINCT", "UNION",
        "FILTER", "FOREACH", "SAMPLE", "GROUP", "CUBE",
    }

    def _strip_parallel(self, rhs: str) -> tuple[str, int | None]:
        """Pig `... PARALLEL n` (the reducer-count clause — present on
        most production reduce-side statements).  Always ACCEPTED so
        scripts parse unchanged; by default it is superseded by Spark's
        own parallelism model (spark.sql.shuffle.partitions + AQE
        runtime coalescing — per-operator reducer counts tuned for a
        MapReduce cluster are the wrong knob on Spark) and a one-time
        warning records the divergence.  `SET pigout.parallel.honor
        true` applies it faithfully: GROUP pre-partitions the child on
        the group keys with n (the following fused agg reuses that
        exchange — n reduce partitions and n output files, no extra
        shuffle); other reduce-side outputs get repartition(n)."""
        pm = re.search(r"\s+PARALLEL\s+(\d+)\s*$", rhs, re.IGNORECASE)
        if not pm:
            return rhs, None
        if self.options.get("pigout.parallel.honor", "").lower() != "true":
            if not getattr(self, "_parallel_warned", False):
                self._parallel_warned = True
                import warnings

                warnings.warn(
                    "PARALLEL accepted but superseded by Spark "
                    "(spark.sql.shuffle.partitions + AQE); "
                    "SET pigout.parallel.honor true to apply it",
                    stacklevel=3,
                )
            return rhs[: pm.start()], None
        return rhs[: pm.start()], int(pm.group(1))

    def _apply_parallel(self, out: DataFrame | _Grouped, n: int):
        if isinstance(out, _Grouped):
            # plain keyed GROUP: pre-partition the child on the group
            # keys — the fused agg's exchange requirement is already
            # satisfied, so the agg runs with exactly n partitions
            if out.mode == "group" and out.keys:
                out.child_df = out.child_df.repartition(
                    n, *[F.expr(k) for k in out.keys]
                )
            return out
        return out.repartition(n)

    #: operator keywords an inline `(STMT …)` relation argument may start
    #: with (Pig 0.12+ nested statements: `FOREACH (GROUP li BY k) …`)
    _INLINE_KWS = {
        "GROUP", "COGROUP", "FILTER", "FOREACH", "ORDER", "DISTINCT",
        "LIMIT", "JOIN", "UNION", "CROSS", "SAMPLE", "CUBE", "RANK",
    }

    def _inline_nested(self, rhs: str) -> str:
        """Rewrite `KW (GROUP li BY k) rest` → compile the parenthesized
        statement to a hidden alias and substitute it: the Pig 0.12+
        inline-statement idiom (`x = FOREACH (GROUP li BY k) GENERATE
        …`).  Recursion through _compile_op handles arbitrarily nested
        inlines."""
        im = re.match(r"(\w+)\s*\(", rhs)
        if not im:
            return rhs
        inner_kw = re.match(r"\s*(\w+)", rhs[im.end():])
        if not inner_kw or inner_kw.group(1).upper() not in self._INLINE_KWS:
            return rhs
        # balanced-paren extraction of the inline statement
        j, depth, quote = im.end(), 1, None
        while j < len(rhs) and depth:
            ch = rhs[j]
            if quote:
                if ch == quote and rhs[j - 1] != "\\":
                    quote = None
            elif ch == "'":
                quote = ch
            elif ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            j += 1
        inner = rhs[im.end() : j - 1].strip()
        self._inline_n = getattr(self, "_inline_n", 0) + 1
        tmp = f"__inline_{self._inline_n}"
        self.rels[tmp] = self._compile_op(tmp, inner)
        return f"{im.group(1)} {tmp} {rhs[j:].strip()}".strip()

    def _compile_op(self, alias: str, rhs: str) -> DataFrame | _Grouped:
        mm = re.match(r"(\w+)\s*\((.*)\)\s*$", rhs, re.DOTALL)
        if mm and mm.group(1) in self.macros:
            return self._invoke_macro(mm.group(1), mm.group(2))
        rhs = self._inline_nested(rhs)
        rhs, par = self._strip_parallel(rhs)
        kw = rhs.split(None, 1)[0].upper()
        fn = getattr(self, f"_op_{kw.lower()}", None)
        if fn is None:
            raise PigSyntaxError(f"unsupported operator: {kw}")
        out = fn(rhs)
        if par is not None and kw in self._PARALLEL_OK:
            out = self._apply_parallel(out, par)
        return out.alias(alias) if isinstance(out, DataFrame) else out

    def _invoke_macro(self, name: str, args_s: str) -> DataFrame | _Grouped:
        """Expand `X = macro(args)` (Pig 0.9+ macros).  The body runs in
        a child scope — inner aliases never leak (Pig's own expansion
        renames them; a scope is the Spark-first equivalent).  Relation
        args substitute textually as $param, exactly like Pig's
        parameter substitution; the $RETURNS alias maps to a gensym
        read back from the child scope."""
        params, ret, body = self.macros[name]
        args = [a.strip() for a in _split_args(args_s)] if args_s.strip() else []
        if len(args) != len(params):
            raise PigSyntaxError(
                f"macro {name}: expected {len(params)} args, got {len(args)}"
            )
        sub = dict(zip(params, args))
        sub[ret] = f"__macro_{name}_ret"
        child = PigSession(self.spark, self.catalog, params={**self.params, **sub})
        child.rels = dict(self.rels)
        child.defines = dict(self.defines)
        child.macros = dict(self.macros)
        child.execute(body)
        if sub[ret] not in child.rels:
            raise PigSyntaxError(f"macro {name} never assigned ${ret}")
        return child.rels[sub[ret]]

    def _op_load(self, rhs: str) -> DataFrame:
        m = re.match(
            r"LOAD\s+'([^']+)'"
            r"(?:\s+USING\s+(\w+)\s*\(\s*(?:'([^']*)')?\s*\))?"
            r"(?:\s+AS\s+(\(.*\)))?\s*$",
            rhs,
            re.IGNORECASE | re.DOTALL,
        )
        if not m:
            raise PigSyntaxError(f"bad LOAD: {rhs}")
        uri, fn, arg, schema = m.groups()
        if "/" not in uri and "." not in uri:
            # bare name = a catalog table, never a file path
            if self.catalog is not None:
                return self.catalog.load(self.spark, uri)
            import os

            if not os.path.exists(uri):
                raise PigSyntaxError(
                    f"LOAD '{uri}': bare relation name but no catalog is "
                    f"registered and no such local path exists — run with a "
                    f"catalog (pigout_run.py --catalog SF_DIR) or LOAD an "
                    f"explicit file path"
                )
        fn = (fn or "").lower()
        if fn == "pigstorage" or (not fn and not uri.endswith(".parquet")):
            reader = self.spark.read.option("sep", arg or "\t")
            if schema:
                return reader.schema(_as_schema(schema)).csv(uri)
            return reader.option("inferSchema", "true").csv(uri)
        if fn == "jsonloader":
            reader = self.spark.read
            if schema:
                reader = reader.schema(_as_schema(schema))
            return reader.json(uri)
        if fn == "textloader":
            return self.spark.read.text(uri)
        return self.spark.read.parquet(uri)

    def _op_filter(self, rhs: str) -> DataFrame:
        m = re.match(r"FILTER\s+(\w+)\s+BY\s+(.*)$", rhs, re.IGNORECASE | re.DOTALL)
        if not m:
            raise PigSyntaxError(f"bad FILTER: {rhs}")
        child = self._get(m.group(1))
        return child.filter(
            F.expr(translate_expr(m.group(2), child.columns, _dtypes(child)))
        )

    def _op_foreach(self, rhs: str) -> DataFrame:
        bm = re.match(
            r"FOREACH\s+(\w+)\s*\{(.*)\}\s*$", rhs, re.IGNORECASE | re.DOTALL
        )
        if bm:
            return self._foreach_nested(bm.group(1), bm.group(2))
        m = re.match(
            r"FOREACH\s+(\w+)\s+GENERATE\s+(.*)$", rhs, re.IGNORECASE | re.DOTALL
        )
        if not m:
            raise PigSyntaxError(f"bad FOREACH: {rhs}")
        child_name, items_s = m.group(1), m.group(2)
        rel = self.rels.get(child_name)
        if isinstance(rel, _Grouped):
            return self._foreach_grouped(rel, items_s)
        child = self._get(child_name)
        # an int is the index of a plain expression in `sqls`, placed
        # once every ROUND in them is compiled (one type lookup)
        cols: list[Column | int] = []
        sqls: list[str] = []
        names: list[str | None] = []
        dtypes = _dtypes(child)
        for item in _split_args(items_s):
            am = re.match(r"(.*?)\s+AS\s+(\w+)\s*$", item, re.IGNORECASE | re.DOTALL)
            expr_s, name = (am.group(1), am.group(2)) if am else (item, None)
            expr_s = expr_s.strip()
            fm = re.match(r"FLATTEN\s*\((.*)\)\s*$", expr_s, re.IGNORECASE | re.DOTALL)
            if fm:
                inner = translate_expr(fm.group(1), child.columns)
                c = F.explode(F.expr(inner))
                cols.append(c.alias(name) if name else c.alias(fm.group(1).strip()))
                continue
            if expr_s == "*":
                cols.extend(F.col(c) for c in child.columns)
                continue
            rm = re.match(r"(\w+)\s*\.\.\s*(\w+)$", expr_s)  # range projection a..b
            if rm:
                i, j = child.columns.index(rm.group(1)), child.columns.index(rm.group(2))
                cols.extend(F.col(c) for c in child.columns[i : j + 1])
                continue
            cols.append(len(sqls))
            sqls.append(translate_expr(expr_s, child.columns, dtypes))
            names.append(name)
        exprs = [F.expr(sql) for sql in _round_kernel(sqls, child)]
        named = [e.alias(n) if n else e for e, n in zip(exprs, names)]
        return child.select(*(named[c] if isinstance(c, int) else c for c in cols))

    def _foreach_nested(self, group_alias: str, body: str) -> DataFrame:
        """Nested FOREACH block (SURVEY.md §2.2, hard-point H1):

            X = FOREACH G {
              t = FILTER A BY p;        -- inner pipeline over the bag
              s = ORDER t BY f DESC;
              l = LIMIT s 3;
              d = DISTINCT A.f;
              GENERATE group, COUNT(t) AS n, ...;   -- aggregate path
              -- or: GENERATE group, FLATTEN(l);    -- top-k path
            };

        Never materializes bags.  The aggregate path compiles inner
        FILTER to conditional aggregates (COUNT(t) → count over a
        when(p, ...)), inner DISTINCT to count_distinct.  The top-k
        path (FLATTEN of an ORDER+LIMIT alias) compiles to a window
        row_number over the group key (operators/grouping.py design).
        """
        rel = self.rels.get(group_alias)
        if not isinstance(rel, _Grouped):
            raise PigSyntaxError(
                f"nested FOREACH needs a GROUP result, got {group_alias!r}"
            )
        child_df = rel.child_df
        cols = child_df.columns
        # -- parse the inner pipeline --------------------------------
        specs: dict[str, dict] = {}  # alias → {filter, order, limit, distinct}
        generate: str | None = None
        for stmt in self._statements(body):
            gm = re.match(r"GENERATE\s+(.*)$", stmt.strip(), re.IGNORECASE | re.DOTALL)
            if gm:
                generate = gm.group(1)
                continue
            am = re.match(r"(\w+)\s*=\s*(.*)$", stmt.strip(), re.DOTALL)
            if not am:
                raise PigSyntaxError(f"bad nested statement: {stmt}")
            name, op = am.group(1), am.group(2).strip()
            kw = op.split(None, 1)[0].upper()

            def base_spec(src: str) -> dict:
                if src == rel.child:
                    return {
                        "filter": None, "order": None, "limit": None,
                        "distinct": None, "proj": None,
                    }
                if src in specs:
                    return dict(specs[src])
                raise PigSyntaxError(f"unknown inner alias {src!r}")

            def subst_proj(expr: str, spec: dict) -> str:
                """Inline an inner FOREACH's projections: downstream
                FILTER/ORDER/aggregates reference the projected names.

                Substitution skips quoted string literals (a projected
                name inside '...' is data, not a reference) and uses a
                callable replacement so a projection containing
                backslashes (e.g. a `matches` regex translated to
                rlike '...\\d+') is inserted verbatim, never
                re-interpreted as a re.sub escape/group template.
                All keys are substituted in a SINGLE alternation pass:
                inserted projection text is never rescanned, so a
                projection whose value contains another key's name (or
                its own string literals) can't be corrupted by a later
                substitution, and the result is dict-order-independent."""
                proj = spec.get("proj") or {}
                if not proj:
                    return expr
                pat = re.compile(
                    r"\b(" + "|".join(re.escape(k) for k in proj) + r")\b"
                )
                parts = re.split(r"('(?:[^'\\]|\\.)*')", expr)
                for i in range(0, len(parts), 2):  # even = outside quotes
                    parts[i] = pat.sub(
                        lambda m: f"({proj[m.group(1)]})", parts[i]
                    )
                return "".join(parts)

            if kw == "FILTER":
                fm = re.match(r"FILTER\s+(\w+)\s+BY\s+(.*)$", op, re.IGNORECASE | re.DOTALL)
                spec = base_spec(fm.group(1))
                pred = translate_expr(subst_proj(fm.group(2), spec), cols)
                spec["filter"] = (
                    f"({spec['filter']}) AND ({pred})" if spec["filter"] else pred
                )
                specs[name] = spec
            elif kw == "ORDER":
                om = re.match(r"ORDER\s+(\w+)\s+BY\s+(.*)$", op, re.IGNORECASE | re.DOTALL)
                spec = base_spec(om.group(1))
                spec["order"] = subst_proj(om.group(2).strip(), spec)
                specs[name] = spec
            elif kw == "FOREACH":
                pm2 = re.match(
                    r"FOREACH\s+(\w+)\s+GENERATE\s+(.*)$", op,
                    re.IGNORECASE | re.DOTALL,
                )
                if not pm2:
                    raise PigSyntaxError(f"bad inner FOREACH: {op}")
                spec = base_spec(pm2.group(1))
                proj: dict[str, str] = {}
                for it in _split_args(pm2.group(2)):
                    am3 = re.match(
                        r"(.*?)\s+AS\s+(\w+)\s*$", it.strip(),
                        re.IGNORECASE | re.DOTALL,
                    )
                    if am3:
                        e, out_name = am3.group(1).strip(), am3.group(2)
                    elif re.match(r"^\w+$", it.strip()):
                        e = out_name = it.strip()
                    else:
                        raise PigSyntaxError(
                            f"inner FOREACH expressions need AS aliases: {it}"
                        )
                    proj[out_name] = translate_expr(subst_proj(e, spec), cols)
                spec["proj"] = proj
                specs[name] = spec
            elif kw == "LIMIT":
                lm = re.match(r"LIMIT\s+(\w+)\s+(\d+)\s*$", op, re.IGNORECASE)
                spec = base_spec(lm.group(1))
                spec["limit"] = int(lm.group(2))
                specs[name] = spec
            elif kw == "DISTINCT":
                dm = re.match(r"DISTINCT\s+(\w+)(?:\.(\w+))?\s*$", op, re.IGNORECASE)
                if not dm:
                    raise PigSyntaxError(f"bad nested DISTINCT: {op}")
                spec = base_spec(dm.group(1))
                spec["distinct"] = dm.group(2)  # None = whole tuple
                specs[name] = spec
            else:
                raise PigSyntaxError(f"unsupported nested op: {kw}")
        if generate is None:
            raise PigSyntaxError("nested FOREACH block must end with GENERATE")

        # -- top-k path: GENERATE [group,] FLATTEN(alias) -------------
        fl = re.match(
            r"(group\s*,\s*)?FLATTEN\s*\(\s*(\w+)\s*\)\s*$",
            generate.strip(),
            re.IGNORECASE,
        )
        if fl and fl.group(2) in specs and specs[fl.group(2)].get("limit") is not None:
            from pigout_spark.operators.grouping import nested_topk

            spec = specs[fl.group(2)]
            df = child_df
            if spec["filter"]:
                df = df.filter(F.expr(spec["filter"]))
            order_cols = []
            for part in _split_args(spec["order"] or ""):
                dm2 = re.match(r"(.*?)\s+(ASC|DESC)\s*$", part.strip(), re.IGNORECASE)
                e, d = (dm2.group(1), dm2.group(2).upper()) if dm2 else (part, "ASC")
                c = F.expr(translate_expr(e, cols))
                order_cols.append(c.desc() if d == "DESC" else c.asc())
            if not order_cols:
                raise PigSyntaxError("FLATTEN of a LIMIT alias needs an ORDER")
            keys = [F.expr(k) for k in rel.keys] if rel.keys else []
            if not keys:
                raise PigSyntaxError("top-k block needs GROUP BY keys")
            out = nested_topk(df, keys, order_cols, spec["limit"])
            if spec.get("proj"):
                # FLATTEN of a projected alias emits only the projected
                # fields (the inner FOREACH's schema), plus the group
                # keys when GENERATE named them.  The projections (and
                # the order, substituted at parse time) are expressions
                # over the base columns, so they evaluate after the
                # window filter — same rows, projected schema.
                sel = [F.expr(k) for k in rel.keys] if fl.group(1) else []
                sel += [
                    F.expr(v).alias(k2) for k2, v in spec["proj"].items()
                ]
                out = out.select(*sel)
            return out

        # -- aggregate path ------------------------------------------
        # Aggregates over ORDER+LIMIT inner aliases (e.g. SUM of the
        # top-3 per group) compile to ONE window pass: rn = row_number
        # over (group keys) ordered by (alias-predicate DESC, alias
        # order) — passing rows sort first, so rn ≤ limit AND predicate
        # is exactly "row is in the alias's limited bag".  All GENERATE
        # items then fold into one groupBy over the augmented child.
        key_cols = []
        if rel.keys:
            key_cols = [
                F.expr(rel.keys[0]).alias("group")
                if len(rel.keys) == 1
                else F.struct(*[F.expr(k) for k in rel.keys]).alias("group")
            ]
        from pyspark.sql import Window

        df_base = child_df
        limit_flags: dict[str, Column] = {}

        def _limit_flag(src: str, spec: dict) -> Column:
            nonlocal df_base
            if src in limit_flags:
                return limit_flags[src]
            if spec.get("order") is None:
                raise PigSyntaxError(
                    f"aggregate over LIMIT alias {src!r} needs an inner ORDER "
                    "(Pig's unordered LIMIT is nondeterministic)"
                )
            pred = F.expr(spec["filter"]) if spec.get("filter") else F.lit(True)
            order_cols = [pred.cast("int").desc()]
            for part in _split_args(spec["order"]):
                dm2 = re.match(r"(.*?)\s+(ASC|DESC)\s*$", part.strip(), re.IGNORECASE)
                e, d = (dm2.group(1), dm2.group(2).upper()) if dm2 else (part, "ASC")
                c = F.expr(translate_expr(e, cols))
                order_cols.append(c.desc() if d == "DESC" else c.asc())
            w = Window.partitionBy(
                *[F.expr(k) for k in rel.keys] if rel.keys else []
            ).orderBy(*order_cols)
            rn_col = f"__rn_{src}"
            df_base = df_base.withColumn(rn_col, F.row_number().over(w))
            flag = pred & (F.col(rn_col) <= spec["limit"])
            limit_flags[src] = flag
            return flag

        aggs = []
        for item in _split_args(generate):
            am2 = re.match(r"(.*?)\s+AS\s+(\w+)\s*$", item, re.IGNORECASE | re.DOTALL)
            expr_s, name = (am2.group(1), am2.group(2)) if am2 else (item, None)
            expr_s = expr_s.strip()
            if expr_s.lower() == "group":
                continue
            cm = re.match(
                r"(COUNT|SUM|AVG|MIN|MAX)\s*\(\s*(\w+)(?:\.(\w+))?\s*\)\s*$",
                expr_s,
                re.IGNORECASE,
            )
            if not cm:
                raise PigSyntaxError(
                    f"nested GENERATE supports agg(alias[.field]) items, got: {item}"
                )
            fn, src, field = cm.group(1).upper(), cm.group(2), cm.group(3)
            spec = specs.get(src) if src != rel.child else {
                "filter": None, "distinct": None
            }
            if spec is None:
                raise PigSyntaxError(f"unknown inner alias {src!r}")
            dfield = spec.get("distinct")
            target = field or dfield
            proj = spec.get("proj") or {}
            if target and target in proj:
                val = F.expr(proj[target])
            elif target and spec.get("proj"):
                # Pig semantics: an inner FOREACH's output has ONLY the
                # projected fields — referencing anything else is an
                # unknown-field error, not a fall-through to the base
                # relation's columns.
                raise PigSyntaxError(
                    f"unknown field {target!r} in projected alias {src!r} "
                    f"(its FOREACH projects only {sorted(proj)})"
                )
            elif target:
                val = F.expr(translate_expr(target, cols))
            else:
                val = F.lit(1)
            if spec.get("limit") is not None:
                if dfield is not None:
                    raise PigSyntaxError(
                        "DISTINCT over a LIMIT alias is not supported"
                    )
                val = F.when(_limit_flag(src, spec), val)
            elif spec.get("filter"):
                val = F.when(F.expr(spec["filter"]), val)
            if dfield is not None or (spec.get("distinct") is not None):
                if fn != "COUNT":
                    raise PigSyntaxError("only COUNT over a DISTINCT inner alias")
                c = F.count_distinct(val)
            elif fn == "COUNT":
                c = F.count(val)
            else:
                c = getattr(F, fn.lower())(val)
            aggs.append(c.alias(name) if name else c)
        grouped = df_base.groupBy(*key_cols) if key_cols else df_base.groupBy()
        return grouped.agg(*aggs)

    def _foreach_grouped(self, g: _Grouped, items_s: str) -> DataFrame:
        """The GROUP+FOREACH fusion: aggregate without materializing bags.
        CUBE/ROLLUP results fuse the same way — `FLATTEN(group)` emits the
        dimensions (NULL filler for rolled-up levels, divergence from
        Pig's 'all' string documented at operators/grouping.py:cube_agg),
        and aggregates may reference the Pig-named `cube` bag."""
        cube_mode = g.mode in ("cube", "rollup")
        key_cols: list[Column] = []
        if g.keys:
            if cube_mode or len(g.keys) > 1:
                key_cols = [F.expr(k) for k in g.keys]
            else:
                key_cols = [F.expr(g.keys[0]).alias("group")]
        aggs: list[Column] = []
        out_names: list[str] = []
        flatten_group = False
        flatten_names: list[str] | None = None
        for item in _split_args(items_s):
            am = re.match(r"(.*?)\s+AS\s+(\w+)\s*$", item, re.IGNORECASE | re.DOTALL)
            expr_s, name = (am.group(1), am.group(2)) if am else (item, None)
            expr_s = expr_s.strip()
            fg = re.match(
                r"FLATTEN\s*\(\s*group\s*\)\s*(?:AS\s*\(\s*([\w\s,]+?)\s*\))?\s*$",
                expr_s,
                re.IGNORECASE,
            )
            if expr_s.lower() == "group" or fg:
                if fg:
                    flatten_group = True
                    if fg.group(1):  # FLATTEN(group) AS (a, b) renames
                        flatten_names = [
                            n.strip() for n in fg.group(1).split(",")
                        ]
                out_names.append(name or "group")
                continue
            first = g.child_df.columns[0] if g.child_df.columns else None
            sql = _rewrite_agg_calls(expr_s, g.child, first)
            if cube_mode:
                sql = _rewrite_agg_calls(sql, "cube", first)
            sql = translate_expr(sql, g.child_df.columns)
            c = F.expr(sql)
            aggs.append(c.alias(name) if name else c)
        if cube_mode:
            if self.options.get("pigout.cube.all_marker", "").lower() == "true":
                # Pig-compat: rolled-up dims get the string 'all'
                # (grouping.py handles the grouping()-flag machinery)
                from pigout_spark.operators.grouping import cube_agg, rollup_agg

                fn = cube_agg if g.mode == "cube" else rollup_agg
                out = fn(g.child_df, g.keys, aggs, all_marker=True)
            else:
                out = getattr(g.child_df, g.mode)(*key_cols).agg(*aggs)
        elif len(g.keys) > 1:
            out = g.child_df.groupBy(
                F.struct(*key_cols).alias("group")
            ).agg(*aggs)
        else:
            grouped = (
                g.child_df.groupBy(*key_cols) if key_cols else g.child_df.groupBy()
            )
            out = grouped.agg(*aggs)
        if not cube_mode and out_names and out_names[0] != "group":
            out = out.withColumnRenamed("group", out_names[0])
        if flatten_group and not cube_mode and len(g.keys) > 1:
            # Pig FLATTEN(group) on a multi-key group: the key tuple
            # expands into its fields (named after the key expressions,
            # or the AS (a, b) rename list).
            fields = [f.name for f in out.schema["group"].dataType.fields]
            if flatten_names is not None and len(flatten_names) != len(fields):
                raise PigSyntaxError(
                    f"FLATTEN(group) AS expects {len(fields)} names, "
                    f"got {flatten_names}"
                )
            rest = [c for c in out.columns if c != "group"]
            keys_out = [
                F.col(f"group.{f}").alias(
                    flatten_names[i] if flatten_names else f
                )
                for i, f in enumerate(fields)
            ]
            out = out.select(*keys_out, *rest)
        return out

    def _op_cube(self, rhs: str) -> _Grouped:
        """CUBE A BY CUBE(a,b) / CUBE A BY ROLLUP(a,b) (SURVEY §2.4,
        Pig 0.11+).  Kept symbolic like GROUP; the following FOREACH
        fuses to df.cube()/df.rollup() + agg — no bag materialization."""
        m = re.match(
            r"CUBE\s+(\w+)\s+BY\s+(CUBE|ROLLUP)\s*\((.*)\)\s*$",
            rhs,
            re.IGNORECASE | re.DOTALL,
        )
        if not m:
            raise PigSyntaxError(f"bad CUBE: {rhs}")
        child_name, mode, dims_s = m.group(1), m.group(2).lower(), m.group(3)
        child = self._get(child_name)
        keys = [translate_expr(k, child.columns) for k in _split_args(dims_s)]
        return _Grouped(child_name, child, keys, mode=mode)

    def _op_group(self, rhs: str) -> _Grouped | DataFrame:
        m = re.match(
            r"GROUP\s+(\w+)\s+(?:BY\s+(.*)|(ALL))\s*$", rhs, re.IGNORECASE | re.DOTALL
        )
        if not m:
            raise PigSyntaxError(f"bad GROUP: {rhs}")
        # Pig treats GROUP and COGROUP as synonyms: GROUP over several
        # `alias BY key` inputs IS a COGROUP (common in real scripts)
        if m.group(2) and any(
            re.match(r"\w+\s+BY\s", p.strip(), re.IGNORECASE)
            for p in _split_args(m.group(2))
        ):
            return self._op_cogroup("COGROUP " + rhs.split(None, 1)[1])
        child_name = m.group(1)
        child = self._get(child_name)
        if m.group(3):  # ALL
            return _Grouped(child_name, child, [])
        keys_s = m.group(2).strip()
        if keys_s.startswith("("):
            keys = [translate_expr(k, child.columns) for k in _split_args(keys_s[1:-1])]
        else:
            keys = [translate_expr(keys_s, child.columns)]
        return _Grouped(child_name, child, keys)

    def _op_stream(self, rhs: str) -> DataFrame:
        """STREAM A THROUGH `cmd` [AS (schema)] — or THROUGH a DEFINEd
        alias.  Line protocol via operators/relational.py:stream_through;
        without AS, output fields mirror the input names as strings
        (the protocol is untyped — D2)."""
        from pigout_spark.operators.relational import stream_through

        m = re.match(
            r"STREAM\s+(\w+)\s+THROUGH\s+(?:`([^`]+)`|(\w+))(?:\s+AS\s+(\(.*\)))?\s*$",
            rhs,
            re.IGNORECASE | re.DOTALL,
        )
        if not m:
            raise PigSyntaxError(f"bad STREAM: {rhs}")
        child = self._get(m.group(1))
        cmd = m.group(2) or self.defines.get(m.group(3) or "")
        if not cmd:
            raise PigSyntaxError(f"STREAM THROUGH unknown alias: {m.group(3)}")
        schema = (
            _as_schema(m.group(4))
            if m.group(4)
            else ", ".join(f"{c} string" for c in child.columns)
        )
        return stream_through(child, ["sh", "-c", cmd], schema)

    def _op_cogroup(self, rhs: str) -> DataFrame:
        """COGROUP A BY k1 [INNER], B BY k2 [INNER], … — side-by-side
        bags named after the input aliases (operators/grouping.py:
        cogroup).  Any INNER flag drops groups with an empty bag on that
        side (Pig semantics: INNER is per-input; all-INNER ≡ the
        operators-layer inner=True fast path)."""
        from pigout_spark.operators.grouping import cogroup as op_cogroup

        parts = _split_args(rhs.split(None, 1)[1])
        dfs, keys, names, inners = [], [], [], []
        for part in parts:
            pm = re.match(
                r"(\w+)\s+BY\s+(\w+)(\s+INNER)?\s*$", part.strip(), re.IGNORECASE
            )
            if not pm:
                raise PigSyntaxError(f"bad COGROUP input: {part}")
            names.append(pm.group(1))
            dfs.append(self._get(pm.group(1)))
            keys.append(pm.group(2))
            inners.append(bool(pm.group(3)))
        out = op_cogroup(dfs, keys, inner=all(inners), bag_names=names)
        if not all(inners):
            for name, is_inner in zip(names, inners):
                if is_inner:
                    out = out.filter(F.size(F.col(name)) > 0)
        return out

    def _op_join(self, rhs: str) -> DataFrame:
        """JOIN A BY k1 [LEFT|RIGHT|FULL [OUTER]], B BY k2 [, C BY k3 ...]
        [USING '...'].  N-ary joins are inner (Pig: outer is binary-only);
        all keys equate transitively, chained left-deep."""
        body = rhs.split(None, 1)[1]
        um = re.search(r"\s+USING\s+'(\w[\w-]*)'\s*$", body, re.IGNORECASE)
        using = um.group(1) if um else None
        if um:
            body = body[: um.start()]
        inputs = []  # (alias, key_expr, outer_modifier)
        for part in _split_args(body):
            pm = re.match(
                r"(\w+)\s+BY\s+(.+?)(?:\s+(LEFT|RIGHT|FULL)\s*(?:OUTER)?)?\s*$",
                part.strip(),
                re.IGNORECASE | re.DOTALL,
            )
            if not pm:
                raise PigSyntaxError(f"bad JOIN input: {part}")
            inputs.append((pm.group(1), pm.group(2), pm.group(3)))
        if len(inputs) < 2:
            raise PigSyntaxError(f"JOIN needs >= 2 inputs: {rhs}")
        how = next((o for _, _, o in inputs if o), None)
        if how and len(inputs) > 2:
            raise PigSyntaxError("outer JOIN is binary-only (as in Pig)")
        def keylist(alias: str, kexpr: str, cols: list[str]) -> list[str]:
            # `BY (k1, k2, …)` — the multi-key form every real script
            # uses for compound keys; a parenthesized single expression
            # degenerates to the 1-key case
            ks = kexpr.strip()
            keys = (
                _split_args(ks[1:-1])
                if ks.startswith("(") and ks.endswith(")")
                else [ks]
            )
            return [f"{alias}.{translate_expr(k, cols)}" for k in keys]

        la, lk, _ = inputs[0]
        out = self._get(la)
        lkeys = keylist(la, lk, out.columns)
        for ra, rk, _ in inputs[1:]:
            right = self._get(ra)
            rkeys = keylist(ra, rk, right.columns)
            if len(rkeys) != len(lkeys):
                raise PigSyntaxError(
                    f"JOIN key arity mismatch: {la} has {len(lkeys)}, "
                    f"{ra} has {len(rkeys)}"
                )
            cond = F.expr(
                " AND ".join(f"{l} = {r}" for l, r in zip(lkeys, rkeys))
            )
            out = op_join(out, right, cond, how=(how or "inner").lower(), using=using)
        return out

    def _op_cross(self, rhs: str) -> DataFrame:
        names = [a.strip() for a in rhs[len("CROSS") :].split(",")]
        out = self._get(names[0])
        for nm in names[1:]:
            out = out.crossJoin(self._get(nm))
        return out

    def _op_order(self, rhs: str) -> DataFrame:
        m = re.match(r"ORDER\s+(\w+)\s+BY\s+(.*)$", rhs, re.IGNORECASE | re.DOTALL)
        if not m:
            raise PigSyntaxError(f"bad ORDER: {rhs}")
        child = self._get(m.group(1))
        cols = []
        for part in _split_args(m.group(2)):
            dm = re.match(r"(.*?)\s+(ASC|DESC)\s*$", part.strip(), re.IGNORECASE)
            e, direction = (dm.group(1), dm.group(2).upper()) if dm else (part, "ASC")
            c = F.expr(translate_expr(e, child.columns))
            cols.append(c.desc() if direction == "DESC" else c.asc())
        return child.orderBy(*cols)

    def _op_limit(self, rhs: str) -> DataFrame:
        m = re.match(r"LIMIT\s+(\w+)\s+(\d+)\s*$", rhs, re.IGNORECASE)
        if not m:
            raise PigSyntaxError(f"bad LIMIT: {rhs}")
        return self._get(m.group(1)).limit(int(m.group(2)))

    def _op_distinct(self, rhs: str) -> DataFrame:
        return self._get(rhs.split(None, 1)[1].strip()).distinct()

    def _op_union(self, rhs: str) -> DataFrame:
        body = rhs.split(None, 1)[1]
        onschema = False
        if body.upper().startswith("ONSCHEMA"):
            onschema = True
            body = body[len("ONSCHEMA") :]
        dfs = [self._get(a.strip()) for a in body.split(",")]
        out = dfs[0]
        for df in dfs[1:]:
            out = (
                out.unionByName(df, allowMissingColumns=True)
                if onschema
                else out.unionAll(df)
            )
        return out

    def _op_sample(self, rhs: str) -> DataFrame:
        m = re.match(r"SAMPLE\s+(\w+)\s+([\d.]+)\s*$", rhs, re.IGNORECASE)
        if not m:
            raise PigSyntaxError(f"bad SAMPLE: {rhs}")
        return self._get(m.group(1)).sample(fraction=float(m.group(2)), seed=42)

    def _op_rank(self, rhs: str) -> DataFrame:
        m = re.match(
            r"RANK\s+(\w+)(?:\s+BY\s+(.*?))?\s*(DENSE)?\s*$", rhs, re.IGNORECASE | re.DOTALL
        )
        if not m:
            raise PigSyntaxError(f"bad RANK: {rhs}")
        child = self._get(m.group(1))
        if not m.group(2):
            from pigout_spark.operators.sorting import row_rank

            return row_rank(child, out="rank_" + m.group(1))
        # RANK BY routes to the scalable two-pass rank_by (never the
        # keyless-global-window op_rank — a silent single-partition
        # stage at scale; see operators/sorting.py).
        from pigout_spark.operators.sorting import rank_by

        keys, asc = [], []
        for part in _split_args(m.group(2)):
            dm = re.match(r"(.*?)\s+(ASC|DESC)\s*$", part.strip(), re.IGNORECASE)
            e, direction = (dm.group(1), dm.group(2).upper()) if dm else (part, "ASC")
            keys.append(F.expr(translate_expr(e, child.columns)))
            asc.append(direction == "ASC")
        return rank_by(
            child, keys, asc, dense=bool(m.group(3)), out="rank_" + m.group(1)
        )


def run_script(
    spark: SparkSession,
    script: str,
    catalog: Catalog | None = None,
    params: dict[str, str] | None = None,
) -> PigSession:
    """`pigout script.pig` analog: execute a whole script, return the
    session for inspecting aliases.  ``params`` is the `-param` analog."""
    pig = PigSession(spark, catalog, params=params)
    pig.execute(script)
    return pig
