"""Elaborated sqlpp AST → ANSI SQL text (DuckDB-compatible).

The reference's primary backend IS a SQL printer (sqlpp/printer.ml:
the ``sqlpp-sql`` CLI verb prints the elaborated query as backend SQL
for SQLite/PostgreSQL/MariaDB). This module restores that surface for
the Spark port: ``select_sql(info)`` renders the ANALYZED query — the
same elaborated ctx the Spark compiler consumes — as one ANSI SQL
string, with subselects, IN/EXISTS subqueries, GROUP BY/HAVING,
ORDER BY/LIMIT/OFFSET and the full scalar/extension function table.

Besides CLI parity (``python -m sqlpp_spark sql '<query>'``), this is
the engine's DIFFERENTIAL-TESTING lever: the same sqlpp source can run
through the Spark compiler AND through DuckDB via this printer, and
the results compared row-for-row (tests/test_sqlgen.py does exactly
that, including a hypothesis-driven random-query fuzzer). Two
engines, two independent lowerings, one elaborated AST.

Dialect notes (targeting DuckDB as the oracle engine):
- int ÷ int renders ``CAST(trunc(CAST(a AS DOUBLE) / b) AS BIGINT)``
  — truncation toward zero like the engine's ``try_divide().cast
  ("long")``; both yield NULL on ÷0. (Beyond 2⁵³ the double round-trip
  can lose ulps — same caveat as the engine's own cast chain.)
- ``datetime()``/``date()`` on dynamic strings render ``try_``-style
  casts so malformed input yields NULL, matching the analyzer's
  nullable result typing.
- scalar-position multi-column tuple IN keeps SQL's three-valued
  logic here while the Spark compiler documents a two-valued
  deviation; WHERE-conjunct position agrees between both lowerings.
"""

from __future__ import annotations

from typing import Dict, List, Optional

from sqlpp_spark.frontend import ast as A
from sqlpp_spark.frontend.analyze import (
    AGG_FNS, QueryInfo, RecQueryRel, SelectCtx, SelectRel, SetOpCtx,
    SetOpRel,
)
from sqlpp_spark.frontend.errors import SqlppError

SQL_TYPES = {
    "bool": "BOOLEAN",
    "string": "VARCHAR",
    "int": "BIGINT",
    "float": "DOUBLE",
    "datetime": "TIMESTAMP",
    "date": "DATE",
    "time": "VARCHAR",
    "interval": "INTERVAL",
}


def _q(ident: str) -> str:
    return '"' + ident.replace('"', '""') + '"'


def _str_lit(v: str) -> str:
    return "'" + str(v).replace("'", "''") + "'"


# Dialect divergence table (mirroring the reference's per-backend
# printers, sqlpp_sqlite.ml:177-186 / sqlpp_postgresql.ml): everything
# not listed here renders identically in both dialects.
#
#   int_div   int ÷ int with truncation toward zero, NULL on ÷ 0.
#             DuckDB's `/` is float division → explicit trunc chain;
#             SQLite's integer `/` already has the engine's semantics
#             natively (and yields NULL on ÷ 0).
#   text_ty   the CAST target for toString().
#   datetime  literal/dynamic → timestamp with NULL on malformed input.
#             SQLite has no timestamp type: its datetime() returns the
#             canonical 'YYYY-MM-DD HH:MM:SS' TEXT (or NULL), which
#             compares correctly against ISO-stored columns.
#   date      same for dates.
#   substring SQLite guarantees substr() (substring() only >= 3.34).
def _sub_args(a):
    """Guard the substring edges where backends diverge from the
    engine (late r14): Spark treats pos 0 as 1 (DuckDB eats a char,
    SQLite shifts the window) and negative len as empty (DuckDB/SQLite
    clamp differently). Negative POS windows agree natively across all
    three — left unguarded."""
    pos = f"(CASE WHEN {a[1]} = 0 THEN 1 ELSE {a[1]} END)"
    ln = f"(CASE WHEN {a[2]} < 0 THEN 0 ELSE {a[2]} END)"
    return a[0], pos, ln


_DIALECTS = {
    "duckdb": {
        "int_div": lambda a, b: f"CAST(trunc(CAST({a} AS DOUBLE) / {b}) AS BIGINT)",
        "text_ty": "VARCHAR",
        "datetime": lambda a: f"try_cast(replace({a}, 'T', ' ') AS TIMESTAMP)",
        "date": lambda a: f"try_cast({a} AS DATE)",
        "substring": lambda a: "substring({}, {}, {})".format(*_sub_args(a)),
    },
    # PostgreSQL (third dialect, round-9 verdict ask #8 — symmetry with
    # the reference's three backends, sqlpp_postgresql.ml):
    #   - integer `/` truncates toward zero natively but ERRORS on ÷0,
    #     so int_div/mod wrap in CASE to yield NULL like the engine;
    #   - no try_cast: datetime()/date() on dynamic strings guard with
    #     a format regex before casting (out-of-range components in a
    #     well-FORMED string still error — documented divergence; the
    #     reference's PG backend casts unguarded and errors the same);
    #   - no year()/month()/day() functions → extract(... FROM x);
    #   - two-arg round() exists only for NUMERIC → cast through
    #     NUMERIC and back to DOUBLE PRECISION (`DOUBLE` alone is not
    #     a PG type name);
    #   - CAST(bool AS TEXT) is already 'true'/'false' — no hook.
    "postgres": {
        "int_div": lambda a, b: (
            f"(CASE WHEN {b} = 0 THEN NULL ELSE {a} / {b} END)"
        ),
        "text_ty": "TEXT",
        "datetime": lambda a: (
            f"(CASE WHEN {a} ~ '^\\d{{4}}-\\d{{2}}-\\d{{2}}"
            f"[T ]\\d{{2}}:\\d{{2}}:\\d{{2}}$' THEN "
            f"CAST(replace({a}, 'T', ' ') AS TIMESTAMP) ELSE NULL END)"
        ),
        "date": lambda a: (
            f"(CASE WHEN {a} ~ '^\\d{{4}}-\\d{{2}}-\\d{{2}}$' THEN "
            f"CAST({a} AS DATE) ELSE NULL END)"
        ),
        "substring": lambda a: "substring({}, {}, {})".format(*_sub_args(a)),
        "year": lambda a: f"extract(year FROM {a})",
        "month": lambda a: f"extract(month FROM {a})",
        "day": lambda a: f"extract(day FROM {a})",
        "hour": lambda a: f"extract(hour FROM {a})",
        "minute": lambda a: f"extract(minute FROM {a})",
        "second": lambda a: f"extract(second FROM {a})",
        "mod": lambda a: (
            f"(CASE WHEN {a[1]} = 0 THEN NULL ELSE {a[0]} % {a[1]} END)"
        ),
        "round": lambda a: (
            f"CAST(round(CAST({a[0]} AS NUMERIC), 0) "
            f"AS DOUBLE PRECISION)"
        ),
        # no argmin/argmax aggregate; regexp_match returns a groups
        # array with other miss/group-0 semantics; log2 is log(2, x)
        # in NUMERIC
        "no_fns": frozenset({"arg_min", "arg_max", "regexp_extract", "log2"}),
    },
    "sqlite": {
        "int_div": lambda a, b: f"({a} / {b})",
        "text_ty": "TEXT",
        "datetime": lambda a: f"datetime(replace({a}, 'T', ' '))",
        "date": lambda a: f"date({a})",
        "substring": lambda a: "substr({}, {}, {})".format(*_sub_args(a)),
        # SQLite has no year()/month()/day()/now(); strftime on the
        # ISO TEXT representation is the native spelling
        "year": lambda a: f"strftime('%Y', {a})",
        "month": lambda a: f"strftime('%m', {a})",
        "day": lambda a: f"strftime('%d', {a})",
        "hour": lambda a: f"strftime('%H', {a})",
        "minute": lambda a: f"strftime('%M', {a})",
        "second": lambda a: f"strftime('%S', {a})",
        "now": "datetime('now')",
        # CAST(bool AS TEXT) is '1'/'0' in SQLite but 'true'/'false'
        # in Spark/DuckDB — render the words (NULL propagates)
        "tostring_bool": lambda a: (
            f"(CASE WHEN {a} THEN 'true' WHEN NOT {a} THEN 'false' END)"
        ),
        # SQLite has no left()/right(): substr emulation with the same
        # pinned negative-n -> '' edge (late r14)
        "left": lambda a: (
            f"substr({a[0]}, 1, CASE WHEN {a[1]} < 0 THEN 0 "
            f"ELSE {a[1]} END)"
        ),
        "right": lambda a: (
            f"(CASE WHEN {a[1]} <= 0 THEN '' "
            f"WHEN {a[1]} >= length({a[0]}) THEN {a[0]} "
            f"ELSE substr({a[0]}, length({a[0]}) - {a[1]} + 1) END)"
        ),
        # SQLite spells strpos as instr (r14 string pack)
        "strpos": lambda a: f"CAST(instr({a[0]}, {a[1]}) AS BIGINT)",
        "contains": lambda a: f"(instr({a[0]}, {a[1]}) > 0)",
        # none of: statistical/bitwise/argmin aggregates, ordered
        # string_agg (3.44+), regexps, md5, translate, logs or the ISO
        # calendar (strftime diverges); scalar max/min are
        # NULL-on-any-NULL where the dialect skips NULLs
        "no_fns": frozenset({
            "stddev", "variance", "stddev_pop", "var_pop", "median",
            "corr", "covar_samp", "covar_pop", "mode", "arg_min",
            "arg_max", "bit_and", "bit_or", "bit_xor", "string_agg",
            "split_part", "regexp_replace", "regexp_like",
            "regexp_extract", "greatest", "least", "md5", "epoch",
            "last_day", "dayofweek", "week", "quarter", "dayofyear",
            "make_date", "make_timestamp", "translate", "log10", "log2",
        }),
    },
    # Spark SQL, for the native WITH RECURSIVE lowering
    # (compile._native_recursive): each hook spells what the Column
    # compiler builds (try_divide/try_mod keep NULL on a zero divisor
    # under ANSI mode). The text is a ``spark.sql(text, **frames)``
    # format string: identifiers and literals double their braces, and
    # ``table_ref`` prints frame placeholders. Only _SPARK_FNS print.
    "spark": {
        "q": lambda s: _fmt_esc("`" + s.replace("`", "``") + "`"),
        "lit": lambda v: _fmt_esc(_str_lit(str(v).replace("\\", "\\\\"))),
        "types": {
            **SQL_TYPES, "string": "STRING", "time": "STRING",
            "interval": "INTERVAL DAY TO SECOND",
        },
        "int_div": lambda a, b: f"CAST(try_divide({a}, {b}) AS BIGINT)",
        "div": lambda a, b: f"try_divide({a}, {b})",
        "text_ty": "STRING",
        "substring": lambda a: "substring({}, {}, {})".format(*a),
        "mod": lambda a: f"try_mod({a[0]}, {a[1]})",
        "round": lambda a: f"round({a[0]}, 0)",
        "strpos": lambda a: f"CAST(instr({a[0]}, {a[1]}) AS BIGINT)",
        "contains": lambda a: f"contains({a[0]}, {a[1]})",
    },
}

_SPARK_FNS = frozenset({
    "=", "!=", ">", ">=", "<", "<=", "and", "or", "not", "-u", "+", "-",
    "*", "/", "mod", "is null", "is not null", "is distinct from",
    "is not distinct from", "nullif", "coalesce", "case", "tostring",
    "like", "upper", "lower", "length", "concat", "trim", "ltrim",
    "rtrim", "replace", "lpad", "rpad", "repeat", "reverse", "left",
    "right", "strpos", "contains", "starts_with", "ends_with",
    "substring", "substr", "abs", "round", "floor", "ceil", "sqrt",
    "pow", "exp", "ln", "greatest", "least", "md5", "year", "month",
    "day", "hour", "minute", "second", "count", "sum", "min", "max",
    "avg", "count_distinct", "sum_distinct",
})


def _fmt_esc(s: str) -> str:
    return s.replace("{", "{{").replace("}", "}}")


# r14: RIGHT/FULL/CROSS joined the dialect (LEFT/INNER since r01);
# identical spelling in DuckDB, PostgreSQL, and SQLite >= 3.39
_JOIN_KW = {
    "inner": "JOIN",
    "left": "LEFT JOIN",
    "right": "RIGHT JOIN",
    "full": "FULL JOIN",
    "cross": "CROSS JOIN",
}


def _order_suffix(o) -> str:
    """ASC/DESC + explicit NULLS position (late r14): the dialect pins
    NULLS LAST for both directions unless overridden (DuckDB's rule,
    so raw dialect source stays runnable on the oracle engine), and
    the printed SQL spells it out because backend implicit defaults
    disagree (Spark asc=nulls-first, PG desc=nulls-first, SQLite
    asc=nulls-first). Identical spelling in all three dialects
    (SQLite >= 3.30)."""
    nulls = o.nulls or "last"
    return f"{'DESC' if o.desc else 'ASC'} NULLS {nulls.upper()}"


# --- Spark-strict TRY_CAST(string AS DATE/TIMESTAMP) emulation for the
# DuckDB printer (r16, replaces the r15 anchored-regex guard that
# over-rejected: fractional seconds, date-only->timestamp, single-digit
# components, datetime->date all NULLed even though Spark accepts them).
#
# Probed acceptance sets (Spark 4.1 try_cast, session TZ UTC, vs DuckDB
# TRY_CAST): the emulation regex-matches Spark's documented string forms
# ([+-]yyyy*[-m[-d[ time[zone]]]], T-separator, [h]h:[m]m partial times,
# .frac up to 9 digits truncated to micros, Z/UTC/GMT/[+-]h[h][:mm[:ss]]
# and packed [+-]hhmm offsets capped at +-18:00, time-only forms on the
# current date) and rebuilds a canonical string DuckDB parses bit-
# identically, applying zone offsets via to_seconds() arithmetic so the
# printed SQL never depends on the DuckDB session TimeZone. Verified on
# a 55-input battery (tests/test_cast.py). Remaining documented
# boundaries (engine NULLs where Spark returns a value): signed/negative
# years, region-id zones ('America/New_York'), 'UTC+8'-style named-zone
# offsets glued to region rules, and years > 6 digits.

_TC_WS = r"^\s+|\s+$"

_TC_DATE_PAT = r"^\+?(\d{4,6})(?:-(\d{1,2})(?:-(\d{1,2})(?:[ T].*)?)?)?$"
_TC_DATE_NAMES = ["y", "mo", "d"]

# group order: y mo d h mi s fr zn sg oh om os sg2 oh2 om2
_TC_TS_PAT = (
    r"^\+?(\d{4,6})"
    r"(?:-(\d{1,2})"
    r"(?:-(\d{1,2})"
    r"(?:[ T](\d{1,2})"
    r"(?::(\d{1,2})"
    r"(?::(\d{1,2})"
    r"(?:\.(\d*))?"
    r")?)?"
    r"\s*"
    r"(?:(Z|UTC|GMT)"
    r"|(?:UTC|GMT)?([+-])(\d{1,2})(?::(\d{1,2})(?::(\d{1,2}))?)?"
    r"|(?:UTC|GMT)?([+-])(\d{2})(\d{2})"
    r")?"
    r")?)?)?$"
)
_TC_TS_NAMES = [
    "y", "mo", "d", "h", "mi", "s", "fr",
    "zn", "sg", "oh", "om", "os", "sg2", "oh2", "om2",
]

# time-only (Spark anchors it to the current date); requires a colon
_TC_TIME_PAT = (
    r"^T?(\d{1,2}):(\d{1,2})(?::(\d{1,2})(?:\.(\d*))?)?"
    r"\s*"
    r"(?:(Z|UTC|GMT)"
    r"|(?:UTC|GMT)?([+-])(\d{1,2})(?::(\d{1,2})(?::(\d{1,2}))?)?"
    r"|(?:UTC|GMT)?([+-])(\d{2})(\d{2})"
    r")?$"
)
_TC_TIME_NAMES = [
    "h", "mi", "s", "fr",
    "zn", "sg", "oh", "om", "os", "sg2", "oh2", "om2",
]


def _tc_sq(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _tc_group(x: str, pat: str, names: List[str], name: str) -> str:
    # DuckDB's positional regexp_extract caps at group 9; the name-list
    # form returns a STRUCT keyed positionally, so >9 groups work
    nl = "[" + ", ".join(_tc_sq(n) for n in names) + "]"
    return f"(regexp_extract({x}, {_tc_sq(pat)}, {nl})).{name}"


def _tc_or_default(expr: str, default: str) -> str:
    return f"coalesce(nullif({expr}, ''), '{default}')"


def _tc_offset_secs(g) -> str:
    """Zone-offset seconds from the sg/oh/om/os (colon form) and
    sg2/oh2/om2 (packed hhmm form) groups; 0 when absent."""
    h = _tc_or_default(g("oh"), "0")
    mi = _tc_or_default(g("om"), "0")
    s = _tc_or_default(g("os"), "0")
    h2 = _tc_or_default(g("oh2"), "0")
    m2 = _tc_or_default(g("om2"), "0")
    colon = (
        f"(CAST({h} AS BIGINT)*3600 + CAST({mi} AS BIGINT)*60 "
        f"+ CAST({s} AS BIGINT))"
    )
    packed = f"(CAST({h2} AS BIGINT)*3600 + CAST({m2} AS BIGINT)*60)"
    return (
        f"(CASE WHEN {g('sg')} = '-' THEN -{colon} "
        f"WHEN {g('sg')} = '+' THEN {colon} "
        f"WHEN {g('sg2')} = '-' THEN -{packed} "
        f"WHEN {g('sg2')} = '+' THEN {packed} ELSE 0 END)"
    )


def _tc_ts_from_parts(date_expr, h, mi, s, frac, off) -> str:
    # hour 24 and offsets past +-18:00 are DuckDB-lenient/Spark-invalid
    canon = f"concat({date_expr}, ' ', {h}, ':', {mi}, ':', {s}, '.', {frac})"
    return (
        f"(CASE WHEN CAST({h} AS BIGINT) > 23 THEN NULL "
        f"WHEN abs({off}) > 64800 THEN NULL "
        f"ELSE TRY_CAST({canon} AS TIMESTAMP) - to_seconds({off}) END)"
    )


def _duck_try_cast_date(raw: str) -> str:
    x = f"regexp_replace({raw}, {_tc_sq(_TC_WS)}, '', 'g')"

    def g(name):
        return _tc_group(x, _TC_DATE_PAT, _TC_DATE_NAMES, name)

    y = g("y")
    m = _tc_or_default(g("mo"), "1")
    d = _tc_or_default(g("d"), "1")
    return (
        f"(CASE WHEN regexp_matches({x}, {_tc_sq(_TC_DATE_PAT)}) "
        f"THEN TRY_CAST(concat({y}, '-', {m}, '-', {d}) AS DATE) END)"
    )


def _duck_try_cast_timestamp(raw: str) -> str:
    x = f"regexp_replace({raw}, {_tc_sq(_TC_WS)}, '', 'g')"

    def g(name):
        return _tc_group(x, _TC_TS_PAT, _TC_TS_NAMES, name)

    date_main = (
        f"concat({g('y')}, '-', {_tc_or_default(g('mo'), '1')}, "
        f"'-', {_tc_or_default(g('d'), '1')})"
    )
    main = _tc_ts_from_parts(
        date_main,
        _tc_or_default(g("h"), "0"),
        _tc_or_default(g("mi"), "0"),
        _tc_or_default(g("s"), "0"),
        f"coalesce(nullif(substr({g('fr')}, 1, 6), ''), '0')",
        _tc_offset_secs(g),
    )

    def tg(name):
        return _tc_group(x, _TC_TIME_PAT, _TC_TIME_NAMES, name)

    # Spark anchors a time-only string on today's date in the string's
    # own offset, which may be another day than UTC's
    off = _tc_offset_secs(tg)
    today = (
        "CAST(CAST((current_timestamp AT TIME ZONE 'UTC') "
        f"+ to_seconds({off}) AS DATE) AS VARCHAR)"
    )
    time_only = _tc_ts_from_parts(
        today,
        tg("h"),
        tg("mi"),
        _tc_or_default(tg("s"), "0"),
        f"coalesce(nullif(substr({tg('fr')}, 1, 6), ''), '0')",
        off,
    )
    return (
        f"(CASE WHEN regexp_matches({x}, {_tc_sq(_TC_TS_PAT)}) THEN {main} "
        f"WHEN regexp_matches({x}, {_tc_sq(_TC_TIME_PAT)}) "
        f"THEN {time_only} END)"
    )


class SqlGen:
    def __init__(
        self, params: Optional[Dict[str, object]] = None,
        dialect: str = "duckdb", table_ref=None,
    ):
        self.params = params or {}
        if dialect not in _DIALECTS:
            raise SqlppError(f"unknown SQL dialect: {dialect}")
        self.dialect = dialect
        self.d = _DIALECTS[dialect]
        self._q = self.d.get("q", _q)
        self._lit = self.d.get("lit", _str_lit)
        # table name -> printed FROM reference (default: the quoted name)
        self.table_ref = table_ref or self._q
        self._setop_n = 0
        # printing a WHERE clause: the one place the spark dialect
        # prints IN/EXISTS subqueries (Spark rejects them elsewhere)
        self._in_where = False

    def _ty(self, kind: str) -> str:
        return self.d.get("types", SQL_TYPES)[kind]

    def _spark_refuse(self, what: str) -> None:
        if self.dialect == "spark":
            raise SqlppError(f"the spark dialect does not print {what}")

    # -- select ------------------------------------------------------------

    def select(self, ctx: SelectCtx) -> str:
        if isinstance(ctx, SetOpCtx):
            return self._setop(ctx)
        if ctx.select.qualify is not None:
            return self._select_qualify(ctx)
        sel = ctx.select
        outer_where, self._in_where = self._in_where, False
        fields = [f for f in ctx.fields if f.is_used]
        cols = (
            ", ".join(f"{self.expr(f.expr)} AS {self._q(f.out_name)}" for f in fields)
            or "1 AS _dummy"
        )
        head = "DISTINCT " if sel.distinct else ""
        if getattr(sel, "distinct_on", None):
            # r16: DuckDB and PG support DISTINCT ON natively with
            # the same first-row-per-group-in-ORDER-BY semantics the
            # engine compiles; SQLite has no DISTINCT ON
            self._spark_refuse("DISTINCT ON")
            if self.dialect == "sqlite":
                raise SqlppError(
                    "SQLite has no DISTINCT ON (backend divergence)"
                )
            ons = ", ".join(self.expr(x) for x in sel.distinct_on)
            head = f"DISTINCT ON ({ons}) "
        # GROUP BY () — global aggregation: plain aggregate query (the
        # analyzer guarantees every output is under an aggregate)
        parts = self._core(ctx, head + cols)
        if sel.order_by:
            parts.append(
                "ORDER BY "
                + ", ".join(
                    f"{self.expr(o.expr)} {_order_suffix(o)}"
                    for o in sel.order_by
                )
            )
        parts.extend(self._limit_offset_sql(sel.limit, sel.offset))
        self._in_where = outer_where
        return " ".join(parts)

    def _core(self, ctx: SelectCtx, cols: str) -> List[str]:
        """SELECT <cols> [FROM] [WHERE] [GROUP BY] [HAVING]."""
        sel = ctx.select
        parts = [f"SELECT {cols}"]
        if sel.from_ is not None:
            parts.append(f"FROM {self._from(ctx, sel.from_)}")
        if sel.where is not None:
            self._in_where = True
            parts.append(f"WHERE {self.expr(sel.where)}")
            self._in_where = False
        gb = self._group_by_sql(ctx)
        if gb:
            parts.append(gb)
        if sel.having is not None:
            parts.append(f"HAVING {self.expr(sel.having)}")
        return parts

    def _limit_offset_sql(self, limit, offset) -> List[str]:
        """LIMIT/OFFSET tail. The dialect supports OFFSET without
        LIMIT (independent clauses, reference parity) but SQLite's
        grammar rejects a bare OFFSET — spell it LIMIT -1 OFFSET n
        there (late r14)."""
        out: List[str] = []
        if limit is not None:
            out.append(f"LIMIT {self._const_int(limit)}")
        elif offset is not None and self.dialect == "sqlite":
            out.append("LIMIT -1")
        if offset is not None:
            out.append(f"OFFSET {self._const_int(offset)}")
        return out

    def _group_by_sql(self, ctx: SelectCtx) -> Optional[str]:
        """GROUP BY clause incl. the r14 ROLLUP/CUBE/GROUPING SETS
        forms (DuckDB/PG; SQLite has none of them — documented
        per-backend divergence)."""
        sel = ctx.select
        if sel.group_by is None:
            return None
        kind = getattr(sel, "group_kind", "plain")
        if not ctx.group_exprs:
            # GROUP BY () prints as a bare global aggregate — EXCEPT
            # all-empty GROUPING SETS (r15): ((), ()) is one
            # grand-total row PER set, which a bare aggregate
            # collapses to one.
            if kind == "sets" and len(sel.group_sets or []) > 1:
                if self.dialect == "sqlite":
                    raise SqlppError(
                        "SQLite has no ROLLUP/CUBE/GROUPING SETS "
                        "(backend divergence)"
                    )
                sets = ", ".join("()" for _ in sel.group_sets)
                return f"GROUP BY GROUPING SETS ({sets})"
            return None
        if kind != "plain" and self.dialect == "sqlite":
            raise SqlppError(
                "SQLite has no ROLLUP/CUBE/GROUPING SETS "
                "(backend divergence)"
            )
        gtxt = ", ".join(self.expr(g) for g in ctx.group_exprs)
        if kind == "rollup":
            return f"GROUP BY ROLLUP ({gtxt})"
        if kind == "cube":
            return f"GROUP BY CUBE ({gtxt})"
        if kind == "sets":
            sets = ", ".join(
                "("
                + ", ".join(self.expr(ctx.group_exprs[i]) for i in idxs)
                + ")"
                for idxs in (sel.group_sets or [])
            )
            return f"GROUP BY GROUPING SETS ({sets})"
        return f"GROUP BY {gtxt}"

    def _select_qualify(self, ctx: SelectCtx) -> str:
        """QUALIFY (r14) prints as the wrapped-subselect form — valid
        in all three dialects (window results aren't filterable in a
        WHERE, so the inner select materializes the qualify predicate
        and the ORDER BY expressions as extra columns; the outer
        filters and orders by them). DuckDB's native QUALIFY is the
        independent cross-check in the tests."""
        self._spark_refuse("QUALIFY")
        sel = ctx.select
        fields = [f for f in ctx.fields if f.is_used]
        inner_cols = [
            f"{self.expr(f.expr)} AS {self._q(f.out_name)}" for f in fields
        ] or ["1 AS _dummy"]
        inner_cols.append(f'{self.expr(sel.qualify)} AS "__qual"')
        if sel.distinct:
            # DISTINCT + QUALIFY (r15): filter, dedup the projected
            # rows, THEN order — ORDER BY references select-list
            # items (the dialect's DISTINCT rule), so no __ob helpers
            # (they would break the dedup).
            from sqlpp_spark.frontend.ast import expr_key

            inner = " ".join(self._core(ctx, ", ".join(inner_cols)))
            names = ", ".join(self._q(f.out_name) for f in fields) or "1"
            out = [
                f'SELECT DISTINCT {names} FROM ({inner}) AS "_qw" '
                f'WHERE "__qual"'
            ]
            if sel.order_by:
                refs = []
                for o in sel.order_by:
                    k = expr_key(o.expr)
                    name = next(
                        f.out_name for f in fields if expr_key(f.expr) == k
                    )
                    refs.append(f"{self._q(name)} {_order_suffix(o)}")
                out.append("ORDER BY " + ", ".join(refs))
            out.extend(self._limit_offset_sql(sel.limit, sel.offset))
            return " ".join(out)
        for i, o in enumerate(sel.order_by):
            inner_cols.append(f'{self.expr(o.expr)} AS "__ob{i}"')
        inner = " ".join(self._core(ctx, ", ".join(inner_cols)))
        names = ", ".join(
            self._q(f.out_name) for f in fields
        ) or "1 AS _dummy"
        out = [f'SELECT {names} FROM ({inner}) AS "_qw" WHERE "__qual"']
        if sel.order_by:
            out.append(
                "ORDER BY " + ", ".join(
                    f'"__ob{i}" {_order_suffix(o)}'
                    for i, o in enumerate(sel.order_by)
                )
            )
        out.extend(self._limit_offset_sql(sel.limit, sel.offset))
        return " ".join(out)

    def _setop(self, sctx: SetOpCtx) -> str:
        """Compound select (r14). Nested set-op branches print wrapped
        as ``SELECT * FROM (...) AS _sbN`` — valid in all three
        dialects and the only form that preserves our INTERSECT-binds-
        tighter tree in SQLite, whose bare compounds associate purely
        left-to-right. SQLite has no INTERSECT ALL / EXCEPT ALL
        (documented per-backend divergence, like the reference's
        sqlpp_sqlite.ml boundary notes)."""
        node = sctx.node
        row = sctx.row()

        def _sql_ty(t) -> str:
            n = self._ty(t.kind)
            if n == "DOUBLE" and self.dialect == "postgres":
                return "DOUBLE PRECISION"
            return n

        def branch(c) -> str:
            s = self.select(c)
            brow = c.row()
            needs_cast = any(bt.kind != t.kind for (_bn, bt), (_n, t) in zip(brow, row))
            if not (isinstance(c, SetOpCtx) or needs_cast):
                return s
            # wrap: preserves our INTERSECT-binds-tighter tree under
            # SQLite's left-to-right compound associativity, and casts
            # to the compound lub so e.g. DuckDB's DECIMAL arithmetic
            # unions as DOUBLE exactly like the Spark compiler's casts
            alias = f"_sb{self._setop_n}"
            self._setop_n += 1
            cols = ", ".join(
                f"CAST({self._q(bn)} AS {_sql_ty(t)}) AS {self._q(n)}"
                if bt.kind != t.kind else self._q(bn)
                for (bn, bt), (n, t) in zip(brow, row)
            )
            return f"SELECT {cols} FROM ({s}) AS {self._q(alias)}"

        op_sql = {
            "union": "UNION", "intersect": "INTERSECT", "except": "EXCEPT",
        }[node.op]
        if node.all:
            if self.dialect == "sqlite" and node.op != "union":
                raise SqlppError(
                    f"SQLite has no {op_sql} ALL (backend divergence)"
                )
            op_sql += " ALL"
        parts = [f"{branch(sctx.left)} {op_sql} {branch(sctx.right)}"]
        if sctx.order_names:
            parts.append(
                "ORDER BY " + ", ".join(
                    f"{self._q(n)} {_order_suffix(o)}"
                    for n, o in sctx.order_names
                )
            )
        parts.extend(self._limit_offset_sql(node.limit, node.offset))
        return " ".join(parts)

    def _from(self, ctx: SelectCtx, fr) -> str:
        if isinstance(fr, A.FromJoin):
            left = self._from(ctx, fr.left)
            right = self._from(ctx, fr.right)
            kw = _JOIN_KW[fr.kind]
            if fr.kind == "cross":
                return f"{left} {kw} {right}"
            on_sql = self.expr(fr.on)

            def _refs_rel(e, rel: str) -> bool:
                # structural walk for elaborated ERef nodes bound to
                # *rel* — r19 (ADVICE): the old substring probe on the
                # printed ON SQL was fooled by the alias text occurring
                # inside a string literal
                if isinstance(e, A.ERef):
                    return e.rel == rel
                for v in vars(e).values():
                    if isinstance(v, A.Expr) and _refs_rel(v, rel):
                        return True
                    if isinstance(v, list) and any(
                        isinstance(y, A.Expr) and _refs_rel(y, rel)
                        for y in v
                    ):
                        return True
                return False

            if (
                self.dialect == "duckdb"
                and fr.kind != "inner"
                and isinstance(fr.right, A.FromSelect)
                and getattr(fr.right, "lateral", False)
                and not (isinstance(fr.on, A.ELit) and fr.on.value is True)
                and not _refs_rel(fr.on, fr.right.alias)
            ):
                # PROBED (r18): DuckDB's binder requires a non-inner
                # LATERAL ON to compare the two sides; an outer-only
                # condition (valid PG, and the engine supports it)
                # cannot print
                raise SqlppError(
                    "DuckDB requires a non-inner LATERAL join "
                    "condition to reference the lateral side "
                    "(backend divergence)"
                )
            return f"{left} {kw} {right} ON {on_sql}"
        if isinstance(fr, A.FromTable):
            alias = fr.alias or fr.table
            t = self.table_ref(fr.table)
            return t if t == self._q(alias) else f"{t} AS {self._q(alias)}"
        if isinstance(fr, A.FromSelect):
            rel = ctx.rels[fr.alias]
            if isinstance(rel, RecQueryRel):  # recursive view (r17)
                self._spark_refuse("a nested WITH RECURSIVE")
                # WITH RECURSIVE inside a derived table — DuckDB, PG
                # and SQLite all accept the inline form
                inner = select_sql(rel.info, self.params, self.dialect)
                return f"({inner}) AS {self._q(fr.alias)}"
            if isinstance(rel, SetOpRel):  # FROM (compound) AS a (r14)
                return f"({self._setop(rel.sctx)}) AS {self._q(fr.alias)}"
            assert isinstance(rel, SelectRel)
            # r17 LATERAL: the body's analyzed WHERE carries the
            # re-inserted _corr conjuncts, so the native correlated
            # form prints directly on DuckDB/PG; SQLite has no
            # LATERAL (and forbids FROM-clause correlation entirely)
            kw = ""
            body = None
            if getattr(fr, "lateral", False):
                self._spark_refuse("LATERAL")
                if self.dialect == "sqlite":
                    raise SqlppError(
                        "SQLite has no JOIN LATERAL "
                        "(backend divergence)"
                    )
                kw = "LATERAL "
                body = self.select(rel.ctx)
                sub_sel = rel.ctx.select
                if (
                    self.dialect == "duckdb"
                    and (sub_sel.group_by is not None
                         or getattr(sub_sel, "group_all", False))
                    and not rel.ctx.group_exprs
                    and not _projects_count(rel.ctx)
                ):
                    # PROBED divergence (r18): DuckDB drops the
                    # empty-group row of a GLOBAL-aggregate lateral
                    # body unless the projection carries a count —
                    # `CROSS JOIN LATERAL (SELECT sum(v) ... )`
                    # loses non-matching outer rows where PG (and
                    # the engine) keep them with NULL cells. A dummy
                    # count(*) column triggers DuckDB's completion;
                    # it is never referenced by the outer query.
                    assert body.startswith("SELECT ")
                    body = (
                        'SELECT count(*) AS "__sqlpp_comp", '
                        + body[len("SELECT "):]
                    )
            if body is None:
                body = self.select(rel.ctx)
            return f"{kw}({body}) AS {self._q(fr.alias)}"
        if isinstance(fr, A.FromSeries):
            # DuckDB/PG share the inclusive generate_series table fn;
            # SQLite has none
            self._spark_refuse("generate_series")
            if self.dialect == "sqlite":
                raise SqlppError(
                    "SQLite has no generate_series table function "
                    "(backend divergence)"
                )
            a, b = self.expr(fr.start), self.expr(fr.stop)
            c = self.expr(fr.step) if fr.step is not None else "1"
            if self.dialect == "duckdb":
                # DuckDB's generate_series ERRORS on a direction
                # mismatch (start > stop with positive step) where the
                # engine and PG return the EMPTY series — its
                # exclusive-stop range() has the empty-safe semantics,
                # so widen the stop by one step-sign
                # ...and both functions BIND-error on a direction
                # mismatch, so the stop clamps to start (empty range)
                # when the direction is wrong
                stop = (
                    f"(CASE WHEN ({c}) > 0 AND ({b}) < ({a}) THEN ({a}) "
                    f"WHEN ({c}) < 0 AND ({b}) > ({a}) THEN ({a}) "
                    f"ELSE ({b}) + (CASE WHEN ({c}) > 0 THEN 1 "
                    f"ELSE -1 END) END)"
                )
                return (
                    f"range({a}, {stop}, {c}) "
                    f"AS {self._q(fr.alias)}({self._q(fr.col)})"
                )
            args = [a, b] + ([c] if fr.step is not None else [])
            return (
                f"generate_series({', '.join(args)}) "
                f"AS {self._q(fr.alias)}({self._q(fr.col)})"
            )
        raise SqlppError(f"bad from node {type(fr).__name__}")

    def _const_int(self, e: A.Expr) -> int:
        if isinstance(e, A.ELit) and isinstance(e.value, int):
            return e.value
        if isinstance(e, A.EParam):
            v = self.params.get(e.name)
            if isinstance(v, int):
                return v
        raise SqlppError("LIMIT/OFFSET must be an int literal or bound int param")

    # -- expressions -------------------------------------------------------

    def expr(self, e: A.Expr) -> str:
        if isinstance(e, (A.EWindow, A.EQuant, A.EScalarSub)) or (
            isinstance(e, (A.EIn, A.EExists)) and not self._in_where
        ):
            self._spark_refuse(f"{type(e).__name__} here")
        if isinstance(e, A.ELit):
            if e.lit_kind == "string":
                return self._lit(e.value)
            if e.lit_kind == "bool":
                return "TRUE" if e.value else "FALSE"
            if isinstance(e.value, float) and self.dialect == "spark":
                # a bare 0.5 is a DECIMAL literal in Spark SQL
                return f"CAST({e.value!r} AS DOUBLE)"
            return repr(e.value)
        if isinstance(e, A.ENull):
            ty = self._ty(e.ty.kind) if e.ty is not None else "VARCHAR"
            return f"CAST(NULL AS {ty})"
        if isinstance(e, A.ERef):
            return f"{self._q(e.rel)}.{self._q(e.name)}"
        if isinstance(e, A.ENav):
            # raw (pre-elaboration) qualified reference in DML position
            if isinstance(e.expr, A.EName):
                return f"{self._q(e.scope)}.{self._q(e.expr.name)}"
            return f"{self._q(e.scope)}.{self.expr(e.expr)}"
        if isinstance(e, A.EName):
            return self._q(e.name)
        if isinstance(e, A.EParam):
            return self._param(e)
        if isinstance(e, A.EMatch):
            return self._match(e)
        if isinstance(e, A.EAscribe):
            if getattr(e, "safe", False):  # TRY_CAST (r15)
                # DuckDB has TRY_CAST natively; PG/SQLite have no
                # generic safe cast (regex guards cover only string
                # sources) — documented divergence
                if self.dialect != "duckdb":
                    raise SqlppError(
                        f"{self.dialect} has no TRY_CAST "
                        "(backend divergence)"
                    )
                t = self._ty(e.to_ty.kind)
                src_ty = getattr(e.expr, "ty", None)
                if e.to_ty.kind in ("date", "datetime") and (
                    src_ty is None or src_ty.kind == "string"
                ):
                    # emulate Spark's exact string->temporal acceptance
                    # set (DuckDB's native TRY_CAST is both more lenient
                    # — '2021-03-04zz', '2021/03/04', hour 24 — and more
                    # strict — partial times, year-only forms); see the
                    # _duck_try_cast_* builders above
                    x = self.expr(e.expr)
                    if e.to_ty.kind == "date":
                        return _duck_try_cast_date(x)
                    return _duck_try_cast_timestamp(x)
                return f"TRY_CAST({self.expr(e.expr)} AS {t})"
            if e.convert:  # CAST (r15)
                kind = e.to_ty.kind
                src_ty = getattr(e.expr, "ty", None)
                if self.dialect == "sqlite":
                    # SQLite CAST is affinity-based: AS BOOLEAN/DATE/
                    # TIMESTAMP coerce NUMERICALLY ('2020-01-01' -> 2020)
                    # — silently wrong, so those targets raise; bool
                    # sources stringify as 1/0 there, also divergent
                    if kind in ("bool", "date", "datetime") or (
                        src_ty is not None and src_ty.kind == "bool"
                    ):
                        raise SqlppError(
                            "SQLite CAST involving BOOL/DATE/TIMESTAMP "
                            "is affinity-based and diverges "
                            "(backend divergence)"
                        )
                    t = "TEXT" if kind == "string" else SQL_TYPES[kind]
                    return f"CAST({self.expr(e.expr)} AS {t})"
                t = self._ty(kind)
                if t == "DOUBLE" and self.dialect == "postgres":
                    t = "DOUBLE PRECISION"
                if (
                    kind in ("int", "float")
                    and src_ty is not None and src_ty.kind == "bool"
                    and self.dialect == "postgres"
                ):
                    # PG has no bool->numeric cast; go through int
                    inner = f"CAST({self.expr(e.expr)} AS INTEGER)"
                    return f"CAST({inner} AS {t})"
                return f"CAST({self.expr(e.expr)} AS {t})"
            return self.expr(e.expr)
        if isinstance(e, A.EWindow):
            args = ", ".join(self.expr(a) for a in e.args)
            spec = []
            if e.partition_by:
                spec.append(
                    "PARTITION BY "
                    + ", ".join(self.expr(p) for p in e.partition_by)
                )
            if e.order_by:
                spec.append(
                    "ORDER BY "
                    + ", ".join(
                        f"{self.expr(o.expr)} {_order_suffix(o)}"
                        for o in e.order_by
                    )
                )
            if e.frame is not None:
                def fb(bound) -> str:
                    kind, n = bound
                    if kind in ("preceding", "following"):
                        return f"{n} {kind.upper()}"
                    return kind.upper()

                spec.append(
                    f"{e.frame.mode.upper()} BETWEEN "
                    f"{fb(e.frame.start)} AND {fb(e.frame.end)}"
                )
            fnl = e.fn.lower()
            if self.dialect == "sqlite" and fnl in (
                "stddev", "variance", "stddev_pop", "var_pop",
            ):
                raise SqlppError(
                    f"SQLite has no {fnl}() window aggregate "
                    "(backend divergence)"
                )
            if fnl in ("approx_count_distinct", "approx_percentile"):
                # r15: only DuckDB has sketch aggregates as window
                # functions (PG's percentile_cont is ordered-set only,
                # not a window fn; SQLite has neither)
                if self.dialect != "duckdb":
                    raise SqlppError(
                        f"{self.dialect} has no {fnl}() window "
                        "aggregate (backend divergence)"
                    )
                over = f"OVER ({' '.join(spec)})"
                x = self.expr(e.args[0])
                if fnl == "approx_count_distinct":
                    # precision knob drops: DuckDB's sketch has none
                    return f"approx_count_distinct({x}) {over}"
                p = self.expr(e.args[1])
                return (
                    f"CAST(approx_quantile({x}, {p}) {over} AS DOUBLE)"
                )
            if e.nulls_mode == "respect":
                # r17: RESPECT NULLS is the default semantics on every
                # backend — print the plain call everywhere instead of
                # refusing on PG/SQLite (the explicit modifier adds no
                # meaning, so the query stays portable)
                return f"{fnl}({args}) OVER ({' '.join(spec)})"
            if e.nulls_mode is not None:
                # r16: IGNORE NULLS — DuckDB takes it inside the call
                # parens; PG (<16 window set) and SQLite have no
                # null-treatment clause at all
                if self.dialect != "duckdb":
                    raise SqlppError(
                        f"{self.dialect} has no IGNORE NULLS "
                        "window modifier (backend divergence)"
                    )
                return (
                    f"{fnl}({args} {e.nulls_mode.upper()} NULLS) "
                    f"OVER ({' '.join(spec)})"
                )
            return f"{fnl}({args}) OVER ({' '.join(spec)})"
        if isinstance(e, A.EIn):
            lhs = ", ".join(self.expr(x) for x in e.exprs)
            if len(e.exprs) > 1:
                lhs = f"({lhs})"
            op = "NOT IN" if e.negated else "IN"
            return f"({lhs} {op} ({self.select(e.sub_ctx)}))"
        if isinstance(e, A.EInList):
            items = ", ".join(self.expr(x) for x in e.items)
            op = "NOT IN" if e.negated else "IN"
            return f"({self.expr(e.expr)} {op} ({items}))"
        if isinstance(e, A.EQuant):
            # r15: DuckDB/PG support quantified comparisons natively;
            # SQLite has no ANY/ALL
            if self.dialect == "sqlite":
                raise SqlppError(
                    "SQLite has no ANY/ALL quantified comparisons "
                    "(backend divergence)"
                )
            op = "<>" if e.op == "!=" else e.op
            return (
                f"({self.expr(e.expr)} {op} {e.quant.upper()} "
                f"({self.select(e.sub_ctx)}))"
            )
        if isinstance(e, A.EExists):
            return f"EXISTS ({self.select(e.sub_ctx)})"
        if isinstance(e, A.EScalarSub):
            # the analyzer re-inserted elaborated correlation conjuncts
            # into the sub's WHERE (marked _corr), so this prints the
            # ordinary correlated scalar-subquery SQL
            return f"({self.select(e.sub_ctx)})"
        if isinstance(e, A.EApp):
            return self._app(e)
        raise SqlppError(f"cannot render {type(e).__name__} as SQL")

    def _param(self, e: A.EParam) -> str:
        if e.name not in self.params:
            raise SqlppError(f"missing parameter: ?{e.name}")
        v = self.params[e.name]
        ty = e.ty or e.ascribed
        if v is None:
            t = self._ty(ty.kind) if ty is not None else "VARCHAR"
            return f"CAST(NULL AS {t})"
        if isinstance(v, bool):
            return "TRUE" if v else "FALSE"
        if self.dialect == "spark":
            # the Column compiler's F.lit(v).cast(type)
            if not isinstance(v, (int, float, str)) or ty is None:
                self._spark_refuse(f"a {type(v).__name__} parameter")
            lit = self._lit(v) if isinstance(v, str) else repr(v)
            return f"CAST({lit} AS {self._ty(ty.kind)})"
        if isinstance(v, (int, float)):
            return repr(v)
        return self._lit(str(v))

    def _match(self, e: A.EMatch) -> str:
        val = self.params.get(e.param)
        if val is None:
            raise SqlppError(f"missing variant parameter: ?{e.param}")
        if isinstance(val, str):
            tag, payload = val, {}
        elif isinstance(val, tuple) and len(val) >= 1:
            tag = val[0]
            rest = list(val[1:])
            payload = rest[0] if len(rest) == 1 and isinstance(rest[0], dict) else rest
        else:
            raise SqlppError(f"variant parameter ?{e.param} must be a tag or (tag, args)")
        for br in e.branches:
            if br.tag == tag:
                inner = dict(self.params)
                if isinstance(payload, dict):
                    inner.update(payload)
                else:
                    for pname, pval in zip(br.params, payload):
                        inner[pname] = pval
                return SqlGen(inner, self.dialect, self.table_ref).expr(
                    br.body
                )
        raise SqlppError(f"no branch for variant tag {tag!r} in MATCH ?{e.param}")

    def _app(self, e: A.EApp) -> str:
        fn = e.fn.lower()
        if fn in self.d.get("no_fns", ()) or (
            self.dialect == "spark" and fn not in _SPARK_FNS
        ):
            raise SqlppError(
                f"the {self.dialect} dialect does not print {fn}() "
                "(backend divergence)"
            )

        def a(i: int) -> str:
            return self.expr(e.args[i])

        if fn == "grouping":
            return f"CAST(grouping({a(0)}) AS BIGINT)"
        if fn == "count_distinct":
            return f"count(DISTINCT {a(0)})"
        if fn == "sum_distinct":
            return f"sum(DISTINCT {a(0)})"
        if fn == "avg_distinct":
            # cast pins the engine's DOUBLE result (DuckDB returns
            # DECIMAL averages over integer columns)
            t = "DOUBLE PRECISION" if self.dialect == "postgres" else "DOUBLE"
            return f"CAST(avg(DISTINCT {a(0)}) AS {t})"
        if fn == "approx_count_distinct":
            # r15: approximate BY CONTRACT — DuckDB has the HLL
            # sketch; PG/SQLite have none, so the printed SQL falls
            # back to the EXACT count (a valid answer inside any
            # sketch tolerance; documented per-backend divergence).
            # DuckDB's sketch takes no rsd knob — the optional literal
            # parameterizes precision, not semantics, so it drops.
            if self.dialect == "duckdb":
                return f"approx_count_distinct({a(0)})"
            return f"count(DISTINCT {a(0)})"
        if fn == "approx_percentile":
            # DuckDB: approx_quantile (t-digest); PG: exact
            # percentile_cont fallback (same contract note as above);
            # SQLite has no percentile at all.
            if self.dialect == "duckdb":
                return (
                    f"CAST(approx_quantile({a(0)}, {a(1)}) AS DOUBLE)"
                )
            if self.dialect == "postgres":
                return (
                    f"CAST(percentile_cont({a(1)}) WITHIN GROUP "
                    f"(ORDER BY {a(0)}) AS DOUBLE PRECISION)"
                )
            raise SqlppError(
                "SQLite has no percentile aggregate (backend divergence)"
            )
        if fn == "percentile_cont":
            # DuckDB: quantile_cont; PG: ordered-set percentile_cont;
            # SQLite: none. Both share Spark's interpolation formula
            # (probed bit-identical).
            if self.dialect == "sqlite":
                raise SqlppError(
                    "SQLite has no percentile aggregate "
                    "(backend divergence)"
                )
            if self.dialect == "postgres":
                return (
                    f"CAST(percentile_cont({a(1)}) WITHIN GROUP "
                    f"(ORDER BY {a(0)}) AS DOUBLE PRECISION)"
                )
            return f"CAST(quantile_cont({a(0)}, {a(1)}) AS DOUBLE)"
        if fn in ("stddev", "variance", "stddev_pop", "var_pop",
                  "median"):
            # DuckDB and PG both alias stddev=stddev_samp and
            # variance=var_samp, so the dialect spelling prints
            # verbatim. median: DuckDB native; PG spells it
            # percentile_cont(0.5).
            if fn == "median":
                if self.dialect == "postgres":
                    return (
                        f"CAST(percentile_cont(0.5) WITHIN GROUP "
                        f"(ORDER BY {a(0)}) AS DOUBLE PRECISION)"
                    )
                return f"CAST(median({a(0)}) AS DOUBLE)"
            return f"{fn}({a(0)})"
        if fn in ("corr", "covar_samp", "covar_pop"):
            # bivariate statistics (r15): DuckDB/PG spell them the same
            return f"{fn}({a(0)}, {a(1)})"
        if fn == "mode":
            # DuckDB plain-call; PG ordered-set form
            if self.dialect == "postgres":
                return f"mode() WITHIN GROUP (ORDER BY {a(0)})"
            return f"mode({a(0)})"
        if fn in ("arg_min", "arg_max"):  # DuckDB native
            return f"{fn}({a(0)}, {a(1)})"
        if fn in ("bit_and", "bit_or", "bit_xor"):
            # r16: DuckDB/PG(14+) have all three natively
            return f"CAST({fn}({a(0)}) AS BIGINT)"
        if fn == "count_if":
            # r16: PG/SQLite lack count_if — the SUM(CASE) composition
            # is exact (0 over an empty group via COALESCE)
            if self.dialect == "duckdb":
                return f"CAST(count_if({a(0)}) AS BIGINT)"
            return (
                f"CAST(COALESCE(SUM(CASE WHEN {a(0)} THEN 1 ELSE 0 "
                f"END), 0) AS BIGINT)"
            )
        if fn == "bool_and" or fn == "bool_or":
            if self.dialect == "sqlite":
                # booleans are 0/1 ints in SQLite: AND-over-group is
                # min()=1, OR-over-group is max()=1 (NULL over an
                # empty/all-NULL group propagates through =)
                agg = "min" if fn == "bool_and" else "max"
                return f"({agg}({a(0)}) = 1)"
            return f"{fn}({a(0)})"
        if fn == "string_agg":
            # the dialect's string_agg is ORDER-BY-value by definition
            # (analyze.py) — print the ordered form
            return f"string_agg({a(0)}, {a(1)} ORDER BY {a(0)})"
        if fn in AGG_FNS:
            return f"{fn}({a(0)})"
        if fn in ("=", "!=", ">", ">=", "<", "<="):
            op = "<>" if fn == "!=" else fn
            return f"({a(0)} {op} {a(1)})"
        if fn in ("and", "or"):
            return f"({a(0)} {fn.upper()} {a(1)})"
        if fn == "not":
            return f"(NOT {a(0)})"
        if fn == "-u":
            return f"(- {a(0)})"
        if fn in ("+", "-", "*"):
            if isinstance(e.args[1], A.EInterval):
                # r16: DATETIME +/- INTERVAL — DuckDB takes the bare
                # INTERVAL n UNIT form, PG wants the quoted string;
                # SQLite has no interval type
                iv = e.args[1]
                if self.dialect == "spark":
                    n = iv.n if fn == "+" else -iv.n
                    return f"timestampadd({iv.unit.upper()}, {n}, {a(0)})"
                if self.dialect == "sqlite":
                    raise SqlppError(
                        "SQLite has no INTERVAL arithmetic "
                        "(backend divergence)"
                    )
                if self.dialect == "postgres":
                    return (
                        f"({a(0)} {fn} INTERVAL "
                        f"'{iv.n} {iv.unit}')"
                    )
                return f"({a(0)} {fn} INTERVAL {iv.n} {iv.unit.upper()})"
            return f"({a(0)} {fn} {a(1)})"
        if fn == "/":
            lt, rt = e.args[0].ty, e.args[1].ty
            if lt is not None and rt is not None and lt.kind == "int" and rt.kind == "int":
                # truncation toward zero, NULL on /0 — the engine's
                # try_divide().cast("long") semantics (see _DIALECTS)
                return self.d["int_div"](a(0), a(1))
            if "div" in self.d:
                return self.d["div"](a(0), a(1))
            return f"({a(0)} / {a(1)})"
        if fn == "is null":
            return f"({a(0)} IS NULL)"
        if fn == "is not null":
            return f"({a(0)} IS NOT NULL)"
        if fn in ("is distinct from", "is not distinct from"):
            # r15 null-safe comparison: SQLite spells it bare IS /
            # IS NOT (same two-valued semantics); DuckDB/PG standard
            if self.dialect == "sqlite":
                op = "IS NOT" if fn == "is distinct from" else "IS"
                return f"({a(0)} {op} {a(1)})"
            return f"({a(0)} {fn.upper()} {a(1)})"
        if fn == "nullif":
            return f"nullif({a(0)}, {a(1)})"
        if fn == "coalesce":
            args = ", ".join(a(i) for i in range(len(e.args)))
            return f"coalesce({args})"
        if fn == "now":
            return self.d.get("now", "now()")
        if fn == "tostring":
            ty = e.args[0].ty
            if ty is not None and ty.kind == "bool" and "tostring_bool" in self.d:
                return self.d["tostring_bool"](a(0))
            # documented boundary: toString(float) agrees across
            # backends in the plain-decimal regime ('3.0', '0.1') but
            # diverges once engines switch to scientific notation
            # (Spark '1.0E20' vs DuckDB '1e+20') — float-to-string
            # rendering is engine-defined beyond ~1e16
            return f"CAST({a(0)} AS {self.d['text_ty']})"
        if fn == "datetime":
            return self.d["datetime"](a(0))
        if fn == "date":
            return self.d["date"](a(0))
        if fn == "like":
            pat = e.args[1]
            if isinstance(pat, A.ELit) and pat.lit_kind == "string":
                esc = self._lit("\\")
                # explicit ESCAPE: Spark's implicit default is '\' but
                # DuckDB/SQLite have NONE — identical spelling in all
                # three dialects pins the engine's semantics
                return (
                    f"({a(0)} LIKE {self._lit(pat.value)} "
                    f"ESCAPE {esc})"
                )
            raise SqlppError("like() pattern must be a string literal", pat.loc)
        if fn == "case":
            # r14 searched CASE; mixed int/float branches cast to the
            # analyzed lub so DuckDB's DECIMAL arithmetic can't leak in
            n = len(e.args)
            parts = ["CASE"]
            for i in range(n // 2):
                parts.append(f"WHEN {a(2 * i)} THEN {a(2 * i + 1)}")
            if n % 2 == 1:
                parts.append(f"ELSE {a(n - 1)}")
            parts.append("END")
            s = " ".join(parts)
            ty = e.ty
            vals = [e.args[2 * i + 1] for i in range(n // 2)]
            if n % 2 == 1:
                vals.append(e.args[n - 1])
            if ty is not None and (self.dialect == "spark" or any(
                x.ty is not None and x.ty.kind != ty.kind for x in vals
            )):
                # spark: the Column compiler always casts CASE to its type
                cast_ty = (
                    "DOUBLE PRECISION"
                    if self.dialect == "postgres" and ty.kind == "float"
                    else self._ty(ty.kind)
                )
                return f"CAST(({s}) AS {cast_ty})"
            return f"({s})"
        if fn in ("substring", "substr"):
            return self.d["substring"]([a(i) for i in range(len(e.args))])
        if fn in ("year", "month", "day", "hour", "minute", "second") \
                and fn in self.d:
            return f"CAST({self.d[fn](a(0))} AS BIGINT)"
        if fn in ("split_part", "regexp_replace", "regexp_like"):
            if fn == "split_part":
                # DuckDB returns '' for a NULL input string — the
                # dialect pins SQL's strict NULL-in -> NULL-out
                return (
                    f"(CASE WHEN {a(0)} IS NULL THEN NULL "
                    f"ELSE split_part({a(0)}, {a(1)}, {a(2)}) END)"
                )
            if fn == "regexp_replace":
                # Spark replaces ALL matches; DuckDB/PG need the flag
                return f"regexp_replace({a(0)}, {a(1)}, {a(2)}, 'g')"
            if self.dialect == "postgres":
                return f"({a(0)} ~ {a(1)})"
            return f"regexp_matches({a(0)}, {a(1)})"
        if fn in ("greatest", "least"):
            args = ", ".join(a(i) for i in range(len(e.args)))
            return f"{fn}({args})"
        if fn in ("date_add", "date_diff", "date_trunc"):
            # r15 date arithmetic: per-dialect spellings (DuckDB/PG
            # date+int adds days; SQLite has no DATE type at all —
            # documented divergence like the stats aggregates)
            if self.dialect == "sqlite":
                raise SqlppError(
                    "SQLite has no typed date arithmetic "
                    "(backend divergence)"
                )
            if fn == "date_add":
                return f"({a(0)} + CAST({a(1)} AS INTEGER))"
            if fn == "date_diff":
                if self.dialect == "postgres":
                    return f"CAST(({a(0)} - {a(1)}) AS BIGINT)"
                return (
                    f"CAST(date_diff('day', {a(1)}, {a(0)}) AS BIGINT)"
                )
            part = e.args[0]
            ty = e.ty
            t = SQL_TYPES.get(ty.kind, "TIMESTAMP") if ty else "TIMESTAMP"
            return f"CAST(date_trunc({a(0)}, {a(1)}) AS {t})"
        if fn == "md5":  # r15: content fingerprint
            return f"md5({a(0)})"
        if fn in (
            "epoch", "last_day", "dayofweek", "week", "quarter",
            "dayofyear", "make_date", "make_timestamp",
        ):
            # r16 temporal wave
            pg = self.dialect == "postgres"
            if fn == "epoch":
                inner = (
                    f"extract(epoch from {a(0)})" if pg
                    else f"epoch({a(0)})"
                )
                return f"CAST(floor({inner}) AS BIGINT)"
            if fn == "last_day":
                if pg:  # PG has no last_day()
                    return (
                        f"CAST(date_trunc('month', {a(0)}) "
                        f"+ INTERVAL '1 month' - INTERVAL '1 day' "
                        f"AS DATE)"
                    )
                return f"last_day({a(0)})"
            if fn == "dayofweek":
                # both oracle engines are Sunday=0; the dialect pins
                # Spark's Sunday=1
                inner = f"extract(dow from {a(0)})" if pg \
                    else f"dayofweek({a(0)})"
                return f"CAST({inner} + 1 AS BIGINT)"
            if fn in ("week", "quarter", "dayofyear"):
                part = {"dayofyear": "doy"}.get(fn, fn)
                inner = f"extract({part} from {a(0)})" if pg \
                    else f"{fn}({a(0)})"
                return f"CAST({inner} AS BIGINT)"
            args = ", ".join(a(i) for i in range(len(e.args)))
            return f"{fn}({args})"
        if fn == "regexp_extract":
            # r16: DuckDB's regexp_extract matches Spark ('' on miss,
            # NULL in -> NULL out, group 0 = whole match — probed)
            return f"regexp_extract({a(0)}, {a(1)}, {a(2)})"
        if fn == "translate":
            return f"translate({a(0)}, {a(1)}, {a(2)})"
        if fn == "trunc":
            if self.dialect == "sqlite":
                # SQLite CAST truncates toward zero (documented)
                return f"CAST(CAST({a(0)} AS INTEGER) AS DOUBLE)"
            return f"CAST(trunc({a(0)}) AS DOUBLE)"
        if fn == "sign":
            # DuckDB/PG sign() keeps the argument's type; the dialect
            # pins Spark's DOUBLE result
            return f"CAST(sign({a(0)}) AS DOUBLE)"
        if fn in ("log10", "log2"):
            # NULL on out-of-domain (DuckDB/PG raise). log2 prints as
            # ln(x)/ln(2): Spark computes it that way, and DuckDB's
            # native log2 differs in the last ulp (probed: log2(10))
            # while the ln-ratio is bit-equal
            body = (
                f"(ln({a(0)}) / ln(2.0))" if fn == "log2"
                else f"log10({a(0)})"
            )
            return f"(CASE WHEN {a(0)} > 0 THEN {body} END)"
        if fn == "ascii":
            if self.dialect == "sqlite":
                # SQLite's codepoint fn is unicode(); NULL for '',
                # where the dialect pins 0
                return (
                    f"(CASE WHEN {a(0)} IS NULL THEN NULL "
                    f"WHEN {a(0)} = '' THEN 0 "
                    f"ELSE unicode({a(0)}) END)"
                )
            return f"CAST(ascii({a(0)}) AS BIGINT)"
        if fn in ("mod", "round", "strpos", "contains", "left", "right") \
                and fn in self.d:
            # dialect-overridden extension fns (PG: NULL-on-÷0 mod,
            # NUMERIC-routed two-arg round; SQLite: instr-based
            # strpos/contains)
            return self.d[fn]([a(i) for i in range(len(e.args))])
        ext = _EXT_SQL.get(fn)
        if ext is not None:
            return ext([a(i) for i in range(len(e.args))])
        raise SqlppError(f"cannot render function {e.fn} as SQL")


_EXT_SQL = {
    "upper": lambda a: f"upper({a[0]})",
    "lower": lambda a: f"lower({a[0]})",
    "length": lambda a: f"CAST(length({a[0]}) AS BIGINT)",
    "concat": lambda a: "(" + " || ".join(a) + ")",
    "trim": lambda a: f"trim({a[0]})",
    "ltrim": lambda a: f"ltrim({a[0]})",
    "rtrim": lambda a: f"rtrim({a[0]})",
    "replace": lambda a: f"replace({a[0]}, {a[1]}, {a[2]})",
    # r14 string pack. starts_with/ends_with print as portable substr
    # comparisons (identical in DuckDB/PG/SQLite, incl. the
    # needle-longer-than-haystack and empty-needle edges); strpos and
    # contains have SQLite instr() hooks in _DIALECTS.
    "lpad": lambda a: f"lpad({a[0]}, {a[1]}, {a[2]})",
    "rpad": lambda a: f"rpad({a[0]}, {a[1]}, {a[2]})",
    "repeat": lambda a: f"repeat({a[0]}, {a[1]})",
    "reverse": lambda a: f"reverse({a[0]})",
    # n < 0 pins the engine's (Spark's) empty string — DuckDB/PG
    # natively mean "all but the last/first n" there (late r14)
    "left": lambda a: (
        f"(CASE WHEN {a[1]} < 0 THEN '' ELSE left({a[0]}, {a[1]}) END)"
    ),
    "right": lambda a: (
        f"(CASE WHEN {a[1]} < 0 THEN '' ELSE right({a[0]}, {a[1]}) END)"
    ),
    "strpos": lambda a: f"CAST(strpos({a[0]}, {a[1]}) AS BIGINT)",
    "contains": lambda a: f"(strpos({a[0]}, {a[1]}) > 0)",
    "starts_with": lambda a: (
        f"(substr({a[0]}, 1, length({a[1]})) = {a[1]})"
    ),
    "ends_with": lambda a: (
        f"(substr({a[0]}, length({a[0]}) - length({a[1]}) + 1) = {a[1]})"
    ),
    "abs": lambda a: f"abs({a[0]})",
    "round": lambda a: f"round(CAST({a[0]} AS DOUBLE), 0)",
    "floor": lambda a: f"CAST(floor({a[0]}) AS BIGINT)",
    "ceil": lambda a: f"CAST(ceil({a[0]}) AS BIGINT)",
    "year": lambda a: f"CAST(year({a[0]}) AS BIGINT)",
    "hour": lambda a: f"CAST(hour({a[0]}) AS BIGINT)",
    "minute": lambda a: f"CAST(minute({a[0]}) AS BIGINT)",
    "second": lambda a: f"CAST(second({a[0]}) AS BIGINT)",
    "month": lambda a: f"CAST(month({a[0]}) AS BIGINT)",
    "day": lambda a: f"CAST(day({a[0]}) AS BIGINT)",
    # try-mod: NULL on mod 0 in BOTH engines (DuckDB % yields NULL)
    "mod": lambda a: f"({a[0]} % {a[1]})",
    # NULL on out-of-domain (late r14): DuckDB/PG raise Out of Range
    # where the engine yields NULL — the CASE guard short-circuits
    # per row in every backend
    "sqrt": lambda a: f"(CASE WHEN {a[0]} >= 0 THEN sqrt({a[0]}) END)",
    "pow": lambda a: f"pow({a[0]}, {a[1]})",
    "exp": lambda a: f"exp({a[0]})",
    "ln": lambda a: f"(CASE WHEN {a[0]} > 0 THEN ln({a[0]}) END)",
}


def select_sql(
    info: QueryInfo, params: Optional[Dict[str, object]] = None,
    dialect: str = "duckdb",
) -> str:
    """Render an analyzed query (frontend.analyze.analyze output) as
    one ANSI SQL string. ``params`` inlines bound values for ?params /
    MATCH variants (same binding rules as the Spark compiler).
    ``dialect`` selects the backend divergence table (_DIALECTS) —
     duckdb (default) or sqlite, mirroring the reference's per-backend
    printers."""
    g = SqlGen(params, dialect)
    rec = getattr(info, "recursive", None)
    if rec is not None:
        # WITH RECURSIVE prints natively — DuckDB, Postgres and
        # SQLite all support it with the engine's UNION/UNION ALL
        # working-table semantics (r18: members print in declaration
        # order; mutual cycles are UNION-distinct, where DuckDB's
        # accumulated evaluation reaches the same closure as the
        # engine's tandem semi-naive loop). The explicit column list
        # carries the rename the dialect's optional ``name (cols)``
        # form did.
        parts = []
        for m in rec.members:
            cols = ", ".join(_q(n) for n, _t in m.row)
            kw = "UNION ALL" if m.union_all else "UNION"
            parts.append(
                f"{_q(m.name)} ({cols}) AS "
                f"({g.select(m.base_ctx)} {kw} {g.select(m.step_ctx)})"
            )
        return (
            f"WITH RECURSIVE {', '.join(parts)} {g.select(info.ctx)}"
        )
    return g.select(info.ctx)


def spark_recursive_sql(m, params, frame_key, max_level: int) -> str:
    """A linear UNION ALL member (analyze.RecMemberInfo) as a Spark
    ``WITH RECURSIVE`` format string; every other table it reads prints
    as the ``{frame_key(name)}`` placeholder. Both branches are cast to
    the member row (as the Column compiler's ``align`` does): Spark's
    UnionLoop needs anchor and step types to match exactly."""
    name = _DIALECTS["spark"]["q"](m.name)
    g = SqlGen(params, "spark", lambda t: (
        name if t == m.name else "{" + frame_key(t) + "}"
    ))
    names = ", ".join(g._q(n) for n, _t in m.row)
    cols = ", ".join(
        f"CAST({g._q(n)} AS {g._ty(t.kind)}) AS {g._q(n)}" for n, t in m.row
    )

    def aligned(ctx) -> str:
        return f"SELECT {cols} FROM ({g.select(ctx)}) AS `_b` ({names})"

    return (
        f"WITH RECURSIVE {name} ({names}) MAX RECURSION LEVEL {max_level} "
        f"AS ({aligned(m.base_ctx)} UNION ALL {aligned(m.step_ctx)}) "
        f"SELECT * FROM {name}"
    )


def statement_sql(
    env, src: str, params: Optional[Dict[str, object]] = None,
    dialect: str = "duckdb", pivot_values=None,
) -> str:
    """Render any sqlpp statement — SELECT (elaborated), INSERT
    VALUES/SELECT (+ SET sugar, ON CONFLICT, RETURNING), UPDATE
    [FROM], DELETE — as DuckDB-compatible SQL. SELECTs (top-level and
    nested in DML) print their ELABORATED form; DML scaffolding prints
    from the parsed AST, mirroring the reference's printer.ml split."""
    from sqlpp_spark.frontend.analyze import Analyzer, analyze
    from sqlpp_spark.frontend.parser import parse_query

    q = parse_query(src)
    g = SqlGen(params, dialect)

    def where_sql(table: str, where) -> str:
        if where is None:
            return ""
        if A.expr_has_subquery(where):
            # IN/EXISTS need elaboration (sub_ctx) before printing —
            # analyze the predicate in the target table's scope, as
            # the engine's subquery DML path does
            from sqlpp_spark.frontend.analyze import (
                Analyzer, SelectCtx, TableRel,
            )

            ti = env.tables.get(table)
            if ti is None:
                raise SqlppError(f"no such table: {table}")
            an = Analyzer(env, src)
            ctx = SelectCtx(A.Select(from_=A.FromTable(table, None)))
            ctx.rels[table] = TableRel(table, ti.columns, table=table)
            welab, _ = an.infer_expr(ctx, where)
            return f" WHERE {g.expr(welab)}"
        return f" WHERE {g.expr(where)}"
    if isinstance(q, (A.Select, A.SetOp, A.RecursiveQuery)):
        # pivot_values: engine hook for dynamic PIVOT IN-list
        # discovery (r19) — pure-frontend printing of a dynamic
        # pivot without it is a located error
        return select_sql(
            analyze(env, src, pivot_values=pivot_values),
            params, dialect,
        )

    def returning(fields) -> str:
        if not fields:
            return ""
        cols = ", ".join(
            g.expr(f.expr) + (f" AS {_q(f.name)}" if f.name else "")
            for f in fields
        )
        return f" RETURNING {cols}"

    if isinstance(q, A.Insert):
        cols = "(" + ", ".join(_q(c) for c in q.columns) + ")"
        head = (
            "INSERT OR REPLACE INTO"
            if q.on_conflict == "replace"
            else "INSERT INTO"
        )
        if q.values is not None:
            rows = ", ".join(
                "(" + ", ".join(g.expr(e) for e in row) + ")"
                for row in q.values
            )
            body = f"VALUES {rows}"
        else:
            an = Analyzer(env, src)
            body = g.select(
                an.analyze_setop(q.select)
                if isinstance(q.select, A.SetOp)
                else an.analyze_select(q.select)
            )
        tail = " ON CONFLICT DO NOTHING" if q.on_conflict == "ignore" else ""
        return f"{head} {_q(q.table)}{cols} {body}{tail}{returning(q.returning)}"
    if isinstance(q, A.Update):
        alias = f" AS {_q(q.alias)}" if q.alias else ""

        def set_expr_sql(e) -> str:
            if not A.expr_has_subquery(e):
                return g.expr(e)
            # scalar subqueries in SET (r12) need elaboration
            # (sub_ctx + correlation lift) before printing — same
            # target-table scope as where_sql
            from sqlpp_spark.frontend.analyze import (
                Analyzer, SelectCtx, TableRel,
            )

            ti = env.tables.get(q.table)
            if ti is None:
                raise SqlppError(f"no such table: {q.table}")
            an = Analyzer(env, src)
            ctx = SelectCtx(A.Select(from_=A.FromTable(q.table, None)))
            ctx.rels[q.table] = TableRel(q.table, ti.columns, table=q.table)
            elab, _ty = an.infer_expr(ctx, e)
            return g.expr(elab)

        sets = ", ".join(
            f"{_q(c)} = {set_expr_sql(e)}" for c, e in q.sets
        )
        out = f"UPDATE {_q(q.table)}{alias} SET {sets}"
        if q.from_ is not None:
            an = Analyzer(env, src)

            def from_raw(fr) -> str:  # noqa: ANN202
                if isinstance(fr, A.FromJoin):
                    kw = _JOIN_KW[fr.kind]
                    if fr.kind == "cross":
                        return f"{from_raw(fr.left)} {kw} {from_raw(fr.right)}"
                    return (
                        f"{from_raw(fr.left)} {kw} {from_raw(fr.right)} "
                        f"ON {g.expr(fr.on)}"
                    )
                if isinstance(fr, A.FromTable):
                    alias2 = fr.alias or fr.table
                    t = _q(fr.table)
                    return t if alias2 == fr.table else f"{t} AS {_q(alias2)}"
                if isinstance(fr, A.FromSelect):
                    return (
                        f"({g.select(an.analyze_select(fr.select))}) "
                        f"AS {_q(fr.alias)}"
                    )
                raise SqlppError(f"bad from node {type(fr).__name__}")

            out += f" FROM {from_raw(q.from_)}"
            if q.where is not None:
                if A.expr_has_subquery(q.where):
                    # r10 (reference parity, printer.ml:312-329):
                    # elaborate IN/EXISTS in the JOINED scope (target
                    # table + FROM relations) and print the result
                    from sqlpp_spark.frontend.analyze import (
                        SelectCtx, TableRel,
                    )

                    ti = env.tables.get(q.table)
                    if ti is None:
                        raise SqlppError(f"no such table: {q.table}")
                    ctx = SelectCtx(
                        A.Select(from_=A.FromTable(q.table, None))
                    )
                    ctx.rels[q.table] = TableRel(
                        q.table, ti.columns, table=q.table
                    )

                    def add_rels(fr) -> None:
                        if isinstance(fr, A.FromJoin):
                            add_rels(fr.left)
                            add_rels(fr.right)
                        else:
                            an._analyze_from(ctx, fr, nullable=False)

                    add_rels(q.from_)
                    welab, _ = an.infer_expr(ctx, q.where)
                    out += f" WHERE {g.expr(welab)}"
                else:
                    out += f" WHERE {g.expr(q.where)}"
        else:
            out += where_sql(q.table, q.where)
        return out + returning(q.returning)
    if isinstance(q, A.Delete):
        alias = f" AS {_q(q.alias)}" if q.alias else ""
        out = f"DELETE FROM {_q(q.table)}{alias}"
        out += where_sql(q.table, q.where)
        return out + returning(q.returning)
    raise SqlppError(f"cannot render {type(q).__name__} as SQL")


_COUNT_FAMILY = frozenset(
    {"count", "count_distinct", "approx_count_distinct", "count_if"}
)


def _projects_count(ctx) -> bool:
    """True when any projected field of an aggregated body contains a
    count-family aggregate — the trigger for DuckDB's empty-group
    completion in a lateral body (see the probed divergence at the
    lateral printing site)."""

    def walk(e) -> bool:
        if isinstance(e, A.EApp):
            if e.fn.lower() in _COUNT_FAMILY:
                return True
            return any(walk(x) for x in e.args)
        for attr in ("expr", "left", "right"):
            sub = getattr(e, attr, None)
            if sub is not None and walk(sub):
                return True
        args = getattr(e, "args", None)
        if args:
            return any(walk(x) for x in args)
        return False

    return any(walk(f.expr) for f in ctx.fields if f.is_used)
