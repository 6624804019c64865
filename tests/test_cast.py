"""CAST(expr AS TY) (r15, beyond reference): a CONVERTING cast —
the dialect's ``expr : TY`` ascription checks-and-erases, CAST
changes the value's type. Compiles to Column.cast (Spark ANSI mode:
unrepresentable values ERROR, like DuckDB — nullability follows the
argument); prints as CAST .. AS with per-dialect type names; SQLite's
affinity-based CAST raises for BOOL/DATE/TIMESTAMP (divergence).
Differential against DuckDB on printed SQL AND original source."""

from __future__ import annotations

import duckdb
import pytest

from sqlpp_spark.compiler.sqlgen import select_sql
from sqlpp_spark.frontend.analyze import Analyzer
from sqlpp_spark.frontend.errors import SqlppError
from sqlpp_spark.frontend.parser import parse_query
from sqlpp_spark.frontend.printer import format_query

ROWS = [
    (1, 2.5, "7", True, "2021-03-04"),
    (2, -1.5, "42", False, "1999-12-31"),
    (3, 0.0, "0", True, "2021-03-04"),
]
SCHEMA = (
    "create table t (a int not null, f float not null, "
    "s string not null, b bool not null, d string not null);"
)


@pytest.fixture()
def eng(spark):
    from sqlpp_spark.engine import SqlppEngine

    eng = SqlppEngine(spark)
    eng.add_decls(SCHEMA)
    eng.register_df(
        "t",
        spark.createDataFrame(
            ROWS, "a long, f double, s string, b boolean, d string"
        ),
    )
    return eng


@pytest.fixture()
def duck():
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t (a BIGINT, f DOUBLE, s VARCHAR, b BOOLEAN, "
        "d VARCHAR)"
    )
    con.executemany("INSERT INTO t VALUES (?,?,?,?,?)", ROWS)
    return con


def _differ(eng, duck, src):
    rows = sorted(tuple(repr(x) for x in r) for r in eng.fetch_list(src))
    info = Analyzer(eng.env, src).analyze_query(parse_query(src))
    sql = select_sql(info)
    want = sorted(tuple(repr(x) for x in r) for r in duck.execute(sql).fetchall())
    want2 = sorted(tuple(repr(x) for x in r) for r in duck.execute(src).fetchall())
    assert rows == want == want2, f"{src}\n{sql}"
    return info


def test_cast_differential(eng, duck):
    for src in (
        # numeric <-> numeric (float->int truncates toward zero on
        # both engines for in-range values... DuckDB ROUNDS on
        # float->int; use half-free values)
        "select a, cast(a as float) as af from t order by a",
        "select a, cast(f as string) as fs from t order by a",
        # string -> numeric
        "select a, cast(s as int) as si, cast(s as float) as sf "
        "from t order by a",
        # bool conversions
        "select a, cast(b as int) as bi, cast(b as string) as bs "
        "from t order by a",
        # string -> date, then date -> string roundtrip
        "select a, cast(d as date) as dd from t order by a",
        "select a, cast(cast(d as date) as string) as ds from t "
        "order by a",
        # date -> datetime widening
        "select a, cast(cast(d as date) as datetime) as dt from t "
        "order by a",
        # usable inside expressions / WHERE / GROUP BY
        "select cast(s as int) + a as x from t order by x",
        "select a from t where cast(s as int) > 5 order by a",
        "select cast(b as int) as g, count(1) as n from t "
        "group by cast(b as int) order by g",
    ):
        _differ(eng, duck, src)


def test_cast_float_to_int_truncates_like_engines_agree(eng, duck):
    # Spark ANSI cast(double as long) truncates; DuckDB CAST rounds!
    # Pin the ENGINE behavior (truncation) and oracle via trunc()
    rows = {r[0]: r[1] for r in eng.fetch_list(
        "select a, cast(f as int) as fi from t"
    )}
    want = dict(duck.execute(
        "SELECT a, CAST(trunc(f) AS BIGINT) FROM t"
    ).fetchall())
    assert rows == want


def test_cast_typing_and_errors(eng):
    from sqlpp_spark.frontend.analyze import analyze

    info = analyze(eng.env, "select cast(a as string) as x from t")
    (_, ty), = info.row
    assert ty.kind == "string" and ty.non_null  # nullability follows arg
    for bad, m in (
        # date -> numeric, bool -> date, int -> datetime: no engine
        # pair agrees on these, all rejected by the matrix
        ("select cast(cast(d as date) as int) as x from t",
         "cannot CAST"),
        ("select cast(b as date) as x from t", "cannot CAST"),
        ("select cast(a as datetime) as x from t", "cannot CAST"),
    ):
        with pytest.raises(SqlppError, match=m):
            analyze(eng.env, bad)


def test_cast_printers(eng, duck):
    src = "select cast(s as float) as x from t order by x"
    info = Analyzer(eng.env, src).analyze_query(parse_query(src))
    pg = select_sql(info, dialect="postgres")
    assert "DOUBLE PRECISION" in pg
    lite = select_sql(info, dialect="sqlite")
    assert "CAST" in lite and "DOUBLE" in lite
    # sqlite divergent targets raise
    for bad in (
        "select cast(d as date) as x from t",
        "select cast(b as string) as x from t",
    ):
        info2 = Analyzer(eng.env, bad).analyze_query(parse_query(bad))
        with pytest.raises(SqlppError, match="affinity"):
            select_sql(info2, dialect="sqlite")


def test_cast_fmt_roundtrip():
    for src in (
        "select cast(a as int) as x from t",
        "select cast(cast(d as date) as string) as x from t "
        "where cast(s as float) > 1.0",
    ):
        once = format_query(parse_query(src))
        assert format_query(parse_query(once)) == once


def test_cast_vs_ascription_distinct_keys():
    """cast(a as int) and cast(a as string) must NOT hash-cons
    together (the erased ascription does by design)."""
    from sqlpp_spark.frontend.ast import expr_key

    q1 = parse_query("select cast(a as int) as x from t")
    q2 = parse_query("select cast(a as string) as x from t")
    k1 = expr_key(q1.fields[0].expr)
    k2 = expr_key(q2.fields[0].expr)
    assert k1 != k2


def test_try_cast_differential(eng, duck):
    """TRY_CAST (r15 third wave): NULL where CAST would raise —
    malformed strings to every numeric/temporal target. DuckDB has
    TRY_CAST natively, so both the printed SQL and the original
    source differential."""
    from sqlpp_spark.compiler.sqlgen import select_sql
    from sqlpp_spark.frontend.analyze import Analyzer
    from sqlpp_spark.frontend.parser import parse_query

    for src in (
        "select a, try_cast(s as int) as i from t order by a",
        "select a, try_cast(concat(s, 'x') as int) as i from t order by a",
        "select a, try_cast(concat(s, 'x') as float) as f from t order by a",
        "select a, try_cast(d as date) as dd, "
        "try_cast(concat(d, 'zz') as date) as bad from t order by a",
        # valid casts behave exactly like CAST
        "select a, try_cast(b as int) as bi from t order by a",
        "select a from t where try_cast(s as int) > 5 order by a",
    ):
        rows = sorted(tuple(repr(x) for x in r) for r in eng.fetch_list(src))
        info = Analyzer(eng.env, src).analyze_query(parse_query(src))
        sql = select_sql(info)
        want = sorted(
            tuple(repr(x) for x in r) for r in duck.execute(sql).fetchall()
        )
        assert rows == want, f"{src}\n{sql}"
        if "as date" in src:
            # PINNED divergence: DuckDB's native temporal TRY_CAST
            # accepts garbage suffixes; the printed SQL carries the
            # strictness guard, the raw source would disagree
            continue
        want2 = sorted(
            tuple(repr(x) for x in r) for r in duck.execute(src).fetchall()
        )
        assert rows == want2, src


TEMPORAL_BATTERY = [
    # canonical + single-digit components + T separator
    "2021-03-04", "2021-3-4", "2021-03-04 05:06:07", "2021-03-04T05:06:07",
    "2021-03-04 5:6:7", "2021-03-04 05:6",
    # fractional seconds (incl. > 6 digits -> truncated to micros)
    "2021-03-04 05:06:07.123", "2021-03-04 05:06:07.123456789",
    "2021-03-04 05:06:07.", "2021-03-04T05:06:07.1Z",
    # partial times and partial dates (Spark-lenient, DuckDB-strict)
    "2021-03-04 05:06", "2021-03-04 05", "2021-03-04T05", "2021", "2021-03",
    "2021-3",
    # trailing content after a full date (Spark date-accepts, ts-rejects)
    "2021-03-04 garbage", "2021-03-04Tgarbage", "2021-03-04T",
    "2021-03-04 ",
    # DuckDB-lenient forms Spark rejects
    "2021-03-04zz", "2021/03/04", "2021-03-04 24:00:00",
    # invalid dates / times on both engines
    "2021-13-04", "2021-02-30", "2021-03-04 05:06:60", "2021-02-29",
    "2020-02-29",
    # whitespace trimming
    "  2021-03-04  ", "\t2021-03-04\n",
    # zone suffixes: named, colon offsets, packed, with seconds, capped
    "2021-03-04 05:06:07Z", "2021-03-04 05:06:07+08:00",
    "2021-03-04 05:06:07 UTC", "2021-03-04 05:06:07 GMT",
    "2021-03-04 05:06:07+0800", "2021-03-04 05:06:07 UTC+8",
    "2021-03-04 05:06:07+8", "2021-03-04 05:06:07-08",
    "2021-03-04 05:06:07+08:30:15", "2021-03-04 05:06:07GMT+05:30",
    "2021-03-04 05:06:07+19:00", "2021-03-04 00:00:00-18",
    "2021-03-04 00:00:00+18:00:01",
    # time-only forms (current-date anchored on both engines)
    "05:06:07", "T05:06:07", "05:06:07+01:00", "05:06", "T23:59:59.999999Z",
    # at any hour one of these two offsets is on another date than UTC
    "05:06:07+14:00", "05:06:07-12:00",
    # range edges + junk ('0001-01-01' is engine-valid but PySpark's
    # Python-side timestamp materialization can't represent it)
    "1000-01-01", "9999-12-31", "2021-03-04 23:59:59", "", "   ", "garbage",
]


def test_try_cast_temporal_battery_differential(spark):
    """The printed DuckDB SQL must reproduce Spark's exact string->
    temporal acceptance set (r16; the r15 anchored-regex guard NULLed
    fractional seconds, date-only->timestamp, single-digit components,
    and datetime->date strings that Spark accepts). Engine vs printed
    SQL on a 55-input battery covering both engines' leniencies."""
    from sqlpp_spark.compiler.sqlgen import select_sql
    from sqlpp_spark.engine import SqlppEngine
    from sqlpp_spark.frontend.analyze import Analyzer
    from sqlpp_spark.frontend.parser import parse_query

    eng = SqlppEngine(spark)
    eng.add_decls("create table b (i int not null, v string not null);")
    rows = list(enumerate(TEMPORAL_BATTERY))
    eng.register_df("b", spark.createDataFrame(rows, "i long, v string"))
    src = (
        "select b.i as i, try_cast(b.v as date) as d, "
        "try_cast(b.v as datetime) as t from b as b order by b.i"
    )
    got = eng.fetch_list(src)
    info = Analyzer(eng.env, src).analyze_query(parse_query(src))
    sql = select_sql(info)
    con = duckdb.connect()
    con.execute("CREATE TABLE b (i BIGINT, v VARCHAR)")
    con.executemany("INSERT INTO b VALUES (?, ?)", rows)
    want = con.execute(sql).fetchall()
    assert len(got) == len(want) == len(rows)
    for (gi, gd, gt), (wi, wd, wt) in zip(got, want):
        s = TEMPORAL_BATTERY[gi]
        assert gi == wi
        assert gd == wd, f"date mismatch for {s!r}: engine={gd} printed={wd}"
        assert gt == wt, f"ts mismatch for {s!r}: engine={gt} printed={wt}"


def test_try_cast_is_nullable_and_raises_only_on_bad_target(eng):
    import pytest as _pytest

    from sqlpp_spark.compiler.sqlgen import select_sql
    from sqlpp_spark.frontend.analyze import Analyzer
    from sqlpp_spark.frontend.errors import SqlppError
    from sqlpp_spark.frontend.parser import parse_query

    # CAST on a malformed string raises at runtime (ANSI); TRY_CAST
    # yields NULL — the motivating difference
    rows = eng.fetch_list(
        "select try_cast('12abc' as int) as i from t limit 1"
    )
    assert rows == [(None,)]
    # the conversion matrix still applies at analysis time
    with _pytest.raises(SqlppError, match="cannot CAST"):
        eng.fetch_list("select try_cast(f as date) as x from t")
    # PG/SQLite have no generic safe cast
    src = "select try_cast(s as int) as i from t"
    info = Analyzer(eng.env, src).analyze_query(parse_query(src))
    with _pytest.raises(SqlppError, match="backend divergence"):
        select_sql(info, dialect="postgres")
