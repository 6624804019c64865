"""r14 statistical/collection aggregates in the sqlpp dialect (beyond
reference — analyze.ml's builtin table has count/sum/max/min only):
stddev / variance / stddev_pop / var_pop, bool_and / bool_or,
string_agg(x, sep) (deterministic — ascending-by-value, equivalent to
SQL's string_agg(x, sep ORDER BY x)), plus typing for the previously
validated-but-untyped count_distinct. Differential against DuckDB on
BOTH the printed SQL and, where the dialect source is valid DuckDB,
the original source. Float aggregates compare approximately here
(Welford vs naive accumulation differs in ULPs across engines); the
driver registry entry pins them through exact integer sums + a
tolerance boolean instead."""

from __future__ import annotations

import math

import duckdb
import pytest

from sqlpp_spark.compiler.sqlgen import select_sql
from sqlpp_spark.frontend.analyze import Analyzer, Env, analyze
from sqlpp_spark.frontend.errors import SqlppError
from sqlpp_spark.frontend.parser import parse_query
from sqlpp_spark.frontend.printer import format_query

ROWS = [
    (1, 2, "x", True),
    (1, None, "a", False),
    (1, 4, "q", False),
    (2, 5, "m", None),
    (2, 7, "b", True),
    (3, None, "z", None),
]

SCHEMA = "create table t (a int not null, b int, s string not null, f bool);"


@pytest.fixture(scope="module")
def env():
    e = Env()
    e.add(SCHEMA)
    return e


@pytest.fixture()
def eng(spark):
    from sqlpp_spark.engine import SqlppEngine

    eng = SqlppEngine(spark)
    eng.add_decls(SCHEMA)
    eng.register_df(
        "t", spark.createDataFrame(ROWS, "a long, b long, s string, f boolean")
    )
    return eng


@pytest.fixture()
def duck():
    con = duckdb.connect()
    con.execute("CREATE TABLE t (a BIGINT, b BIGINT, s VARCHAR, f BOOLEAN)")
    con.executemany("INSERT INTO t VALUES (?,?,?,?)", ROWS)
    return con


def _differ(eng, duck, src, approx_cols=(), check_src=True):
    rows = [tuple(r) for r in eng.fetch_list(src)]
    info = Analyzer(eng.env, src).analyze_query(parse_query(src))
    sql = select_sql(info)
    want = [tuple(r) for r in duck.execute(sql).fetchall()]
    names = [n for n, _t in info.row]

    def canon(rs):
        out = []
        for r in sorted(rs, key=repr):
            out.append(
                tuple(
                    round(v, 9) if names[i] in approx_cols and isinstance(v, float)
                    else v
                    for i, v in enumerate(r)
                )
            )
        return out

    assert canon(rows) == canon(want), f"{src}\n{sql}"
    if check_src:
        want2 = [tuple(r) for r in duck.execute(src).fetchall()]
        assert canon(rows) == canon(want2), f"src differs: {src}"
    return info


def row_sig(env, src):
    return [(n, str(t)) for n, t in analyze(env, src).row]


# -- typing -------------------------------------------------------------------


def test_stats_types(env):
    sig = row_sig(
        env,
        "select stddev(t.b) as sd, variance(t.a) as v, "
        "stddev_pop(t.a) as sp, var_pop(t.b) as vp from t group by ()",
    )
    assert sig == [
        ("sd", "FLOAT NULL"), ("v", "FLOAT NULL"),
        ("sp", "FLOAT NULL"), ("vp", "FLOAT NULL"),
    ]


def test_bool_string_count_distinct_types(env):
    sig = row_sig(
        env,
        "select count_distinct(t.b) as n, string_agg(t.s, ',') as cs, "
        "bool_and(t.f) as ba, bool_or(t.f) as bo from t group by ()",
    )
    assert sig == [
        ("n", "INT NOT NULL"), ("cs", "STRING NULL"),
        ("ba", "BOOL NULL"), ("bo", "BOOL NULL"),
    ]


# -- execution differentials --------------------------------------------------


def test_grouped_differential(eng, duck):
    # string_agg's dialect source means ORDER BY s, which bare DuckDB
    # string_agg doesn't — printed-SQL check only for that column
    _differ(
        eng, duck,
        "select t.a as a, count_distinct(t.b) as n, "
        "string_agg(t.s, ',') as names, "
        "bool_and(t.f) as all_f, bool_or(t.f) as any_f "
        "from t group by t.a order by a",
        check_src=False,
    )


def test_stats_differential_approx(eng, duck):
    _differ(
        eng, duck,
        "select t.a as a, stddev(t.b) as sd, variance(t.b) as v, "
        "stddev_pop(t.b) as sp, var_pop(t.b) as vp "
        "from t group by t.a order by a",
        approx_cols={"sd", "v", "sp", "vp"},
    )


def test_filter_clause_on_new_aggs(eng, duck):
    _differ(
        eng, duck,
        "select t.a as a, "
        "stddev(t.b) filter (where t.b > 2) as sd, "
        "bool_or(t.f) filter (where t.b > 4) as bo, "
        "string_agg(t.s, '|') filter (where t.b > 2) as cs "
        "from t group by t.a order by a",
        approx_cols={"sd"},
        check_src=False,  # FILTER prints as the CASE desugar
    )


def test_spark_values_exact(eng):
    # hand-computed on ROWS: group a=1 has b in {2,4}; a=2 has {5,7}
    rows = {r[0]: r[1:] for r in (
        tuple(r) for r in eng.fetch_list(
            "select t.a as a, stddev(t.b) as sd, var_pop(t.b) as vp, "
            "string_agg(t.s, '-') as cs from t group by t.a order by a"
        )
    )}
    assert rows[1][0] == pytest.approx(math.sqrt(2.0))
    assert rows[1][1] == pytest.approx(1.0)
    assert rows[1][2] == "a-q-x"  # ascending by VALUE, not input order
    assert rows[2][2] == "b-m"
    assert rows[3][0] is None  # n=1 -> sample stddev NULL
    assert rows[3][1] is None or rows[3][1] == 0.0  # var_pop over {NULL}


def test_empty_group_nulls(eng):
    [(cs, ba, sd)] = [tuple(r) for r in eng.fetch_list(
        "select string_agg(t.s, ',') filter (where t.a > 99) as cs, "
        "bool_and(t.f) filter (where t.a > 99) as ba, "
        "stddev(t.b) filter (where t.a > 99) as sd from t group by ()"
    )]
    assert cs is None and ba is None and sd is None


def test_global_agg_over_no_rows_is_nullable(eng, duck):
    """A global aggregate of a NOT NULL column is typed nullable: over
    no rows it returns one row of NULL, in Spark as in DuckDB."""
    src = (
        "select max(t.a) as m, sum(t.a) as s, avg(t.a) as av, "
        "count(t.a) as n from t where t.a > 99 group by ()"
    )
    assert row_sig(eng.env, src) == [
        ("m", "INT NULL"), ("s", "INT NULL"), ("av", "FLOAT NULL"),
        ("n", "INT NOT NULL"),
    ]
    _differ(eng, duck, src)
    assert [tuple(r) for r in eng.fetch_list(src)] == [(None, None, None, 0)]
    # grouped, every group has a row: the argument's nullability stands
    assert row_sig(eng.env, "select t.a as a, max(t.a) as m from t group by t.a") == [
        ("a", "INT NOT NULL"), ("m", "INT NOT NULL"),
    ]


def test_scalar_subquery_with_stddev(eng, duck):
    # new aggregates flow through the scalar-subquery compile path
    _differ(
        eng, duck,
        "select t.a as a from t "
        "where t.a > (select var_pop(t2.b) from t as t2 group by ()) "
        "group by t.a order by a",
        check_src=False,
    )


# -- printers -----------------------------------------------------------------


def test_sqlite_divergences(env):
    from sqlpp_spark.compiler.sqlgen import SqlGen

    info = analyze(env, "select stddev(t.b) as sd from t group by ()")
    with pytest.raises(SqlppError, match="backend divergence"):
        SqlGen(None, "sqlite").select(info.ctx)
    info = analyze(env, "select string_agg(t.s, ',') as cs from t group by ()")
    with pytest.raises(SqlppError, match="backend divergence"):
        SqlGen(None, "sqlite").select(info.ctx)


def test_sqlite_bool_agg_emulation(env):
    import sqlite3

    info = analyze(
        env,
        "select t.a as a, bool_and(t.f) as ba, bool_or(t.f) as bo "
        "from t group by t.a order by a",
    )
    sql = select_sql(info, dialect="sqlite")
    con = sqlite3.connect(":memory:")
    con.execute("CREATE TABLE t (a, b, s, f)")
    con.executemany("INSERT INTO t VALUES (?,?,?,?)", ROWS)
    got = con.execute(sql).fetchall()
    # a=1: f in {T,F,F} -> (0,1); a=2: {T,NULL} -> (1,1); a=3: {NULL}
    assert got == [(1, 0, 1), (2, 1, 1), (3, None, None)]


def test_fmt_round_trip(env):
    for src in (
        "select stddev(t.b) as sd from t group by ()",
        "select string_agg(t.s, ',') as cs from t group by ()",
        "select bool_and(t.f) as ba, count_distinct(t.b) as n "
        "from t group by ()",
    ):
        q = parse_query(src)
        printed = format_query(q)
        assert format_query(parse_query(printed)) == printed
        analyze(env, printed)


# -- errors -------------------------------------------------------------------


def test_string_agg_sep_must_be_literal(env):
    with pytest.raises(SqlppError, match="string literal"):
        analyze(env, "select string_agg(t.s, t.s) as cs from t group by ()")


def test_bool_agg_rejects_int(env):
    with pytest.raises(SqlppError):
        analyze(env, "select bool_and(t.a) as ba from t group by ()")


def test_stddev_rejects_string(env):
    with pytest.raises(SqlppError):
        analyze(env, "select stddev(t.s) as sd from t group by ()")


def test_new_aggs_forbidden_without_group_by(env):
    for fn in ("stddev(t.b)", "bool_and(t.f)", "string_agg(t.s, ',')"):
        with pytest.raises(SqlppError, match="not allowed without GROUP BY"):
            analyze(env, f"select {fn} as x from t")


def test_count_star_and_count_distinct_spelling(eng, duck):
    """r15 spelling sugar: count(*) == count(1) and
    count(DISTINCT x) == count_distinct(x) — parse-time desugar, so
    the printers/compiler see the canonical forms. DuckDB runs the
    original spellings natively (source check on)."""
    for src in (
        "select a as g, count(*) as n from t group by a order by g",
        "select count(*) as n from t group by ()",
        "select a as g, count(distinct b) as nd from t "
        "group by a order by g",
        "select count(distinct s) as nd, count(*) as n from t "
        "group by ()",
        "select a as g, count(*) filter (where b > 2) as nf from t "
        "group by a order by g",
        "select count(distinct b) filter (where b > 1) as ndf from t "
        "group by ()",
        # window form of count(*)
        "select a, count(*) over (partition by a) as w from t "
        "order by a, b",
    ):
        _differ(eng, duck, src)


def test_r16_bit_aggs_and_count_if_differential(eng, duck):
    """r16: bit_and/bit_or/bit_xor (exact integer folds, NULL-skipping,
    NULL over empty/all-NULL groups) and count_if (TRUE-only count, 0
    over an empty group) — probed identical across Spark and DuckDB
    on every NULL/empty edge before wiring."""
    for src in (
        "select a, bit_and(b) as ba, bit_or(b) as bo, bit_xor(b) as bx "
        "from t group by a order by a",
        "select bit_and(b) as ba, bit_or(b) as bo, bit_xor(b) as bx "
        "from t group by ()",
        "select a, count_if(f) as cf, count_if(b > 3) as cb "
        "from t group by a order by a",
        "select a, bit_or(b) filter (where b > 2) as bo "
        "from t group by a order by a",
    ):
        _differ(eng, duck, src)
    # FILTER composes (CASE desugar exact for TRUE-only counting) —
    # engine + printed SQL only: DuckDB's count_if is a MACRO and
    # rejects a raw FILTER clause (the dialect desugars at parse time)
    _differ(
        eng, duck,
        "select a, count_if(b > 1) filter (where f) as c "
        "from t group by a order by a",
        check_src=False,
    )


def test_r16_bit_aggs_typing_and_divergence(env, eng):
    sig = row_sig(
        env,
        "select bit_and(b) as ba, count_if(f) as cf from t group by ()",
    )
    assert sig == [("ba", "INT NULL"), ("cf", "INT NOT NULL")]
    with pytest.raises(SqlppError, match="expects an INT"):
        analyze(env, "select bit_and(s) as x from t group by ()")
    with pytest.raises(SqlppError, match="expected"):
        analyze(env, "select count_if(b) as x from t group by ()")
    # sqlite: bit aggregates diverge; count_if prints the SUM(CASE)
    src = "select a, bit_xor(b) as x from t group by a"
    info = Analyzer(env, src).analyze_query(parse_query(src))
    with pytest.raises(SqlppError, match="backend divergence"):
        select_sql(info, dialect="sqlite")
    src = "select a, count_if(b > 3) as x from t group by a"
    info = Analyzer(env, src).analyze_query(parse_query(src))
    assert "SUM(CASE WHEN" in select_sql(info, dialect="sqlite")
    assert "SUM(CASE WHEN" in select_sql(info, dialect="postgres")
