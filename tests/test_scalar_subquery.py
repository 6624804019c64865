"""Scalar subqueries (beyond-reference extension, r11): the
(select agg(..) .. group by ()) expression form. Covers the analyzer
contract (single global aggregate, clear errors elsewhere), equality
decorrelation in SELECT and WHERE positions, count-of-empty-group = 0,
NULL for unmatched non-count groups, the printed correlated SQL
(differential against DuckDB), and the engine DML paths."""

from __future__ import annotations

import duckdb
import pytest

from sqlpp_spark.frontend.analyze import Analyzer
from sqlpp_spark.frontend.errors import SqlppError
from sqlpp_spark.frontend.parser import parse_query
from sqlpp_spark.compiler.sqlgen import select_sql

T1 = [(1, 1, 10), (2, 1, None), (3, 2, 30), (4, 3, 40)]
T2 = [(1, 1, 100), (2, 1, 200), (3, 2, 300)]


@pytest.fixture()
def eng(spark):
    from sqlpp_spark.engine import SqlppEngine

    eng = SqlppEngine(spark)
    eng.add_decls(
        "create table t1 (id int not null, grp int not null, val int);"
        "create table t2 (id int not null, grp int not null, "
        "amt int not null);"
    )
    eng.register_df("t1", spark.createDataFrame(
        T1, "id long, grp long, val long"))
    eng.register_df("t2", spark.createDataFrame(
        T2, "id long, grp long, amt long"))
    return eng


@pytest.fixture()
def duck():
    con = duckdb.connect()
    con.execute("CREATE TABLE t1 (id BIGINT, grp BIGINT, val BIGINT)")
    con.executemany("INSERT INTO t1 VALUES (?,?,?)", T1)
    con.execute("CREATE TABLE t2 (id BIGINT, grp BIGINT, amt BIGINT)")
    con.executemany("INSERT INTO t2 VALUES (?,?,?)", T2)
    return con


def _both(eng, duck, src):
    """Engine rows and DuckDB rows for src — checked against BOTH the
    printed SQL and the ORIGINAL SOURCE (r15 oracle-provenance audit:
    the scalar-sub printer re-inserts the analyzer's elaborated
    correlation conjuncts, so printed-SQL-only differentials could
    ratify a decorrelation bug the way the r13 OR-split oracles did;
    DuckDB runs these sources natively, GROUP BY () included)."""
    rows = sorted(tuple(r) for r in eng.fetch_list(src))
    info = Analyzer(eng.env, src).analyze_query(parse_query(src))
    sql = select_sql(info)
    want = sorted(tuple(r) for r in duck.execute(sql).fetchall())
    want2 = sorted(tuple(r) for r in duck.execute(src).fetchall())
    assert want == want2, f"printed SQL diverges from source:\n{src}\n{sql}"
    return rows, want, sql


def test_uncorrelated(eng, duck):
    rows, want, _ = _both(
        eng, duck,
        "select id, (select max(amt) from t2 group by ()) as m "
        "from t1 order by id",
    )
    assert rows == want == [(1, 300), (2, 300), (3, 300), (4, 300)]


def test_uncorrelated_empty_input(eng, duck):
    # global agg over zero rows: max -> NULL, count -> 0
    rows, want, _ = _both(
        eng, duck,
        "select id, (select max(amt) from t2 where amt > 999 "
        "group by ()) as m, (select count(1) from t2 where amt > 999 "
        "group by ()) as c from t1 order by id",
    )
    assert rows == want
    assert rows[0][1] is None and rows[0][2] == 0


def test_correlated_sum_null_for_unmatched(eng, duck):
    rows, want, sql = _both(
        eng, duck,
        "select id, grp, (select sum(amt) from t2 "
        "where t2.grp = t1.grp group by ()) as s from t1 order by id",
    )
    assert rows == want == [
        (1, 1, 300), (2, 1, 300), (3, 2, 300), (4, 3, None)
    ]
    # printed SQL carries the correlation as an ordinary conjunct
    assert "t2.grp = t1.grp" in sql.replace('"', "")


def test_correlated_count_zero_for_unmatched(eng, duck):
    rows, want, _ = _both(
        eng, duck,
        "select id, (select count(amt) from t2 "
        "where t2.grp = t1.grp group by ()) as c from t1 order by id",
    )
    assert rows == want == [(1, 2), (2, 2), (3, 1), (4, 0)]


def test_correlated_in_where(eng, duck):
    rows, want, _ = _both(
        eng, duck,
        "select id from t1 where val < (select max(amt) from t2 "
        "where t2.grp = t1.grp group by ()) order by id",
    )
    assert rows == want == [(1,), (3,)]


def test_correlated_with_residual_conjunct(eng, duck):
    # the non-correlated conjunct stays inside the subquery
    rows, want, _ = _both(
        eng, duck,
        "select id, (select sum(amt) from t2 where t2.grp = t1.grp "
        "and amt > 150 group by ()) as s from t1 order by id",
    )
    assert rows == want == [(1, 200), (2, 200), (3, 300), (4, None)]


def test_two_scalar_subs_one_select(eng, duck):
    rows, want, _ = _both(
        eng, duck,
        "select id, (select count(1) from t2 where t2.grp = t1.grp "
        "group by ()) as c, (select min(amt) from t2 group by ()) as mn "
        "from t1 order by id",
    )
    assert rows == want


def test_inner_shadowing_stays_uncorrelated(eng, duck):
    # both sides of grp = grp resolve in the subquery scope: standard
    # SQL shadowing — NOT a correlation
    rows, want, _ = _both(
        eng, duck,
        "select id, (select count(1) from t2 where grp = grp "
        "group by ()) as c from t1 order by id",
    )
    assert rows == want == [(1, 3), (2, 3), (3, 3), (4, 3)]


def test_dml_where_scalar_subquery(eng, spark, tmp_path):
    import os

    from sqlpp_spark.engine import SqlppEngine

    e2 = SqlppEngine(spark)
    e2.add_decls(
        "create table items (id int not null primary key, v int not null);"
        "create table src (id int not null, amt int not null);"
    )
    df = spark.createDataFrame([(1, 5), (2, 250), (3, 40)], "id long, v long")
    e2.create_managed("items", os.path.join(str(tmp_path), "items"), df)
    e2.register_df("src", spark.createDataFrame(T2, "id long, grp long, amt long").select("id", "amt"))
    ret = e2.exec(
        "update items set v = 0 where v > (select avg(amt) from src "
        "group by ()) returning id"
    )
    assert sorted(r.id for r in ret.collect()) == [2]
    ret2 = e2.exec(
        "delete from items where v < (select min(amt) from src "
        "group by ()) returning id"
    )
    assert sorted(r.id for r in ret2.collect()) == [1, 2, 3]


# -- analyzer contract -------------------------------------------------------


def _err(eng, src, match):
    with pytest.raises(SqlppError, match=match):
        Analyzer(eng.env, src).analyze_query(parse_query(src))


def test_requires_single_column(eng):
    _err(eng, "select (select max(amt), min(amt) from t2 group by ()) as m "
              "from t1", "exactly one column")


def test_requires_aggregate(eng):
    # the generic grouped-select validation fires first (bare column
    # with global GROUP BY ()); a post-aggregate non-agg projection
    # would hit the dedicated "single aggregate" check
    _err(eng, "select (select amt from t2 group by ()) as m from t1",
         "not in GROUP BY clause|single aggregate")
    _err(eng, "select (select 1 from t2 group by ()) as m from t1",
         "single aggregate")


def test_requires_global_group_by(eng):
    _err(eng,
         "select (select max(amt) from t2 group by grp) as m from t1",
         "group by")


def test_theta_correlation_lt(eng, duck):
    # r12: non-equi correlation decorrelates through distinct outer
    # keys — running-style aggregate over strictly-smaller groups
    rows, want, sql = _both(
        eng, duck,
        "select id, grp, (select sum(amt) from t2 "
        "where t2.grp < t1.grp group by ()) as s from t1 order by id",
    )
    assert rows == want == [
        (1, 1, None), (2, 1, None), (3, 2, 300), (4, 3, 600)
    ]
    assert "t2.grp < t1.grp" in sql.replace('"', "")


def test_theta_correlation_outer_on_left_flips(eng, duck):
    # outer written on the LEFT: `t1.grp >= t2.grp` ≡ inner <= outer
    rows, want, _ = _both(
        eng, duck,
        "select id, (select count(1) from t2 "
        "where t1.grp >= t2.grp group by ()) as c from t1 order by id",
    )
    assert rows == want == [(1, 2), (2, 2), (3, 3), (4, 3)]


def test_theta_correlation_mixed_with_equality(eng, duck):
    # equality + theta on the same subquery: Catalyst hash-joins on
    # the equality with the theta as residual condition
    rows, want, _ = _both(
        eng, duck,
        "select id, (select count(1) from t2 where t2.grp = t1.grp "
        "and t2.amt > t1.id group by ()) as c from t1 order by id",
    )
    assert rows == want


def test_theta_correlation_ne(eng, duck):
    rows, want, _ = _both(
        eng, duck,
        "select id, (select min(amt) from t2 "
        "where t2.grp != t1.grp group by ()) as m from t1 order by id",
    )
    assert rows == want


def test_theta_correlation_count_zero_and_residual(eng, duck):
    # theta + residual uncorrelated conjunct; count of empty group = 0
    rows, want, _ = _both(
        eng, duck,
        "select id, grp, (select count(1) from t2 where t2.grp < t1.grp "
        "and amt >= 200 group by ()) as c from t1 order by id",
    )
    assert rows == want == [(1, 1, 0), (2, 1, 0), (3, 2, 1), (4, 3, 2)]


def test_unsupported_correlation_shape(eng):
    # a NON-comparison conjunct mentioning the outer scope still
    # errors cleanly (the r12 generalization covers = != < <= > >=
    # only — arithmetic coupling has no key to decorrelate on)
    _err(eng,
         "select (select max(amt) from t2 where t2.grp + t1.grp = 3 "
         "group by ()) as m from t1",
         "no such scope|unsupported correlation")


def test_grouped_outer_select_rejected(eng):
    with pytest.raises(SqlppError, match="grouped"):
        eng.fetch_list(
            "select grp, max((select max(amt) from t2 group by ())) as m "
            "from t1 group by grp"
        )


def test_dml_set_scalar_subquery(eng, spark, tmp_path):
    """r12: scalar subqueries in UPDATE SET position — uncorrelated
    and correlated (NULL for unmatched rows flows into nullable
    columns; NOT NULL targets are rejected at analysis). Differential
    against DuckDB on the printed statement."""
    import os

    from sqlpp_spark.compiler.sqlgen import statement_sql
    from sqlpp_spark.engine import SqlppEngine

    e2 = SqlppEngine(spark)
    e2.add_decls(
        "create table items (id int not null primary key, "
        "v int not null, w int);"
        "create table src (id int not null, amt int not null);"
    )
    rows = [(1, 5, None), (2, 250, 1), (3, 40, 2)]
    df = spark.createDataFrame(rows, "id long, v long, w long")
    e2.create_managed("items", os.path.join(str(tmp_path), "items"), df)
    src_rows = [(1, 100), (2, 200), (3, 300)]
    e2.register_df("src", spark.createDataFrame(src_rows, "id long, amt long"))

    con = duckdb.connect()
    con.execute("CREATE TABLE items (id BIGINT, v BIGINT, w BIGINT)")
    con.executemany("INSERT INTO items VALUES (?,?,?)", rows)
    con.execute("CREATE TABLE src (id BIGINT, amt BIGINT)")
    con.executemany("INSERT INTO src VALUES (?,?)", src_rows)

    # a global aggregate is NULL over no rows, so it cannot feed the
    # NOT NULL column v on its own
    with pytest.raises(SqlppError):
        e2.exec("update items set v = (select max(amt) from src group by ()) "
                "where id = 1")
    stmts = [
        "update items set v = coalesce((select max(amt) from src group by ()), v) "
        "where id = 1 returning id, v",
        "update items set w = (select max(amt) from src "
        "where src.id = items.id and src.amt > 150 group by ()) "
        "returning id, w",
    ]
    for s in stmts:
        got = sorted(tuple(r) for r in e2.exec(s).collect())
        sql = statement_sql(e2.env, s, None)
        want = sorted(tuple(r) for r in con.execute(sql).fetchall())
        assert got == want, (s, sql, got, want)
    final = sorted(tuple(r) for r in e2.fetch_list(
        "select id, v, w from items"))
    dfinal = sorted(tuple(r) for r in con.execute(
        "SELECT id, v, w FROM items").fetchall())
    assert final == dfinal == [(1, 300, None), (2, 250, 200),
                               (3, 40, 300)]
    # NOT NULL target rejects the (nullable) correlated value
    with pytest.raises(SqlppError, match="NOT NULL"):
        e2.exec("update items set v = (select max(amt) from src "
                "where src.id = items.id group by ())")


def test_grouped_select_scalar_subqueries(eng, duck):
    """r12: scalar subqueries in the projection / HAVING / ORDER BY of
    a GROUPED select — attached post-aggregation; correlated forms
    must correlate on group expressions."""
    rows, want, _ = _both(
        eng, duck,
        "select grp, count(1) as c, (select max(amt) from t2 "
        "group by ()) as m from t1 group by grp order by grp",
    )
    assert rows == want == [(1, 2, 300), (2, 1, 300), (3, 1, 300)]
    rows, want, _ = _both(
        eng, duck,
        "select grp, (select sum(amt) from t2 where t2.grp = t1.grp "
        "group by ()) as s from t1 group by grp order by grp",
    )
    assert rows == want == [(1, 300), (2, 300), (3, None)]
    # theta correlation on the group key
    rows, want, _ = _both(
        eng, duck,
        "select grp, (select count(1) from t2 where t2.grp < t1.grp "
        "group by ()) as below from t1 group by grp order by grp",
    )
    assert rows == want == [(1, 0), (2, 2), (3, 3)]
    # HAVING referencing a correlated scalar sub (non-empty result)
    rows, want, _ = _both(
        eng, duck,
        "select grp, count(1) as c from t1 group by grp "
        "having count(1) <= (select count(1) from t2 "
        "where t2.grp = t1.grp group by ()) order by grp",
    )
    assert rows == want == [(1, 2), (2, 1)]
    # correlating on a non-grouped column errors cleanly
    with pytest.raises(SqlppError, match="GROUP BY expression"):
        eng.fetch_list(
            "select grp, (select count(1) from t2 where t2.id = t1.id "
            "group by ()) as c from t1 group by grp"
        )


def test_theta_scalar_banded_differential(spark, eng, duck):
    """r17: the banded (prefix-aggregate) strategy for single-ordered-
    theta scalar subqueries, forced onto the tiny fixtures — the full
    agg x op grid must match DuckDB through the banded lowering
    exactly as it does through the distinct-probe nested loop.
    Decimal sums, count_distinct and mixed/equality correlations are
    ineligible and fall back inside the same test."""
    spark.conf.set("spark.sqlpp.quantifier.bandedSubFloor", "1")
    spark.conf.set("spark.sqlpp.quantifier.bandedThreshold", "1")
    spark.conf.set("spark.sqlpp.quantifier.bandedBuckets", "4")
    try:
        # literal operands included (r17 advisor, medium): the banded
        # path once substituted lit(1) for ANY literal operand, so
        # min(5) returned 1 and sum(2) returned n — exactly at
        # production scale where the auto-switch fires and the
        # default-threshold tests never run
        for agg in ("count(1)", "count(amt)", "min(amt)", "max(amt)",
                    "sum(amt)", "avg(amt)", "min(5)", "max(7)",
                    "sum(2)", "avg(4)", "count(3)"):
            for op in ("<", "<=", ">", ">="):
                _both(
                    eng, duck,
                    f"select id, grp, (select {agg} from t2 "
                    f"where t2.grp {op} t1.grp group by ()) as v "
                    "from t1 order by id",
                )
        # ineligible shapes exercise the fallback under the same conf
        for src in (
            # mixed equality + theta
            "select id, (select sum(amt) from t2 where t2.grp = t1.grp "
            "and t2.id < t1.id group by ()) as v from t1 order by id",
            # != correlation (not an ordered prefix)
            "select id, (select count(1) from t2 where t2.grp != t1.grp "
            "group by ()) as v from t1 order by id",
            # count(distinct x) is not bucket-decomposable
            "select id, (select count(distinct amt) from t2 "
            "where t2.grp < t1.grp group by ()) as v from t1 order by id",
        ):
            _both(eng, duck, src)
    finally:
        spark.conf.unset("spark.sqlpp.quantifier.bandedSubFloor")
        spark.conf.unset("spark.sqlpp.quantifier.bandedThreshold")
        spark.conf.unset("spark.sqlpp.quantifier.bandedBuckets")


def test_banded_releases_probe_cache(spark, eng):
    """r17 advisor (low): the banded strategy persists the distinct
    probe frame during planning; the marker is now materialized
    (localCheckpoint) and the persist RELEASED before compile
    returns, so cached probe frames cannot accumulate across queries
    in a long-lived session. Guard on the session CacheManager —
    localCheckpoint blocks are RDD-level and ContextCleaner-reclaimed,
    but an unreleased DataFrame persist would pin here forever."""
    cache_mgr = spark._jsparkSession.sharedState().cacheManager()
    cache_mgr.clearCache()
    spark.conf.set("spark.sqlpp.quantifier.bandedSubFloor", "1")
    spark.conf.set("spark.sqlpp.quantifier.bandedThreshold", "1")
    try:
        rows = eng.fetch_list(
            "select id, (select min(amt) from t2 where t2.grp < t1.grp "
            "group by ()) as v from t1 order by id"
        )
        assert len(rows) == 4
        assert cache_mgr.isEmpty(), (
            "banded plan left a persisted frame in the cache manager"
        )
    finally:
        spark.conf.unset("spark.sqlpp.quantifier.bandedSubFloor")
        spark.conf.unset("spark.sqlpp.quantifier.bandedThreshold")
