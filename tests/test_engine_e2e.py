"""End-to-end engine tests: sqlpp source → analyze → compile →
execute on Spark, with results checked against DuckDB running the
equivalent ANSI SQL on the same data (the reference's backend-
integration test layer, SURVEY.md §5)."""

from __future__ import annotations

import duckdb
import pytest

from sqlpp_spark.engine import SqlppEngine
from sqlpp_spark.frontend.errors import SqlppError


@pytest.fixture(scope="module")
def engine(spark, sf_dir):
    eng = SqlppEngine(spark)
    for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem"):
        eng.register_parquet(t, f"{sf_dir}/{t}.parquet")
    return eng


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    yield con
    con.close()


def check(engine, duck, sqlpp_src, duck_sql, **params):
    got = sorted(tuple(r) for r in engine.fetch_list(sqlpp_src, **params))
    want = sorted(tuple(r) for r in duck.execute(duck_sql).fetchall())
    assert got == want, f"\nsqlpp: {got[:5]}\nduck : {want[:5]}"


def test_basic_select(engine, duck):
    check(
        engine, duck,
        "select n_name, n_nationkey from nation where n_nationkey < 5 order by n_nationkey",
        "SELECT n_name, n_nationkey FROM nation WHERE n_nationkey < 5",
    )


def test_join(engine, duck):
    check(
        engine, duck,
        "select n.n_name, r.r_name from nation as n join region as r "
        "on n.n_regionkey = r.r_regionkey",
        "SELECT n_name, r_name FROM nation JOIN region ON n_regionkey = r_regionkey",
    )


def test_left_join(engine, duck):
    check(
        engine, duck,
        "select c.c_custkey, o.o_orderkey from customer as c "
        "left join orders as o on c.c_custkey = o.o_custkey "
        "where c.c_custkey < 50",
        "SELECT c_custkey, o_orderkey FROM customer LEFT JOIN orders "
        "ON c_custkey = o_custkey WHERE c_custkey < 50",
    )


def test_group_by_agg(engine, duck):
    check(
        engine, duck,
        "select c_nationkey, count(1), sum(c_acctbal) from customer group by c_nationkey",
        "SELECT c_nationkey, COUNT(*), SUM(c_acctbal) FROM customer GROUP BY c_nationkey",
    )


def test_global_agg(engine, duck):
    check(
        engine, duck,
        "select count(1), max(o_totalprice), min(o_totalprice) from orders group by ()",
        "SELECT COUNT(*), MAX(o_totalprice), MIN(o_totalprice) FROM orders",
    )


def test_having(engine, duck):
    check(
        engine, duck,
        "select c_nationkey, count(1) as n from customer group by c_nationkey "
        "having count(1) > 50",
        "SELECT c_nationkey, COUNT(*) FROM customer GROUP BY c_nationkey "
        "HAVING COUNT(*) > 50",
    )


def test_order_limit_offset(engine, duck):
    check(
        engine, duck,
        "select o_orderkey from orders order by o_totalprice desc, o_orderkey "
        "limit 10 offset 5",
        "SELECT o_orderkey FROM orders ORDER BY o_totalprice DESC, o_orderkey "
        "LIMIT 10 OFFSET 5",
    )


def test_group_by_complex_expr(engine, duck):
    check(
        engine, duck,
        "select count(1), 1 + (c_nationkey + c_nationkey) from customer "
        "group by c_nationkey + c_nationkey",
        "SELECT COUNT(*), 1 + (c_nationkey + c_nationkey) FROM customer "
        "GROUP BY c_nationkey + c_nationkey",
    )


def test_subquery_in_from(engine, duck):
    check(
        engine, duck,
        "select t.n from (select count(1) as n, c_nationkey from customer "
        "group by c_nationkey) as t where t.n > 40",
        "SELECT n FROM (SELECT COUNT(*) AS n, c_nationkey FROM customer "
        "GROUP BY c_nationkey) t WHERE n > 40",
    )


def test_where_in_subquery(engine, duck):
    check(
        engine, duck,
        "select p_partkey from part where p_partkey in "
        "(select l.l_partkey from lineitem as l where l.l_quantity >= 49)",
        "SELECT p_partkey FROM part WHERE p_partkey IN "
        "(SELECT l_partkey FROM lineitem WHERE l_quantity >= 49)",
    )


def test_where_not_in_subquery(engine, duck):
    check(
        engine, duck,
        "select c_custkey from customer where c_custkey not in "
        "(select o.o_custkey from orders as o) and c_custkey < 200",
        "SELECT c_custkey FROM customer WHERE c_custkey NOT IN "
        "(SELECT o_custkey FROM orders) AND c_custkey < 200",
    )


def test_scalar_in_projection(engine, duck):
    check(
        engine, duck,
        "select c_custkey, c_custkey in (select o.o_custkey from orders as o) "
        "from customer where c_custkey < 100",
        "SELECT c_custkey, c_custkey IN (SELECT o_custkey FROM orders) "
        "FROM customer WHERE c_custkey < 100",
    )


def test_exists_where(engine, duck):
    check(
        engine, duck,
        "select r_name from region where exists(select 1 from nation)",
        "SELECT r_name FROM region WHERE EXISTS (SELECT 1 FROM nation)",
    )


def test_params(engine, duck):
    check(
        engine, duck,
        "select c_custkey, c_name from customer where c_custkey = ?k",
        "SELECT c_custkey, c_name FROM customer WHERE c_custkey = 42",
        k=42,
    )


def test_param_typed(engine, duck):
    check(
        engine, duck,
        "select c_custkey from customer where c_acctbal > ?min:float not null "
        "and c_nationkey = ?nat:int not null",
        "SELECT c_custkey FROM customer WHERE c_acctbal > 5000.0 AND c_nationkey = 3",
        min=5000.0, nat=3,
    )


def test_match_variant_branches(engine, duck):
    src = (
        "select c_custkey from customer where "
        "match ?f with "
        "| ByNation ?n -> c_nationkey = ?n "
        "| ByBalance ?b -> c_acctbal > ?b "
        "| All -> true "
        "end"
    )
    check(engine, duck, src,
          "SELECT c_custkey FROM customer WHERE c_nationkey = 7",
          f=("ByNation", {"n": 7}))
    check(engine, duck, src,
          "SELECT c_custkey FROM customer WHERE c_acctbal > 9000.0",
          f=("ByBalance", {"b": 9000.0}))
    check(engine, duck, src, "SELECT c_custkey FROM customer", f="All")


def test_scalar_functions(engine, duck):
    check(
        engine, duck,
        "select upper(n_name), length(n_name), coalesce(nullif(n_name, 'FRANCE'), 'X') "
        "from nation",
        "SELECT UPPER(n_name), LENGTH(n_name), COALESCE(NULLIF(n_name, 'FRANCE'), 'X') "
        "FROM nation",
    )


def test_int_division_truncates(engine, duck):
    # SQLite-semantics integer division (the reference's INT type maps
    # to backend integer division)
    check(
        engine, duck,
        "select n_nationkey / 2 from nation",
        "SELECT n_nationkey // 2 FROM nation",
    )


def test_tostring_and_arith(engine, duck):
    check(
        engine, duck,
        "select toString(n_nationkey), n_nationkey * 2 + 1 from nation",
        "SELECT CAST(n_nationkey AS VARCHAR), n_nationkey * 2 + 1 FROM nation",
    )


def test_date_literal_filter(engine, duck):
    check(
        engine, duck,
        "select count(1) from orders where o_orderdate < datetime('1996-01-01T00:00:00') "
        "group by ()",
        "SELECT COUNT(*) FROM orders WHERE o_orderdate < TIMESTAMP '1996-01-01 00:00:00'",
    )


def test_open_select_navigation(engine, duck):
    check(
        engine, duck,
        "select x.(c_acctbal + c_acctbal) from (select c_custkey, ... "
        "from customer) as x where x.c_custkey < 10",
        "SELECT c_acctbal + c_acctbal FROM customer WHERE c_custkey < 10",
    )


def test_fieldset_e2e(engine, duck):
    engine.add_decls(
        "create fieldset cust_fields(from customer as c) as "
        "select c.c_custkey as ck, c.c_name as cn;"
    )
    check(
        engine, duck,
        "select ...cust_fields(customer) from customer where c_custkey < 20",
        "SELECT c_custkey, c_name FROM customer WHERE c_custkey < 20",
    )


def test_named_query_e2e(engine, duck):
    engine.add_decls(
        "create query cust_orders as "
        "select o_custkey as ck, count(1) as n from orders group by o_custkey;"
    )
    check(
        engine, duck,
        "select c.c_name, q.n from customer as c join cust_orders as q "
        "on c.c_custkey = q.ck where c.c_custkey < 30",
        "SELECT c_name, n FROM customer JOIN (SELECT o_custkey AS ck, COUNT(*) AS n "
        "FROM orders GROUP BY o_custkey) q ON c_custkey = ck WHERE c_custkey < 30",
    )


def test_not_in_null_aware(spark, tmp_path):
    """SQL three-valued NOT IN: a NULL anywhere in the compared
    subquery column eliminates EVERY probe row; a NULL probe never
    passes (unless the subquery is empty). DuckDB is the semantics
    oracle."""
    eng = SqlppEngine(spark)
    eng.add_decls(
        "create table probe(id int not null, v int);"
        "create table sub(v int)"
    )
    probe_df = spark.createDataFrame([(1, 10), (2, 20), (3, None)], "id long, v long")
    sub_with_null = spark.createDataFrame([(10,), (None,)], "v long")
    sub_plain = spark.createDataFrame([(10,), (30,)], "v long")
    eng.register_df("probe", probe_df)

    import duckdb

    con = duckdb.connect()
    con.execute("CREATE TABLE probe(id BIGINT, v BIGINT)")
    con.execute("INSERT INTO probe VALUES (1,10),(2,20),(3,NULL)")

    for sub_df, sub_rows, label in (
        (sub_with_null, "(10),(NULL)", "null-in-sub"),
        (sub_plain, "(10),(30)", "plain"),
    ):
        eng.register_df("sub", sub_df)
        got = sorted(
            r.id for r in eng.fetch_list(
                "select id from probe where not v in (select v from sub)"
            )
        )
        con.execute("CREATE OR REPLACE TABLE sub(v BIGINT)")
        con.execute(f"INSERT INTO sub VALUES {sub_rows}")
        want = sorted(
            r[0] for r in con.execute(
                "SELECT id FROM probe WHERE v NOT IN (SELECT v FROM sub)"
            ).fetchall()
        )
        assert got == want, f"{label}: {got} != {want}"
    con.close()


def test_extension_scalar_fns(engine, duck):
    check(
        engine, duck,
        "select c_custkey, like(c_name, 'Customer%') as m, mod(c_custkey, 7) as md,"
        " sqrt(c_acctbal * c_acctbal) as sq"
        " from customer where c_custkey < 20",
        "SELECT c_custkey, c_name LIKE 'Customer%' AS m, c_custkey % 7 AS md,"
        " sqrt(c_acctbal * c_acctbal) AS sq FROM customer WHERE c_custkey < 20",
    )


def test_scalar_in_three_valued(spark):
    """Scalar-position IN: NULL probe / NULL-bearing subquery produce
    SQL's NULL, not FALSE. DuckDB is the semantics oracle."""
    eng = SqlppEngine(spark)
    eng.add_decls("create table probe(id int not null, v int); create table sub(v int)")
    eng.register_df(
        "probe", spark.createDataFrame([(1, 10), (2, 20), (3, None)], "id long, v long")
    )
    eng.register_df("sub", spark.createDataFrame([(10,), (None,)], "v long"))
    got = {
        r.id: r.b
        for r in eng.fetch_list(
            "select id, v in (select v from sub) as b from probe"
        )
    }
    import duckdb

    con = duckdb.connect()
    con.execute("CREATE TABLE probe(id BIGINT, v BIGINT)")
    con.execute("INSERT INTO probe VALUES (1,10),(2,20),(3,NULL)")
    con.execute("CREATE TABLE sub(v BIGINT); INSERT INTO sub VALUES (10),(NULL)")
    want = {
        r[0]: r[1]
        for r in con.execute(
            "SELECT id, v IN (SELECT v FROM sub) AS b FROM probe"
        ).fetchall()
    }
    con.close()
    assert got == want  # {1: True, 2: None, 3: None}


def test_fetch_option(engine):
    row = engine.fetch_option("select c_name from customer where c_custkey = ?k", k=1)
    assert row is not None
    with pytest.raises(SqlppError, match="more than one row"):
        engine.fetch_option("select c_custkey from customer")


def test_compose_open_view_aggregate_injection(spark):
    """The reference's compose.t scenario: navigate an AGGREGATE
    expression into an open, grouped named query (`stats.max(id)` —
    id re-resolves inside the view's scope), with the view
    instantiated twice under different aliases (fresh scopes). Output
    naming matches the reference's elaboration (_1 for the injected
    field, `count` for the lazy field)."""
    eng = SqlppEngine(spark)
    eng.add_decls(
        "create table users (id int not null, name string, info string not null,"
        " created_at float not null);"
        "create query user_stats as select id as user_id, with count(1) as count,"
        " ... from users group by id"
    )
    eng.register_df(
        "users",
        spark.createDataFrame(
            [(1, "a", "x", 1.0), (2, "b", "y", 2.0)],
            "id long, name string, info string, created_at double",
        ),
    )
    rows = eng.fetch_list(
        "select users.id, stats.max(id), stats.count, "
        "from users "
        "join user_stats as stats on users.id = stats.user_id "
        "join user_stats as stats2 on users.id = stats2.user_id"
    )
    assert sorted(tuple(r) for r in rows) == [(1, 1, 1), (2, 2, 1)]
    assert rows[0].__fields__ == ["id", "_1", "count"]


def test_dynamic_date_parse_failure_yields_null(spark):
    """datetime()/date() on malformed DYNAMIC strings yield NULL (the
    analyzer types them nullable for exactly this reason); literal
    args were already validated at analysis time."""
    eng = SqlppEngine(spark)
    eng.add_decls("create table t(s string not null)")
    eng.register_df(
        "t", spark.createDataFrame([("nope",), ("2024-03-05",)], "s string")
    )
    rows = {r.s: (r.dt, r.d) for r in eng.fetch_list(
        "select s, datetime(s) as dt, date(s) as d from t"
    )}
    assert rows["nope"] == (None, None)
    assert rows["2024-03-05"][1] is not None


def test_division_by_zero_yields_null(engine):
    """SQLite-backend semantics (the reference's executor): x/0 and
    mod(x,0) are NULL, not an ANSI runtime error."""
    row = engine.fetch_option(
        "select c_custkey / 0 as d, mod(c_custkey, 0) as m "
        "from customer where c_custkey = 1"
    )
    assert row.d is None and row.m is None


def test_param_limit_offset(engine):
    """LIMIT/OFFSET accept ?params, unified to INT NOT NULL
    (analyze.ml:680-697); binding None is rejected pre-execution."""
    rows = engine.fetch_list(
        "select c_custkey from customer order by c_custkey limit ?n offset ?o",
        n=3, o=2,
    )
    assert [r.c_custkey for r in rows] == [2, 3, 4]
    with pytest.raises(SqlppError):
        engine.fetch_list(
            "select c_custkey from customer limit ?n", n=None
        )


def test_expression_param(engine):
    """?p : ty EXPR — the parameter is a whole expression re-analyzed in
    the query's captured scope (Pty_expr, analyze.ml:468-473 /
    sqlpp.ml:360-363)."""
    prepared = engine.prepare(
        "select c_custkey, c_acctbal from customer where ?cond : bool expr"
    )
    cond = engine.compile_expr_param(prepared, "c_acctbal > 1000 and c_custkey < 100")
    got = sorted((r.c_custkey, r.c_acctbal) for r in prepared.df(cond=cond).collect())
    want = sorted(
        (r.c_custkey, r.c_acctbal)
        for r in engine.fetch_list(
            "select c_custkey, c_acctbal from customer "
            "where c_acctbal > 1000 and c_custkey < 100"
        )
    )
    assert got == want and got
    # the expression is analyzed against the captured scope: bad
    # columns are rejected before execution
    with pytest.raises(SqlppError, match="no such column"):
        engine.compile_expr_param(prepared, "made_up > 1")


def test_fold_sink(engine):
    total = engine.fold(
        "select c_custkey from customer where c_custkey < ?k",
        0, lambda row, acc: acc + row.c_custkey, k=5,
    )
    assert total == 0 + 1 + 2 + 3 + 4


def test_fetch_record_dataclass(engine):
    from dataclasses import dataclass

    @dataclass
    class Cust:
        c_custkey: int
        c_name: str

    rows = engine.fetch_list(
        "select c_custkey, c_name from customer where c_custkey < ?k order by c_custkey",
        record=Cust, k=3,
    )
    assert rows and isinstance(rows[0], Cust) and rows[0].c_custkey == 0

    @dataclass
    class Wrong:
        nope: int

    with pytest.raises(SqlppError, match="don't match"):
        engine.fetch_list("select c_custkey from customer", record=Wrong)


def test_missing_param_error(engine):
    with pytest.raises(SqlppError, match="missing parameter"):
        engine.fetch_list("select c_custkey from customer where c_custkey = ?k")


def test_analysis_error_before_execution(engine):
    with pytest.raises(SqlppError, match="no such column"):
        engine.prepare("select made_up_col from customer")


# -- DML ---------------------------------------------------------------------


@pytest.fixture()
def todo_engine(spark, tmp_path):
    eng = SqlppEngine(spark)
    eng.add_decls(
        "create table todos (id int not null primary key, title string not null, "
        "done bool not null);"
    )
    df = spark.createDataFrame(
        [(1, "write tests", False), (2, "ship engine", False)],
        "id long, title string, done boolean",
    )
    eng.create_managed("todos", str(tmp_path / "todos"), df)
    return eng


def test_insert_values(todo_engine):
    todo_engine.exec("insert into todos (id, title, done) values (3, 'profile', false)")
    rows = todo_engine.fetch_list("select id, title from todos order by id")
    assert [tuple(r) for r in rows] == [
        (1, "write tests"), (2, "ship engine"), (3, "profile"),
    ]


def test_insert_set_returning(todo_engine):
    ret = todo_engine.exec("insert into todos set id = 9, title = 'x', done = true returning id")
    assert [r.id for r in ret.collect()] == [9]


def test_returning_expressions(todo_engine):
    """RETURNING accepts full expressions analyzed in the target
    table's scope, with the reference's positional _i naming."""
    ret = todo_engine.exec(
        "update todos set done = true where id = 1 "
        "returning id, concat(title, '!') as loud, id + 100"
    )
    row = ret.collect()[0]
    assert row.id == 1 and row.loud.endswith("!") and row._2 == 101


def test_insert_untyped_param(todo_engine):
    """insert.t: VALUES params need no annotation — the column type
    supplies it."""
    todo_engine.exec(
        "insert into todos(id, title, done) values (?id, ?t, false)",
        id=77, t="param row",
    )
    rows = todo_engine.fetch_list("select title from todos where id = 77")
    assert rows[0].title == "param row"


def test_insert_select_arity_error(todo_engine):
    with pytest.raises(SqlppError, match="arity|columns"):
        todo_engine.exec("insert into todos(id, title, done) select 1, 'x'")


def test_insert_on_conflict_ignore(todo_engine):
    todo_engine.exec(
        "insert into todos (id, title, done) values (1, 'dup', true) on conflict ignore"
    )
    rows = todo_engine.fetch_list("select title from todos where id = 1")
    assert rows[0].title == "write tests"


def test_insert_on_conflict_replace(todo_engine):
    todo_engine.exec(
        "insert into todos (id, title, done) values (1, 'replaced', true) on conflict replace"
    )
    rows = todo_engine.fetch_list("select title from todos where id = 1")
    assert rows[0].title == "replaced"


def test_update(todo_engine):
    todo_engine.exec("update todos set done = true where id = 2")
    rows = todo_engine.fetch_list("select done from todos order by id")
    assert [r.done for r in rows] == [False, True]


def test_update_returning(todo_engine):
    ret = todo_engine.exec("update todos set title = 'renamed' where id = 1 returning id, title")
    got = [(r.id, r.title) for r in ret.collect()]
    assert got == [(1, "renamed")]


def test_delete(todo_engine):
    todo_engine.exec("delete from todos where id = 1")
    rows = todo_engine.fetch_list("select id from todos")
    assert [r.id for r in rows] == [2]


def test_insert_missing_required(todo_engine):
    with pytest.raises(SqlppError, match="missing required column"):
        todo_engine.exec("insert into todos (id, title) values (5, 'no done')")


def test_insert_from_select(todo_engine):
    todo_engine.exec(
        "insert into todos (id, title, done) "
        "select t.id + 100, t.title, t.done from todos as t"
    )
    rows = todo_engine.fetch_list("select count(1) as n from todos group by ()")
    assert rows[0].n == 4


# -- DISTINCT ordering (standard SQL: dedup before ORDER BY/LIMIT) ----------


def test_select_distinct_order_limit(engine):
    """DISTINCT applies to projected rows BEFORE LIMIT: limit 3 must
    return 3 *distinct* region keys (not 3 copies of the max)."""
    rows = engine.fetch_list(
        "select distinct n.n_regionkey as rk from nation as n "
        "order by n.n_regionkey desc limit 3"
    )
    assert [r.rk for r in rows] == [4, 3, 2]


def test_select_distinct_order_by_requires_select_item(engine):
    with pytest.raises(SqlppError, match="select list"):
        engine.fetch_list(
            "select distinct n.n_regionkey as rk from nation as n order by n.n_name"
        )


def test_select_distinct_grouped_order_limit(engine):
    """Grouped path: DISTINCT over aggregated rows before LIMIT."""
    rows = engine.fetch_list(
        "select distinct count(c.c_custkey) as n from customer as c "
        "group by c.c_nationkey order by count(c.c_custkey) desc limit 2"
    )
    ns = [r.n for r in rows]
    assert len(ns) == len(set(ns)) == 2 and ns == sorted(ns, reverse=True)


# -- DML analysis-time type checks (reference analyze.ml:857-880) ------------


def test_insert_kind_mismatch_rejected(todo_engine):
    with pytest.raises(SqlppError, match="expected"):
        todo_engine.exec(
            "insert into todos (id, title, done) values ('oops', 't', false)"
        )


def test_insert_nullable_into_not_null_rejected(todo_engine):
    with pytest.raises(SqlppError, match="expected"):
        todo_engine.exec(
            "insert into todos (id, title, done) values (null:int, 't', false)"
        )


def test_insert_select_nullable_rejected(todo_engine):
    with pytest.raises(SqlppError, match="expected"):
        todo_engine.exec(
            "insert into todos (id, title, done) "
            "select t.id + 200, t.title, null:bool from todos as t"
        )


def test_insert_select_kind_mismatch_rejected(todo_engine):
    with pytest.raises(SqlppError, match="expected"):
        todo_engine.exec(
            "insert into todos (id, title, done) select t.id, t.done, t.done "
            "from todos as t"
        )


def test_update_set_kind_mismatch_rejected(todo_engine):
    with pytest.raises(SqlppError, match="expected"):
        todo_engine.exec("update todos set done = 5 where id = 1")


def test_update_set_nullable_into_not_null_rejected(todo_engine):
    with pytest.raises(SqlppError, match="expected"):
        todo_engine.exec("update todos set title = null:string where id = 1")


def test_on_conflict_requires_primary_key(spark, tmp_path):
    eng = SqlppEngine(spark)
    eng.add_decls("create table notes (id int not null, body string not null);")
    df = spark.createDataFrame([(1, "a")], "id long, body string")
    eng.create_managed("notes", str(tmp_path / "notes"), df)
    with pytest.raises(SqlppError, match="primary key"):
        eng.exec(
            "insert into notes (id, body) values (1, 'dup') on conflict ignore"
        )


def test_returning_stays_off_driver(todo_engine, tmp_path):
    """The RETURNING frame never funnels rows through the driver (no
    LocalTableScan of collected rows), outlives the table version it was
    computed from and a cache clear, and leaves no temp dir behind."""
    import contextlib
    import glob
    import io
    import os
    import tempfile

    from sqlpp_spark.engine import managed_data_dir

    pattern = os.path.join(tempfile.gettempdir(), "sqlpp_returning_*")
    tmp_before = set(glob.glob(pattern))
    source = managed_data_dir(str(tmp_path / "todos"))
    ret = todo_engine.exec(
        "update todos set done = true where id = 2 returning id, title"
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        ret.explain()
    assert "LocalTableScan" not in buf.getvalue()

    todo_engine.exec("update todos set title = 'moved' where id = 2")
    todo_engine.exec("delete from todos where id = 1")
    assert not os.path.exists(source)
    todo_engine.spark.catalog.clearCache()
    assert [tuple(r) for r in ret.collect()] == [(2, "ship engine")]
    assert set(glob.glob(pattern)) == tmp_before


def _exec_jobs(eng, src):
    """Spark jobs run by ``eng.exec(src)`` itself — not by collecting
    the frame it returns."""
    sc = eng.spark.sparkContext
    group = f"dml-jobs-{id(eng)}-{hash(src)}"
    sc.setJobGroup(group, src)
    try:
        eng.exec(src)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_dml_write_job_counts(todo_engine):
    """A plain write runs one job (the version write): the version it
    reads and the one it commits both have a known schema, so neither
    read back infers it. RETURNING adds exactly one job, the
    checkpoint of the affected rows."""
    assert _exec_jobs(
        todo_engine,
        "insert into todos (id, title, done) values (3, 'profile', false)",
    ) == 1
    assert _exec_jobs(todo_engine, "delete from todos where id = 3") == 1
    assert _exec_jobs(
        todo_engine, "update todos set done = true where id = 2"
    ) == 1
    assert _exec_jobs(
        todo_engine,
        "insert into todos (id, title, done) values (4, 'x', false) "
        "returning id",
    ) == 2
    assert _exec_jobs(
        todo_engine,
        "update todos set title = 'y' where id = 4 returning id, title",
    ) == 2


def test_dml_sees_commit_by_another_engine(spark, todo_engine, tmp_path):
    """A commit to the same path by a second engine replaces the version
    the first engine remembers: its next DML builds on the new version,
    and its next read sees both changes."""
    from sqlpp_spark.engine import managed_data_dir

    path = str(tmp_path / "todos")
    other = SqlppEngine(spark)
    other.add_decls(
        "create table todos (id int not null primary key, "
        "title string not null, done bool not null);"
    )
    other.create_managed(
        "todos", path, spark.read.parquet(managed_data_dir(path))
    )
    other.exec("insert into todos (id, title, done) values (5, 'other', false)")
    todo_engine.exec("update todos set done = true where id = 5")
    rows = todo_engine.fetch_list("select id, title, done from todos order by id")
    assert [tuple(r) for r in rows] == [
        (1, "write tests", False), (2, "ship engine", False),
        (5, "other", True),
    ]


def test_dml_sees_table_recreated_under_same_path(spark, todo_engine, tmp_path):
    """A table dropped and re-created under the same path starts again
    at ``_v_0``; the first engine must not take it for the ``_v_0`` it
    committed itself and read it with that version's schema."""
    import shutil

    from sqlpp_spark.engine import managed_data_dir

    path = str(tmp_path / "todos")
    shutil.rmtree(path)
    other = SqlppEngine(spark)
    wider = spark.createDataFrame(
        [(1, "a", False, "kept"), (2, "b", False, "kept")],
        "id long, title string, done boolean, note string",
    )
    other.create_managed("todos", path, wider)
    todo_engine.exec("delete from todos where id = 1")
    got = spark.read.parquet(managed_data_dir(path))
    assert got.columns == ["id", "title", "done", "note"]
    assert [tuple(r) for r in got.collect()] == [(2, "b", False, "kept")]


def test_insert_widening_schema_matches_disk(spark, tmp_path):
    """After an INSERT whose table was created from a narrower Spark
    type than the declared one, the schema the engine remembers is the
    one on disk."""
    from sqlpp_spark.engine import managed_data_dir

    eng = SqlppEngine(spark)
    eng.add_decls("create table t (id int not null primary key, v int not null);")
    path = str(tmp_path / "t")
    eng.create_managed(
        "t", path, spark.createDataFrame([(1, 10)], "id int, v int")
    )
    eng.exec("insert into t (id, v) values (2, 20)")
    on_disk = spark.read.parquet(managed_data_dir(path)).schema
    assert eng.catalog["t"].schema == on_disk
    assert eng._managed_df("t", path).schema == on_disk
    rows = eng.fetch_list("select id, v from t order by id")
    assert [tuple(r) for r in rows] == [(1, 10), (2, 20)]


def test_dml_self_reference(spark, tmp_path):
    """Statements that read the table they write: the DML's own read
    and the catalog's read of the table must not share expression IDs."""
    eng = SqlppEngine(spark)
    eng.add_decls("create table t (id int not null primary key, v int not null);")
    eng.create_managed(
        "t", str(tmp_path / "t"),
        spark.createDataFrame([(1, 10), (2, 20), (3, 30)], "id long, v long"),
    )
    eng.exec(
        "insert into t (id, v) select id, v + 1 as v from t on conflict replace"
    )
    rows = eng.fetch_list("select id, v from t order by id")
    assert [tuple(r) for r in rows] == [(1, 11), (2, 21), (3, 31)]
    eng.exec(
        "update t set v = t2.v + 100 from t as t2 where t.id = t2.id + 1"
    )
    rows = eng.fetch_list("select id, v from t order by id")
    assert [tuple(r) for r in rows] == [(1, 11), (2, 111), (3, 121)]


def test_bare_offset_executes(engine, duck):
    """select-limit-offset.t: OFFSET without LIMIT compiles and runs
    (df.offset with no limit node)."""
    check(
        engine, duck,
        "select n_nationkey from nation order by n_nationkey offset 20",
        "SELECT n_nationkey FROM nation ORDER BY n_nationkey OFFSET 20",
    )


def test_withscope_self_named_alias_executes(engine, duck):
    """with-scope.t case 1 shape end-to-end: self-shadowing scope
    aliases + aggregate navigation into a grouped subquery."""
    check(
        engine, duck,
        """
        select
          withscope x.z as x,
          withscope agg.y as agg,
          x.n_nationkey,
          agg.count(1)
        from (
          select withscope y.nation as z, ...
          from (
            select ...
            from nation) as y) as x
        join (
          select ...
          from (
            select n_regionkey, ...
            from nation
            group by n_regionkey) as y
        ) as agg
        on x.n_regionkey = agg.y.n_regionkey
        """,
        """
        SELECT n.n_nationkey, a.c FROM nation n
        JOIN (SELECT n_regionkey, count(1) AS c FROM nation GROUP BY n_regionkey) a
        ON n.n_regionkey = a.n_regionkey
        """,
    )
