"""WITH RECURSIVE (r17, beyond reference — the reference grammar has
no CTEs at all, parser.mly). The engine lowers a lone linear UNION ALL
member to Spark's native recursive CTE, and runs every other stratum
in bounded supersteps on the driver (compiler/compile.py
_compile_recursive): each iteration binds the CTE name to the previous
iteration's new rows (the standard SQL working table),
localCheckpoints the batch, and stops at the empty working table or
the spark.sqlpp.recursive.maxIterations guard. DuckDB runs both the
ORIGINAL source and the printed SQL natively — two independent
oracles per query — and the native lowering is checked row for row
against the driver loop (forced with _on_loop)."""

from __future__ import annotations

from contextlib import contextmanager, nullcontext
from unittest.mock import patch

import duckdb
import pytest

from sqlpp_spark.compiler.compile import Compiler
from sqlpp_spark.compiler.sqlgen import select_sql
from sqlpp_spark.frontend.analyze import Analyzer
from sqlpp_spark.frontend.errors import SqlppError
from sqlpp_spark.frontend.parser import parse_query

# a small DAG: parent -> child edges (None parent = root), plus a
# value column so walks can aggregate along paths
EDGES = [
    (1, None, 10),
    (2, 1, 20),
    (3, 1, 30),
    (4, 2, 40),
    (5, 2, 50),
    (6, 3, 60),
    (7, 6, 70),
    (8, None, 80),
]


@pytest.fixture()
def eng(spark):
    from sqlpp_spark.engine import SqlppEngine

    eng = SqlppEngine(spark)
    eng.add_decls(
        "create table edges (id int not null, parent int, val int not null);"
    )
    eng.register_df(
        "edges",
        spark.createDataFrame(EDGES, "id long, parent long, val long"),
    )
    return eng


@contextmanager
def _on_loop():
    """Force every stratum onto the driver loop."""
    with patch.object(Compiler, "_native_recursive", lambda *a: None):
        yield


@contextmanager
def _count_native():
    """Yield a list that records, per native attempt, whether the
    member lowered to Spark's recursive CTE."""
    lowered = []
    orig = Compiler._native_recursive

    def counting(self, *a):
        out = orig(self, *a)
        lowered.append(out is not None)
        return out

    with patch.object(Compiler, "_native_recursive", counting):
        yield lowered


def _rows(rows):
    return sorted((tuple(r) for r in rows), key=repr)


@pytest.fixture()
def duck():
    con = duckdb.connect()
    con.execute("CREATE TABLE edges (id BIGINT, parent BIGINT, val BIGINT)")
    con.executemany("INSERT INTO edges VALUES (?,?,?)", EDGES)
    return con


def _differ(eng, duck, src):
    rows = sorted(tuple(repr(x) for x in r) for r in eng.fetch_list(src))
    info = Analyzer(eng.env, src).analyze_query(parse_query(src))
    sql = select_sql(info)
    want = sorted(tuple(repr(x) for x in r) for r in duck.execute(sql).fetchall())
    want2 = sorted(tuple(repr(x) for x in r) for r in duck.execute(src).fetchall())
    assert rows == want == want2, f"{src}\n{sql}"


def test_counter_union_all(eng, duck):
    _differ(
        eng, duck,
        "with recursive t (n) as (select 1 as n union all "
        "select n + 1 as n from t where n < 10) "
        "select n from t",
    )


def test_union_distinct_fixpoint_on_cycle(eng, duck):
    # (n+1) % 3 cycles 1 -> 2 -> 0 -> 1 ...; UNION distinct terminates
    _differ(
        eng, duck,
        "with recursive t (n) as (select 1 as n union "
        "select (n + 1) % 3 as n from t) select n from t",
    )


def test_tree_walk_with_depth_and_path_aggregate(eng, duck):
    # descend the DAG from the roots accumulating depth and path value
    _differ(
        eng, duck,
        "with recursive walk (id, depth, path_val) as ("
        "select id, 1 as depth, val as path_val from edges "
        "where parent is null "
        "union all "
        "select e.id as id, w.depth + 1 as depth, "
        "w.path_val + e.val as path_val "
        "from walk as w join edges as e on e.parent = w.id) "
        "select id, depth, path_val from walk",
    )


def test_subtree_from_seed(eng, duck):
    _differ(
        eng, duck,
        "with recursive sub (id) as (select id from edges where id = 2 "
        "union all select e.id as id from sub as s "
        "join edges as e on e.parent = s.id) "
        "select count(1) as n, sum(s.id) as total "
        "from sub as s group by ()",
    )


def test_main_select_joins_recursive_and_base_table(eng, duck):
    _differ(
        eng, duck,
        "with recursive t (n) as (select 1 as n union all "
        "select n + 1 as n from t where n < 8) "
        "select t.n as n, count(e.id) as n_nodes "
        "from t left join edges as e on e.id = t.n "
        "group by t.n",
    )


def test_plain_cte_alongside_recursive(eng, duck):
    # earlier plain CTE visible in the recursive body; WITH RECURSIVE
    # also covers non-recursive members (standard SQL)
    _differ(
        eng, duck,
        "with recursive roots as (select id from edges "
        "where parent is null), "
        "walk (id) as (select id from roots union all "
        "select e.id as id from walk as w "
        "join edges as e on e.parent = w.id) "
        "select id from walk",
    )


def test_base_branch_fixes_the_type(eng, duck):
    # float base, int step: upcasts losslessly, engines agree
    src = (
        "with recursive t (n) as (select 0.5 as n union all "
        "select n + 1 as n from t where n < 3) "
        "select n from t"
    )
    rows = sorted(float(r[0]) for r in eng.fetch_list(src))
    info = Analyzer(eng.env, src).analyze_query(parse_query(src))
    sql = select_sql(info)
    want = sorted(float(r[0]) for r in duck.execute(sql).fetchall())
    assert rows == want == [0.5, 1.5, 2.5, 3.5]
    # int base, float step: LOSSY (DuckDB's narrowing cast rounds,
    # Spark's truncates -- probed divergence) -> located error
    with pytest.raises(SqlppError, match="does not fit the base type"):
        eng.fetch_list(
            "with recursive t (n) as (select 1 as n union all "
            "select n + 0.5 as n from t where n < 3) select n from t"
        )


def test_nullability_fixpoint(eng, duck):
    # the step can inject NULL into a base-non-null column; the
    # analyzer re-analyzes the step at the widened (nullable) binding
    # so `w.pval + e.val` types nullable on the next level too
    _differ(
        eng, duck,
        "with recursive walk (id, pval) as ("
        "select id, val as pval from edges where parent is null "
        "union all "
        "select e.id as id, nullif(w.pval + e.val, 130) as pval "
        "from walk as w join edges as e on e.parent = w.id) "
        "select id, pval from walk",
    )


def test_aggregate_step_having_reads_input_column(eng, duck):
    # inside max(..) in HAVING, `n` is t's column, not the aggregated
    # output field `n` (which would nest max in max). Spark rejects
    # aggregate steps natively, so this runs on the driver loop.
    src = (
        "with recursive t (n) as (select 1 as n union all "
        "select max(n) + 1 as n from t group by () having max(n) < 5) "
        "select n from t"
    )
    with _count_native() as native:
        rows = eng.fetch_list(src)
    assert sorted(r[0] for r in rows) == [1, 2, 3, 4, 5]
    assert native == [False]
    _differ(eng, duck, src)


def test_empty_base_short_circuits(eng, duck):
    _differ(
        eng, duck,
        "with recursive t (n) as (select id as n from edges where id > 99 "
        "union all select n + 1 as n from t where n < 3) "
        "select count(1) as n_rows from t group by ()",
    )


def test_max_iteration_guard(spark, eng):
    spark.conf.set("spark.sqlpp.recursive.maxIterations", "5")
    src = (
        "with recursive t (n) as (select 1 as n union all "
        "select n + 1 as n from t) select n from t"
    )
    try:
        with pytest.raises(SqlppError, match="did not terminate within 5"):
            eng.fetch_list(src)
        # the native plan hits Spark's MAX RECURSION LEVEL at run time;
        # the raw DataFrame surfaces Spark's own error
        with pytest.raises(
            Exception,
            match=r"RECURSION_LEVEL_LIMIT_EXCEEDED\] Recursion level limit 5 ",
        ):
            eng.query(src).collect()
        # every engine fetch API re-raises it as the SqlppError
        agg = "select count(1) as c from t group by ()"
        src_agg = src.replace("select n from t", agg)
        for fetch in (
            lambda: eng.fetch_option(src_agg),
            lambda: eng.fetch_json(src_agg),
            lambda: eng.fold(src_agg, 0, lambda r, acc: acc + 1),
        ):
            with pytest.raises(SqlppError, match="within 5 iterations"):
                fetch()
    finally:
        spark.conf.unset("spark.sqlpp.recursive.maxIterations")


@pytest.mark.parametrize(
    "kw,force_loop",
    [("union all", False), ("union all", True), ("union", False)],
    ids=["native", "forced-loop", "union-loop"],
)
def test_iteration_cap_boundary(spark, eng, kw, force_loop):
    # 9 productive steps, then an empty one: a cap of 10 is enough and
    # 9 is not, on the native plan and on the driver loop alike
    src = (
        f"with recursive t (n) as (select 1 as n {kw} "
        "select n + 1 as n from t where n < 10) select n from t"
    )
    try:
        with _on_loop() if force_loop else nullcontext():
            with _count_native() as native:
                spark.conf.set("spark.sqlpp.recursive.maxIterations", "10")
                rows = sorted(r[0] for r in eng.fetch_list(src))
                assert rows == list(range(1, 11))
                spark.conf.set("spark.sqlpp.recursive.maxIterations", "9")
                with pytest.raises(
                    SqlppError, match="did not terminate within 9 "
                ):
                    eng.fetch_list(src)
        assert native == ([] if kw == "union" else [not force_loop] * 2)
    finally:
        spark.conf.unset("spark.sqlpp.recursive.maxIterations")


def test_native_recursion_has_no_row_cap(spark, eng):
    # Spark's default spark.sql.cteRecursionRowLimit (1,000,000) would
    # fail this 1.5M-row generator; session.get_spark lifts it
    eng.add_decls("create table seeds (n int not null);")
    eng.register_df("seeds", spark.range(750000).withColumnRenamed("id", "n"))
    with _count_native() as native:
        rows = eng.fetch_list(
            "with recursive t (n) as (select n from seeds union all "
            "select n + 750000 as n from t where n < 750000) "
            "select count(1) as c from t group by ()"
        )
    assert native == [True]
    assert rows[0][0] == 1500000


def test_fmt_roundtrip(eng):
    from sqlpp_spark.frontend.printer import format_query

    src = (
        "with recursive t (n) as (select 1 as n union all "
        "select n + 1 as n from t where n < 5) select n from t"
    )
    text = format_query(parse_query(src))
    assert "with recursive t (n) as" in text
    # the canonical text re-parses to the same result
    rows = sorted(r[0] for r in eng.fetch_list(text))
    assert rows == [1, 2, 3, 4, 5]


def test_errors(eng):
    for bad, m in (
        # self-reference without RECURSIVE (pre-r17 pinned behavior)
        ("with a as (select id from a) select id from a as x",
         "spelled WITH RECURSIVE"),
        # not base UNION step
        ("with recursive a (n) as (select id as n from a) "
         "select n from a", "must be <base> UNION"),
        # base references the CTE
        ("with recursive a (n) as (select id as n from a union all "
         "select n + 1 as n from a) select n from a",
         "must not reference"),
        # a non-self-referencing member is a PLAIN CTE (standard SQL
        # allows it under WITH RECURSIVE) -- but plain members don't
        # take a column list in this dialect
        ("with recursive a (n) as (select id as n from edges union all "
         "select id as n from edges) select n from a",
         "only supported on recursive members"),
        # r18: mutual cycles must be UNION (DuckDB's accumulated
        # UNION ALL semantics do not terminate)
        ("with recursive a (n) as (select 1 as n union all "
         "select b.m + 1 as n from b where b.m < 3), "
         "b (m) as (select 2 as m union all "
         "select a.n + 1 as m from a where a.n < 3) select n from a",
         "UNION ALL is not supported in a mutually recursive"),
        # r18: forward reference outside a cycle
        ("with recursive a (n) as (select 1 as n union "
         "select b.m + x.n as n from a as x join b on b.m < 3), "
         "b (m) as (select 2 as m union all "
         "select m + 1 as m from b where m < 3) select n from a",
         "forward reference"),
        # arity mismatch in column list
        ("with recursive a (n, m) as (select 1 as n union all "
         "select n + 1 as n from a) select n from a",
         "column list has 2 names"),
        # branch arity mismatch
        ("with recursive a (n) as (select 1 as n union all "
         "select n as n, n as m from a) select n from a",
         "step has 2 columns"),
        # kind mismatch across branches
        ("with recursive a (n) as (select 1 as n union all "
         "select 'x' as n from a where n < 2) select n from a",
         "base has"),
        # ORDER BY on the recursive body
        ("with recursive a (n) as (select 1 as n union all "
         "select n + 1 as n from a where n < 3 order by n) "
         "select n from a", "not supported on a recursive CTE body"),
        # column list on a plain CTE
        ("with recursive a (n) as (select 1 as n union all "
         "select n + 1 as n from a where n < 3), b (m) as "
         "(select 2 as m) select n from a",
         "only supported on recursive members"),
    ):
        with pytest.raises(SqlppError, match=m):
            eng.fetch_list(bad)


try:
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    _HAS_HYP = True
except ImportError:  # pragma: no cover
    _HAS_HYP = False


if _HAS_HYP:

    @st.composite
    def _recurrence(draw):
        """Random linear integer recurrences with a bounded guard —
        arbitrary start/step/cap (including empty and one-row
        fixpoints) and either bag or set semantics."""
        start = draw(st.integers(-3, 3))
        step = draw(st.integers(1, 4))
        cap = draw(st.integers(-2, 30))
        kw = draw(st.sampled_from(["union all", "union"]))
        mod = draw(st.sampled_from(["", " % 7"]))
        if mod and kw == "union all":
            mod = ""  # a modular step under bag semantics never ends
        return (
            f"with recursive t (n) as (select {start} as n {kw} "
            f"select (n + {step}){mod} as n from t where n < {cap}) "
            f"select n from t"
        )

    @settings(
        max_examples=25, deadline=None, derandomize=True,
        # the engine/duck fixtures are read-only across examples
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(_recurrence())
    def test_recursive_property_differential(eng, duck, src):
        # native (UNION ALL) vs the forced driver loop vs DuckDB
        with _count_native() as native:
            rows = sorted(r[0] for r in eng.fetch_list(src))
        assert native == ([True] if "union all" in src else []), src
        with _on_loop():
            loop = sorted(r[0] for r in eng.fetch_list(src))
        info = Analyzer(eng.env, src).analyze_query(parse_query(src))
        want = sorted(
            r[0] for r in duck.execute(select_sql(info)).fetchall()
        )
        want2 = sorted(r[0] for r in duck.execute(src).fetchall())
        assert rows == loop == want == want2, src

    @st.composite
    def _mutual_recurrence(draw):
        """Random two-member MUTUAL cycles (r18): modular affine
        steps over a bounded non-negative domain — always terminating
        under set semantics, monotone, so the engine's tandem
        semi-naive loop and DuckDB's accumulated evaluation must
        reach the same closure."""
        sa = draw(st.integers(0, 3))
        sb = draw(st.integers(0, 3))
        p1 = draw(st.integers(1, 4))
        p2 = draw(st.integers(1, 4))
        m = draw(st.integers(5, 9))
        return (
            f"with recursive a (n) as (select {sa} as n union "
            f"select (b.n + {p1}) % {m} as n from b), "
            f"b (n) as (select {sb} as n union "
            f"select (a.n + {p2}) % {m} as n from a) "
            "select 'a' as s, n from a "
            "union all select 'b' as s, n from b"
        )

    @settings(
        max_examples=20, deadline=None, derandomize=True,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(_mutual_recurrence())
    def test_mutual_recursive_property_differential(eng, duck, src):
        rows = sorted(tuple(r) for r in eng.fetch_list(src))
        info = Analyzer(eng.env, src).analyze_query(parse_query(src))
        want = sorted(
            tuple(r) for r in duck.execute(select_sql(info)).fetchall()
        )
        want2 = sorted(tuple(r) for r in duck.execute(src).fetchall())
        assert rows == want == want2, src

    @st.composite
    def _nonlinear_mutual_params(draw):
        """Random NON-LINEAR mutual cycles (r19, ADVICE r18 medium):
        a's step joins its partner b TWICE; b's step is linear in a.
        Modular affine pair-steps over a bounded non-negative domain —
        monotone, always terminating under set semantics."""
        return (
            draw(st.integers(0, 3)),  # sa
            draw(st.integers(0, 3)),  # sb
            draw(st.integers(0, 3)),  # p1
            draw(st.integers(1, 4)),  # p2
            draw(st.integers(5, 9)),  # m
            draw(st.sampled_from(["<=", "<", ">="])),
        )

    @settings(
        max_examples=20, deadline=None, derandomize=True,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(_nonlinear_mutual_params())
    def test_nonlinear_mutual_property_closure(eng, params):
        """Engine vs an independent PYTHON datalog fixpoint — not
        DuckDB: the engine pins the stratified CLOSURE for non-linear
        mutual steps, and Hypothesis found that DuckDB's native
        mutual evaluation is NEITHER the closure NOR pure
        working-table binding in general (it matched the closure on
        the odd/even chain probe, but on
        a(0): (2x+y)%5 from b x<=y / b(0): (a+1)%5 it returned
        a={0,2,3,4}, b={0,1,3,4} — exactly the pure-delta answer,
        missing closure rows a=1, b=2). PG rejects mutual recursion
        outright, so there is no second SQL engine to pin against —
        the brute-force fixpoint below IS the semantics."""
        import operator

        sa, sb, p1, p2, m, cmp_ = params
        ops = {"<=": operator.le, "<": operator.lt, ">=": operator.ge}
        a, b = {sa}, {sb}
        while True:
            na = {
                (2 * x + y + p1) % m
                for x in b for y in b if ops[cmp_](x, y)
            }
            nb = {(x + p2) % m for x in a}
            if na <= a and nb <= b:
                break
            a |= na
            b |= nb
        want = sorted([("a", n) for n in a] + [("b", n) for n in b])
        src = (
            f"with recursive a (n) as (select {sa} as n union "
            f"select (x.n * 2 + y.n + {p1}) % {m} as n "
            f"from b as x join b as y on x.n {cmp_} y.n), "
            f"b (n) as (select {sb} as n union "
            f"select (a.n + {p2}) % {m} as n from a) "
            "select 'a' as s, n from a "
            "union all select 'b' as s, n from b"
        )
        rows = sorted(tuple(r) for r in eng.fetch_list(src))
        assert rows == want, src


def test_recursive_view_and_derived_table(eng, duck):
    # r17: CREATE QUERY with a WITH RECURSIVE body (recursive view)
    # and (WITH RECURSIVE ...) derived tables — both closed relations
    # compiled through the same iterative loop and printed as the
    # inline WITH RECURSIVE form
    eng.add_decls(
        "create query sub2 as with recursive t (id) as "
        "(select id from edges where id = 2 union all "
        "select e.id as id from t join edges as e on e.parent = t.id) "
        "select id from t;"
    )
    rows = sorted(r[0] for r in eng.fetch_list(
        "select v.id as id from sub2 as v order by id"))
    assert rows == [2, 4, 5]
    # the printed SQL runs on DuckDB (inline WITH RECURSIVE)
    src = "select v.id as id from sub2 as v order by id"
    info = Analyzer(eng.env, src).analyze_query(parse_query(src))
    assert sorted(r[0] for r in duck.execute(select_sql(info)).fetchall()) \
        == [2, 4, 5]
    # derived recursive table, joined against a base table
    _differ(
        eng, duck,
        "select d.n as n, count(e.id) as n_edges from "
        "(with recursive t (n) as (select 1 as n union all "
        "select n + 1 as n from t where n < 8) select n from t) as d "
        "left join edges as e on e.parent = d.n group by d.n",
    )
    # fmt round-trips the derived form
    from sqlpp_spark.frontend.printer import format_query

    src2 = ("select d.n as n from (with recursive t (n) as "
            "(select 1 as n union all select n + 1 as n from t "
            "where n < 3) select n from t) as d order by n")
    out = format_query(parse_query(src2))
    assert "with recursive t (n) as" in out
    assert sorted(r[0] for r in eng.fetch_list(out)) == [1, 2, 3]


def test_recursive_view_two_uses_compile_fixpoint_once(eng, duck):
    """r17 advisor (low): a query referencing a recursive view twice
    (self-join over the closure) must lower the recursion ONCE — the
    compiler memoizes the compiled recursion per QueryInfo for the
    lifetime of one compile."""
    eng.add_decls(
        "create query closure as with recursive t (id) as "
        "(select id from edges where parent is null union all "
        "select e.id as id from t join edges as e on e.parent = t.id) "
        "select id from t;"
    )
    src = ("select a.id as x, b.id as y from closure as a "
           "join closure as b on b.id = a.id + 1 order by x")
    with _count_native() as native:
        rows = sorted(tuple(r) for r in eng.fetch_list(src))
    # an unmemoized second use would lower the recursion again
    assert native == [True]
    duck.execute(
        "CREATE VIEW closure AS WITH RECURSIVE t (id) AS "
        "(SELECT id FROM edges WHERE parent IS NULL UNION ALL "
        "SELECT e.id FROM t JOIN edges AS e ON e.parent = t.id) "
        "SELECT id FROM t"
    )
    want = sorted(tuple(r) for r in duck.execute(
        "SELECT a.id AS x, b.id AS y FROM closure AS a "
        "JOIN closure AS b ON b.id = a.id + 1 ORDER BY x"
    ).fetchall())
    assert rows == want and rows, rows


def test_multiple_independent_members(eng, duck):
    # r18: two self-recursive members, no cross references
    _differ(
        eng, duck,
        "with recursive t (n) as (select 1 as n union all "
        "select n + 1 as n from t where n < 4), "
        "u (m) as (select 10 as m union all "
        "select m + 10 as m from u where m < 40) "
        "select t.n as n, u.m as m from t join u on u.m = t.n * 10",
    )


def test_stratified_backward_reference(eng, duck):
    # r18: a later member's base AND step see the COMPLETED earlier
    # member (stratified DuckDB/PG semantics)
    _differ(
        eng, duck,
        "with recursive t (n) as (select 1 as n union all "
        "select n + 1 as n from t where n < 4), "
        "u (m) as (select n * 100 as m from t where n <= 2 union all "
        "select u.m + 1 as m from u where u.m % 100 < 2) "
        "select m from u",
    )


def test_mutual_cycle_even_odd_reachability(eng, duck):
    # r18: a TRUE mutual cycle (UNION distinct) — even/odd-depth
    # nodes of the DAG; the engine's tandem semi-naive loop and
    # DuckDB's accumulated re-evaluation reach the same closure
    # (monotone steps)
    _differ(
        eng, duck,
        "with recursive even (id) as ("
        "select id from edges where parent is null "
        "union "
        "select e.id as id from odd as o join edges as e "
        "on e.parent = o.id), "
        "odd (id) as ("
        "select e.id as id from edges as e join edges as r "
        "on e.parent = r.id and r.parent is null "
        "union "
        "select e.id as id from even as v join edges as e "
        "on e.parent = v.id) "
        "select 'even' as side, id from even "
        "union all select 'odd' as side, id from odd",
    )


def test_mutual_cycle_numeric(eng, duck):
    # the DuckDB-probed numeric mutual example (engine-divergences:
    # probe both engines before wiring) — a={1,3}, b={2,6}
    _differ(
        eng, duck,
        "with recursive a (n) as (select 1 as n union "
        "select b.m + 1 as n from b where b.m < 5), "
        "b (m) as (select 2 as m union "
        "select a.n * 2 as m from a where a.n < 5) "
        "select 'a' as side, n from a "
        "union all select 'b' as side, m as n from b",
    )


def test_mutual_members_fmt_roundtrip(eng):
    from sqlpp_spark.frontend.printer import format_query

    src = (
        "with recursive a (n) as (select 1 as n union "
        "select b.m + 1 as n from b where b.m < 5), "
        "b (m) as (select 2 as m union "
        "select a.n * 2 as m from a where a.n < 5) "
        "select n from a"
    )
    text = format_query(parse_query(src))
    assert "with recursive a (n) as" in text and ", b (m) as" in text
    rows1 = sorted(r[0] for r in eng.fetch_list(src))
    rows2 = sorted(r[0] for r in eng.fetch_list(text))
    assert rows1 == rows2 == [1, 3]


def test_three_strata_chain(eng, duck):
    # t -> u -> v: each stratum sees the previous completed results
    _differ(
        eng, duck,
        "with recursive t (n) as (select 1 as n union all "
        "select n + 1 as n from t where n < 3), "
        "u (m) as (select max(n) as m from t group by () union all "
        "select m + 1 as m from u where m < 5), "
        "v (k) as (select m * 10 as k from u where m = 5 union all "
        "select v.k + t.n as k from v join t on t.n = 1 where v.k < 53) "
        "select k from v",
    )


def test_recursive_view_with_mutual_members(eng, duck):
    # r18: CREATE QUERY whose body is a mutual WITH RECURSIVE — the
    # view compiles through the same strata loop at every use site
    # and prints inline
    eng.add_decls(
        "create query parities as with recursive ev (id) as "
        "(select id from edges where parent is null union "
        "select e.id as id from od join edges as e on e.parent = od.id), "
        "od (id) as "
        "(select e.id as id from edges as e join edges as r "
        "on e.parent = r.id and r.parent is null union "
        "select e.id as id from ev join edges as e on e.parent = ev.id) "
        "select id from ev;"
    )
    rows = sorted(r[0] for r in eng.fetch_list(
        "select v.id as id from parities as v order by id"))
    assert rows == [1, 4, 5, 6, 8]
    src = "select v.id as id from parities as v order by id"
    info = Analyzer(eng.env, src).analyze_query(parse_query(src))
    assert sorted(r[0] for r in duck.execute(select_sql(info)).fetchall()) \
        == [1, 4, 5, 6, 8]


def test_multilinear_mutual_step_two_cycle_tables(eng, duck):
    # r19 (ADVICE medium): a step joining TWO cycle tables must see
    # new x old row combinations, not just delta x delta. Odd/even
    # path lengths over the chain 1 -> 2 -> ... -> 8: tandem
    # delta-binding loses len-5/len-7 odd paths and len-4/len-6 even
    # paths (pre-fix result 12/8 rows); the accumulated re-evaluation
    # returns the full closure 16/12 — which is also what DuckDB's
    # native mutual recursion computes (probed).
    _differ(
        eng, duck,
        "with recursive "
        "odd (s, d) as ("
        "select e.id as s, e.id + 1 as d from edges as e where e.id < 8 "
        "union "
        "select ev.s as s, o.d as d from even as ev join odd as o "
        "on ev.d = o.s), "
        "even (s, d) as ("
        "select x.id as s, x.id + 2 as d from edges as x where x.id < 7 "
        "union "
        "select o1.s as s, o2.d as d from odd as o1 join odd as o2 "
        "on o1.d = o2.s) "
        "select 1 as tag, s, d from odd "
        "union all select 2 as tag, s, d from even",
    )


def test_multilinear_closure_row_counts(eng):
    # belt-and-braces against the fixture accidentally losing the
    # long-path structure the differential relies on
    rows = eng.fetch_list(
        "with recursive "
        "odd (s, d) as ("
        "select e.id as s, e.id + 1 as d from edges as e where e.id < 8 "
        "union "
        "select ev.s as s, o.d as d from even as ev join odd as o "
        "on ev.d = o.s), "
        "even (s, d) as ("
        "select x.id as s, x.id + 2 as d from edges as x where x.id < 7 "
        "union "
        "select o1.s as s, o2.d as d from odd as o1 join odd as o2 "
        "on o1.d = o2.s) "
        "select (select count(1) as c from odd group by ()) as n_odd, "
        "(select count(1) as c from even group by ()) as n_even"
    )
    assert rows == [(16, 12)]


def test_nonlinear_self_join_is_located_error(eng):
    # PG rejects the same shape; DuckDB's working-table answer for a
    # self-join step (delta x delta -- only power-of-two path lengths
    # survive, probed) is not the closure anyone means. Located error
    # beats silently-wrong rows.
    with pytest.raises(SqlppError, match="must not appear more than once"):
        eng.fetch_list(
            "with recursive tc (s, d) as ("
            "select e.id as s, e.id + 1 as d from edges as e where e.id < 8 "
            "union "
            "select a.s as s, b.d as d from tc as a join tc as b "
            "on a.d = b.s) "
            "select s, d from tc"
        )


def test_nonlinear_self_ref_in_subquery_counted(eng):
    # the reference count walks subqueries in expressions too
    with pytest.raises(SqlppError, match="must not appear more than once"):
        eng.fetch_list(
            "with recursive t (n) as (select 1 as n union "
            "select n + 1 as n from t where n < 5 and "
            "exists (select 1 as x from t where n < 3)) "
            "select n from t"
        )


# -- native recursive CTE vs the driver loop ----------------------------------
# A lone linear UNION ALL member runs as Spark's native recursive CTE;
# its rows must equal the driver loop's (forced with _on_loop).


def _native_vs_loop(eng, src):
    with _count_native() as native:
        df = eng.query(src)
        rows = _rows(df.collect())
    assert native == [True], src
    with _on_loop():
        assert _rows(eng.fetch_list(src)) == rows, src
    return df, rows


def test_native_counter_matches_loop(eng, duck):
    src = (
        "with recursive t (n) as (select 1 as n union all "
        "select n + 1 as n from t where n < 10) select n from t"
    )
    _native_vs_loop(eng, src)
    _differ(eng, duck, src)


def test_native_stops_at_empty_frontier(eng, duck):
    # A step that is NON-EMPTY on an empty working table (NOT EXISTS
    # over the recursive name): both evaluations stop at the first
    # empty step, so the phantom 100-row never appears.
    src = (
        "with recursive t (n) as (select 1 as n union all "
        "select 100 as n from edges as e where e.id = 1 "
        "and not exists (select 1 as x from t as x)) "
        "select n from t"
    )
    _, rows = _native_vs_loop(eng, src)
    assert rows == [(1,)]
    _differ(eng, duck, src)


def test_native_prints_braces_and_backslashes(eng, duck):
    # the spark dialect doubles backslashes (Spark reads them as
    # escapes) and braces (the text is a spark.sql format string)
    src = (
        "with recursive t (n, s) as (select 1 as n, 'a{b}\\\\' as s "
        "union all select n + 1 as n, concat(s, '}\\\\{') as s "
        "from t where n < 3) select n, s from t"
    )
    _, rows = _native_vs_loop(eng, src)
    assert rows[-1] == (3, "a{b}\\\\}\\\\{}\\\\{")
    _differ(eng, duck, src)


def test_native_partition_count_stays_bounded(eng):
    src = (
        "with recursive t (n) as (select 1 as n union all "
        "select n + 1 as n from t where n < 12) select n from t"
    )
    df, rows = _native_vs_loop(eng, src)
    assert df.rdd.getNumPartitions() <= 64
    assert sorted(r[0] for r in rows) == list(range(1, 13))


@pytest.mark.parametrize(
    "src",
    [
        # aggregate over the recursive name
        "with recursive t (n) as (select 1 as n union all "
        "select t.n + 1 as m from t group by t.n having t.n < 5) "
        "select n from t",
        # the recursive name on the right side of a LEFT JOIN
        "with recursive t (n) as (select 1 as n union all "
        "select t.n + 1 as n from edges as e left join t on t.n = e.id "
        "where t.n < 5) select n from t",
    ],
    ids=["aggregate", "left-join-right"],
)
def test_steps_spark_rejects_stay_on_loop(eng, duck, src):
    # Spark's analyzer refuses these recursive references
    # (INVALID_RECURSIVE_REFERENCE.PLACE); the driver loop runs them
    with _count_native() as native:
        _differ(eng, duck, src)
    assert native == [False]


@pytest.mark.parametrize(
    "name", ["sqlpp_recursive_chain", "sqlpp_recursive_spine"]
)
def test_registry_recursion_native_loop_oracle(spark, sf_dir, name):
    from sqlpp_spark.queries import REGISTRY, _ensure_loaded
    from sqlpp_spark.testing.oracle import compare, run_oracle

    _ensure_loaded()
    spec = REGISTRY[name]
    with _count_native() as native:
        df = spec.builder(spark, sf_dir)
    assert native == [True]
    with _on_loop():
        assert _rows(spec.builder(spark, sf_dir).collect()) == _rows(
            df.collect()
        )
    assert compare(df, run_oracle(spec.oracle, sf_dir))["match"]


def test_spine_builds_with_no_jobs_as_one_union_loop(spark, sf_dir):
    from sqlpp_spark.queries import REGISTRY, _ensure_loaded

    _ensure_loaded()
    build = REGISTRY["sqlpp_recursive_spine"].builder
    build(spark, sf_dir)  # first use registers the engine's tables
    sc = spark.sparkContext
    group = "sqlpp-spine-build"
    sc.setJobGroup(group, "spine build")
    try:
        df = build(spark, sf_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 0
    assert "UnionLoop" in df._jdf.queryExecution().optimizedPlan().toString()
