"""Analyzer conformance tests — ported from the reference's golden
cram tests (test/sqlpp/*.t). Each case checks the elaborated row type
(names, types, nullability) and/or the expected compile error, which is
what the reference goldens pin via inferred OCaml types and
[%ocaml.error] output."""

from __future__ import annotations

import pytest

from sqlpp_spark.frontend.analyze import Analyzer, Env, analyze
from sqlpp_spark.frontend.errors import SqlppError

SCHEMA = """
create table users (
  id int not null,
  name string,
  info string not null,
  created_at float not null
);
create table profiles (
  user_id int not null,
  settings string not null,
  info string not null
);
create fieldset users_fields(from users) as
select users.id as user_id, users.name as user_name;
create fieldset users_agg_fields(from users) as
select count(1) as count, max(created_at) as last_created_at;
create query user_stats as
select id as user_id, with count(1) as count, ...
from users group by id;
"""


@pytest.fixture(scope="module")
def env():
    e = Env()
    e.add(SCHEMA)
    return e


def row_sig(env, src):
    info = analyze(env, src)
    return [(n, str(t)) for n, t in info.row]


def param_sig(env, src):
    info = analyze(env, src)
    return {n: (str(p.ty) if p.ty else None) for n, p in info.params.items()}


# -- infer.t -----------------------------------------------------------------


def test_select_lit_named(env):
    assert row_sig(env, "select 1 as x") == [("x", "INT NOT NULL")]


def test_select_lit_positional(env):
    assert row_sig(env, "select 1") == [("_0", "INT NOT NULL")]


def test_select_from_users(env):
    assert row_sig(env, "select id, name from users") == [
        ("id", "INT NOT NULL"),
        ("name", "STRING NULL"),
    ]


def test_inner_join_not_nullable(env):
    sig = row_sig(
        env, "select id, name, user_id from users join profiles on id = user_id"
    )
    assert sig == [
        ("id", "INT NOT NULL"),
        ("name", "STRING NULL"),
        ("user_id", "INT NOT NULL"),
    ]


def test_left_join_nullable(env):
    # LEFT JOIN makes the right scope nullable (infer.t:60-76)
    sig = row_sig(
        env, "select id, name, user_id from users left join profiles on id = user_id"
    )
    assert sig[2] == ("user_id", "INT NULL")


def test_param_unification_not_null_both(env):
    assert param_sig(env, "select ?x:int not null as x, ?x:int not null as y") == {
        "x": "INT NOT NULL"
    }


def test_param_unification_null_both(env):
    assert param_sig(env, "select ?x:int null as x, ?x:int null as y") == {"x": "INT NULL"}


def test_param_unification_mixed(env):
    # any NOT NULL use makes the param NOT NULL; use sites keep their
    # ascribed nullability (infer.t:78-150)
    src = "select ?x:int null as x, ?x:int not null as y"
    assert param_sig(env, src) == {"x": "INT NOT NULL"}
    info = analyze(env, src)
    assert [(n, str(t)) for n, t in info.row] == [("x", "INT NULL"), ("y", "INT NOT NULL")]


@pytest.mark.parametrize(
    "src,row_tys,param_ty",
    [
        # use-site = running glb nullability (infer.t:78-150)
        ("select ?x:int null as x, ?x:int not null as y",
         ["INT NULL", "INT NOT NULL"], "INT NOT NULL"),
        ("select ?x:int not null as x, ?x:int null as y",
         ["INT NOT NULL", "INT NOT NULL"], "INT NOT NULL"),
        ("select ?x:int as x, ?x:int not null as y",
         ["INT NULL", "INT NOT NULL"], "INT NOT NULL"),
        ("select ?x:int not null as x, ?x:int as y",
         ["INT NOT NULL", "INT NOT NULL"], "INT NOT NULL"),
        ("select ?x:int null as x, ?x:int as y",
         ["INT NULL", "INT NULL"], "INT NULL"),
    ],
)
def test_param_nullability_running_glb(env, src, row_tys, param_ty):
    info = analyze(env, src)
    assert [str(t) for _, t in info.row] == row_tys
    assert str(info.params["x"].ty) == param_ty


def test_param_bare_then_not_null(env):
    assert param_sig(env, "select ?x:int as x, ?x:int not null as y") == {"x": "INT NOT NULL"}


def test_duplicate_field_error(env):
    with pytest.raises(SqlppError, match="column `x` is already defined"):
        analyze(env, "select 1 as x, 2 as x")


def test_match_variant_param(env):
    src = "select match ?v with | Some ?x -> ?x + 1 | None -> null:int end as v"
    info = analyze(env, src)
    assert [(n, str(t)) for n, t in info.row] == [("v", "INT NULL")]
    assert info.params["v"].kind == "variant"
    assert set(info.params["v"].variant) == {"Some", "None"}


# -- group_by.t --------------------------------------------------------------


def test_agg_without_group_by(env):
    with pytest.raises(SqlppError, match="not allowed without GROUP BY"):
        analyze(env, "select count(1)")
    with pytest.raises(SqlppError, match="not allowed without GROUP BY"):
        analyze(env, "select count(1) from users")


def test_global_agg_group_by_unit(env):
    assert row_sig(env, "select count(1) from users group by ()") == [("_0", "INT NOT NULL")]


def test_nested_agg_error(env):
    with pytest.raises(SqlppError, match="not allowed without GROUP BY"):
        analyze(env, "select count(count(1)) from users group by ()")


def test_aggregated_alias_inside_aggregate_is_the_input_column(env):
    # `max(id)` in HAVING/ORDER BY ranges over input rows: the output
    # field `id` (itself an aggregate) must not inline there
    # (nullable: a global aggregate over no rows is NULL)
    src = ("select max(id) + 1 as id from users group by () "
           "having max(id) < 5 order by max(id)")
    assert row_sig(env, src) == [("id", "INT NULL")]


def test_non_grouped_column_error(env):
    with pytest.raises(SqlppError, match="not in GROUP BY"):
        analyze(env, "select count(1), id from users group by ()")
    with pytest.raises(SqlppError, match="not in GROUP BY"):
        analyze(env, "select count(1), id, created_at from users group by id")


def test_grouped_column_ok(env):
    assert row_sig(env, "select count(1), id from users group by id") == [
        ("_0", "INT NOT NULL"),
        ("id", "INT NOT NULL"),
    ]


def test_group_expr_equality(env):
    # grouped exprs referenceable verbatim, by structural equality
    assert row_sig(env, "select count(1), id + id from users group by id + id") == [
        ("_0", "INT NOT NULL"),
        ("_1", "INT NOT NULL"),
    ]
    assert row_sig(env, "select count(1), 1 + (id + id) from users group by id + id") == [
        ("_0", "INT NOT NULL"),
        ("_1", "INT NOT NULL"),
    ]


def test_agg_through_aggregate_ok(env):
    sig = row_sig(env, "select count(1), id, max(created_at) from users group by id")
    assert sig == [
        ("_0", "INT NOT NULL"),
        ("id", "INT NOT NULL"),
        ("_2", "FLOAT NOT NULL"),
    ]


# -- nested.t ----------------------------------------------------------------


def test_nav_into_subquery(env):
    assert row_sig(env, "select x.users.id from (select id from users) as x") == [
        ("id", "INT NOT NULL")
    ]


def test_nav_expr_into_closed_subquery_error(env):
    with pytest.raises(SqlppError, match="doesn't allow to build new expressions"):
        analyze(env, "select x.(id + id) from (select id from users) as x")


def test_nav_injection_and_naming(env):
    # duplicate auto-names fall back to positional _i
    sig = row_sig(
        env, "select id, x.id, x.users.id from (select id, ... from users) as x"
    )
    assert [n for n, _ in sig] == ["id", "_1", "_2"]


def test_deep_nested_injection(env):
    src = """
    select
      x.y.users.id, x.y.id, x.id, x.(id + y.id + y.users.id),
      x.y.users.created_at,
      stats.count(1), stats.max(id),
    from (
      select y.id as id, ... from (select users.id as id, ... from users) as y
    ) as x
    join (select id, ... from users group by id) as stats
    on x.id = stats.id
    """
    sig = row_sig(env, src)
    assert [n for n, _ in sig] == ["id", "_1", "_2", "_3", "created_at", "_5", "_6"]
    assert sig[4] == ("created_at", "FLOAT NOT NULL")


# -- optional_fields.t -------------------------------------------------------


def test_with_fields_lazy(env):
    # unused `with` fields never make it into the row
    sig = row_sig(
        env,
        "select one, three, five from (select with 1 as one, with 2 as two, "
        "with 3 as three, with 4 as four, with 5 as five, with 6 as six,) as q",
    )
    assert [n for n, _ in sig] == ["one", "three", "five"]


def test_with_field_same_scope_inline(env):
    sig = row_sig(env, "select with 1 as x, x+x from users")
    assert sig == [("_1", "INT NOT NULL")]


def test_with_field_chain_inline(env):
    sig = row_sig(env, "select with 1 as x, with x + 2 as y, x + y from users")
    assert sig == [("_2", "INT NOT NULL")]


# -- fieldset.t --------------------------------------------------------------


def test_fieldset_splice(env):
    sig = row_sig(env, "select ...users_fields(users) from users")
    assert sig == [("user_id", "INT NOT NULL"), ("user_name", "STRING NULL")]


def test_fieldset_lazy_then_use(env):
    sig = row_sig(env, "select with ...users_fields(users), user_id from users")
    assert [n for n, _ in sig] == ["_2"]


def test_fieldset_with_alias(env):
    sig = row_sig(env, "select with ...users_fields(u), user_id from users as u")
    assert [n for n, _ in sig] == ["_2"]


def test_fieldset_arity_error(env):
    with pytest.raises(SqlppError, match="expects 1 arguments but 0 provided"):
        analyze(env, "select ...users_fields() from users")


def test_fieldset_bad_arg_error(env):
    with pytest.raises(SqlppError, match="no such column: id|no such column: created_at"):
        analyze(env, "select ...users_agg_fields(profiles) from profiles group by ()")


# -- with-scope.t ------------------------------------------------------------


def test_withscope_alias(env):
    src = """
    select withscope x.y.z as u, name
    from (select ... from (select ... from (select ... from users) as z) as y) as x
    """
    sig = row_sig(env, src)
    assert sig == [("name", "STRING NULL")]


def test_withscope_shadowing(env):
    src = """
    select x.id as xid, withscope y as x, x.id as yid
    from users as x join users as y on true
    """
    sig = row_sig(env, src)
    assert sig == [("xid", "INT NOT NULL"), ("yid", "INT NOT NULL")]


# -- expr-in.t / expr-exists.t ----------------------------------------------


def test_in_subquery(env):
    sig = row_sig(env, "select id from users where id in (select 1)")
    assert sig == [("id", "INT NOT NULL")]


def test_in_type_mismatch(env):
    with pytest.raises(SqlppError, match="expected"):
        analyze(env, "select id from users where id in (select true)")


def test_in_arity_mismatch(env):
    with pytest.raises(SqlppError, match=r"number of expressions \(1\)"):
        analyze(env, "select id from users where id in (select 1, 2)")


def test_scalar_in(env):
    sig = row_sig(env, "select 1 in (select id from users)")
    assert sig == [("_0", "BOOL NOT NULL")]


def test_exists(env):
    sig = row_sig(env, "select exists(select true from users where id = 1)")
    assert sig == [("_0", "BOOL NOT NULL")]


# -- named queries (compose.t) ----------------------------------------------


def test_named_query_compose(env):
    src = """
    select users.id, stats.max(id), stats.count,
    from users
    join user_stats as stats on users.id = stats.user_id
    join user_stats as stats2 on users.id = stats2.user_id
    """
    sig = row_sig(env, src)
    assert [n for n, _ in sig] == ["id", "_1", "count"]


# -- misc --------------------------------------------------------------------


def test_null_requires_annotation(env):
    with pytest.raises(SqlppError, match="missing type annotation for NULL"):
        analyze(env, "select null")


def test_no_such_function(env):
    with pytest.raises(SqlppError, match="no such function"):
        analyze(env, "select frobnicate(1) from users")


def test_no_such_column(env):
    with pytest.raises(SqlppError, match="no such column: nope"):
        analyze(env, "select nope from users")


def test_ambiguous_column(env):
    with pytest.raises(SqlppError, match="ambiguous column: info"):
        analyze(env, "select info from users join profiles on id = user_id")


def test_limit_type_checked(env):
    with pytest.raises(SqlppError, match="expected INT"):
        analyze(env, "select id from users limit 'x'")


def test_withscope_self_named_alias_with_agg_nav(env):
    """with-scope.t case 1: scope aliases that SHADOW the source alias
    they navigate through (`withscope x.z as x`), plus aggregate
    navigation into a grouped subquery. Previously infinite-recursed:
    alias expansion must apply exactly once (paths are pre-expanded at
    definition time, so the expanded head names a relation)."""
    src = """
    select
      withscope x.z as x,
      withscope agg.y as agg,
      x.id,
      agg.count(1)
    from (
      select withscope y.users as z, ...
      from (
        select ...
        from users) as y) as x
    join (
      select ...
      from (
        select id, ...
        from users
        group by id) as y
    ) as agg
    on x.y.id = agg.y.id
    """
    assert row_sig(env, src) == [("id", "INT NOT NULL"), ("_1", "INT NOT NULL")]


def test_withscope_chained_nested_aliases(env):
    """with-scope.t case 3: `withscope <sub>.users as users` chained at
    every nesting level — each level's alias shadows the table name and
    forwards navigation one level deeper."""
    src = """
    select withscope x.users as users, users.name as name
    from (
      select withscope y.users as users, ... from (
        select withscope z.users as users, ... from (select ... from users) as z) as y) as x
    """
    assert row_sig(env, src) == [("name", "STRING NULL")]


# -- select-limit-offset.t ---------------------------------------------------


def test_bare_offset_without_limit(env):
    """select-limit-offset.t: OFFSET with no LIMIT is accepted (the
    reference emits `... OFFSET 1` with no LIMIT clause)."""
    assert row_sig(env, "select id from users offset 1") == [
        ("id", "INT NOT NULL")
    ]


# -- cram coverage map (reference test/sqlpp/*.t -> tests here) --------------
#
#   infer.t                : test_select_lit_*, test_match_variant_param,
#                            test_param_unification_goldens, duplicate-name
#                            error test, + tests/test_type_lattice.py
#                            (property-tested superset of the 9 pairwise
#                            ?x unification goldens)
#   group_by.t             : test_agg_without_group_by,
#                            test_global_agg_group_by_unit,
#                            test_nested_agg_error,
#                            test_non_grouped_column_error, test_grouped_column_ok,
#                            test_group_by_golden_shapes
#   optional_fields.t      : test_with_field_*, test_optional_fields_goldens
#   nested.t               : test_open_select_navigation (e2e),
#                            test_nested_navigation_goldens
#   with-scope.t           : test_withscope_alias, test_withscope_shadowing,
#                            test_withscope_self_named_alias_with_agg_nav,
#                            test_withscope_chained_nested_aliases
#   fieldset.t             : test_fieldset_* (splice, lazy, alias, arity,
#                            bad-arg)
#   compose.t              : test_named_query_compose,
#                            test_named_query_e2e (engine)
#   expr-in.t / expr-exists.t : test_in_*, test_scalar_in, test_exists
#   select-limit-offset.t  : test_limit_type_checked,
#                            test_bare_offset_without_limit,
#                            test_order_limit_offset (engine e2e)
#   insert.t / update.t / delete.t : tests/test_engine_e2e.py DML tests
#                            (INSERT VALUES/SELECT/SET/ON CONFLICT/
#                            RETURNING, UPDATE [FROM], DELETE)


def test_param_unification_goldens(env):
    """infer.t parameter-unification goldens: the bind-time parameter
    type is the glb across uses (NOT NULL wins); each USE keeps its own
    written nullability in the row."""
    cases = [
        ("select ?x:int not null as x, ?x:int not null as y",
         "INT NOT NULL", ["INT NOT NULL", "INT NOT NULL"]),
        ("select ?x:int null as x, ?x:int null as y",
         "INT NULL", ["INT NULL", "INT NULL"]),
        ("select ?x:int null as x, ?x:int not null as y",
         "INT NOT NULL", ["INT NULL", "INT NOT NULL"]),
        ("select ?x:int as x, ?x:int null as y",
         "INT NULL", ["INT NULL", "INT NULL"]),
        ("select ?x:int not null as x, ?x:int as y",
         "INT NOT NULL", ["INT NOT NULL", "INT NOT NULL"]),
    ]
    for src, bind_ty, row_tys in cases:
        assert param_sig(env, src) == {"x": bind_ty}, src
        assert [t for _, t in row_sig(env, src)] == row_tys, src


def test_group_by_golden_shapes(env):
    """group_by.t: grouped columns usable directly and inside further
    expressions; non-grouped columns only under aggregates; grouping by
    a complex expression admits structurally-equal uses."""
    assert row_sig(env, "select count(1), id from users group by id") == [
        ("_0", "INT NOT NULL"), ("id", "INT NOT NULL")]
    assert row_sig(env, "select count(1), id + id from users group by id") == [
        ("_0", "INT NOT NULL"), ("_1", "INT NOT NULL")]
    assert row_sig(
        env, "select count(1), id, max(created_at) from users group by id"
    ) == [("_0", "INT NOT NULL"), ("id", "INT NOT NULL"), ("_2", "FLOAT NOT NULL")]
    assert row_sig(
        env, "select count(1), id + id from users group by id + id"
    ) == [("_0", "INT NOT NULL"), ("_1", "INT NOT NULL")]
    assert row_sig(
        env, "select count(1), 1 + (id + id) from users group by id + id"
    ) == [("_0", "INT NOT NULL"), ("_1", "INT NOT NULL")]
    with pytest.raises(SqlppError, match="not in GROUP BY"):
        analyze(env, "select count(1), id, created_at from users group by id")


def test_optional_fields_goldens(env):
    """optional_fields.t: lazy fields referenced across scopes
    materialize; unreferenced ones stay lazy; same-scope uses inline
    the defining expression."""
    assert row_sig(env, """
      select q.id
      from (
        select id, with x + x as x,
        from (select id, with id as x from users) as u
      ) as q""") == [("id", "INT NOT NULL")]
    assert row_sig(env, """
      select q.id, x
      from (
        select id, with x + x as x,
        from (select id, with id as x from users) as u
      ) as q""") == [("id", "INT NOT NULL"), ("x", "INT NOT NULL")]
    assert row_sig(env, """
      select with 1 as x, with x + user_id as y, x + y as x_plus_y
      from (select with id as user_id from users) as u""") == [
        ("x_plus_y", "INT NOT NULL")]


def test_nested_navigation_goldens(env):
    """nested.t: deep navigation (x.y.users.id), generated-field reuse
    (structurally-equal expressions share one injected field), computed
    expressions inside open selects, aggregate navigation into a
    grouped subquery — exact output names and types of the golden."""
    assert row_sig(
        env, "select id, x.id, x.users.id from (select id, ... from users) as x"
    ) == [("id", "INT NOT NULL"), ("_1", "INT NOT NULL"), ("_2", "INT NOT NULL")]
    with pytest.raises(SqlppError, match="new expressions"):
        analyze(env, "select x.(id + id) from (select id from users) as x")
    src = """
    select
      x.y.users.id,
      x.y.id,
      x.id,
      x.(id + y.id + y.users.id),
      x.y.users.created_at,
      stats.count(1),
      stats.max(id),
    from (
      select y.id as id, ...
      from (
        select users.id as id, ... from users
      ) as y
    ) as x
    join (
      select id, ...
      from users
      group by id
    ) as stats
    on x.id = stats.id
    """
    assert row_sig(env, src) == [
        ("id", "INT NOT NULL"), ("_1", "INT NOT NULL"), ("_2", "INT NOT NULL"),
        ("_3", "INT NOT NULL"), ("created_at", "FLOAT NOT NULL"),
        ("_5", "INT NOT NULL"), ("_6", "INT NOT NULL"),
    ]


def test_format_subquery_bodies_roundtrip():
    """r15 formatter fix: compound (SetOp) subquery bodies and scalar
    subqueries format and re-parse (previously AttributeError /
    TypeError)."""
    from sqlpp_spark.frontend.parser import parse_query
    from sqlpp_spark.frontend.printer import format_query

    for src in (
        "select id from t1 where id in "
        "(select a from x union select b from y)",
        "select id from t1 where id < any "
        "(select a from x union all select b from y)",
        "select id from t1 where exists "
        "(select a from x union select b from y)",
        "select (select max(a) from x group by ()) as m from t1",
    ):
        printed = format_query(parse_query(src))
        # the formatted text is itself valid dialect source
        reprinted = format_query(parse_query(printed))
        assert reprinted == printed
