"""Compiler: elaborated sqlpp AST → PySpark DataFrame plans.

Where the reference prints backend SQL text (sqlpp/printer.ml) for
SQLite/PostgreSQL/MariaDB to execute, we construct DataFrame plans and
let Catalyst/Tungsten do the physical planning (SURVEY.md §7
architecture decision). Design notes:

- every subselect compiles to a DataFrame aliased by its scope name, so
  elaborated ``ERef(rel, field)`` references compile to ``rel.field``
  column references — exactly the depth-1 form the analyzer guarantees
- GROUP BY compiles to groupBy over the elaborated group expressions
  plus one aggregate column per distinct aggregate application; output
  expressions are then rebuilt by substituting group-keys and agg-apps
  with the pre-computed columns (supports arbitrary nesting like
  ``1 + (id + id)`` over ``GROUP BY id + id``)
- IN/EXISTS in WHERE-conjunction position lower to left-semi /
  left-anti joins (no row duplication, no driver round-trip). NOT IN
  over nullable operands compiles the NULL-aware anti-join condition
  (equal-or-either-NULL), reproducing SQL's three-valued NOT IN; with
  analyzer-proven non-null operands the plain anti-join is kept. In
  scalar position they lower to a left join against the distinct
  subquery with a match flag carrying full SQL three-valued
  semantics (r13: multi-column tuples included)
- MATCH variant params select a plan branch at bind time — the Python
  equivalent of the reference's generated OCaml match (sqlpp_ppx.ml:209-243)
"""

from __future__ import annotations

from typing import Dict, List, Optional

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from sqlpp_spark.frontend import ast as A
from sqlpp_spark.frontend.analyze import (
    AGG_FNS, QueryInfo, RecQueryRel, SelectCtx, SelectRel, SetOpCtx,
    SetOpRel, TableRel,
)
from sqlpp_spark.frontend.ast import expr_key
from sqlpp_spark.frontend.errors import SqlppError
from sqlpp_spark.frontend.types import Ty

SPARK_TYPES = {
    "bool": "boolean",
    "string": "string",
    "int": "bigint",
    "float": "double",
    "datetime": "timestamp",
    "date": "date",
    "time": "string",
    "interval": "interval day to second",
}


def spark_type(ty: Optional[Ty]) -> str:
    if ty is None:
        return "string"
    return SPARK_TYPES[ty.kind]


def not_terminated(max_iter, names: str = "") -> SqlppError:
    cte = f"recursive CTE {names!r}" if names else "a recursive CTE"
    return SqlppError(
        f"{cte} did not terminate within {max_iter} iterations "
        "(set spark.sqlpp.recursive.maxIterations to raise)"
    )


class Bindings:
    """Bound parameter values for one execution."""

    def __init__(self, values: Dict[str, object]):
        self.values = values

    def get(self, name: str, loc=None):
        if name not in self.values:
            raise SqlppError(f"missing parameter: ?{name}")
        return self.values[name]


class Compiler:
    def __init__(self, spark: SparkSession, catalog: Dict[str, DataFrame]):
        self.spark = spark
        self.catalog = catalog
        self._subquery_n = 0
        # recursive fixpoints already materialized this compile, keyed
        # by QueryInfo identity: a query that references a recursive
        # view twice (self-join over the closure) must not run the
        # iterative supersteps twice (r17 advisor). Bindings are fixed
        # for the lifetime of one Compiler use, so identity is a safe
        # key.
        self._rec_memo: Dict[int, DataFrame] = {}
        # table names to re-project with fresh exprIds on every
        # catalog lookup (set while compiling a non-linear recursive
        # step, which references the same accumulated table twice)
        self._fresh_names: frozenset = frozenset()

    # -- entry points ------------------------------------------------------

    def compile_query(self, q: QueryInfo, params: Dict[str, object] | None = None) -> DataFrame:
        binds = Bindings(params or {})
        if getattr(q, "recursive", None) is not None:
            return self._compile_recursive(q, binds)
        if isinstance(q.ctx, SetOpCtx):
            return self.compile_setop(q.ctx, binds)
        return self.compile_select(q.ctx, binds)

    # -- WITH RECURSIVE (r17) ------------------------------------------------

    def _compile_recursive(self, q: QueryInfo, binds: Bindings) -> DataFrame:
        """WITH RECURSIVE, one stratum at a time: strata evaluate in
        order, and each stratum's bases and every later stratum see
        earlier strata as completed tables (stratified DuckDB/PG
        semantics).

        A stratum of one linear UNION ALL member (the generator/chain
        shape) lowers to Spark's native recursive CTE
        (``_native_recursive``): one UnionLoop plan, visible to EXPLAIN
        and AQE and run by the action, so compiling it runs no job.
        ``spark.sqlpp.recursive.maxIterations`` (default 100, a
        non-termination guard DuckDB/PG do not have — an unbounded
        fixpoint on 100 TB is an outage, not a query) becomes its MAX
        RECURSION LEVEL; Spark raises at execution when it is hit, and
        the engine's fetch APIs re-raise that as SqlppError.

        Every other stratum runs on the driver in bounded supersteps:
        UNION (distinct; Spark rejects it in a recursive CTE), mutual
        cycles, non-linear steps, and steps whose recursive reference
        Spark refuses (in an aggregate, a window, or the outer side of
        an outer join). Each iteration compiles the step branch(es) with
        the recursive name(s) bound to the previous iteration's NEW rows
        (the standard SQL working table), localCheckpoints and counts
        the batch (one bounded job per member per superstep), and stops
        when every working table is empty; it raises once the cap is
        spent with rows still pending. UNION (distinct) feeds only
        globally new rows forward, so cycles terminate; UNION ALL relies
        on acyclic data plus the cap. The members of a mutual stratum
        iterate in TANDEM (every step of iteration i sees every cycle
        member's iteration-(i-1) frontier) and the stratum ends when
        ALL its frontiers are empty in the same iteration. LINEAR steps
        bind deltas, which provably equals the accumulated closure for
        a monotone step linear in its cycle table. NON-LINEAR steps (a
        join of two cycle members, or a mutual partner referenced twice;
        non-linear SELF-joins are a parse error, as in PG) re-evaluate
        over the ACCUMULATED results instead: with the new-rows subtract
        this is the datalog least fixpoint, pinned as THE semantics
        (DuckDB's native mutual evaluation is neither that nor pure
        working-table binding in general, and PG rejects mutual
        recursion, so tests/test_recursive_cte.py checks those shapes
        against a brute-force fixpoint). Per iteration, UNION-distinct
        costs one distinct exchange plus one anti-join against the
        accumulated result; UNION ALL is exchange-free."""
        memo_key = getattr(q, "memo_key", None) or id(q)
        memo = self._rec_memo.get(memo_key)
        if memo is not None:
            return memo
        rec = q.recursive

        def align(df: DataFrame, row) -> DataFrame:
            cols = df.columns
            return df.select(
                *[
                    F.col(cols[i]).cast(spark_type(t)).alias(n)
                    for i, (n, t) in enumerate(row)
                ]
            )

        def branch(ctx, row) -> DataFrame:
            if isinstance(ctx, SetOpCtx):
                return align(self._setop_branches(ctx, binds), row)
            return align(self.compile_select(ctx, binds), row)

        max_iter = int(
            self.spark.conf.get("spark.sqlpp.recursive.maxIterations", "100")
        )
        orig_catalog = self.catalog
        results: Dict[str, DataFrame] = {}
        try:
            for stratum in rec.strata:
                ms = [rec.members[i] for i in stratum]
                if len(ms) == 1 and ms[0].union_all:
                    # sees earlier strata as completed tables
                    self.catalog = {**orig_catalog, **results}
                    native = self._native_recursive(ms[0], max_iter, binds)
                    if native is not None:
                        results[ms[0].name] = native
                        continue
                frontiers: Dict[str, DataFrame] = {}
                # LAZY localCheckpoint + one count() per frontier: the
                # count job both materializes the blocks and sizes them
                counts: Dict[str, int] = {}
                for m in ms:
                    # bases may reference earlier strata (completed)
                    self.catalog = {**orig_catalog, **results}
                    b = branch(m.base_ctx, m.row)
                    if not m.union_all:
                        b = b.distinct()
                    f = b.localCheckpoint(eager=False)
                    counts[m.name] = f.count()
                    frontiers[m.name] = f
                    results[m.name] = f
                for _i in range(max_iter):
                    if all(c == 0 for c in counts.values()):
                        break
                    new: Dict[str, DataFrame] = {}
                    for m in ms:
                        # a LINEAR step (exactly one cycle reference)
                        # sees every cycle member's PREVIOUS frontier
                        # (tandem semi-naive working tables); a
                        # NON-LINEAR step (two cycle tables, or a
                        # mutual partner referenced twice) re-evaluates
                        # over the ACCUMULATED results, because
                        # delta x delta misses new x old combinations
                        # — the subtract below keeps the re-evaluated
                        # closure terminating (UNION-distinct only,
                        # parser-enforced). Both bindings see earlier
                        # strata's full results.
                        if m.nonlinear:
                            self.catalog = {**orig_catalog, **results}
                            self._fresh_names = frozenset(
                                mm.name for mm in ms
                            )
                        else:
                            self.catalog = {
                                **orig_catalog, **results, **frontiers,
                            }
                        try:
                            nxt = branch(m.step_ctx, m.row)
                        finally:
                            self._fresh_names = frozenset()
                        if not m.union_all:
                            # subtract IS "EXCEPT DISTINCT": it dedups
                            # its left side, so no .distinct() first —
                            # one aggregate exchange per iteration
                            # instead of two
                            nxt = nxt.subtract(results[m.name])
                        new[m.name] = nxt.localCheckpoint(eager=False)
                        counts[m.name] = new[m.name].count()
                    frontiers = new
                    has_nonlinear = any(m.nonlinear for m in ms)
                    for m in ms:
                        if counts[m.name] > 0:
                            merged = results[m.name].union(
                                frontiers[m.name]
                            )
                            if has_nonlinear:
                                # non-linear steps SELF-JOIN the
                                # accumulated table; keep it a flat
                                # LogicalRDD (a growing Union plan
                                # self-joined under subtract trips
                                # Spark's Union constraint rewrite —
                                # NoSuchElementException in
                                # UnionBase.rewriteConstraints) and
                                # cap the re-evaluation plan depth.
                                # Cost: one executor-local rewrite of
                                # the accumulated rows per iteration —
                                # the same order as the accumulated
                                # re-evaluation itself.
                                merged = merged.localCheckpoint(
                                    eager=True
                                )
                            results[m.name] = merged
                else:
                    # the cap is spent; an empty last frontier means
                    # the recursion ended on exactly the last step
                    if any(c > 0 for c in counts.values()):
                        raise not_terminated(
                            max_iter, ", ".join(m.name for m in ms)
                        )
            self.catalog = {**orig_catalog, **results}
            if isinstance(q.ctx, SetOpCtx):
                out = self.compile_setop(q.ctx, binds)
            else:
                out = self.compile_select(q.ctx, binds)
            self._rec_memo[memo_key] = out
            return out
        finally:
            self.catalog = orig_catalog

    def _native_recursive(
        self, m, max_iter: int, binds: Bindings
    ) -> Optional[DataFrame]:
        """One linear UNION ALL member as Spark's native recursive CTE.
        The catalog tables and earlier-stratum results it reads are
        ``spark.sql`` DataFrame kwargs (its formatter creates and drops
        their temp views). None keeps the member on the driver loop:
        the ``spark`` dialect cannot print it, or Spark's (eager, job-
        free) analysis rejects the recursive reference's place."""
        from pyspark.errors import AnalysisException

        from sqlpp_spark.compiler.sqlgen import spark_recursive_sql

        keys: Dict[str, str] = {}

        def frame_key(name: str) -> str:
            if name not in self.catalog:
                raise SqlppError(f"table not registered in catalog: {name}")
            return keys.setdefault(name, f"t{len(keys)}")

        try:
            text = spark_recursive_sql(m, binds.values, frame_key, max_iter)
        except SqlppError:
            return None
        frames = {k: self.catalog[name] for name, k in keys.items()}
        try:
            # spark.sql formats (unescapes braces) only when given kwargs
            return self.spark.sql(text, **frames) if frames else (
                self.spark.sql(text.format())
            )
        except AnalysisException as e:
            if e.getCondition() == "INVALID_RECURSIVE_REFERENCE.PLACE":
                return None
            raise

    # -- set operations (r14) ----------------------------------------------

    def compile_setop(self, sctx: SetOpCtx, binds: Bindings) -> DataFrame:
        """Compound select. Scale shape: UNION ALL is exchange-free
        (plan-level Union of the branch plans); UNION/INTERSECT/EXCEPT
        [ALL] each cost exactly one hash exchange over all output
        columns (Spark lowers distinct-union to HashAggregate and
        intersect/except to left-semi/anti joins) — the same shuffle a
        GROUP BY over the output would pay, with partial (map-side)
        aggregation for the distinct case."""
        df = self._setop_branches(sctx, binds)
        if sctx.order_names:
            df = df.orderBy(
                *[
                    self._order_col(F.col(n), o)
                    for n, o in sctx.order_names
                ]
            )
        return self._limit_offset(df, sctx.node, binds)

    def _setop_branches(self, sctx: SetOpCtx, binds: Bindings) -> DataFrame:
        row = sctx.row()

        def branch(c) -> DataFrame:
            if isinstance(c, SetOpCtx):
                d = self._setop_branches(c, binds)
            else:
                d = self.compile_select(c, binds)
            # positional alignment (standard SQL): rename to the
            # compound row's names and cast to the per-column lub so
            # int/float branches union as double on both engines
            cols = d.columns
            return d.select(
                *[
                    F.col(cols[i]).cast(spark_type(t)).alias(n)
                    for i, (n, t) in enumerate(row)
                ]
            )

        left, right = branch(sctx.left), branch(sctx.right)
        op, all_ = sctx.node.op, sctx.node.all
        if op == "union":
            return left.union(right) if all_ else left.union(right).distinct()
        if op == "intersect":
            return left.intersectAll(right) if all_ else left.intersect(right)
        return left.exceptAll(right) if all_ else left.subtract(right)

    # -- select ------------------------------------------------------------

    def compile_select(self, ctx: SelectCtx, binds: Bindings) -> DataFrame:
        sel = ctx.select
        df = self._compile_from(ctx, sel.from_, binds)

        # WHERE: route IN/EXISTS conjuncts to semi/anti joins
        if sel.where is not None:
            conjuncts = _split_conjuncts(sel.where)
            for c in conjuncts:
                df = self._apply_predicate(df, ctx, c, binds)

        out_fields = [f for f in ctx.fields if f.is_used]

        if sel.group_by is not None:
            df = self._compile_grouped(df, ctx, out_fields, binds)
        else:
            # scalar-position subqueries in the projection
            df, scalar_map = self._attach_scalar_subqueries(
                df, [f.expr for f in out_fields]
                + [o.expr for o in sel.order_by]
                + ([sel.qualify] if sel.qualify is not None else []),
                binds,
            )
            if sel.having is not None:
                raise SqlppError("HAVING without GROUP BY")
            cols = [
                self.expr(f.expr, binds, scalar_map).alias(f.out_name) for f in out_fields
            ]
            if not cols:
                cols = [F.lit(1).alias("_dummy")]
            if getattr(sel, "distinct_on", None):
                # r16: DISTINCT ON — keep the first row per ON-group
                # in ORDER BY order (analyzer pinned PG's
                # leading-keys rule and forbade windows, so the
                # pre-projection filter is exact). ONE window
                # exchange on the ON keys.
                on_cols = [
                    self.expr(x, binds, scalar_map)
                    for x in sel.distinct_on
                ]
                tie = [
                    self._order_col(
                        self.expr(o.expr, binds, scalar_map), o
                    )
                    for o in sel.order_by[len(sel.distinct_on):]
                ]
                from pyspark.sql import Window as SW

                w = SW.partitionBy(*on_cols).orderBy(
                    *(tie if tie else [F.lit(1)])
                )
                rn = self._fresh("__don")
                df = (
                    df.withColumn(rn, F.row_number().over(w))
                    .filter(F.col(rn) == 1)
                    .drop(rn)
                )
            if sel.distinct:
                # Standard SQL: DISTINCT dedups the projected rows
                # BEFORE ORDER BY/LIMIT apply (so LIMIT n returns n
                # distinct rows, and ordering survives the dedup
                # shuffle). ORDER BY must reference select-list items.
                # QUALIFY (r15): filter BEFORE the dedup, windows over
                # the pre-filter rows (DuckDB's logical order).
                df = self._distinct_qualify(df, cols, sel, binds, scalar_map)
                if sel.order_by:
                    df = df.orderBy(
                        *[
                            self._order_col(
                                self._distinct_order_ref(o, out_fields), o
                            )
                            for o in sel.order_by
                        ]
                    )
                return self._limit_offset(df, sel, binds)
            # late r14 (ordering bug fix): the projection — where
            # window functions live — must evaluate BEFORE ORDER BY
            # and LIMIT. The old sort→limit→project tail computed
            # windows over post-LIMIT rows and let WindowExec's
            # internal sort destroy the outer ORDER BY. Project first
            # (ORDER BY exprs as __obN helper columns in the SAME
            # select, so they can still reference base columns), then
            # sort on the helpers, then limit, then drop them —
            # Catalyst prunes the helpers after the Sort, so the
            # exchanges are unchanged.
            df = self._project_order_limit(
                df, cols, sel, binds, scalar_map
            )
        return df

    def _distinct_qualify(
        self, df: DataFrame, cols, sel, binds: Bindings, scalar_map,
        subst=None,
    ) -> DataFrame:
        """SELECT DISTINCT projection, with the optional QUALIFY
        filter applied BEFORE the dedup over the pre-filter windows
        (r15 — DuckDB's logical order: WINDOW → QUALIFY → DISTINCT)."""
        if sel.qualify is not None:
            qual = self.expr(sel.qualify, binds, scalar_map, subst)
            df = (
                df.select(*cols, qual.alias("__qual"))
                .filter(F.col("__qual"))
                .drop("__qual")
                .distinct()
            )
        else:
            df = df.select(*cols).distinct()
        return df

    def _project_order_limit(
        self, df: DataFrame, cols, sel, binds: Bindings, scalar_map,
        subst=None,
    ) -> DataFrame:
        """project → QUALIFY filter → ORDER BY (helper cols) →
        LIMIT/OFFSET → drop helpers — the SQL-semantic tail shared by
        the grouped and ungrouped select compilers.

        QUALIFY (r15 fix): output fields, the ``__ob`` ORDER BY
        helpers and the ``__qual`` predicate are all evaluated in ONE
        select over the pre-filter frame, then the filter runs on
        ``__qual`` — so every window function (projection, ORDER BY,
        and the QUALIFY predicate itself) sees the same pre-QUALIFY
        row set. This mirrors the printer's wrapped-subselect form
        (sqlgen.py:_select_qualify) and DuckDB's native QUALIFY; the
        r14 shape filtered BEFORE projection, which silently
        re-numbered projection windows over post-filter rows."""
        ob = []
        for i, o in enumerate(sel.order_by or []):
            c = self.expr(o.expr, binds, scalar_map, subst)
            ob.append((f"__ob{i}", c, o))
        qual = (
            [self.expr(sel.qualify, binds, scalar_map, subst).alias("__qual")]
            if sel.qualify is not None
            else []
        )
        df = df.select(*cols, *qual, *[c.alias(n) for n, c, _o in ob])
        if qual:
            df = df.filter(F.col("__qual"))
        if ob:
            df = df.orderBy(
                *[self._order_col(F.col(n), o) for n, _c, o in ob]
            )
        df = self._limit_offset(df, sel, binds)
        helpers = [n for n, _c, _o in ob] + (["__qual"] if qual else [])
        if helpers:
            df = df.drop(*helpers)
        return df

    @staticmethod
    def _distinct_order_ref(o: A.OrderItem, out_fields: List[A.Field]) -> Column:
        k = expr_key(o.expr)
        for f in out_fields:
            if expr_key(f.expr) == k:
                return F.col(f.out_name)
        raise SqlppError(
            "for SELECT DISTINCT, ORDER BY expressions must appear in the "
            "select list",
            getattr(o.expr, "loc", None),
        )

    def _compile_grouped(
        self, df: DataFrame, ctx: SelectCtx, out_fields: List[A.Field], binds: Bindings
    ) -> DataFrame:
        sel = ctx.select
        # 1. collect distinct aggregate applications across outputs,
        #    having and order-by
        exprs: List[A.Expr] = [f.expr for f in out_fields]
        if sel.having is not None:
            exprs.append(sel.having)
        if sel.qualify is not None:
            exprs.append(sel.qualify)
        exprs.extend(o.expr for o in sel.order_by)
        agg_apps: Dict[tuple, A.EApp] = {}
        for e in exprs:
            for app in _iter_agg_apps(e):
                agg_apps.setdefault(expr_key(app), app)
        # 2. group columns (elaborated group expressions)
        gcols = [
            self.expr(g, binds, {}).alias(f"__g{i}") for i, g in enumerate(ctx.group_exprs)
        ]
        acols = [
            self._agg_column(app, binds).alias(f"__a{j}")
            for j, (k, app) in enumerate(agg_apps.items())
        ]
        subst: Dict[tuple, str] = {}
        for i, g in enumerate(ctx.group_exprs):
            subst[expr_key(g)] = f"__g{i}"
        for j, k in enumerate(agg_apps.keys()):
            subst[k] = f"__a{j}"
        kind = getattr(sel, "group_kind", "plain")
        if gcols:
            if kind != "plain":
                # r14 ROLLUP/CUBE/GROUPING SETS: grouping() and set
                # matching require PLAIN attribute references (aliased
                # grouping expressions get fresh exprIds and never
                # semantically match) — pre-project the group exprs as
                # __gN columns, then group on the attributes
                for i, g in enumerate(ctx.group_exprs):
                    df = df.withColumn(f"__g{i}", self.expr(g, binds, {}))
                attrs = [F.col(f"__g{i}") for i in range(len(gcols))]
                if kind == "rollup":
                    gb = df.rollup(*attrs)
                elif kind == "cube":
                    gb = df.cube(*attrs)
                else:
                    sets = [
                        [attrs[i] for i in idxs]
                        for idxs in (sel.group_sets or [])
                    ]
                    gb = df.groupingSets(sets, *attrs)
                # grouping() aggregates reference the same attributes
                acols = [
                    (
                        F.grouping(
                            F.col(
                                f"__g{self._group_idx(ctx, app.args[0])}"
                            )
                        ).cast("bigint")
                        if app.fn.lower() == "grouping"
                        else self._agg_column(app, binds)
                    ).alias(f"__a{j}")
                    for j, app in enumerate(agg_apps.values())
                ]
            else:
                gb = df.groupBy(*gcols)
            grouped = gb.agg(*acols) if acols else gb.agg(
                F.count(F.lit(1)).alias("__cnt_dummy")
            )
            if kind in ("rollup", "cube") or (
                kind == "sets"
                and any(len(s) == 0 for s in (sel.group_sets or []))
            ):
                # Standard-SQL corner Spark gets wrong: ROLLUP/CUBE/
                # GROUPING SETS with a () set must emit the grand-
                # total row even over EMPTY input (DuckDB/PG do;
                # Spark's Expand yields zero rows). The aggregate
                # values over an empty input are CONSTANTS per
                # function (count → 0, grouping → 1, sum/min/max/avg
                # → NULL), so the fallback row is pure literals gated
                # on a LIMIT-1 existence probe of the input — the
                # probe branch reads at most ONE row (GlobalLimit
                # early-exit), never a second full scan (plan-pinned).
                apps = list(agg_apps.values())

                def grand_lit(fname: str, ftype) -> Column:
                    if fname.startswith("__g") or fname == "__qual":
                        return F.lit(None).cast(ftype)
                    if fname == "__cnt_dummy":
                        return F.lit(0).cast(ftype)
                    fnl = apps[int(fname[3:])].fn.lower()
                    if fnl in ("count", "count_distinct"):
                        return F.lit(0).cast(ftype)
                    if fnl == "grouping":
                        return F.lit(1).cast(ftype)
                    return F.lit(None).cast(ftype)

                empty_marker = (
                    df.select(F.lit(1).alias("__probe"))
                    .limit(1)
                    .agg(F.count(F.lit(1)).alias("__n"))
                    .filter(F.col("__n") == 0)
                )
                fallback = empty_marker.select(
                    *[
                        grand_lit(f.name, f.dataType).alias(f.name)
                        for f in grouped.schema.fields
                    ]
                )
                # GROUPING SETS ((), ()) emits one grand-total row PER
                # empty set on DuckDB/PG (r15; Spark's Expand agrees on
                # non-empty input) — union the fallback once per empty
                # set. ROLLUP/CUBE have exactly one.
                n_empty = (
                    sum(1 for s in (sel.group_sets or []) if len(s) == 0)
                    if kind == "sets"
                    else 1
                )
                for _ in range(n_empty):
                    grouped = grouped.unionByName(fallback)
        else:
            # GROUP BY () — global aggregation (parser.mly:258)
            grouped = df.agg(*acols) if acols else df.agg(F.count(F.lit(1)).alias("__cnt_dummy"))
            # GROUPING SETS with ONLY empty sets lands here (no group
            # columns at all) — DuckDB/PG emit one global-agg row per
            # set (r15), so union the single-row aggregate with itself
            # per extra set. Self-union of a 1-row global aggregate:
            # AQE reuses the exchange, no second base scan at scale.
            if getattr(sel, "group_kind", "plain") == "sets":
                base = grouped
                for _ in range(len(sel.group_sets or []) - 1):
                    grouped = grouped.unionByName(base)
        # scalar subqueries in grouped projection/HAVING/ORDER BY
        # (r12): attach to the POST-aggregation frame — uncorrelated
        # subs broadcast as before; correlated subs must correlate on
        # group expressions (checked via subst inside the attach)
        grouped, scalar_map = self._attach_scalar_subqueries(
            grouped, exprs, binds, subst
        )
        if sel.having is not None:
            grouped = grouped.filter(
                self.expr(sel.having, binds, scalar_map, subst)
            )
        # QUALIFY over a grouped select evaluates inside
        # _project_order_limit alongside the projection windows (r15
        # fix — see that method's docstring), post-HAVING.
        cols = [
            self.expr(f.expr, binds, scalar_map, subst).alias(f.out_name)
            for f in out_fields
        ]
        if not cols:
            cols = [F.lit(1).alias("_dummy")]
        if sel.distinct:
            grouped = self._distinct_qualify(
                grouped, cols, sel, binds, scalar_map, subst
            )
            if sel.order_by:
                grouped = grouped.orderBy(
                    *[
                        self._order_col(self._distinct_order_ref(o, out_fields), o)
                        for o in sel.order_by
                    ]
                )
            return self._limit_offset(grouped, sel, binds)
        # same SQL-semantic tail as the ungrouped path (late r14):
        # project (windows over the aggregated rows) BEFORE sort/limit
        return self._project_order_limit(
            grouped, cols, sel, binds, scalar_map, subst
        )

    def _limit_offset(self, df: DataFrame, sel: A.Select, binds: Bindings) -> DataFrame:
        if sel.offset is not None:
            df = df.offset(_const_int(sel.offset, binds))
        if sel.limit is not None:
            df = df.limit(_const_int(sel.limit, binds))
        return df

    @staticmethod
    def _order_col(col: Column, o: A.OrderItem) -> Column:
        # pinned NULL ordering (ast.OrderItem.nulls): NULLS LAST for
        # BOTH directions unless the query says otherwise (DuckDB's
        # rule — the oracle engine, so raw dialect source stays
        # differential-testable). Spark's implicit defaults
        # (asc→nulls FIRST) diverge, so the engine is always explicit.
        nulls = o.nulls or "last"
        if o.desc:
            return col.desc_nulls_first() if nulls == "first" \
                else col.desc_nulls_last()
        return col.asc_nulls_first() if nulls == "first" \
            else col.asc_nulls_last()

    # -- FROM --------------------------------------------------------------

    def _compile_from(self, ctx: SelectCtx, fr, binds: Bindings) -> DataFrame:
        if fr is None:
            return self.spark.range(1).select(F.lit(1).alias("__one"))
        return self._compile_from_node(ctx, fr, binds)

    def _compile_from_node(self, ctx: SelectCtx, fr, binds: Bindings) -> DataFrame:
        if isinstance(fr, A.FromJoin):
            left = self._compile_from_node(ctx, fr.left, binds)
            if isinstance(fr.right, A.FromSelect) and fr.right.lateral:
                return self._join_lateral(fr, left, binds)
            right = self._compile_from_node(ctx, fr.right, binds)
            if fr.kind == "cross":
                # no ON — Catalyst plans a cartesian (AQE may still
                # broadcast a small side into BroadcastNestedLoopJoin)
                return left.crossJoin(right)
            on = self.expr(fr.on, binds, {})
            # kinds map 1:1 onto Spark join types; "full" keeps both
            # sides' unmatched rows (FullOuter in the plan)
            return left.join(right, on=on, how=fr.kind)
        if isinstance(fr, A.FromSeries):
            # spark.range: exclusive end, so widen by one step-sign to
            # match the INCLUSIVE DuckDB/PG convention; Spark splits a
            # range across executors, so the spine parallelizes at any
            # size without a data source
            start = _const_int(fr.start, binds)
            stop = _const_int(fr.stop, binds)
            step = _const_int(fr.step, binds) if fr.step is not None else 1
            if step == 0:
                raise SqlppError("generate_series step must be nonzero",
                                 fr.loc)
            end = stop + (1 if step > 0 else -1)
            df = self.spark.range(start, end, step)
            return df.select(F.col("id").alias(fr.col)).alias(fr.alias)
        if isinstance(fr, A.FromTable):
            name = fr.alias or fr.table
            df = self.catalog.get(fr.table)
            if df is None:
                raise SqlppError(f"table not registered in catalog: {fr.table}")
            if fr.table in self._fresh_names:
                # non-linear recursive steps (r19) reference the same
                # accumulated table twice; a fresh-exprId projection
                # per LOOKUP keeps the two join sides independent
                # plans (Spark's self-join attribute dedup leaves
                # stale exprIds in the plan constraints, which the
                # localCheckpoint constraint rewrite then trips over)
                df = df.select(*[F.col(c).alias(c) for c in df.columns])
            return df.alias(name)
        if isinstance(fr, A.FromSelect):
            rel = ctx.rels[fr.alias]
            if isinstance(rel, RecQueryRel):  # recursive view (r17)
                return self._compile_recursive(rel.info, binds).alias(
                    fr.alias
                )
            if isinstance(rel, SetOpRel):  # FROM (compound) AS a (r14)
                return self.compile_setop(rel.sctx, binds).alias(fr.alias)
            assert isinstance(rel, SelectRel)
            sub = self.compile_select(rel.ctx, binds)
            return sub.alias(fr.alias)
        raise SqlppError(f"bad from node {type(fr).__name__}")

    def _join_lateral(self, fr: "A.FromJoin", left: DataFrame,
                      binds: Bindings) -> DataFrame:
        """JOIN LATERAL decorrelation (r17). The analyzer lifted the
        body's outer-referencing comparison conjuncts into corr
        triples, so the body compiles ONCE as an ordinary frame and
        joins back: equality conjuncts become hash keys, thetas
        residual join conditions (Catalyst splits them). An ORDER BY +
        LIMIT/OFFSET body (equality-corr only, analyzer-enforced)
        windows BEFORE the join — row_number per correlation key —
        the classic distributed top-k-per-key: one window exchange on
        the body side, one equi-join, never a per-outer-row rescan.
        CROSS JOIN LATERAL is an inner join on the correlation;
        LEFT JOIN LATERAL ... ON <cond> ANDs the ON clause into the
        join condition and preserves outer rows."""
        lat = fr.right
        sub_ctx, corr = lat.sub_ctx, lat.corr
        sel = sub_ctx.select
        if sel.group_by is not None or getattr(sel, "group_all", False):
            return self._join_lateral_agg(fr, left, binds)
        alias = self._fresh("__lat")
        keys = [f"{alias}_k{i}" for i in range(len(corr))]
        # DISTINCT under a THETA correlation must dedup PER OUTER ROW
        # (r17 advisor, high): the key-distinct pre-reduction in
        # _corr_sub_frame dedups (fields + correlation key) globally,
        # so one outer row matching the same field value under two
        # different key values would see it twice. Tag each outer row
        # with a unique id; after the join every column is
        # functionally determined by (id, body fields), so a full-row
        # distinct IS the per-probe dedup — no name-ambiguous
        # dropDuplicates needed. Equality-only correlation skips this:
        # there the global (fields + keys) distinct already coincides
        # with per-probe distinct.
        theta_distinct = bool(sel.distinct) and any(
            op != "=" for op, _ie, _oe in corr
        )
        rid = f"{alias}_rid"
        if theta_distinct:
            left = left.withColumn(rid, F.monotonically_increasing_id())
        if sel.limit is None and sel.offset is None:
            sub, keys = self._corr_sub_frame(
                sub_ctx, corr, alias, binds, extra_fields=True
            )
        elif any(op != "=" for op, _ie, _oe in corr):
            # r19: single ordered theta correlation (analyzer-
            # enforced) — banded per-probe top-k
            return self._join_lateral_theta_topk(fr, left, binds)
        else:
            # top-k per key: rebuild FROM + residual WHERE (the _corr
            # conjuncts live in the join condition), carry the ORDER
            # BY expressions as extra columns (they may reference
            # non-projected body columns), window, filter, drop
            sub = self._compile_from(sub_ctx, sel.from_, binds)
            if sel.where is not None:
                for conj in _split_conjuncts(sel.where):
                    if getattr(conj, "_corr", False):
                        continue
                    sub = self._apply_predicate(sub, sub_ctx, conj, binds)
            fields = [f for f in sub_ctx.fields if f.is_used]
            cols = [
                self.expr(f.expr, binds, {}).alias(f.out_name)
                for f in fields
            ]
            kcols = [
                self.expr(ie, binds, {}).alias(kn)
                for kn, (_op, ie, _oe) in zip(keys, corr)
            ]
            onames = [f"{alias}_o{i}" for i in range(len(sel.order_by))]
            ocols = [
                self.expr(o.expr, binds, {}).alias(n)
                for n, o in zip(onames, sel.order_by)
            ]
            sub = sub.select(*cols, *kcols, *ocols)
            lo = _const_int(sel.offset, binds) if sel.offset is not None else 0
            hi = (
                lo + _const_int(sel.limit, binds)
                if sel.limit is not None else None
            )
            order = [
                self._order_col(F.col(n), o)
                for n, o in zip(onames, sel.order_by)
            ]
            if keys:
                from pyspark.sql import Window as W

                w = W.partitionBy(*[F.col(k) for k in keys]).orderBy(*order)
                rn = f"{alias}_rn"
                sub = sub.withColumn(rn, F.row_number().over(w))
                cond = F.col(rn) > lo
                if hi is not None:
                    cond = cond & (F.col(rn) <= hi)
                sub = sub.where(cond).drop(rn, *onames)
            else:
                # uncorrelated body: a plain global top-k
                sub = sub.orderBy(*order)
                if lo:
                    sub = sub.offset(lo)
                if sel.limit is not None:
                    sub = sub.limit(_const_int(sel.limit, binds))
                sub = sub.drop(*onames)
        sub = sub.alias(lat.alias)
        cond = self._and_corr_cond(None, corr, alias, binds)
        if fr.kind != "cross" and not (
            isinstance(fr.on, A.ELit) and fr.on.value is True
        ):
            on = self.expr(fr.on, binds, {})
            cond = on if cond is None else (cond & on)
        how = "inner" if fr.kind == "cross" else fr.kind
        if cond is None:
            out = (
                left.crossJoin(sub) if how == "inner"
                else left.join(sub, on=F.lit(True), how=how)
            )
        else:
            out = left.join(sub, on=cond, how=how)
        if theta_distinct:
            # the internal correlation-key columns distinguish rows
            # that are duplicates from the user's point of view (the
            # advisor's repro: amt=75 under two different key values)
            # — drop them before the full-row distinct
            out = out.drop(*keys).distinct().drop(rid)
        return out

    def _join_lateral_theta_topk(self, fr: "A.FromJoin", left: DataFrame,
                                 binds: Bindings) -> DataFrame:
        """Theta-correlated LATERAL top-k (r19, r18 verdict task 2) —
        the last LATERAL shape the engine rejected:

            ... FROM o CROSS JOIN LATERAL
                (SELECT s.a FROM s WHERE s.v < o.val
                 ORDER BY s.price DESC LIMIT k) AS x

        Per outer row: the top-k (by the body ORDER BY) of the sub
        rows satisfying a SINGLE ordered theta correlation
        (analyzer-enforced: exactly one of <, <=, >, >=; no equality
        mixing). The result depends only on the PROBE VALUE (the
        outer side of the theta), so the engine evaluates per
        DISTINCT probe value and equi-joins back — never a
        per-outer-row rescan.

        Two strategies, same chooser policy as the quantifier band
        join (_theta_cells_banded):

        NESTED LOOP (below threshold): distinct probes x sub theta
        join, one window per probe value — D*S comparisons, correct
        and cheapest at small sizes.

        BANDED (D*S >= spark.sqlpp.lateral.bandedThreshold, default
        1e8): width_bucket the sub's theta key into NB value buckets.
        For a probe in bucket p under `<`, every sub row in a
        STRICTLY lower bucket satisfies the theta by construction
        (sub.v < bucket_start(p) <= o.val), so the candidate set is
        (all lower buckets) UNION (own bucket, theta-checked):
        1. per-bucket top-h rows (h = offset+limit; ONE window over
           sub partitioned by bucket) -> S' with <= NB*h rows
           (metadata scale, broadcastable);
        2. prefix completion: for each bucket p, the top-h of S'
           rows strictly below (above, for >/>=) p — a spine join
           (NB+2 buckets x S', bounded by NB^2*h/2 rows independent
           of data size; NB auto-shrinks to keep this ~8e6) plus one
           window per bucket. Sound+complete: the true top-h of a
           union of buckets is contained in the union of per-bucket
           top-h sets;
        3. candidates per probe = broadcast-join its bucket's prefix
           top-h + the in-bucket theta-checked rows (the D*S/NB
           residual term — the only data-dependent comparisons);
        4. final window per probe value, row_number in
           (offset, offset+limit].
        OFFSET without LIMIT cannot bound the per-bucket windows —
        it stays on the nested loop (documented).

        A NULL probe value satisfies no theta: CROSS drops the outer
        row, LEFT keeps it with a NULL body side — both fall out of
        the plain-equality join-back. Sub rows with a NULL theta key
        are dropped up front.

        CAVEAT: like the quantifier chooser, this runs bounded eager
        jobs at plan time (sub count, probe checkpoint+count, 1-row
        min/max)."""
        lat = fr.right
        sub_ctx, corr = lat.sub_ctx, lat.corr
        sel = sub_ctx.select
        theta_ix = next(
            i for i, (o, _ie, _oe) in enumerate(corr) if o != "="
        )
        op, ie, oe = corr[theta_ix]
        eqs = [c for i, c in enumerate(corr) if i != theta_ix]
        alias = self._fresh("__latt")
        pv = f"{alias}_pv"
        key = f"{alias}_k"
        ekn = [f"{alias}_ek{i}" for i in range(len(eqs))]  # sub side
        epn = [f"{alias}_ep{i}" for i in range(len(eqs))]  # probe side
        # body frame: FROM + residual (non-corr) WHERE, projected
        # fields + correlation keys + order columns
        sub = self._compile_from(sub_ctx, sel.from_, binds)
        if sel.where is not None:
            for conj in _split_conjuncts(sel.where):
                if getattr(conj, "_corr", False):
                    continue
                sub = self._apply_predicate(sub, sub_ctx, conj, binds)
        fields = [f for f in sub_ctx.fields if f.is_used]
        cols = [
            self.expr(f.expr, binds, {}).alias(f.out_name)
            for f in fields
        ]
        fnames = [f.out_name for f in fields]
        onames = [f"{alias}_o{i}" for i in range(len(sel.order_by))]
        ocols = [
            self.expr(o.expr, binds, {}).alias(n)
            for n, o in zip(onames, sel.order_by)
        ]
        ekcols = [
            self.expr(eie, binds, {}).alias(n)
            for n, (_op, eie, _oe) in zip(ekn, eqs)
        ]
        sub = sub.select(
            *cols, self.expr(ie, binds, {}).alias(key), *ekcols, *ocols
        ).where(F.col(key).isNotNull())
        order = [
            self._order_col(F.col(n), o)
            for n, o in zip(onames, sel.order_by)
        ]
        lo = _const_int(sel.offset, binds) if sel.offset is not None else 0
        hi = (
            lo + _const_int(sel.limit, binds)
            if sel.limit is not None else None
        )
        pv_expr = self.expr(oe, binds, {})
        ep_exprs = [
            self.expr(eoe, binds, {}) for _op, _ie, eoe in eqs
        ]
        if eqs:
            # MIXED equality + theta (r19): the equality keys hash-
            # partition the work — the same join shape the non-LIMIT
            # eq+theta lateral already runs — so the per-probe-tuple
            # window costs D_g x S_g per equality group, never the
            # global D x S quadratic. Probe = distinct
            # (eq keys..., theta value) tuples; NULL in any probe
            # column matches nothing (plain = / theta on NULL) and is
            # excluded up front.
            probes = left.select(
                *[e.alias(n) for e, n in zip(ep_exprs, epn)],
                pv_expr.alias(pv),
            )
            notnull = F.col(pv).isNotNull()
            for n in epn:
                notnull = notnull & F.col(n).isNotNull()
            probes = probes.where(notnull).distinct()
            jcond = self._cmp_col(op, F.col(key), F.col(pv))
            for sk, pk in zip(ekn, epn):
                jcond = (F.col(sk) == F.col(pk)) & jcond
            joined = probes.join(sub, on=jcond, how="inner")
            from pyspark.sql import Window as W

            rn = f"{pv}_rn"
            pw = W.partitionBy(
                *[F.col(n) for n in epn], F.col(pv)
            ).orderBy(*order)
            out = joined.withColumn(rn, F.row_number().over(pw))
            fcond = F.col(rn) > lo
            if hi is not None:
                fcond = fcond & (F.col(rn) <= hi)
            res = out.where(fcond).select(*epn, F.col(pv), *fnames)
        else:
            probes = (
                left.select(pv_expr.alias(pv))
                .where(F.col(pv).isNotNull())
                .distinct()
            )
            res = self._theta_topk_frame(
                sub, probes, op, key, pv, fnames, onames, order, lo, hi,
            )
        res = res.alias(lat.alias)
        cond = pv_expr == F.col(f"{lat.alias}.{pv}")
        for e, n in zip(ep_exprs, epn):
            cond = (e == F.col(f"{lat.alias}.{n}")) & cond
        if fr.kind != "cross" and not (
            isinstance(fr.on, A.ELit) and fr.on.value is True
        ):
            cond = cond & self.expr(fr.on, binds, {})
        how = "inner" if fr.kind == "cross" else fr.kind
        return left.join(res, on=cond, how=how).drop(pv, *epn)

    def _theta_topk_frame(
        self, sub: DataFrame, probes: DataFrame, op: str, key: str,
        pv: str, fnames: List[str], onames: List[str], order, lo: int,
        hi: Optional[int],
    ) -> DataFrame:
        """Per-distinct-probe top-k rows of ``sub`` under
        ``sub[key] <op> probe[pv]`` — strategy chooser + both
        lowerings for _join_lateral_theta_topk. Returns a frame of
        (pv, *fnames)."""
        from pyspark.sql import Window as W
        from pyspark.sql.types import NumericType

        conf = self.spark.conf
        threshold = float(
            conf.get("spark.sqlpp.lateral.bandedThreshold", "1e8")
        )
        sub_floor = int(
            conf.get("spark.sqlpp.lateral.bandedSubFloor", "10000")
        )
        nb = int(conf.get("spark.sqlpp.lateral.bandedBuckets", "1024"))

        def mono(dt) -> Optional[object]:
            # monotone double view of the theta key for width_bucket:
            # numerics cast directly; DATE/TIMESTAMP (the as-of-join
            # case) go through epoch seconds — bucketing only needs
            # ANY monotone numeric view, the residual theta still
            # compares the original values
            from pyspark.sql.types import DateType, TimestampType

            if isinstance(dt, NumericType):
                return lambda c: c.cast("double")
            if isinstance(dt, (DateType, TimestampType)):
                return lambda c: c.cast("timestamp").cast("double")
            return None

        key_num = mono(sub.schema[key].dataType)
        pv_num = mono(probes.schema[pv].dataType)
        banded = False
        if key_num is not None and pv_num is not None and hi is not None:
            s_rows = sub.count()
            if s_rows >= sub_floor:
                probes = probes.localCheckpoint(eager=True)
                d_rows = probes.count()
                banded = d_rows * s_rows >= threshold
        rn = f"{pv}_rn"
        pw = W.partitionBy(F.col(pv)).orderBy(*order)

        def take(frame: DataFrame) -> DataFrame:
            out = frame.withColumn(rn, F.row_number().over(pw))
            cond = F.col(rn) > lo
            if hi is not None:
                cond = cond & (F.col(rn) <= hi)
            return out.where(cond).select(F.col(pv), *fnames)

        if not banded:
            joined = probes.join(
                sub, on=self._cmp_col(op, F.col(key), F.col(pv)),
                how="inner",
            )
            return take(joined)
        # ---- banded ----
        lohi = sub.agg(
            F.min(key_num(F.col(key))).alias("lo"),
            F.max(key_num(F.col(key))).alias("hi"),
        ).collect()[0]
        klo, khi = float(lohi["lo"]), float(lohi["hi"])
        if khi <= klo:
            khi = klo + 1.0
        # keep the prefix fan-out (<= nb^2 * h / 2 rows) bounded ~8e6
        nb = max(8, min(nb, int((1.6e7 / max(hi, 1)) ** 0.5)))

        def bkt(c: Column) -> Column:
            return F.width_bucket(c, F.lit(klo), F.lit(khi), F.lit(nb))

        sb, pb, bp = f"{pv}_sb", f"{pv}_pb", f"{pv}_bp"
        sub_b = sub.withColumn(
            sb, bkt(key_num(F.col(key))).cast("int")
        )
        probes_b = probes.withColumn(
            pb, bkt(pv_num(F.col(pv))).cast("int")
        )
        bw = W.partitionBy(F.col(sb)).orderBy(*order)
        sprime = (
            sub_b.withColumn(rn, F.row_number().over(bw))
            .where(F.col(rn) <= hi)
            .drop(rn)
            .localCheckpoint(eager=True)
        )
        # prefix completion WITHOUT a non-equi join: each per-bucket
        # top-h row fans out map-side (sequence+explode) to every
        # bucket it is strictly below (above, for >/>=), then one
        # window per target bucket keeps that bucket's top-h — every
        # join in the banded plan stays a HASH equi-join
        span = (
            F.sequence(F.col(sb) + 1, F.lit(nb + 1))
            if op in ("<", "<=")
            else F.sequence(F.lit(0), F.col(sb) - 1)
        )
        prefw = W.partitionBy(F.col(bp)).orderBy(*order)
        prefix = (
            sprime.withColumn(bp, F.explode(span))
            .withColumn(rn, F.row_number().over(prefw))
            .where(F.col(rn) <= hi)
            .drop(rn)
        )
        cand1 = probes_b.join(
            F.broadcast(prefix), on=F.col(pb) == F.col(bp), how="inner"
        ).select(F.col(pv), *fnames, *onames)
        cand2 = probes_b.join(
            sub_b,
            on=(F.col(sb) == F.col(pb))
            & self._cmp_col(op, F.col(key), F.col(pv)),
            how="inner",
        ).select(F.col(pv), *fnames, *onames)
        return take(cand1.unionByName(cand2))

    def _join_lateral_agg(self, fr: "A.FromJoin", left: DataFrame,
                          binds: Bindings) -> DataFrame:
        """Aggregated LATERAL body (r18, r17 verdict task 3) — the
        most common LATERAL shape after top-k:

            ... FROM o CROSS JOIN LATERAL
                (SELECT count(1) AS n FROM t WHERE t.k = o.k
                 GROUP BY ()) AS x

        Lowered through the same decorrelation shape the correlated
        scalar subqueries use (analyzer enforces equality-only
        correlation): the body compiles ONCE — FROM + residual WHERE,
        then ONE hash aggregate grouped by (correlation keys + body
        group keys) — and equi-joins back. Never a per-outer-row
        rescan.

        GLOBAL bodies (GROUP BY () / no group keys) follow SQL's
        one-row-even-when-empty rule: the grouped frame densifies
        over the DISTINCT outer key tuples (one left join at
        |distinct keys| scale), count-family cells complete to 0
        (every other SQL aggregate is NULL over the empty set, which
        the left join already yields), HAVING filters the COMPLETED
        rows, and the final join is null-safe on the keys (a NULL
        outer key legitimately owns its empty-group row). CROSS then
        stays an inner join that preserves every outer row; LEFT
        JOIN LATERAL ... ON <cond> NULLs the body exactly when the
        ON clause fails, not when the group is empty.

        KEYED bodies (GROUP BY <exprs>) need no completion — empty
        groups produce no rows, so CROSS drops the outer row and
        LEFT preserves it with NULLs, both per SQL."""
        lat = fr.right
        sub_ctx, corr = lat.sub_ctx, lat.corr
        sel = sub_ctx.select
        alias = self._fresh("__lag")
        s = self._compile_from(sub_ctx, sel.from_, binds)
        if sel.where is not None:
            for conj in _split_conjuncts(sel.where):
                if getattr(conj, "_corr", False):
                    continue
                s = self._apply_predicate(s, sub_ctx, conj, binds)
        fields = [f for f in sub_ctx.fields if f.is_used]
        exprs = [f.expr for f in fields]
        if sel.having is not None:
            exprs.append(sel.having)
        agg_apps: Dict[tuple, A.EApp] = {}
        for e in exprs:
            for app in _iter_agg_apps(e):
                agg_apps.setdefault(expr_key(app), app)
        keys = [f"{alias}_k{i}" for i in range(len(corr))]
        kcols = [
            self.expr(ie, binds, {}).alias(kn)
            for kn, (_op, ie, _oe) in zip(keys, corr)
        ]
        group_exprs = sub_ctx.group_exprs
        gnames = [f"{alias}_g{i}" for i in range(len(group_exprs))]
        gcols = [
            self.expr(g, binds, {}).alias(n)
            for n, g in zip(gnames, group_exprs)
        ]
        anames = [f"{alias}_a{j}" for j in range(len(agg_apps))]
        acols = [
            self._agg_column(app, binds).alias(n)
            for n, app in zip(anames, agg_apps.values())
        ]
        subst: Dict[tuple, str] = {
            expr_key(g): n for n, g in zip(gnames, group_exprs)
        }
        for n, k in zip(anames, agg_apps.keys()):
            subst[k] = n
        grouped = s.groupBy(*kcols, *gcols).agg(
            *(acols or [F.count(F.lit(1)).alias(f"{alias}_cntd")])
        )
        null_safe = False
        if not group_exprs and keys:
            outer_cols = [
                self.expr(oe, binds, {}) for _op, _ie, oe in corr
            ]
            dkeys = left.select(
                *[c.alias(n) for c, n in zip(outer_cols, keys)]
            ).distinct()
            dense = dkeys.join(grouped, on=keys, how="left")
            for n, app in zip(anames, agg_apps.values()):
                if app.fn.lower() in (
                    "count", "count_distinct", "approx_count_distinct",
                    "count_if",
                ):
                    dense = dense.withColumn(
                        n, F.coalesce(F.col(n), F.lit(0))
                    )
            grouped = dense
            null_safe = True
        if sel.having is not None:
            grouped = grouped.filter(
                self.expr(sel.having, binds, {}, subst)
            )
        sub = grouped.select(
            *[F.col(kn) for kn in keys],
            *[
                self.expr(f.expr, binds, {}, subst).alias(f.out_name)
                for f in fields
            ],
        ).alias(lat.alias)
        cond = None
        for i, (_op, _ie, oe) in enumerate(corr):
            oc = self.expr(oe, binds, {})
            kc = F.col(keys[i])
            c = oc.eqNullSafe(kc) if null_safe else (oc == kc)
            cond = c if cond is None else (cond & c)
        if fr.kind != "cross" and not (
            isinstance(fr.on, A.ELit) and fr.on.value is True
        ):
            on = self.expr(fr.on, binds, {})
            cond = on if cond is None else (cond & on)
        how = "inner" if fr.kind == "cross" else fr.kind
        if cond is None:
            # uncorrelated global aggregate: exactly one body row
            return (
                left.crossJoin(sub) if how == "inner"
                else left.join(sub, on=F.lit(True), how=how)
            )
        return left.join(sub, on=cond, how=how)

    # -- predicates with subqueries ---------------------------------------

    def _compile_sub(self, ctx, binds: Bindings) -> DataFrame:
        """Compile an IN/EXISTS subquery body — plain select or (r15)
        compound; compounds reach here uncorrelated only (the analyzer
        rejects correlated compounds with a targeted error)."""
        if isinstance(ctx, SetOpCtx):
            return self.compile_setop(ctx, binds)
        return self.compile_select(ctx, binds)

    def _apply_predicate(self, df: DataFrame, ctx: SelectCtx, pred: A.Expr, binds: Bindings):
        neg = False
        inner = pred
        if isinstance(inner, A.EApp) and inner.fn.lower() == "not" and len(inner.args) == 1:
            if isinstance(inner.args[0], (A.EIn, A.EExists)):
                neg = True
                inner = inner.args[0]
        if isinstance(inner, A.EIn):
            sub_alias = self._fresh("__in")
            corr_keys: List[str] = []
            if inner.corr:
                # correlated IN (r12): rebuild FROM + residual WHERE
                # (the _corr conjuncts live in the join condition, not
                # the subquery filter) and carry the inner correlation
                # expressions as extra key columns next to the
                # membership columns. The analyzer guarantees a plain
                # SELECT ... WHERE shape here.
                sub_df, corr_keys = self._corr_sub_frame(
                    inner.sub_ctx, inner.corr, sub_alias, binds,
                    extra_fields=True,
                )
            else:
                sub_df = self._compile_sub(inner.sub_ctx, binds)
            sub_df = sub_df.alias(sub_alias)
            sub_fields = [f for f in inner.sub_ctx.fields if f.is_used]
            sub_cols = [f.out_name for f in sub_fields]
            negated = neg or inner.negated
            # NULL-aware NOT IN: SQL's three-valued NOT IN yields
            # UNKNOWN (row filtered) when the probe is NULL or the
            # subquery contains NULL in a compared column. An anti-join
            # must therefore treat "equal OR either side NULL" as a
            # match — exactly Spark's own null-aware anti join shape.
            # When the analyzer proves BOTH sides non-null we keep the
            # plain (faster, broadcastable) anti-join condition.
            nullable = any(
                (e_out.ty is not None and not e_out.ty.non_null)
                or (f.expr.ty is not None and not f.expr.ty.non_null)
                for e_out, f in zip(inner.exprs, sub_fields)
            )
            cond = None
            for e_out, cname in zip(inner.exprs, sub_cols):
                probe = self.expr(e_out, binds, {})
                sub_c = F.col(f"{sub_alias}.{cname}")
                c = probe == sub_c
                if negated and nullable:
                    c = c | probe.isNull() | sub_c.isNull()
                cond = c if cond is None else (cond & c)
            cond = self._and_corr_cond(
                cond, inner.corr, sub_alias, binds
            )
            how = "left_anti" if negated else "left_semi"
            return df.join(sub_df, on=cond, how=how)
        if isinstance(inner, A.EExists):
            if inner.corr:
                sub_alias = self._fresh("__ex")
                how = "left_anti" if neg else "left_semi"
                red = self._exists_theta_marker(inner, sub_alias, binds)
                if red is not None:
                    # r17: single non-equality conjunct — existence
                    # reduces EXACTLY to a min/max-of-key marker per
                    # equality group (|groups| rows, usually
                    # broadcast), so the outer table joins a
                    # PRE-AGGREGATED side instead of nested-looping
                    # the raw subquery
                    marker, eq_cond, dec = red
                    cond = dec if eq_cond is None else (eq_cond & dec)
                    return df.join(
                        marker.alias(sub_alias), on=cond, how=how
                    )
                # correlated EXISTS (r12): the textbook semi/anti join
                # — condition = the lifted correlation comparisons
                # (equality conjuncts become hash keys, thetas stay as
                # residual join condition; Catalyst splits them)
                sub_df, _keys = self._corr_sub_frame(
                    inner.sub_ctx, inner.corr, sub_alias, binds,
                    extra_fields=False,
                )
                cond = self._and_corr_cond(
                    None, inner.corr, sub_alias, binds
                )
                return df.join(sub_df.alias(sub_alias), on=cond, how=how)
            sub_df = self._compile_sub(inner.sub_ctx, binds)
            marker = sub_df.limit(1).select(F.lit(True).alias("__exists"))
            joined = df.join(marker, on=F.lit(True), how="left")
            cond = F.col("__exists").isNotNull()
            if neg:
                cond = ~cond
            return joined.filter(cond).drop("__exists")
        # IN/EXISTS NESTED inside a non-conjunct predicate (under OR,
        # inside arithmetic, ...): the semi/anti-join lowering above
        # only fits top-level conjuncts, so route through the scalar
        # match-flag machinery and filter on the composed expression —
        # the flag's three-valued NULL propagates through OR exactly
        # like SQL (NULL rows are dropped by the filter).
        if any(
            isinstance(n, (A.EIn, A.EExists, A.EScalarSub, A.EQuant))
            for n in _iter_nodes(pred)
        ):
            df, scalar_map = self._attach_scalar_subqueries(df, [pred], binds)
            return df.filter(self.expr(pred, binds, scalar_map))
        return df.filter(self.expr(pred, binds, {}))

    def _attach_scalar_subqueries(
        self, df: DataFrame, exprs: List[A.Expr], binds: Bindings,
        subst: Optional[Dict[tuple, str]] = None,
        scalar_map: Optional[Dict[int, Column]] = None,
    ):
        """Left-join distinct subquery results so scalar-position
        IN/EXISTS compile to a match flag with full SQL three-valued
        semantics (match → TRUE; no match with a NULL probe or a NULL
        in a non-empty subquery → NULL; else FALSE): single-column IN
        via a broadcast one-row aggregate marker, multi-column tuples
        via the distinct-probe aggregate (_attach_in_3vl_multi).

        ``scalar_map`` may be passed in to extend an existing
        attachment pass — _attach_quant uses this to attach subquery
        nodes nested inside a quantifier's probe expression (yielded
        parent-first by _iter_nodes, so not yet seen) before compiling
        the probe; the id-guards make re-visits no-ops."""
        if scalar_map is None:
            scalar_map = {}
        for e in exprs:
            for node in _iter_nodes(e):
                if (
                    isinstance(node, A.EIn)
                    and id(node) not in scalar_map
                    and len([f for f in node.sub_ctx.fields if f.is_used]) > 1
                ):
                    # multi-column IN in flag position (r13 second
                    # wave): FULL three-valued semantics via the
                    # distinct-probe aggregate — the former two-valued
                    # flag deviation is gone. Handles uncorrelated,
                    # equality- and theta-correlated uniformly.
                    df = self._attach_in_3vl_multi(
                        df, node, binds, scalar_map, subst
                    )
                if (
                    isinstance(node, (A.EIn, A.EExists))
                    and getattr(node, "corr", None)
                    and id(node) not in scalar_map
                ):
                    # r13: correlated IN/EXISTS get a real
                    # per-outer-row match flag (works under OR, in
                    # projection position, ...). Pure-equality
                    # correlation: the flag side is DISTINCT over the
                    # correlation keys, so the left join attaches at
                    # most one row per outer row. Theta correlation
                    # (r13 second wave): a DISTINCT probe frame over
                    # the outer correlation expressions theta-joins the
                    # subquery once and aggregates per probe tuple —
                    # key-distinct again, so no join multiplies rows.
                    if any(op != "=" for op, _ie, _oe in node.corr):
                        df = self._attach_corr_flag_theta(
                            df, node, binds, scalar_map, subst
                        )
                    else:
                        df = self._attach_corr_flag(
                            df, node, binds, scalar_map, subst
                        )
                if isinstance(node, A.EIn) and id(node) not in scalar_map:
                    sub_df = self._compile_sub(node.sub_ctx, binds)
                    alias = self._fresh("__sin")
                    flag = f"{alias}_flag"
                    sub_cols = [f.out_name for f in node.sub_ctx.fields if f.is_used]
                    probes = [self.expr(x, binds, {}, subst) for x in node.exprs]
                    df, probes = self._materialize_windows(
                        df, node.exprs, probes
                    )
                    probe0 = probes[0]
                    if len(sub_cols) == 1:
                        # broadcast 1-row marker: does the subquery have
                        # rows / contain NULL in the compared column?
                        nn, hn = f"{alias}_n", f"{alias}_hasnull"
                        marker = sub_df.agg(
                            F.count(F.lit(1)).alias(nn),
                            F.max(F.col(sub_cols[0]).isNull()).alias(hn),
                        )
                        df = df.join(F.broadcast(marker), on=F.lit(True), how="left")
                    sub_aliased = (
                        sub_df.distinct()
                        .withColumn(flag, F.lit(True))
                        .alias(alias)
                    )
                    cond = None
                    for probe, cname in zip(probes, sub_cols):
                        c = probe == F.col(f"{alias}.{cname}")
                        cond = c if cond is None else (cond & c)
                    df = df.join(sub_aliased, on=cond, how="left")
                    matched = F.col(flag).isNotNull()
                    if len(sub_cols) == 1:
                        non_empty = F.coalesce(F.col(nn), F.lit(0)) > 0
                        unknown = non_empty & (
                            probe0.isNull() | F.coalesce(F.col(hn), F.lit(False))
                        )
                        col = F.when(matched, F.lit(True)).otherwise(
                            F.when(unknown, F.lit(None).cast("boolean")).otherwise(F.lit(False))
                        )
                    else:
                        col = matched
                    if node.negated:
                        col = ~col
                    scalar_map[id(node)] = col
                elif isinstance(node, A.EExists) and id(node) not in scalar_map:
                    sub_df = self._compile_sub(node.sub_ctx, binds)
                    flag = self._fresh("__sex")
                    marker = sub_df.limit(1).select(F.lit(True).alias(flag))
                    df = df.join(marker, on=F.lit(True), how="left")
                    scalar_map[id(node)] = F.col(flag).isNotNull()
                elif isinstance(node, A.EQuant) and id(node) not in scalar_map:
                    df = self._attach_quant(df, node, binds, scalar_map, subst)
                elif (
                    isinstance(node, A.EScalarSub)
                    and id(node) not in scalar_map
                ):
                    df = self._attach_one_scalar_sub(
                        df, node, binds, scalar_map, subst
                    )
        return df, scalar_map

    def _attach_quant(
        self, df: DataFrame, node: "A.EQuant", binds: Bindings,
        scalar_map: Dict[int, Column], subst=None,
    ) -> DataFrame:
        """Ordered quantified comparison ``x op ANY/ALL (sub)`` (r15).

        The whole subquery reduces to ONE broadcast aggregate row —
        count / non-null count / min / max (bounded state, map-side
        combinable partial aggregation; at 100 TB the subquery scan is
        the only big cost and nothing ever shuffles on the probe side)
        — then the predicate is a plain CASE column, exact in Kleene
        3VL:

        ANY:  FALSE on empty; TRUE when a non-null witness exists
              (op vs max for </<=, vs min for >/>=; != has a witness
              iff min != x or max != x); otherwise NULL if the probe
              is NULL or the set holds a NULL, else FALSE.
        ALL:  TRUE on empty; FALSE when a non-null falsifier exists
              (the dual bounds); otherwise NULL if the probe is NULL
              or the set holds a NULL, else TRUE.

        The witness/falsifier comparison is itself 3VL: a NULL probe
        or an all-NULL set makes it NULL, falling through to the
        UNKNOWN arm — no special-casing needed.

        EQUALITY-correlated forms (r15): the marker aggregates group
        by the correlation keys instead of reducing globally, then
        left-join the outer frame on the keys — per-key state stays
        the same four bounded cells, the join is an ordinary hash
        join on the correlation keys (broadcast when the key space is
        small), and an unmatched outer key means an EMPTY per-key set
        (the COALESCEd count decides, exactly like SQL's empty-set
        rule)."""
        alias = self._fresh("__qt")
        cnt = f"{alias}_n"
        cntn = f"{alias}_nn"
        mn = f"{alias}_mn"
        mx = f"{alias}_mx"
        col0 = [f.out_name for f in node.sub_ctx.fields if f.is_used][0]
        aggs = [
            F.count(F.lit(1)).alias(cnt),
            F.count(F.col(col0)).alias(cntn),
            F.min(F.col(col0)).alias(mn),
            F.max(F.col(col0)).alias(mx),
        ]
        corr = getattr(node, "corr", None)
        if corr and any(op != "=" for op, _ie, _oe in corr):
            # r16: THETA correlation — the witness bound varies per
            # outer row, so reduce over the DISTINCT outer probe
            # tuples instead (the r12 scalar-subquery/r13 IN-EXISTS
            # decorrelation shape): theta-left-join the subquery ONCE
            # against the distinct probe frame, aggregate the same
            # four bounded cells per probe tuple, then null-safe
            # equi-join the marker back — at most one row per outer
            # row, |distinct probes| x |sub| worst case for the theta
            # join itself.
            sub_df, keys = self._corr_sub_frame(
                node.sub_ctx, corr, alias, binds, extra_fields=True
            )
            outer_cols = [
                self._outer_col(oe, binds, subst) for _op, _ie, oe in corr
            ]
            df, outer_cols = self._materialize_windows(
                df, [oe for _op, _ie, oe in corr], outer_cols
            )
            po = [f"{alias}_po{i}" for i in range(len(outer_cols))]
            probe = df.select(
                *[c.alias(n) for c, n in zip(outer_cols, po)]
            ).distinct()
            marker = self._theta_cells_banded(
                probe, po, sub_df, keys, col0, corr,
                (cnt, cntn, mn, mx),
            )
            if marker is None:
                tcond = None
                for i, (op, _ie, _oe) in enumerate(corr):
                    c = self._cmp_col(op, F.col(keys[i]), F.col(po[i]))
                    tcond = c if tcond is None else (tcond & c)
                j = probe.join(sub_df, on=tcond, how="left")
                # a matched sub row carries non-NULL correlation keys
                # (a NULL key satisfies no comparison), so keys[0]
                # marks hits; unmatched probe tuples aggregate to the
                # empty-set cells
                hit = F.col(keys[0]).isNotNull()
                marker = j.groupBy(*[F.col(c) for c in po]).agg(
                    F.sum(hit.cast("long")).alias(cnt),
                    F.sum(
                        (hit & F.col(col0).isNotNull()).cast("long")
                    ).alias(cntn),
                    F.min(F.when(hit, F.col(col0))).alias(mn),
                    F.max(F.when(hit, F.col(col0))).alias(mx),
                )
            recond = None
            for c, name in zip(outer_cols, po):
                eq = c.eqNullSafe(F.col(name))
                recond = eq if recond is None else (recond & eq)
            df = df.join(marker, on=recond, how="left").drop(*po)
        elif corr:
            sub_df, keys = self._corr_sub_frame(
                node.sub_ctx, node.corr, alias, binds, extra_fields=True
            )
            marker = (
                sub_df.groupBy(*[F.col(k) for k in keys])
                .agg(*aggs)
                .select(
                    *[
                        F.col(k).alias(f"{alias}_mk{i}")
                        for i, k in enumerate(keys)
                    ],
                    cnt, cntn, mn, mx,
                )
            )
            outer_cols = [
                self._outer_col(oe, binds, subst)
                for _op, _ie, oe in node.corr
            ]
            df, outer_cols = self._materialize_windows(
                df, [oe for _op, _ie, oe in node.corr], outer_cols
            )
            mcond = None
            for i, oc in enumerate(outer_cols):
                c = oc == F.col(f"{alias}_mk{i}")
                mcond = c if mcond is None else (mcond & c)
            df = df.join(marker, on=mcond, how="left")
        else:
            sub_df = self._compile_sub(node.sub_ctx, binds)
            marker = sub_df.agg(*aggs)
            df = df.join(F.broadcast(marker), on=F.lit(True), how="left")
        # the probe may itself contain subquery nodes (e.g.
        # `(select min(x) from u) < ANY (select v from t)`): attach
        # them into the shared scalar_map before compiling, or expr()
        # would raise the misleading not-pre-materialized error
        df, _ = self._attach_scalar_subqueries(
            df, [node.expr], binds, subst, scalar_map=scalar_map
        )
        probes = [self.expr(node.expr, binds, scalar_map, subst)]
        df, probes = self._materialize_windows(df, [node.expr], probes)
        p = probes[0]
        empty = F.coalesce(F.col(cnt), F.lit(0)) == 0
        has_null = F.col(cntn) < F.col(cnt)
        op = node.op
        if node.quant == "any":
            if op == "!=":
                decider = (p != F.col(mn)) | (p != F.col(mx))
            else:
                bound = F.col(mx) if op in ("<", "<=") else F.col(mn)
                decider = {
                    "<": p < bound, "<=": p <= bound,
                    ">": p > bound, ">=": p >= bound,
                }[op]
            col = (
                F.when(empty, F.lit(False))
                .when(decider, F.lit(True))
                .when(p.isNull() | has_null, F.lit(None).cast("boolean"))
                .otherwise(F.lit(False))
            )
        else:  # all
            if op == "=":
                decider = (p != F.col(mn)) | (p != F.col(mx))
            else:
                bound = F.col(mn) if op in ("<", "<=") else F.col(mx)
                decider = {
                    "<": p >= bound, "<=": p > bound,
                    ">": p <= bound, ">=": p < bound,
                }[op]
            col = (
                F.when(empty, F.lit(True))
                .when(decider, F.lit(False))
                .when(p.isNull() | has_null, F.lit(None).cast("boolean"))
                .otherwise(F.lit(True))
            )
        scalar_map[id(node)] = col
        return df

    def _theta_cells_banded(
        self, probe: DataFrame, po: List[str], sub_df: DataFrame,
        keys: List[str], col0: str, corr, names,
    ) -> Optional[DataFrame]:
        """Range-bucket ("band join") evaluation of the four
        quantifier cells for a SINGLE ordered theta correlation
        (r17, round-16 verdict ask #4). Returns None when ineligible
        or below the comparison threshold — the caller falls back to
        the nested-loop marker.

        The nested-loop theta join costs |distinct probes| x |sub|
        comparisons (THETA_REHEARSAL.json: ~2e8 cmp/s on local[32],
        so 1e6 x 1e5 is already ~500 s; at cluster scale it is the
        one quadratic corner in the engine). For a single `<' family
        comparison the cells are PREFIX aggregates over the subquery
        ordered by its correlation key, which distributes without a
        nested loop:

        1. width_bucket the key range into NB value buckets (O(1)
           per row; buckets 0 and NB+1 catch out-of-range probes);
        2. per-bucket cells (one hash agg over sub), completed onto a
           dense spine of NB+2 rows;
        3. running prefix over the spine — strictly-below buckets for
           `<`/`<=`, strictly-above for `>`/`>=` (a window over <=
           NB+2 rows: metadata-scale, single partition is fine);
        4. probes equi-join their OWN bucket's sub rows (shuffle hash
           join on bucket id) with the theta as residual — the only
           remaining comparisons, ~ D*S/NB total;
        5. cells = prefix (+) in-bucket partial.

        A NULL probe gets NULL cells (no bucket), matching the
        nested-loop left join; sub rows with NULL keys are dropped up
        front (a NULL key satisfies no comparison). Value-uniform
        buckets degrade toward the nested loop only when probes AND
        sub keys concentrate in one bucket's value range — accepted,
        documented corner (frequency-uniform boundaries would cost a
        per-row binary search).

        Thresholds: banded only pays once the product is large, so
        the strategy first counts sub (cheap scan); if |sub| >= the
        sub floor it counts the distinct-probe frame (checkpointed —
        the banded plan consumes it twice) and switches when D*S
        exceeds spark.sqlpp.quantifier.bandedThreshold (default 1e8,
        ~0.5 s of nested loop).

        CAVEAT (r17 verdict note): this chooser runs EAGER jobs at
        plan time — the sub count, the probe checkpoint+count, and a
        1-row min/max agg. All are bounded and metadata-scale next to
        the query itself, but this is the one place compilation
        triggers execution; if plan-time latency ever matters (e.g.
        prepare-without-execute flows), gate the strategy behind a
        conf instead of measuring."""
        from pyspark.sql import Window as W
        from pyspark.sql.types import NumericType

        if len(corr) != 1 or corr[0][0] not in ("<", "<=", ">", ">="):
            return None
        op = corr[0][0]
        key = keys[0]

        def mono(dt):
            # r19: temporal theta keys band too (the as-of EXISTS /
            # quantifier case) — bucketing needs only a MONOTONE
            # numeric view of the key; the residual comparisons still
            # use the original values
            from pyspark.sql.types import DateType, TimestampType

            if isinstance(dt, NumericType):
                return lambda c: c.cast("double")
            if isinstance(dt, (DateType, TimestampType)):
                return lambda c: c.cast("timestamp").cast("double")
            return None

        key_num = mono(sub_df.schema[key].dataType)
        pv_num = mono(probe.schema[po[0]].dataType)
        if key_num is None or pv_num is None:
            return None
        conf = self.spark.conf
        threshold = float(
            conf.get("spark.sqlpp.quantifier.bandedThreshold", "1e8")
        )
        sub_floor = int(
            conf.get("spark.sqlpp.quantifier.bandedSubFloor", "10000")
        )
        nb = int(conf.get("spark.sqlpp.quantifier.bandedBuckets", "4096"))
        sub_k = sub_df.where(F.col(key).isNotNull())
        s_rows = sub_k.count()
        if s_rows < sub_floor:
            return None
        # The banded plan consumes the distinct-probe frame twice
        # (in-bucket partial join + the final prefix join), and the
        # strategy needs its count anyway. localCheckpoint rather
        # than persist (r17 advisor): an unreleased .persist() pins
        # the frame in the session CacheManager forever, while
        # checkpoint blocks are executor-local and ContextCleaner
        # reclaims them once the plan is dropped. Eager: the count
        # below materializes it either way.
        probe = probe.localCheckpoint(eager=True)
        d_rows = probe.count()
        if d_rows * s_rows < threshold:
            return None
        lohi = sub_k.agg(
            F.min(key_num(F.col(key))).alias("lo"),
            F.max(key_num(F.col(key))).alias("hi"),
        ).collect()[0]
        lo, hi = float(lohi["lo"]), float(lohi["hi"])
        if hi <= lo:
            hi = lo + 1.0

        def bkt(c: Column) -> Column:
            return F.width_bucket(c, F.lit(lo), F.lit(hi), F.lit(nb))

        cnt, cntn, mn, mx = names[:4]
        sm = names[4] if len(names) > 4 else None
        vtype = sub_df.schema[col0].dataType.simpleString()
        cells = [
            F.count(F.lit(1)).alias("_c"),
            F.count(F.col(col0)).alias("_cn"),
            F.min(F.col(col0)).alias("_mn"),
            F.max(F.col(col0)).alias("_mx"),
        ]
        if sm is not None:
            cells.append(F.sum(F.col(col0)).alias("_sm"))
        per_bucket = sub_k.groupBy(
            bkt(key_num(F.col(key))).alias("_b")
        ).agg(*cells)
        spine = self.spark.range(0, nb + 2).select(
            F.col("id").cast("int").alias("_b")
        )
        dense = spine.join(F.broadcast(per_bucket), on="_b", how="left")
        order = F.col("_b").asc() if op in ("<", "<=") else F.col("_b").desc()
        w = W.orderBy(order).rowsBetween(W.unboundedPreceding, -1)
        pref_cells = [
            F.col("_b"),
            F.coalesce(F.sum("_c").over(w), F.lit(0)).alias("_pc"),
            F.coalesce(F.sum("_cn").over(w), F.lit(0)).alias("_pcn"),
            F.min("_mn").over(w).alias("_pmn"),
            F.max("_mx").over(w).alias("_pmx"),
        ]
        if sm is not None:
            pref_cells.append(F.sum("_sm").over(w).alias("_psm"))
        prefix = dense.select(*pref_cells)
        probe_b = probe.withColumn("_pb", bkt(pv_num(F.col(po[0]))))
        sub_b = sub_k.withColumn("_sb", bkt(key_num(F.col(key))))
        part_cells = [
            F.count(F.lit(1)).alias("_qc"),
            F.count(F.col(col0)).alias("_qcn"),
            F.min(F.col(col0)).alias("_qmn"),
            F.max(F.col(col0)).alias("_qmx"),
        ]
        if sm is not None:
            part_cells.append(F.sum(F.col(col0)).alias("_qsm"))
        partial = (
            probe_b.join(
                sub_b,
                on=(F.col("_sb") == F.col("_pb"))
                & self._cmp_col(op, F.col(key), F.col(po[0])),
                how="inner",
            )
            .groupBy(F.col(po[0]))
            .agg(*part_cells)
        )
        null_v = F.lit(None).cast(vtype)
        out_cells = [
            *[F.col(c) for c in po],
            (F.coalesce(F.col("_pc"), F.lit(0))
             + F.coalesce(F.col("_qc"), F.lit(0))).alias(cnt),
            (F.coalesce(F.col("_pcn"), F.lit(0))
             + F.coalesce(F.col("_qcn"), F.lit(0))).alias(cntn),
            F.least(F.coalesce(F.col("_pmn"), null_v),
                    F.coalesce(F.col("_qmn"), null_v)).alias(mn),
            F.greatest(F.coalesce(F.col("_pmx"), null_v),
                       F.coalesce(F.col("_qmx"), null_v)).alias(mx),
        ]
        if sm is not None:
            # SQL sum over an empty/all-NULL set is NULL, so only
            # coalesce a side when the OTHER side has a value
            psm, qsm = F.col("_psm"), F.col("_qsm")
            out_cells.append(
                F.when(
                    psm.isNull() & qsm.isNull(), F.lit(None)
                ).otherwise(
                    F.coalesce(psm, F.lit(0)) + F.coalesce(qsm, F.lit(0))
                ).alias(sm)
            )
        return (
            probe_b.join(F.broadcast(prefix), F.col("_pb") == F.col("_b"),
                         "left")
            .join(partial, on=po[0], how="left")
            .select(*out_cells)
        )

    def _attach_corr_flag(
        self, df: DataFrame, node, binds: Bindings,
        scalar_map: Dict[int, Column],
        subst: Optional[Dict[tuple, str]] = None,
    ) -> DataFrame:
        """Match flag for an EQUALITY-correlated IN/EXISTS in a
        non-conjunct position (r13). EXISTS: left-join the DISTINCT
        correlation-key frame with a TRUE flag — matched iff the flag
        survives; the flag is two-valued (EXISTS never yields NULL).
        IN: the flag side carries (membership cols + correlation keys)
        distinct, and single-column IN keeps FULL three-valued
        semantics via a per-correlation-GROUP marker (count + has-null
        per key group, left-joined on the keys) — the correlated
        analogue of the global one-row marker the uncorrelated path
        uses. Multi-column tuples never reach this path (the
        dispatcher routes them to _attach_in_3vl_multi). Every
        attached frame is key-distinct, so no join can multiply
        outer rows."""
        alias = self._fresh("__cfl")
        flag = f"{alias}_flag"
        is_in = isinstance(node, A.EIn)
        sub_df, keys = self._corr_sub_frame(
            node.sub_ctx, node.corr, alias, binds, extra_fields=is_in
        )
        outer_cols = [
            self._outer_col(oe, binds, subst) for _op, _ie, oe in node.corr
        ]
        kcond = None
        df, outer_cols = self._materialize_windows(
            df, [oe for _op, _ie, oe in node.corr], outer_cols
        )
        if is_in:
            sub_fields = [f for f in node.sub_ctx.fields if f.is_used]
            sub_cols = [f.out_name for f in sub_fields]
            probes = [self.expr(e, binds, {}, subst) for e in node.exprs]
            df, probes = self._materialize_windows(df, node.exprs, probes)
            if len(sub_cols) == 1:
                nn, hn = f"{alias}_n", f"{alias}_hasnull"
                marker = (
                    sub_df.groupBy(*[F.col(k) for k in keys])
                    .agg(
                        F.count(F.lit(1)).alias(nn),
                        F.max(F.col(sub_cols[0]).isNull()).alias(hn),
                    )
                    .select(
                        *[
                            F.col(k).alias(f"{alias}_mk{i}")
                            for i, k in enumerate(keys)
                        ],
                        nn, hn,
                    )
                )
                mcond = None
                for i, oc in enumerate(outer_cols):
                    c = oc == F.col(f"{alias}_mk{i}")
                    mcond = c if mcond is None else (mcond & c)
                df = df.join(marker, on=mcond, how="left")
            fl = sub_df.distinct().withColumn(flag, F.lit(True)).alias(alias)
            cond = None
            for probe, cname in zip(probes, sub_cols):
                c = probe == F.col(f"{alias}.{cname}")
                cond = c if cond is None else (cond & c)
            for i, oc in enumerate(outer_cols):
                cond = cond & (oc == F.col(f"{alias}.{keys[i]}"))
            df = df.join(fl, on=cond, how="left")
            matched = F.col(flag).isNotNull()
            if len(sub_cols) == 1:
                non_empty = F.coalesce(F.col(nn), F.lit(0)) > 0
                unknown = non_empty & (
                    probes[0].isNull() | F.coalesce(F.col(hn), F.lit(False))
                )
                col = F.when(matched, F.lit(True)).otherwise(
                    F.when(unknown, F.lit(None).cast("boolean")).otherwise(
                        F.lit(False)
                    )
                )
            else:
                col = matched
            if node.negated:
                col = ~col
        else:
            fl = sub_df.distinct().withColumn(flag, F.lit(True)).alias(alias)
            for i, oc in enumerate(outer_cols):
                c = oc == F.col(f"{alias}.{keys[i]}")
                kcond = c if kcond is None else (kcond & c)
            df = df.join(fl, on=kcond, how="left")
            col = F.col(flag).isNotNull()
        scalar_map[id(node)] = col
        return df

    def _attach_corr_flag_theta(
        self, df: DataFrame, node, binds: Bindings,
        scalar_map: Dict[int, Column],
        subst: Optional[Dict[tuple, str]] = None,
    ) -> DataFrame:
        """Match flag for a THETA-correlated IN/EXISTS in a
        non-conjunct position (r13 second wave — closes the last
        flag-position boundary). A direct flag join on a theta
        condition would multiply outer rows, so instead:

        1. build the DISTINCT probe frame over the outer correlation
           expressions (+ IN probe expressions) — key-distinct by
           construction;
        2. theta-LEFT-join the subquery frame ONCE against the probe
           frame (|distinct probes| × subquery, usually orders of
           magnitude below |outer| × subquery; with a mixed eq+theta
           correlation the eq part keys a hash join and the theta part
           is a residual);
        3. aggregate per probe tuple: match count, membership match,
           has-NULL — giving EXISTS and full three-valued single-col
           IN exactly as the uncorrelated marker does;
        4. null-safe equi-join the per-probe marker back to the outer
           frame — at most one marker row per outer row.

        A sub row with a NULL correlation key matches no probe (the
        comparison is UNKNOWN), identical to the per-row semantics.
        Multi-column IN never reaches this path (the dispatcher routes
        it to _attach_in_3vl_multi).
        """
        alias = self._fresh("__cth")
        is_in = isinstance(node, A.EIn)
        sub_df, keys = self._corr_sub_frame(
            node.sub_ctx, node.corr, alias, binds, extra_fields=is_in
        )
        outer_cols = [
            self._outer_col(oe, binds, subst) for _op, _ie, oe in node.corr
        ]
        probes = (
            [self.expr(e, binds, {}, subst) for e in node.exprs]
            if is_in else []
        )
        df, probes = self._materialize_windows(
            df, node.exprs if is_in else [], probes
        )
        df, outer_cols = self._materialize_windows(
            df, [oe for _op, _ie, oe in node.corr], outer_cols
        )
        po = [f"{alias}_po{i}" for i in range(len(outer_cols))]
        pp = [f"{alias}_pp{i}" for i in range(len(probes))]
        probe = df.select(
            *[c.alias(n) for c, n in zip(outer_cols, po)],
            *[c.alias(n) for c, n in zip(probes, pp)],
        ).distinct()
        cond = None
        for i, (op, _ie, _oe) in enumerate(node.corr):
            c = self._cmp_col(op, F.col(keys[i]), F.col(po[i]))
            cond = c if cond is None else (cond & c)
        j = probe.join(sub_df, on=cond, how="left")
        # matched rows carry non-NULL correlation keys (a NULL key
        # can't satisfy any comparison), so keys[0] marks the match
        hit = F.col(keys[0]).isNotNull()
        n = f"{alias}_n"
        aggs = [F.sum(hit.cast("long")).alias(n)]
        sub_cols = (
            [f.out_name for f in node.sub_ctx.fields if f.is_used]
            if is_in else []
        )
        hn, mm = f"{alias}_hasnull", f"{alias}_match"
        if is_in:
            if len(sub_cols) == 1:
                aggs.append(F.max(hit & F.col(sub_cols[0]).isNull()).alias(hn))
            memb = None
            for pc, sc in zip(pp, sub_cols):
                c = F.col(pc) == F.col(sc)
                memb = c if memb is None else (memb & c)
            # F.max skips NULLs: UNKNOWN comparisons never count as a
            # match but don't poison the aggregate either
            aggs.append(F.max(hit & memb).alias(mm))
        marker = j.groupBy(*[F.col(c) for c in (po + pp)]).agg(*aggs)
        recond = None
        for c, name in zip(list(outer_cols) + list(probes), po + pp):
            eq = c.eqNullSafe(F.col(name))
            recond = eq if recond is None else (recond & eq)
        df = df.join(marker, on=recond, how="left").drop(*po, *pp)
        non_empty = F.coalesce(F.col(n), F.lit(0)) > 0
        if not is_in:
            col = non_empty
        else:
            matched = F.coalesce(F.col(mm), F.lit(False))
            if len(sub_cols) == 1:
                unknown = non_empty & (
                    probes[0].isNull() | F.coalesce(F.col(hn), F.lit(False))
                )
                col = F.when(matched, F.lit(True)).otherwise(
                    F.when(unknown, F.lit(None).cast("boolean")).otherwise(
                        F.lit(False)
                    )
                )
            else:
                col = matched
            if node.negated:
                col = ~col
        scalar_map[id(node)] = col
        return df

    def _attach_in_3vl_multi(
        self, df: DataFrame, node: "A.EIn", binds: Bindings,
        scalar_map: Dict[int, Column],
        subst: Optional[Dict[tuple, str]] = None,
    ) -> DataFrame:
        """Full three-valued multi-column IN in flag position (r13
        second wave — removes the documented two-valued deviation).
        SQL semantics: ``(x,y) IN (S)`` is TRUE when some S row is
        all-equal, FALSE when EVERY S row has at least one definite
        inequality, else UNKNOWN. Per probe tuple that is:

        - join the DISTINCT probe frame to S on the NOT-FALSE condition
          (every column equal-or-either-NULL, plus the correlation
          comparisons when correlated) — only rows that can contribute
          TRUE or UNKNOWN match;
        - aggregate per probe: any all-equal row → match; any matched
          row with a NULL on either side → unknown;
        - null-safe equi-join the key-distinct marker back (no row
          multiplication); no marker row ⇒ all S rows definite-unequal
          (or S empty) ⇒ FALSE.

        Scale note: the NOT-FALSE condition is non-equi only through
        its NULL disjuncts, so the join is |distinct probes| × S —
        the same honest cost as an engine-native null-aware mark join;
        null-free probes against a null-free S reduce to the equality
        flag at the optimizer's discretion."""
        alias = self._fresh("__min")
        corr = getattr(node, "corr", None) or []
        if corr:
            sub_df, keys = self._corr_sub_frame(
                node.sub_ctx, corr, alias, binds, extra_fields=True
            )
        else:
            sub_df = self._compile_sub(node.sub_ctx, binds)
            keys = []
        one = f"{alias}_one"
        sub_df = sub_df.withColumn(one, F.lit(1))
        sub_cols = [f.out_name for f in node.sub_ctx.fields if f.is_used]
        probes = [self.expr(e, binds, {}, subst) for e in node.exprs]
        outer_cols = [self._outer_col(oe, binds, subst) for _op, _ie, oe in corr]
        df, probes = self._materialize_windows(df, node.exprs, probes)
        df, outer_cols = self._materialize_windows(
            df, [oe for _op, _ie, oe in corr], outer_cols
        )
        po = [f"{alias}_po{i}" for i in range(len(outer_cols))]
        pp = [f"{alias}_pp{i}" for i in range(len(probes))]
        probe = df.select(
            *[c.alias(n) for c, n in zip(outer_cols, po)],
            *[c.alias(n) for c, n in zip(probes, pp)],
        ).distinct()
        cond = None
        for i, (op, _ie, _oe) in enumerate(corr):
            c = self._cmp_col(op, F.col(keys[i]), F.col(po[i]))
            cond = c if cond is None else (cond & c)
        for pc, sc in zip(pp, sub_cols):
            c = (
                F.col(pc).isNull()
                | F.col(sc).isNull()
                | (F.col(pc) == F.col(sc))
            )
            cond = c if cond is None else (cond & c)
        j = probe.join(sub_df, on=cond, how="left")
        hit = F.col(one).isNotNull()
        alleq = None
        anynull = None
        for pc, sc in zip(pp, sub_cols):
            eq = F.col(pc) == F.col(sc)
            alleq = eq if alleq is None else (alleq & eq)
            nu = F.col(pc).isNull() | F.col(sc).isNull()
            anynull = nu if anynull is None else (anynull | nu)
        mm, uu = f"{alias}_match", f"{alias}_unknown"
        marker = j.groupBy(*[F.col(c) for c in (po + pp)]).agg(
            F.max(hit & alleq).alias(mm),
            F.max(hit & anynull).alias(uu),
        )
        recond = None
        for c, name in zip(list(outer_cols) + list(probes), po + pp):
            eq = c.eqNullSafe(F.col(name))
            recond = eq if recond is None else (recond & eq)
        df = df.join(marker, on=recond, how="left").drop(*po, *pp)
        col = (
            F.when(F.coalesce(F.col(mm), F.lit(False)), F.lit(True))
            .otherwise(
                F.when(
                    F.coalesce(F.col(uu), F.lit(False)),
                    F.lit(None).cast("boolean"),
                ).otherwise(F.lit(False))
            )
        )
        if node.negated:
            col = ~col
        scalar_map[id(node)] = col
        return df

    def _outer_col(
        self, oe: A.Expr, binds: Bindings,
        subst: Optional[Dict[tuple, str]],
    ) -> Column:
        """Compile a correlated subquery's OUTER expression. In a
        grouped select the outer frame is post-aggregation, so the
        expression must be a group expression (or aggregate) present
        in ``subst`` — correlating on a non-grouped column has no
        post-agg value to join on."""
        if subst is not None and expr_key(oe) not in subst:
            raise SqlppError(
                "a correlated subquery in a grouped select must "
                "correlate on a GROUP BY expression",
                getattr(oe, "loc", None),
            )
        return self.expr(oe, binds, {}, subst)

    @staticmethod
    def _cmp_col(op: str, a: Column, b: Column) -> Column:
        return {
            "=": a == b, "!=": a != b,
            "<": a < b, "<=": a <= b,
            ">": a > b, ">=": a >= b,
        }[op]

    def _corr_sub_frame(
        self, sub_ctx, corr, alias: str, binds: Bindings,
        extra_fields: bool,
    ):
        """FROM + residual WHERE of a correlated IN/EXISTS subquery
        (the analyzer re-inserted correlation conjuncts are marked
        ``_corr`` and belong to the JOIN condition, so they are
        skipped here), projected to the used membership columns (IN)
        plus one key column per correlation triple's INNER expression.
        Returns (frame, key_names)."""
        sub_sel = sub_ctx.select
        s = self._compile_from(sub_ctx, sub_sel.from_, binds)
        if sub_sel.where is not None:
            for conj in _split_conjuncts(sub_sel.where):
                if getattr(conj, "_corr", False):
                    continue
                s = self._apply_predicate(s, sub_ctx, conj, binds)
        keys = [f"{alias}_k{i}" for i in range(len(corr))]
        cols = []
        if extra_fields:
            cols = [
                self.expr(f.expr, binds, {}).alias(f.out_name)
                for f in sub_ctx.fields if f.is_used
            ]
        kcols = [
            self.expr(ie, binds, {}).alias(kn)
            for kn, (_op, ie, _oe) in zip(keys, corr)
        ]
        out = s.select(*cols, *kcols)
        if sub_sel.distinct:
            out = out.distinct()
        return out, keys

    def _exists_theta_marker(self, node, alias: str, binds: Bindings):
        """EXACT min/max reduction for a theta-correlated EXISTS with
        exactly ONE non-equality conjunct (r17 — closes the second
        quadratic corner alongside the banded quantifier): for a
        total-ordered key k and probe p,

            EXISTS(... k <  p ...)  <=>  min(k) <  p
            EXISTS(... k <= p ...)  <=>  min(k) <= p
            EXISTS(... k >  p ...)  <=>  max(k) >  p
            EXISTS(... k >= p ...)  <=>  max(k) >= p
            EXISTS(... k != p ...)  <=>  min(k) != p OR max(k) != p

        so the subquery pre-aggregates to min/max per EQUALITY-key
        group (at most |groups| rows, usually broadcast) and the
        outer table takes a hash join — never the outer x sub nested
        loop the raw theta semi-join costs when no equality conjunct
        keys it. NULL keys drop (min/max skip them; a NULL key
        satisfies no comparison); an empty/all-NULL group yields NULL
        cells, whose comparison is NULL => no match, exactly the
        per-row semantics. Returns (marker, eq_cond|None, decider) or
        None when the shape doesn't apply."""
        corr = node.corr
        theta = [
            (i, c) for i, c in enumerate(corr) if c[0] != "="
        ]
        if len(theta) != 1:
            return None
        ti, (top, _tie, toe) = theta[0]
        sub_df, keys = self._corr_sub_frame(
            node.sub_ctx, corr, alias, binds, extra_fields=False
        )
        eq = [
            (keys[i], oe)
            for i, (_op, _ie, oe) in enumerate(corr) if i != ti
        ]
        tkey = keys[ti]
        mn, mx = f"{alias}_mn", f"{alias}_mx"
        aggs = [F.min(F.col(tkey)).alias(mn), F.max(F.col(tkey)).alias(mx)]
        if eq:
            marker = sub_df.groupBy(
                *[F.col(k) for k, _oe in eq]
            ).agg(*aggs)
        else:
            marker = sub_df.agg(*aggs)

        def decider(p: Column) -> Column:
            return {
                "<": F.col(mn) < p,
                "<=": F.col(mn) <= p,
                ">": F.col(mx) > p,
                ">=": F.col(mx) >= p,
                "!=": (F.col(mn) != p) | (F.col(mx) != p),
            }[top]

        eq_cond = None
        for k, oe in eq:
            c = F.col(k) == self.expr(oe, binds, {})
            eq_cond = c if eq_cond is None else (eq_cond & c)
        return marker, eq_cond, decider(self.expr(toe, binds, {}))

    def _and_corr_cond(
        self, cond, corr, alias: str, binds: Bindings,
    ):
        """AND the lifted correlation comparisons onto a join
        condition: key column (the INNER side, op oriented
        inner-first) <op> outer expression."""
        for i, (op, _ie, oe) in enumerate(corr):
            c = self._cmp_col(
                op, F.col(f"{alias}_k{i}"), self.expr(oe, binds, {})
            )
            cond = c if cond is None else (cond & c)
        return cond

    def _attach_one_scalar_sub(
        self, df: DataFrame, node: "A.EScalarSub", binds: Bindings,
        scalar_map: Dict[int, Column],
        subst: Optional[Dict[tuple, str]] = None,
    ) -> DataFrame:
        """Scalar subquery attachment (r11; theta correlation r12).

        Uncorrelated: the analyzer guarantees a single global-aggregate
        field, so the compiled subquery is EXACTLY one row — broadcast
        cross join, no marker machinery needed. Pure-equality
        correlation: textbook decorrelation — the subquery's FROM +
        residual WHERE (the analyzer re-inserted correlation conjuncts
        are marked ``_corr`` and skipped here) grouped by the inner
        correlation expressions, left-joined to the outer frame on the
        outer expressions. Theta correlation (any < <= > >= !=
        conjunct): magic-set decorrelation — the DISTINCT outer
        correlation keys pair with inner rows under the full
        comparison condition, the aggregate groups by those keys, and
        the result left-joins back to the outer frame on key equality.
        Catalyst extracts any equality conjuncts as hash-join keys
        with the thetas as residual condition; when NO equality
        exists the distinct-key side is broadcast explicitly — the
        pairing is inherently a nested-loop there, and the bounded
        side is the deduplicated key set, not the corpus (a guarded
        cost the caller opted into by writing a pure-theta correlated
        aggregate). An unmatched outer row reads NULL, except count
        aggregates which coalesce to 0 (SQL's empty-group count);
        outer rows with NULL correlation values never match their
        key row, which is exactly SQL's comparison-with-NULL ⇒
        empty-group semantics."""
        alias = self._fresh("__ssq")
        val = f"{alias}_v"
        sub_ctx = node.sub_ctx
        if not node.corr:
            sub_df = self.compile_select(sub_ctx, binds).toDF(val)
            scalar_map[id(node)] = F.col(val)
            return df.join(
                F.broadcast(sub_df), on=F.lit(True), how="left"
            )
        sub_sel = sub_ctx.select
        inner = self._compile_from(sub_ctx, sub_sel.from_, binds)
        if sub_sel.where is not None:
            for conj in _split_conjuncts(sub_sel.where):
                if getattr(conj, "_corr", False):
                    continue
                inner = self._apply_predicate(inner, sub_ctx, conj, binds)
        fexpr = next(f for f in sub_ctx.fields if f.is_used).expr
        knames = [f"{alias}_k{i}" for i in range(len(node.corr))]
        if all(op == "=" for op, _ie, _oe in node.corr):
            keys = [
                self.expr(ie, binds, {}).alias(kn)
                for kn, (_op, ie, _oe) in zip(knames, node.corr)
            ]
            sub_df = inner.groupBy(*keys).agg(
                self._agg_column(fexpr, binds).alias(val)
            )
        else:
            sub_df = self._scalar_theta_banded(
                df, node, inner, fexpr, knames, alias, val, binds, subst
            )
        if sub_df is None:
            dkeys = df.select(*[
                self._outer_col(oe, binds, subst).alias(kn)
                for kn, (_op, _ie, oe) in zip(knames, node.corr)
            ]).distinct()
            if not any(op == "=" for op, _ie, _oe in node.corr):
                dkeys = F.broadcast(dkeys)
            pair_cond = None
            for kn, (op, ie, _oe) in zip(knames, node.corr):
                icol = self.expr(ie, binds, {})
                kcol = F.col(kn)
                c = {
                    "=": icol == kcol, "!=": icol != kcol,
                    "<": icol < kcol, "<=": icol <= kcol,
                    ">": icol > kcol, ">=": icol >= kcol,
                }[op]
                pair_cond = c if pair_cond is None else (pair_cond & c)
            sub_df = (
                inner.join(dkeys, on=pair_cond, how="inner")
                .groupBy(*[F.col(kn) for kn in knames])
                .agg(self._agg_column(fexpr, binds).alias(val))
            )
        cond = None
        for kn, (_op, _ie, oe) in zip(knames, node.corr):
            c = self._outer_col(oe, binds, subst) == F.col(kn)
            cond = c if cond is None else (cond & c)
        df = df.join(sub_df, on=cond, how="left").drop(*knames)
        col = F.col(val)
        if node.agg_fn in ("count", "count_distinct", "approx_count_distinct"):
            col = F.coalesce(col, F.lit(0))  # empty group counts as 0
        scalar_map[id(node)] = col
        return df

    def _scalar_theta_banded(
        self, df: DataFrame, node, inner: DataFrame, fexpr, knames,
        alias: str, val: str, binds: Bindings, subst,
    ) -> Optional[DataFrame]:
        """Banded evaluation of a theta-correlated SCALAR subquery's
        aggregate (r17 — the same prefix-aggregate shape as the banded
        quantifier, for the same reason: the distinct-probe theta join
        is the remaining nested-loop corner). Applies when the
        correlation is exactly ONE ordered conjunct and the aggregate
        is bucket-decomposable: count / min / max / sum / avg
        (avg = banded sum over banded count). Returns the marker
        frame keyed by the probe column, or None (caller keeps the
        distinct-probe nested loop). Size/type eligibility and the
        D*S threshold live in _theta_cells_banded."""
        if len(node.corr) != 1 or node.corr[0][0] not in ("<", "<=", ">", ">="):
            return None
        if node.agg_fn not in ("count", "min", "max", "sum", "avg"):
            return None
        op_, ie, oe = node.corr[0]
        kname = knames[0]
        operand = fexpr.args[0] if getattr(fexpr, "args", None) else None
        xcol = f"{alias}_x"
        frame = inner.select(
            self.expr(ie, binds, {}).alias(f"{alias}_ik"),
            (
                # count(*) has no operand; every OTHER aggregate —
                # including a literal one like min(5) or sum(2) —
                # must see its actual operand value per row
                F.lit(1)
                if operand is None
                else self.expr(operand, binds, {})
            ).alias(xcol),
        )
        if node.agg_fn in ("sum", "avg"):
            from pyspark.sql.types import DecimalType

            # decimal sums widen precision PER SUM (p+10): summing the
            # prefix and partial cells again would widen differently
            # than the single-aggregate path — keep decimals on it
            if isinstance(frame.schema[xcol].dataType, DecimalType):
                return None
        probe = df.select(
            self._outer_col(oe, binds, subst).alias(kname)
        ).distinct()
        names = tuple(f"{alias}_{c}" for c in ("c", "cn", "mn", "mx", "sm"))
        cells = self._theta_cells_banded(
            probe, [kname], frame, [f"{alias}_ik"], xcol, node.corr, names
        )
        if cells is None:
            return None
        c, cn, mn, mx, sm = names
        vcol = {
            # count(x) counts non-null x; count(<literal>) counts rows
            # (xcol is lit(1) then, so the two cells coincide)
            "count": F.col(cn),
            "min": F.col(mn),
            "max": F.col(mx),
            # SQL sum/avg over an empty set is NULL (the sm cell
            # already NULLs when both sides are empty)
            "sum": F.col(sm),
            "avg": F.col(sm) / F.nullif(F.col(cn), F.lit(0)),
        }[node.agg_fn]
        return cells.select(F.col(kname), vcol.alias(val))

    def _fresh(self, prefix: str) -> str:
        self._subquery_n += 1
        return f"{prefix}{self._subquery_n}"

    def _materialize_windows(self, df: DataFrame, exprs, cols):
        """r14: windows can't appear in the join conditions the flag
        attach builds (Spark restricts window exprs to Project/Sort),
        so any window-bearing probe/correlation expression is computed
        on the outer frame first and referenced by column. Returns the
        (possibly extended) frame and the columns to use; the helper
        columns are dropped by the final explicit projection."""
        out = []
        for e, c in zip(exprs, cols):
            if _has_window(e):
                name = self._fresh("__iw")
                df = df.withColumn(name, c)
                c = F.col(name)
            out.append(c)
        return df, out

    # -- expressions -------------------------------------------------------

    def expr(
        self,
        e: A.Expr,
        binds: Bindings,
        scalar_map: Dict[int, Column],
        subst: Optional[Dict[tuple, str]] = None,
    ) -> Column:
        if subst:
            k = expr_key(e)
            if k in subst:
                return F.col(subst[k])
        if isinstance(e, A.ELit):
            return F.lit(e.value)
        if isinstance(e, A.ENull):
            return F.lit(None).cast(spark_type(e.ty))
        if isinstance(e, A.ERef):
            return F.col(f"{e.rel}.{e.name}")
        if isinstance(e, A.EParam):
            return self._param_col(e, binds)
        if isinstance(e, A.EMatch):
            return self._match_col(e, binds, scalar_map, subst)
        if isinstance(e, A.EInList):
            # r14: Column.isin compiles to Catalyst In (constant-folded
            # to InSet past spark.sql.optimizer.inSetConversionThreshold)
            # — ONE pushdown-able predicate, not an OR chain; Spark's
            # In already implements the SQL 3VL (NULL probe / NULL-in-
            # list no-match → UNKNOWN)
            probe = self.expr(e.expr, binds, scalar_map, subst)
            items = [self.expr(x, binds, scalar_map, subst) for x in e.items]
            col = probe.isin(*items)
            return ~col if e.negated else col
        if isinstance(e, A.EIn):
            col = scalar_map.get(id(e))
            if col is None:
                raise SqlppError(
                    "IN (subquery) appears in a position the compiler "
                    "did not pre-materialize (supported: WHERE "
                    "conjuncts, and flag positions — projection/OR/"
                    "ORDER BY — of grouped or ungrouped selects)"
                )
            return col
        if isinstance(e, A.EExists):
            col = scalar_map.get(id(e))
            if col is None:
                raise SqlppError(
                    "EXISTS appears in a position the compiler did not "
                    "pre-materialize (supported: WHERE conjuncts, and "
                    "flag positions — projection/OR/ORDER BY — of "
                    "grouped or ungrouped selects)"
                )
            return col
        if isinstance(e, A.EScalarSub):
            col = scalar_map.get(id(e))
            if col is None:
                raise SqlppError(
                    "scalar subquery appears in a position the compiler "
                    "did not pre-materialize (supported: WHERE, and the "
                    "projection/ORDER BY of grouped or ungrouped selects)"
                )
            return col
        if isinstance(e, A.EQuant):
            col = scalar_map.get(id(e))
            if col is None:
                raise SqlppError(
                    "quantified comparison appears in a position the "
                    "compiler did not pre-materialize (supported: WHERE "
                    "conjuncts, and flag positions of grouped or "
                    "ungrouped selects)"
                )
            return col
        if isinstance(e, A.EAscribe):
            inner = self.expr(e.expr, binds, scalar_map, subst)
            if getattr(e, "safe", False):  # TRY_CAST (r15): NULL on failure
                return inner.try_cast(spark_type(e.to_ty))
            if e.convert:  # CAST (r15) — converting, not erased
                return inner.cast(spark_type(e.to_ty))
            return inner
        if isinstance(e, A.EWindow):
            return self._window_col(e, binds, scalar_map, subst)
        if isinstance(e, A.EApp):
            return self._app_col(e, binds, scalar_map, subst)
        raise SqlppError(f"cannot compile {type(e).__name__}")

    def _window_col(
        self, e: "A.EWindow", binds: Bindings,
        scalar_map: Dict[int, Column],
        subst: Optional[Dict[tuple, str]] = None,
    ) -> Column:
        """Window application (r13; frames r14): without an explicit
        frame the SQL defaults apply — with ORDER BY Spark's default
        is RANGE UNBOUNDED PRECEDING..CURRENT ROW, without it the
        whole partition; both match the printers' target engines.
        Explicit ROWS/RANGE BETWEEN frames map to rowsBetween/
        rangeBetween (analyzer guarantees they only reach aggregate/
        value fns with ORDER BY). Ranking/count results cast to the
        dialect's 64-bit int."""
        from pyspark.sql import Window as W

        parts = [self.expr(p, binds, scalar_map, subst) for p in e.partition_by]
        w = W.partitionBy(*parts) if parts else W.partitionBy(F.lit(1))
        if e.order_by:
            w = w.orderBy(
                *[
                    self._order_col(
                        self.expr(o.expr, binds, scalar_map, subst), o
                    )
                    for o in e.order_by
                ]
            )
        if e.frame is not None:
            def b(bound):
                kind, n = bound
                if kind == "unbounded preceding":
                    return W.unboundedPreceding
                if kind == "unbounded following":
                    return W.unboundedFollowing
                if kind == "current row":
                    return W.currentRow
                return -n if kind == "preceding" else n

            lo, hi = b(e.frame.start), b(e.frame.end)
            if e.frame.mode == "rows":
                w = w.rowsBetween(lo, hi)
            else:
                w = w.rangeBetween(lo, hi)
        fnl = e.fn.lower()
        args = [self.expr(a, binds, scalar_map, subst) for a in e.args]
        if fnl == "row_number":
            col = F.row_number()
        elif fnl == "rank":
            col = F.rank()
        elif fnl == "dense_rank":
            col = F.dense_rank()
        elif fnl in ("lag", "lead"):
            off = e.args[1].value if len(e.args) == 2 else 1
            if e.nulls_mode == "ignore":
                # r16: IGNORE NULLS — PySpark's lag/lead don't expose
                # the flag, but the n-th non-NULL value strictly
                # before (lag) / after (lead) the current row IS
                # nth_value(x, n, ignoreNulls) over a one-sided ROWS
                # frame: (1 FOLLOWING, UNBOUNDED FOLLOWING) in query
                # order for lead, in REVERSED order for lag (flip
                # direction AND the pinned NULLS placement so the row
                # sequence is an exact reversal).
                #
                # DETERMINISM (r17, advisor): the reversal is an exact
                # reversal only when the window ORDER BY is a total
                # order within each partition. With duplicate sort
                # keys, which previous-non-null row is picked can
                # differ run-to-run — exactly as it can in DuckDB and
                # PG themselves (ties make lag/lead IGNORE NULLS
                # engine-nondeterministic everywhere, so an analyzer
                # error would reject queries the oracle engines
                # accept). Users who need stable results must add a
                # tie-breaking key, same as for DISTINCT ON /
                # arg_min/arg_max; differential tests and registry
                # oracles use unique order keys for this reason.
                w2 = W.partitionBy(*parts) if parts else W.partitionBy(
                    F.lit(1)
                )
                ocols = []
                for o in e.order_by:
                    c = self.expr(o.expr, binds, scalar_map, subst)
                    if fnl == "lag":
                        o = A.OrderItem(
                            expr=o.expr, desc=not o.desc,
                            nulls="first"
                            if (o.nulls or "last") == "last" else "last",
                        )
                    ocols.append(self._order_col(c, o))
                w2 = w2.orderBy(*ocols).rowsBetween(
                    1, W.unboundedFollowing
                )
                return F.nth_value(
                    args[0], int(off), ignoreNulls=True
                ).over(w2)
            col = (F.lag if fnl == "lag" else F.lead)(args[0], int(off))
        elif fnl == "count":
            col = F.count(args[0])
        elif fnl == "sum":
            col = F.sum(args[0])
        elif fnl == "min":
            col = F.min(args[0])
        elif fnl == "max":
            col = F.max(args[0])
        elif fnl == "avg":
            col = F.avg(args[0])
        elif fnl == "stddev":
            col = F.stddev_samp(args[0])
        elif fnl == "variance":
            col = F.var_samp(args[0])
        elif fnl == "stddev_pop":
            col = F.stddev_pop(args[0])
        elif fnl == "var_pop":
            col = F.var_pop(args[0])
        elif fnl == "approx_count_distinct":
            col = (
                F.approx_count_distinct(args[0], float(e.args[1].value))
                if len(e.args) == 2
                else F.approx_count_distinct(args[0])
            )
        elif fnl == "approx_percentile":
            col = F.percentile_approx(
                args[0], float(e.args[1].value),
                int(e.args[2].value) if len(e.args) == 3 else 10000,
            )
        elif fnl == "percent_rank":
            col = F.percent_rank()
        elif fnl == "cume_dist":
            col = F.cume_dist()
        elif fnl == "ntile":
            col = F.ntile(int(e.args[0].value))
        elif fnl == "nth_value":
            col = F.nth_value(
                args[0], int(e.args[1].value),
                ignoreNulls=e.nulls_mode == "ignore",
            )
        elif fnl == "first_value":
            col = F.first(args[0], ignorenulls=e.nulls_mode == "ignore")
        elif fnl == "last_value":
            col = F.last(args[0], ignorenulls=e.nulls_mode == "ignore")
        else:  # pragma: no cover — analyzer rejects unknown fns
            raise SqlppError(f"unknown window function {e.fn}")
        col = col.over(w)
        if fnl in (
            "row_number", "rank", "dense_rank", "count", "ntile",
            "approx_count_distinct",
        ):
            col = col.cast("bigint")
        elif fnl == "approx_percentile":
            col = col.cast("double")
        return col

    def _param_col(self, e: A.EParam, binds: Bindings) -> Column:
        if e.is_expr_param:
            val = binds.get(e.name, e.loc)
            if isinstance(val, Column):
                return val
            raise SqlppError(
                f"expression parameter ?{e.name} must be bound to a Column "
                "(use engine.compile_expr_param to build one from sqlpp source)"
            )
        val = binds.get(e.name, e.loc)
        ty = e.ty or e.ascribed
        if val is None:
            return F.lit(None).cast(spark_type(ty))
        return F.lit(val).cast(spark_type(ty)) if ty is not None else F.lit(val)

    def _match_col(self, e: A.EMatch, binds, scalar_map, subst) -> Column:
        """Variant param: the bound value picks which branch compiles —
        query-shape specialization before execution (SURVEY §4)."""
        val = binds.get(e.param, e.loc)
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
                inner = dict(binds.values)
                if isinstance(payload, dict):
                    inner.update(payload)
                else:
                    for pname, pval in zip(br.params, payload):
                        inner[pname] = pval
                return self.expr(br.body, Bindings(inner), scalar_map, subst)
        raise SqlppError(f"no branch for variant tag {tag!r} in MATCH ?{e.param}")

    @staticmethod
    def _group_idx(ctx: SelectCtx, arg: A.Expr) -> int:
        """Index of a grouping() argument within the group exprs (the
        analyzer guaranteed membership)."""
        k = expr_key(arg)
        for i, g in enumerate(ctx.group_exprs):
            if expr_key(g) == k:
                return i
        raise SqlppError("grouping() argument is not a GROUP BY expression")

    def _agg_column(self, app: A.EApp, binds: Bindings) -> Column:
        fn = app.fn.lower()
        args = [self.expr(a, binds, {}) for a in app.args]
        if fn == "count":
            return F.count(args[0])
        if fn == "sum":
            return F.sum(args[0])
        if fn == "max":
            return F.max(args[0])
        if fn == "min":
            return F.min(args[0])
        if fn == "avg":
            return F.avg(args[0])
        if fn == "count_distinct":
            return F.count_distinct(args[0])
        if fn == "sum_distinct":
            return F.sum_distinct(args[0])
        if fn == "avg_distinct":
            # Spark has no avg_distinct builtin: exact compose from
            # the two distinct partials (same shuffle as one)
            return F.try_divide(
                F.sum_distinct(args[0]).cast("double"),
                F.count_distinct(args[0]),
            )
        if fn == "approx_count_distinct":
            # r15: HLL++ sketch — bounded state per group, map-side
            # combinable (the 100 TB distinct-count path)
            if len(app.args) == 2:
                return F.approx_count_distinct(
                    args[0], float(app.args[1].value)
                ).cast("bigint")
            return F.approx_count_distinct(args[0]).cast("bigint")
        if fn == "approx_percentile":
            # r15: GK quantile sketch — fixed-size partial-aggregable
            # state; FLOAT by dialect contract (Spark returns an input
            # element in the input's type)
            acc = int(app.args[2].value) if len(app.args) == 3 else 10000
            return F.percentile_approx(
                args[0], float(app.args[1].value), acc
            ).cast("double")
        if fn == "percentile_cont":
            # exact interpolated percentile (F.percentile sorts per
            # group — the exact path; the GK sketch is the scale path)
            return F.percentile(
                args[0], F.lit(float(app.args[1].value))
            ).cast("double")
        # r14 statistical aggregates — Spark's JVM-side implementations
        # (partial aggregation / map-side combine intact)
        if fn == "stddev":
            return F.stddev_samp(args[0])
        if fn == "variance":
            return F.var_samp(args[0])
        if fn == "stddev_pop":
            return F.stddev_pop(args[0])
        if fn == "var_pop":
            return F.var_pop(args[0])
        if fn == "median":
            return F.median(args[0])
        if fn == "mode":
            return F.mode(args[0])
        if fn in ("arg_min", "arg_max"):
            # pin DuckDB's skip-NULL-value semantics: Spark's
            # min_by/max_by would happily RETURN a NULL value whose
            # key is extreme; nulling the key for NULL-value rows
            # makes them unpickable (NULL keys never win)
            key = F.when(args[0].isNotNull(), args[1])
            if fn == "arg_min":
                return F.min_by(args[0], key)
            return F.max_by(args[0], key)
        if fn == "corr":
            return F.corr(args[0], args[1])
        if fn == "covar_samp":
            return F.covar_samp(args[0], args[1])
        if fn == "covar_pop":
            return F.covar_pop(args[0], args[1])
        if fn == "bool_and":
            return F.bool_and(args[0])
        if fn == "bool_or":
            return F.bool_or(args[0])
        if fn == "bit_and":
            return F.bit_and(args[0]).cast("bigint")
        if fn == "bit_or":
            return F.bit_or(args[0]).cast("bigint")
        if fn == "bit_xor":
            return F.bit_xor(args[0]).cast("bigint")
        if fn == "count_if":
            return F.count_if(args[0]).cast("bigint")
        if fn == "string_agg":
            # dialect contract: ascending-by-value concatenation (see
            # analyze.py) — array_sort(collect_list) is deterministic
            # regardless of partitioning; concat_ws('', []) would be ''
            # where SQL string_agg is NULL over an empty group, hence
            # the count guard
            sep = app.args[1].value
            arr = F.array_sort(F.collect_list(args[0]))
            return F.when(
                F.count(args[0]) > 0, F.concat_ws(sep, arr)
            )
        if fn == "grouping":
            # r14: subtotal marker for ROLLUP/CUBE/GROUPING SETS —
            # Spark matches the expression against the grouping
            # columns semantically (the __gN alias only renames)
            return F.grouping(args[0]).cast("bigint")
        raise SqlppError(f"unknown aggregate {app.fn}")

    def _app_col(self, e: A.EApp, binds, scalar_map, subst) -> Column:
        fn = e.fn.lower()

        def a(i):
            return self.expr(e.args[i], binds, scalar_map, subst)

        if fn in AGG_FNS:
            # aggregates outside a grouped compile (shouldn't happen —
            # the analyzer enforces GROUP BY)
            return self._agg_column(e, binds)
        if fn == "=":
            return a(0) == a(1)
        if fn == "!=":
            return a(0) != a(1)
        if fn == ">":
            return a(0) > a(1)
        if fn == ">=":
            return a(0) >= a(1)
        if fn == "<":
            return a(0) < a(1)
        if fn == "<=":
            return a(0) <= a(1)
        if fn == "and":
            return a(0) & a(1)
        if fn == "or":
            return a(0) | a(1)
        if fn == "not":
            return ~a(0)
        if fn == "-u":
            return -a(0)
        if fn in ("+", "-", "*"):
            if isinstance(e.args[1], A.EInterval):
                # r16: DATETIME +/- INTERVAL — timestampadd handles
                # month-end clamping and leap years identically to
                # DuckDB's native interval arithmetic (probed)
                iv = e.args[1]
                n = iv.n if fn == "+" else -iv.n
                return F.timestamp_add(iv.unit.upper(), F.lit(n), a(0))
            l, r = a(0), a(1)
            return {"+": l + r, "-": l - r, "*": l * r}[fn]
        if fn == "/":
            l, r = a(0), a(1)
            lt = e.args[0].ty
            rt = e.args[1].ty
            # try_divide: NULL on division by zero — the reference's
            # SQLite backend semantics; Spark's ANSI mode would raise
            if lt is not None and rt is not None and lt.kind == "int" and rt.kind == "int":
                # SQLite-style integer division (truncation toward zero)
                return F.try_divide(l, r).cast("long")
            return F.try_divide(l, r)
        if fn == "is null":
            return a(0).isNull()
        if fn == "is not null":
            return a(0).isNotNull()
        if fn == "is not distinct from":
            # null-safe equality — Catalyst's EqualNullSafe (<=>),
            # predicate-pushdown-able like plain equality
            return a(0).eqNullSafe(a(1))
        if fn == "is distinct from":
            return ~a(0).eqNullSafe(a(1))
        if fn == "nullif":
            return F.nullif(a(0), a(1))
        if fn == "coalesce":
            return F.coalesce(*[a(i) for i in range(len(e.args))])
        if fn == "now":
            return F.current_timestamp()
        if fn == "tostring":
            return a(0).cast("string")
        if fn == "datetime":
            # try_*: malformed dynamic strings yield NULL — matching the
            # analyzer's nullable result type for dynamic args
            # (analyze.ml:601-610) and SQLite behavior; literals were
            # validated at analysis time
            return F.try_to_timestamp(F.replace(a(0), F.lit("T"), F.lit(" ")))
        if fn == "date":
            return F.to_date(F.try_to_timestamp(a(0), F.lit("yyyy-MM-dd")))
        if fn == "like":
            pat = e.args[1]
            if isinstance(pat, A.ELit) and pat.lit_kind == "string":
                return a(0).like(pat.value)
            raise SqlppError("like() pattern must be a string literal", pat.loc)
        if fn == "case":
            # searched CASE (r14): F.when chain; NULL condition = no
            # match (Kleene, same as every SQL engine); the final cast
            # pins mixed int/float branches to the analyzed lub type
            n = len(e.args)
            col = None
            for i in range(n // 2):
                c, v = a(2 * i), a(2 * i + 1)
                col = F.when(c, v) if col is None else col.when(c, v)
            if n % 2 == 1:
                col = col.otherwise(a(n - 1))
            if e.ty is not None:
                col = col.cast(spark_type(e.ty))
            return col
        if fn == "date_trunc":
            # r15: Spark returns TIMESTAMP always; the analyzer typed
            # the result to the INPUT's kind (date->date) — cast back
            col = F.date_trunc(e.args[0].value.lower(), a(1))
            return col.cast(spark_type(e.ty)) if e.ty is not None else col
        if fn == "regexp_extract":
            # r16: pattern/group are plan constants (PySpark wants
            # python values, analyzer guaranteed the literals)
            return F.regexp_extract(
                a(0), e.args[1].value, int(e.args[2].value)
            )
        if fn == "translate":
            return F.translate(a(0), e.args[1].value, e.args[2].value)
        ext = _EXT_COMPILE.get(fn)
        if ext is not None:
            return ext([a(i) for i in range(len(e.args))])
        raise SqlppError(f"cannot compile function {e.fn}")


_EXT_COMPILE = {
    "upper": lambda a: F.upper(a[0]),
    "lower": lambda a: F.lower(a[0]),
    "length": lambda a: F.length(a[0]).cast("bigint"),
    "substring": lambda a: F.substring(a[0], a[1], a[2]),
    "substr": lambda a: F.substring(a[0], a[1], a[2]),
    "concat": lambda a: F.concat(*a),
    "trim": lambda a: F.trim(a[0]),
    "ltrim": lambda a: F.ltrim(a[0]),
    "rtrim": lambda a: F.rtrim(a[0]),
    "md5": lambda a: F.md5(a[0]),
    "replace": lambda a: F.replace(a[0], a[1], a[2]),
    # r14 string pack
    "lpad": lambda a: F.lpad(a[0], a[1], a[2]),
    "rpad": lambda a: F.rpad(a[0], a[1], a[2]),
    "repeat": lambda a: F.repeat(a[0], a[1]),
    "reverse": lambda a: F.reverse(a[0]),
    "left": lambda a: F.left(a[0], a[1]),
    "right": lambda a: F.right(a[0], a[1]),
    "strpos": lambda a: F.instr(a[0], a[1]).cast("bigint"),
    "contains": lambda a: F.contains(a[0], a[1]),
    "starts_with": lambda a: F.startswith(a[0], a[1]),
    "ends_with": lambda a: F.endswith(a[0], a[1]),
    "abs": lambda a: F.abs(a[0]),
    "round": lambda a: F.round(a[0], 0),
    "floor": lambda a: F.floor(a[0]).cast("bigint"),
    "ceil": lambda a: F.ceil(a[0]).cast("bigint"),
    "year": lambda a: F.year(a[0]).cast("bigint"),
    "month": lambda a: F.month(a[0]).cast("bigint"),
    "day": lambda a: F.dayofmonth(a[0]).cast("bigint"),
    "hour": lambda a: F.hour(a[0]).cast("bigint"),
    "minute": lambda a: F.minute(a[0]).cast("bigint"),
    "second": lambda a: F.second(a[0]).cast("bigint"),
    "split_part": lambda a: F.split_part(a[0], a[1], a[2]),
    "regexp_replace": lambda a: F.regexp_replace(a[0], a[1], a[2]),
    "regexp_like": lambda a: F.regexp_like(a[0], a[1]),
    "greatest": lambda a: F.greatest(*a),
    "least": lambda a: F.least(*a),
    "mod": lambda a: F.try_mod(a[0], a[1]),
    # r15 date arithmetic
    # dialect INT is 64-bit; Spark date_add wants INT32
    "date_add": lambda a: F.date_add(a[0], a[1].cast("int")),
    "date_diff": lambda a: F.datediff(a[0], a[1]).cast("bigint"),
    # sqrt/ln pin NULL on out-of-domain input (late r14): Spark's
    # natives give NaN/NULL while DuckDB/PG raise Out of Range — the
    # dialect's total semantics is NULL, guarded identically in the
    # SQL printers so every backend agrees
    "sqrt": lambda a: F.when(a[0] >= 0, F.sqrt(a[0])),
    "pow": lambda a: F.pow(a[0], a[1]),
    "exp": lambda a: F.exp(a[0]),
    "ln": lambda a: F.when(a[0] > 0, F.log(a[0])),
    # r16 scalar wave. Spark has no one-arg numeric trunc — truncate
    # toward zero via the ceil/floor split (probed equal to DuckDB
    # trunc); log10/log2 pin NULL on out-of-domain like ln.
    # r16 temporal wave: epoch = floor of the double-seconds view
    # (micros/1e6 — identical on both engines, incl. pre-1970);
    # dayofweek is Spark's Sunday=1 convention (printers offset)
    "epoch": lambda a: F.floor(a[0].cast("double")).cast("bigint"),
    "last_day": lambda a: F.last_day(a[0]),
    "dayofweek": lambda a: F.dayofweek(a[0]).cast("bigint"),
    "week": lambda a: F.weekofyear(a[0]).cast("bigint"),
    "quarter": lambda a: F.quarter(a[0]).cast("bigint"),
    "dayofyear": lambda a: F.dayofyear(a[0]).cast("bigint"),
    "make_date": lambda a: F.make_date(a[0], a[1], a[2]),
    "make_timestamp": lambda a: F.make_timestamp(
        a[0], a[1], a[2], a[3], a[4], a[5]
    ),
    "sign": lambda a: F.signum(a[0]),
    "trunc": lambda a: (
        F.when(a[0] < 0, F.ceil(a[0])).otherwise(F.floor(a[0]))
        .cast("double")
    ),
    "log10": lambda a: F.when(a[0] > 0, F.log10(a[0])),
    "log2": lambda a: F.when(a[0] > 0, F.log2(a[0])),
    "ascii": lambda a: F.ascii(a[0]).cast("bigint"),
}


# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------


def _split_conjuncts(e: A.Expr) -> List[A.Expr]:
    if isinstance(e, A.EApp) and e.fn.lower() == "and":
        return _split_conjuncts(e.args[0]) + _split_conjuncts(e.args[1])
    return [e]


def _iter_agg_apps(e: A.Expr):
    if isinstance(e, A.EApp):
        if e.fn.lower() in AGG_FNS:
            yield e
            return
        for x in e.args:
            yield from _iter_agg_apps(x)
    elif isinstance(e, A.EWindow):
        # windows over grouped selects (r13): aggregates inside the
        # window's args/spec evaluate as ordinary aggregates first
        for x in [*e.args, *e.partition_by, *[o.expr for o in e.order_by]]:
            yield from _iter_agg_apps(x)
    elif isinstance(e, A.EAscribe):
        yield from _iter_agg_apps(e.expr)
    elif isinstance(e, A.EQuant):
        # aggregate probes (`sum(x) > ALL (sub)`) evaluate as ordinary
        # aggregates first; the subquery is its own scope (r15)
        yield from _iter_agg_apps(e.expr)
    elif isinstance(e, A.EIn):
        for x in e.exprs:
            yield from _iter_agg_apps(x)
    elif isinstance(e, A.EInList):
        yield from _iter_agg_apps(e.expr)
        for x in e.items:
            yield from _iter_agg_apps(x)
    elif isinstance(e, A.EMatch):
        for br in e.branches:
            yield from _iter_agg_apps(br.body)


def _has_window(e: A.Expr) -> bool:
    if isinstance(e, A.EWindow):
        return True
    for x in getattr(e, "args", None) or []:
        if _has_window(x):
            return True
    if isinstance(e, (A.EAscribe, A.ENav)):
        return _has_window(e.expr)
    if isinstance(e, A.EIn):  # window in an IN probe expression
        return any(_has_window(x) for x in e.exprs)
    if isinstance(e, A.EInList):
        return _has_window(e.expr) or any(_has_window(x) for x in e.items)
    if isinstance(e, A.EMatch):  # window nested in a match branch
        return any(_has_window(br.body) for br in e.branches)
    return False


def _iter_nodes(e: A.Expr):
    yield e
    if isinstance(e, A.EApp):
        for x in e.args:
            yield from _iter_nodes(x)
    elif isinstance(e, A.EAscribe):
        yield from _iter_nodes(e.expr)
    elif isinstance(e, A.EMatch):
        for br in e.branches:
            yield from _iter_nodes(br.body)
    elif isinstance(e, A.EIn):
        for x in e.exprs:
            yield from _iter_nodes(x)
    elif isinstance(e, A.EQuant):
        yield from _iter_nodes(e.expr)
    elif isinstance(e, A.EInList):
        yield from _iter_nodes(e.expr)
        for x in e.items:
            yield from _iter_nodes(x)
    # EScalarSub: yielded as a node (first line); its select is a
    # separate scope — never descended into


def _const_int(e: A.Expr, binds: Bindings) -> int:
    if isinstance(e, A.ELit) and isinstance(e.value, int):
        return e.value
    if (
        isinstance(e, A.EApp) and e.fn == "-u" and len(e.args) == 1
        and isinstance(e.args[0], A.ELit)
        and isinstance(e.args[0].value, int)
    ):
        # negative int literal (r15: generate_series steps parse as
        # unary minus over a literal)
        return -e.args[0].value
    if isinstance(e, A.EParam):
        v = binds.get(e.name, e.loc)
        if isinstance(v, int):
            return v
    raise SqlppError(
        "expected an integer literal or bound integer parameter"
    )
