"""Analyzer: scope resolution, elaboration, typing.

Reproduces the reference's elaboration semantics (sqlpp/analyze.ml,
sqlpp/scope.ml — SURVEY.md §1-§3) on our own AST:

- names lower to depth-1 ``ERef(rel, field)`` references; navigation
  through nested open subqueries *injects* generated ``_i`` fields at
  every level, reusing structurally-equal fields (hash-consing stand-in:
  ``ast.expr_key``)
- LEFT JOIN marks the right-hand relation nullable; every field
  referenced through it becomes nullable (analyze.ml:801-805)
- ``with`` fields are lazy: same-scope references inline the defining
  expression; cross-scope references materialize the field
  (analyze.ml:401-407, optional_fields.t)
- fieldsets splice re-analyzed bodies with param aliases bound to the
  argument scopes (analyze.ml:711-752, fieldset.t)
- aggregates require GROUP BY (even global: GROUP BY ()), may not nest,
  and non-grouped references outside aggregates are rejected
  (analyze.ml:271-331, group_by.t)
- parameter types unify across uses: nullability glb, kind glb
  (analyze.ml:120-178, infer.t)
"""

from __future__ import annotations

import copy
import re as _re
from dataclasses import dataclass, field as dc_field
from typing import Dict, List, Optional, Tuple

from sqlpp_spark.frontend import ast as A
from sqlpp_spark.frontend.ast import expr_key
from sqlpp_spark.frontend.errors import Loc, SqlppError
from sqlpp_spark.frontend.parser import parse_decls, parse_query
from sqlpp_spark.frontend.types import (
    BOOL, DATE, DATETIME, FLOAT, INT, NUMERIC, STRING, Ty, check_subsumes,
    subsumes, ty_glb, ty_lub,
)

AGG_FNS = {
    "count", "sum", "max", "min", "avg", "count_distinct", "grouping",
    "sum_distinct", "avg_distinct",
    # r14 statistical/collection aggregates (beyond reference —
    # analyze.ml's builtin table has count/sum/max/min only)
    "stddev", "variance", "stddev_pop", "var_pop",
    # r15 third wave: exact median + bivariate statistics + argmin/max
    "median", "corr", "covar_samp", "covar_pop",
    "arg_min", "arg_max", "mode",
    "string_agg", "bool_and", "bool_or",
    # r16: exact integer bitwise aggregates + predicate count (all
    # probed NULL/empty-group identical across Spark and DuckDB)
    "bit_and", "bit_or", "bit_xor", "count_if",
    # r15 sketch-backed approximate aggregates (beyond reference) —
    # the 100 TB path for distinct counts / quantiles over columns
    # with unbounded cardinality: bounded state, map-side combinable
    "approx_count_distinct", "approx_percentile",
    # r15 third wave: EXACT interpolated percentile (same linear-
    # interpolation-at-rank-p*(n-1) formula in Spark and DuckDB —
    # probed bit-identical incl. ulp artifacts)
    "percentile_cont",
}

# comparison ops liftable as scalar-subquery correlation conjuncts,
# mapped to their mirror for inner-first reorientation (r12)
_CORR_OPS = {"=": "=", "!=": "!=", "<": ">", "<=": ">=",
             ">": "<", ">=": "<="}

DATE_RE = _re.compile(r"^\d{4}-\d{2}-\d{2}$")
DATETIME_RE = _re.compile(r"^\d{4}-\d{2}-\d{2}[T ]\d{2}:\d{2}:\d{2}$")


# ---------------------------------------------------------------------------
# Environment (schema catalog)
# ---------------------------------------------------------------------------


@dataclass
class TableInfo:
    name: str
    columns: "Dict[str, Ty]"
    decl: Optional[A.DeclTable] = None


@dataclass
class FieldsetInfo:
    name: str
    params: List[A.FieldsetParam]
    fields: List[A.Field]  # raw parsed projection (re-analyzed at splice)


class Env:
    """Schema environment: tables, named queries, fieldsets
    (sqlpp.ml:81-111). Named queries and fieldsets store their *raw*
    AST and are re-analyzed fresh at each use site — semantically the
    reference's Scope.fresh deep-copy (scope.ml:66-88) without its
    acknowledged Expr_in scope-sharing bug (README.md:260-263)."""

    def __init__(self):
        self.tables: Dict[str, TableInfo] = {}
        self.queries: Dict[str, A.DeclQuery] = {}
        self.fieldsets: Dict[str, FieldsetInfo] = {}

    def add(self, src: str) -> None:
        for decl in parse_decls(src):
            self.add_decl(decl, src)

    def add_decl(self, decl, src: str = "") -> None:
        if isinstance(decl, A.DeclTable):
            cols = {c.name: c.ty for c in decl.columns}
            self.tables[decl.name] = TableInfo(decl.name, cols, decl)
        elif isinstance(decl, A.DeclQuery):
            # analyze eagerly for early errors, store raw for reuse
            # (r14: compound bodies analyze through analyze_query)
            Analyzer(self, src).analyze_query(copy.deepcopy(decl.select))
            self.queries[decl.name] = decl
        elif isinstance(decl, A.DeclFieldset):
            info = FieldsetInfo(decl.name, decl.params, decl.select.fields)
            self.fieldsets[decl.name] = info
            self._check_fieldset(decl, src)
        else:
            raise SqlppError(f"unknown decl {type(decl).__name__}")

    def add_table(self, name: str, columns: Dict[str, Ty]) -> None:
        self.tables[name] = TableInfo(name, dict(columns))

    def add_ddl(self, ddl) -> None:
        """Apply a DDL evolution statement to the env, keeping schema
        and decl in sync (mirrors sqlpp.ml:123-196 add_ddl)."""
        if isinstance(ddl, A.DeclTable):
            self.add_decl(ddl)
            return
        ti = self.tables.get(ddl.table)
        if ti is None:
            raise SqlppError(f"no such table: {ddl.table}", ddl.loc)
        if isinstance(ddl, A.DdlDropTable):
            del self.tables[ddl.table]
        elif isinstance(ddl, A.DdlRenameTable):
            del self.tables[ddl.table]
            ti.name = ddl.new_name
            if ti.decl is not None:
                ti.decl.name = ddl.new_name
            self.tables[ddl.new_name] = ti
        elif isinstance(ddl, A.DdlRenameColumn):
            if ddl.column not in ti.columns:
                raise SqlppError(f"no such column: {ddl.column}", ddl.loc)
            # preserve column order through the rename
            ti.columns = {
                (ddl.new_name if k == ddl.column else k): v
                for k, v in ti.columns.items()
            }
            if ti.decl is not None:
                for c in ti.decl.columns:
                    if c.name == ddl.column:
                        c.name = ddl.new_name
        elif isinstance(ddl, A.DdlDropColumn):
            if ddl.column not in ti.columns:
                raise SqlppError(f"no such column: {ddl.column}", ddl.loc)
            del ti.columns[ddl.column]
            if ti.decl is not None:
                ti.decl.columns = [c for c in ti.decl.columns if c.name != ddl.column]
        elif isinstance(ddl, A.DdlAddColumn):
            if ddl.column.name in ti.columns:
                raise SqlppError(f"column already exists: {ddl.column.name}", ddl.loc)
            ti.columns[ddl.column.name] = ddl.column.ty
            if ti.decl is not None:
                ti.decl.columns.append(ddl.column)
        else:
            raise SqlppError(f"unknown DDL {type(ddl).__name__}", getattr(ddl, "loc", None))

    def _check_fieldset(self, decl: A.DeclFieldset, src: str) -> None:
        """Decl-time check: analyze the body against scopes built from
        the declared scope types (analyze.ml:1022-1038)."""
        an = Analyzer(self, src)
        sel = A.Select()
        ctx = SelectCtx(sel)
        for p in decl.params:
            ctx.rels[p.alias] = self._sty_rel(p.alias, p.sty, an)
        for f in decl.select.fields:
            f2 = copy.deepcopy(f)
            elab, ty = an.infer_expr(ctx, f2.expr)
            _ = (elab, ty)

    def _sty_rel(self, name: str, sty, an: "Analyzer"):
        if isinstance(sty, A.STyTable):
            ti = self.tables.get(sty.table)
            if ti is None:
                raise SqlppError(f"no such table: {sty.table}")
            return TableRel(name, ti.columns)
        # struct scope: synthesize an open select-like rel
        sel = A.Select(is_open=True)
        ctx = SelectCtx(sel)
        for kind, n, item in sty.entries:
            if kind == "scope":
                ctx.rels[n] = self._sty_rel(n, item, an)
            else:
                ctx.own_synthetic[n] = item  # name -> Ty
        return StructRel(name, ctx)


# ---------------------------------------------------------------------------
# Relations (navigable scopes bound in FROM)
# ---------------------------------------------------------------------------


@dataclass
class TableRel:
    name: str
    columns: Dict[str, Ty]
    nullable: bool = False
    table: Optional[str] = None  # physical table name (defaults to name)


@dataclass
class SetOpRel(TableRel):
    """``FROM (compound select) AS alias`` (r14): resolution-wise a
    CLOSED relation with a fixed column dict — a TableRel subclass,
    so every resolution path treats it as closed (navigation cannot
    inject fields into a compound). Carries the analyzed SetOpCtx
    for the compilers."""

    sctx: object = None  # SetOpCtx


@dataclass
class RecQueryRel(TableRel):
    """``FROM <recursive view / (WITH RECURSIVE ...) derived table>``
    (r17): resolution-wise a CLOSED relation whose columns are the
    recursive query's main row; carries the analyzed QueryInfo (with
    ``.recursive`` set) so the compiler runs the iterative loop and
    the SQL printers emit the full WITH RECURSIVE form inline."""

    info: object = None  # QueryInfo


@dataclass
class SelectRel:
    name: str
    ctx: "SelectCtx"
    nullable: bool = False


@dataclass
class StructRel:  # fieldset struct-typed parameter (decl-time only)
    name: str
    ctx: "SelectCtx"
    nullable: bool = False


class SelectCtx:
    """Analysis context for one select — the reference's Scope
    (scope.ml:3-12): child relations, withscope aliases, the mutable
    projection (fields), and hash-cons lookup tables."""

    def __init__(self, select: A.Select):
        self.select = select
        self.rels: Dict[str, object] = {}
        self.aliases: Dict[str, List[str]] = {}
        self.fields: List[A.Field] = []
        self.by_name: Dict[str, A.Field] = {}
        self.by_key: Dict[tuple, A.Field] = {}
        self.group_keys: List[tuple] = []
        self.group_exprs: List[A.Expr] = []
        self.own_synthetic: Dict[str, Ty] = {}  # struct-sty fields (decl-time)
        self.agg_depth = 0  # > 0 while inferring an aggregate's arguments

    def add_field(self, f: A.Field) -> None:
        self.fields.append(f)
        if f.out_name is not None and f.out_name not in self.by_name:
            self.by_name[f.out_name] = f
        k = expr_key(f.expr)
        if k not in self.by_key:
            self.by_key[k] = f

    def row(self) -> List[Tuple[str, Ty]]:
        return [(f.out_name, f.expr.ty) for f in self.fields if f.is_used]


@dataclass
class ParamEntry:
    name: str
    ty: Optional[Ty] = None  # unified (glb) — the bind-time requirement
    uses: List[Ty] = dc_field(default_factory=list)
    kind: str = "value"  # value | expr | variant
    variant: Dict[str, List[str]] = dc_field(default_factory=dict)  # tag -> params


@dataclass
class RecMemberInfo:
    """One analyzed ``WITH RECURSIVE`` member (r17 single; r18
    multiple/mutual). ``row`` is the member table's fixpoint row
    type: seeded from the base branch (renamed by the optional column
    list), then widened by re-analyzing the stratum's steps against
    the widened bindings until stable — each step sees every cycle
    table at its final type, so e.g. a step that can yield NULL into
    a base-non-null column analyzes with the nullable type on BOTH
    sides of the recursion. ``base_ctx``/``step_ctx`` are the
    elaborated branch contexts (SelectCtx | SetOpCtx) the compiler /
    SQL printers consume."""

    name: str
    row: List[Tuple[str, Ty]]
    base_ctx: object
    step_ctx: object
    union_all: bool
    # non-linear step (cycle referenced more than once): the compiler
    # binds cycle names to ACCUMULATED results, not deltas
    nonlinear: bool = False


@dataclass
class RecursiveInfo:
    """Analyzed ``WITH RECURSIVE`` member set (r18). ``members`` is
    in declaration order (the printers re-emit it verbatim);
    ``strata`` groups member INDEXES in evaluation order — one
    stratum per SCC of the reference graph, so a stratum of size > 1
    is a mutual cycle iterating in tandem while later strata see
    earlier strata's completed results (the stratified DuckDB/PG
    semantics)."""

    members: List[RecMemberInfo]
    strata: List[List[int]]


@dataclass
class QueryInfo:
    """Elaborated query — analysis output (analyze.ml:15-21).
    ``select`` is an A.Select, or an A.SetOp for compound selects
    (r14); ``ctx`` is the matching SelectCtx / SetOpCtx.
    ``recursive`` carries the WITH RECURSIVE member when the query has
    one (r17): ``ctx`` is then the final SELECT, analyzed with the
    recursive name bound as a table."""

    select: A.Select
    ctx: SelectCtx
    params: Dict[str, ParamEntry]
    src: str
    recursive: Optional[RecursiveInfo] = None
    # stable identity for the compiler's per-compile fixpoint memo:
    # use sites of a named recursive VIEW re-analyze fresh copies, so
    # object identity alone cannot tie them together
    memo_key: Optional[tuple] = None

    @property
    def row(self) -> List[Tuple[str, Ty]]:
        return self.ctx.row()


@dataclass
class SetOpCtx:
    """Analyzed compound select (r14). Branch ctxs keep their own
    elaboration; the compound row takes NAMES from the first branch
    and per-column TYPES as the branch lub (nullable if either side
    is — UNION of a NOT NULL and a nullable column can yield NULL).
    ``order_names`` is the resolved compound ORDER BY: output column
    names only, per standard SQL."""

    node: "A.SetOp"
    left: object  # SelectCtx | SetOpCtx
    right: object  # SelectCtx | SetOpCtx
    _row: List[Tuple[str, Ty]] = dc_field(default_factory=list)
    order_names: List[tuple] = dc_field(default_factory=list)  # (name, OrderItem)

    def row(self) -> List[Tuple[str, Ty]]:
        return self._row

    @property
    def fields(self):
        """Output-field view compatible with SelectCtx.fields (r15 —
        lets compound subqueries flow through the EIn/EExists compile
        paths, which read out_name / is_used / expr.ty only)."""
        return [_SetOpField(n, _TyHolder(t)) for n, t in self._row]


@dataclass
class _TyHolder:
    ty: Ty


@dataclass
class _SetOpField:
    out_name: str
    expr: _TyHolder
    is_used: bool = True


# ---------------------------------------------------------------------------
# Analyzer
# ---------------------------------------------------------------------------


class Analyzer:
    def __init__(self, env: Env, src: str = ""):
        self.env = env
        self.src = src
        self.params: Dict[str, ParamEntry] = {}
        # r19 dynamic PIVOT hook: callable(src_from_node, col, loc)
        # -> [(ELit, None), ...], injected by the engine (one bounded
        # DISTINCT job, capped by spark.sqlpp.pivot.maxValues);
        # None in pure-frontend contexts -> located error
        self.pivot_values = None

    def err(self, msg: str, loc: Optional[Loc] = None):
        raise SqlppError(msg, loc, self.src or None)

    # -- select ------------------------------------------------------------

    def analyze_query(self, q) -> QueryInfo:
        if isinstance(q, A.Select):
            ctx = self.analyze_select(q)
            return QueryInfo(q, ctx, self.params, self.src)
        if isinstance(q, A.SetOp):
            ctx = self.analyze_setop(q)
            return QueryInfo(q, ctx, self.params, self.src)
        if isinstance(q, A.RecursiveQuery):
            return self.analyze_recursive(q)
        raise SqlppError(f"not a select: {type(q).__name__}")

    def analyze_recursive(self, q: "A.RecursiveQuery") -> QueryInfo:
        """WITH RECURSIVE (r17 single member; r18 multiple members /
        mutual cycles). Per member, the base branch fixes the column
        NAMES (or the explicit column list does) and their KINDS —
        the Postgres/DuckDB rule: the non-recursive term types the
        recursive table. A step column must fit the base kind
        losslessly (int step into float base upcasts; float step into
        int base is a located error, because DuckDB's narrowing CAST
        rounds while Spark's truncates — probed divergence, see
        engine-divergences). NULLABILITY is the one lattice dimension
        that fixpoints: a step that can yield NULL into a base
        non-null column widens the binding and re-analyzes — JOINTLY
        across a mutual cycle's members, so every step sees every
        cycle table at its final type. Strata analyze in evaluation
        order (parser-computed SCCs of the reference graph): a later
        stratum's base/step see earlier strata as ordinary completed
        tables. Steps/main see member names as ordinary tables; the
        compiler binds them iteratively
        (compile._compile_recursive)."""
        strata: List[List[int]] = []
        for i, m in enumerate(q.members):
            while m.scc >= len(strata):
                strata.append([])
            strata[m.scc].append(i)
        shadowed = {
            m.name: self.env.tables.get(m.name) for m in q.members
        }
        minfos: List[Optional[RecMemberInfo]] = [None] * len(q.members)
        try:
            for stratum in strata:
                rows: Dict[int, List[Tuple[str, Ty]]] = {}
                base_ctxs: Dict[int, object] = {}
                for i in stratum:
                    m = q.members[i]
                    if isinstance(m.base, A.SetOp):
                        base_ctx = self.analyze_setop(m.base)
                    else:
                        base_ctx = self.analyze_select(m.base)
                    brow = base_ctx.row()
                    if m.columns:
                        if len(m.columns) != len(brow):
                            self.err(
                                f"recursive CTE {m.name!r}: column "
                                f"list has {len(m.columns)} names but "
                                f"the base select has {len(brow)} "
                                "columns", m.loc,
                            )
                        names = list(m.columns)
                    else:
                        names = [n for n, _t in brow]
                    if len(set(names)) != len(names):
                        self.err(
                            f"recursive CTE {m.name!r} has duplicate "
                            "column names", m.loc,
                        )
                    rows[i] = [
                        (names[k], t) for k, (_n, t) in enumerate(brow)
                    ]
                    base_ctxs[i] = base_ctx
                step_ctxs: Dict[int, object] = {}
                # joint fixpoint: each pass can only widen (kind
                # int->float once, non_null -> nullable once), so the
                # pass count is bounded by the stratum column count
                max_pass = 2 + sum(len(rows[i]) for i in stratum) * 2
                for _pass in range(max_pass):
                    for i in stratum:
                        m = q.members[i]
                        self.env.tables[m.name] = TableInfo(
                            m.name, {n: t for n, t in rows[i]}
                        )
                    changed = False
                    for i in stratum:
                        m = q.members[i]
                        step_ast = copy.deepcopy(m.step)
                        if isinstance(step_ast, A.SetOp):
                            step_ctx = self.analyze_setop(step_ast)
                        else:
                            step_ctx = self.analyze_select(step_ast)
                        srow = step_ctx.row()
                        if len(srow) != len(rows[i]):
                            self.err(
                                f"recursive CTE {m.name!r}: step has "
                                f"{len(srow)} columns, base has "
                                f"{len(rows[i])}", m.loc,
                            )
                        widened = self._rec_widen(
                            m.name, rows[i], srow, m.loc
                        )
                        if [t for _n, t in widened] != [
                            t for _n, t in rows[i]
                        ]:
                            rows[i] = widened
                            changed = True
                        step_ctxs[i] = step_ctx
                        m.step = step_ast  # keep the LAST elaborated
                    if not changed:
                        break
                else:  # pragma: no cover - lattice height bounds this
                    self.err(
                        "recursive CTE type inference did not "
                        "converge", q.loc,
                    )
                # later strata and main see the fixpoint types
                for i in stratum:
                    m = q.members[i]
                    self.env.tables[m.name] = TableInfo(
                        m.name, {n: t for n, t in rows[i]}
                    )
                    minfos[i] = RecMemberInfo(
                        m.name, rows[i], base_ctxs[i], step_ctxs[i],
                        m.union_all, nonlinear=getattr(m, "nonlinear", False),
                    )
            if isinstance(q.main, A.SetOp):
                main_ctx = self.analyze_setop(q.main)
            else:
                main_ctx = self.analyze_select(q.main)
        finally:
            for name, sh in shadowed.items():
                if sh is not None:
                    self.env.tables[name] = sh
                else:
                    self.env.tables.pop(name, None)
        rec = RecursiveInfo(minfos, strata)
        return QueryInfo(q.main, main_ctx, self.params, self.src, rec)

    def _rec_widen(self, name, row, srow, loc):
        """Per-column base-kind check + nullability widening for one
        recursive member (see analyze_recursive docstring)."""
        widened: List[Tuple[str, Ty]] = []
        for (n, t), (_sn, st) in zip(row, srow):
            # base kind is authoritative; the step must fit it
            # without loss (lub == base kind)
            numeric = (t.kinds | st.kinds) <= frozenset({"int", "float"})
            if not (t.kinds & st.kinds) and not numeric:
                self.err(
                    f"recursive CTE column `{n}`: base has {t} but "
                    f"step has {st}", loc,
                )
            u = ty_lub(t, st)
            if u.kinds == frozenset({"int", "float"}):
                u = FLOAT.with_non_null(u.non_null)
            if u.kinds != t.kinds:
                self.err(
                    f"recursive CTE column `{n}`: the step's {st} "
                    f"does not fit the base type {t} (the "
                    "non-recursive term fixes the type; cast the "
                    "base column if the recursion needs the wider "
                    "type)", loc,
                )
            widened.append((n, t.with_non_null(u.non_null)))
        return widened

    def analyze_setop(self, q: "A.SetOp") -> SetOpCtx:
        """Compound select (r14): analyze each branch independently,
        check arity, and lub the row per column — mirroring the
        comparison lub (analyze.ml:555-572): branches must share a
        type kind (or both be numeric, which widens to float, the
        standard SQL promotion). Compound ORDER BY resolves against
        output column NAMES only."""
        left = (
            self.analyze_setop(q.left)
            if isinstance(q.left, A.SetOp)
            else self.analyze_select(q.left)
        )
        right = (
            self.analyze_setop(q.right)
            if isinstance(q.right, A.SetOp)
            else self.analyze_select(q.right)
        )
        lrow, rrow = left.row(), right.row()
        if len(lrow) != len(rrow):
            self.err(
                f"set operation branches have different arities: "
                f"{len(lrow)} vs {len(rrow)} columns", q.loc,
            )
        row: List[Tuple[str, Ty]] = []
        for (ln, lt), (_rn, rt) in zip(lrow, rrow):
            numeric = (lt.kinds | rt.kinds) <= frozenset({"int", "float"})
            if not (lt.kinds & rt.kinds) and not numeric:
                self.err(
                    f"set operation column `{ln}`: expected {lt} "
                    f"but got {rt}", q.loc,
                )
            t = ty_lub(lt, rt)
            if t.kinds == frozenset({"int", "float"}):
                t = FLOAT.with_non_null(t.non_null)
            row.append((ln, t))
        ctx = SetOpCtx(q, left, right, row)
        names = {n for n, _ in row}
        if getattr(q, "order_all", None):
            # r15: ORDER BY ALL on a compound — every output column
            # of the first branch, left-to-right
            desc = q.order_all == "desc"
            q.order_by = [
                A.OrderItem(A.EName(name=n, loc=q.loc), desc, None)
                for n, _t in row
            ]
        for o in q.order_by:
            # r15: 1-based ordinals resolve to the compound's output
            # columns (same convention as plain selects)
            if isinstance(o.expr, A.ELit) and o.expr.lit_kind == "int":
                n = o.expr.value
                if not 1 <= n <= len(row):
                    self.err(
                        f"ORDER BY position {n} is not in the set "
                        "operation's output", o.expr.loc,
                    )
                o.expr = A.EName(name=row[n - 1][0], loc=o.expr.loc)
            if not isinstance(o.expr, A.EName) or o.expr.name not in names:
                self.err(
                    "set operation ORDER BY must reference an output "
                    "column name of the first branch",
                    getattr(o.expr, "loc", None) or q.loc,
                )
            ctx.order_names.append((o.expr.name, o))
        for attr in ("limit", "offset"):
            e = getattr(q, attr)
            if e is None:
                continue
            if isinstance(e, A.ELit) and isinstance(e.value, int):
                continue
            if isinstance(e, A.EParam) and not e.is_expr_param:
                self._adopt_param_non_null(e, INT, e.loc)
                continue
            self.err(
                f"set operation {attr.upper()} must be an int literal "
                "or parameter", getattr(e, "loc", None) or q.loc,
            )
        return ctx

    def analyze_select(self, sel: A.Select) -> SelectCtx:
        ctx = SelectCtx(sel)
        # 0. named windows (r16): substitute WINDOW-clause specs into
        # every `OVER w` reference before any inference, so the rest
        # of the pipeline only ever sees inline window specs
        unused_windows = self._resolve_named_windows(sel)
        # 1. FROM → relations
        if sel.from_ is not None:
            self._analyze_from(ctx, sel.from_, nullable=False)
        # 1b. UNUSED WINDOW definitions still bind and validate (the
        # oracle engines reject e.g. `WINDOW w AS (partition by
        # no_such_col)` even when w is never referenced) — referenced
        # specs were deep-copied into their EWindows and validate
        # through the normal inference path
        for nw in unused_windows:
            for ex in list(nw.partition_by) + [o.expr for o in nw.order_by]:
                elab, _ty = self.infer_expr(ctx, copy.deepcopy(ex))
                self._reject_agg(elab, "WINDOW")
                self._forbid_windows(elab, "WINDOW")
        # 2. WHERE (clauses before projection: analyze.ml:646-697)
        if sel.where is not None:
            self._forbid_windows(sel.where, "WHERE")
            sel.where, wty = self.infer_expr(ctx, sel.where)
            check_subsumes(wty, BOOL.nullable(), sel.where.loc, self.src or None)
            self._reject_agg(sel.where, "WHERE")
        # 3. GROUP BY (r14: plain | ROLLUP | CUBE | GROUPING SETS;
        # late-r14: output-alias and 1-based ordinal references, as in
        # DuckDB/PG/Spark SQL — resolved against the RAW projection
        # items before inference, so the substituted expression
        # hash-conses with its projection twin. A bare name prefers a
        # real column (PG precedence); ordinals must land on a plain
        # named/auto-named field.
        if getattr(sel, "group_all", False):
            # r15: GROUP BY ALL — every projection expression with no
            # aggregate inside becomes a group key (DuckDB's rule);
            # all-aggregate projections degrade to GROUP BY ().
            # Requires a plain explicit projection: the rule is
            # defined over the visible select list, so open selects
            # (`...`), fieldset splices, and lazy fields are errors.
            if sel.is_open:
                self.err(
                    "GROUP BY ALL requires an explicit projection "
                    "(no `...` open select)", sel.loc,
                )
            items = []
            for it in sel.fields:
                if not isinstance(it, A.Field) or it.is_lazy:
                    self.err(
                        "GROUP BY ALL requires plain projection fields "
                        "(no fieldset splices, WITHSCOPE, or lazy "
                        "WITH fields)", sel.loc,
                    )
                if self._contains_window(it.expr):
                    self.err(
                        "GROUP BY ALL cannot group a window "
                        "expression", it.loc,
                    )
                if self._contains_subquery(it.expr):
                    # _iter_apps does not descend into subquery scopes,
                    # so e.g. coalesce((select sum(x) ...), 0) would be
                    # misclassified as a group key and fail later with
                    # an unrelated compiler error — reject with a
                    # targeted diagnostic instead (spell the GROUP BY
                    # out explicitly to group by a subquery result)
                    self.err(
                        "GROUP BY ALL cannot classify a projection "
                        "item containing a subquery (IN / EXISTS / "
                        "scalar subquery / quantified comparison); "
                        "write the GROUP BY keys explicitly", it.loc,
                    )
                if any(
                    app.fn.lower() in AGG_FNS
                    for app in _iter_apps(it.expr)
                ):
                    continue
                items.append(copy.deepcopy(it.expr))
            sel.group_by = items
        if sel.group_by is not None:
            raw_items = [
                it if isinstance(it, A.Field) else None for it in sel.fields
            ]

            def resolve_group_item(g):
                if isinstance(g, A.ELit) and g.lit_kind == "int":
                    if not 1 <= g.value <= len(raw_items) or \
                            raw_items[g.value - 1] is None:
                        self.err(
                            f"GROUP BY position {g.value} is not in "
                            "the select list", g.loc,
                        )
                    return copy.deepcopy(raw_items[g.value - 1].expr)
                if isinstance(g, A.EName) and \
                        self._try_infer(ctx, g) is None:
                    for it in raw_items:
                        if it is not None and it.name == g.name:
                            return copy.deepcopy(it.expr)
                return g

            sel.group_by = [resolve_group_item(g) for g in sel.group_by]
            gexprs = []
            remap: List[int] = []  # parse index -> deduped index
            for g in sel.group_by:
                self._forbid_windows(g, "GROUP BY")
                self._reject_agg(g, "GROUP BY")
                ge, _ = self.infer_expr(ctx, g)
                k = expr_key(ge)
                if sel.group_kind == "sets" and k in ctx.group_keys:
                    remap.append(ctx.group_keys.index(k))
                    continue
                remap.append(len(gexprs))
                gexprs.append(ge)
                ctx.group_keys.append(k)
            sel.group_by = gexprs
            ctx.group_exprs = gexprs
            if sel.group_kind == "sets":
                sel.group_sets = [
                    [remap[i] for i in idxs] for idxs in sel.group_sets
                ]
                if not gexprs and len(sel.group_sets) == 1:
                    # GROUPING SETS (()) degenerates to GROUP BY ()
                    sel.group_kind = "plain"
        # 4. projection (raw items captured first: ORDER BY ordinals
        # resolve against them below, like GROUP BY ordinals above)
        raw_proj = [
            it if isinstance(it, A.Field) else None for it in sel.fields
        ]
        for item in list(sel.fields):
            self._analyze_field_item(ctx, item)
        sel.fields = ctx.fields
        if sel.group_by is not None and sel.group_kind != "plain":
            # r14: subtotal rows carry NULL group keys — projected
            # group expressions become nullable (a GROUPING SETS expr
            # present in EVERY set stays as-is)
            always = None
            if sel.group_kind == "sets":
                always = set(range(len(ctx.group_exprs)))
                for idxs in sel.group_sets:
                    always &= set(idxs)
            for f in ctx.fields:
                k = expr_key(f.expr)
                for i, g in enumerate(ctx.group_exprs):
                    if expr_key(g) == k and (
                        always is None or i not in always
                    ):
                        f.expr.ty = f.expr.ty.with_non_null(False)
        # 5. HAVING / QUALIFY / ORDER BY / LIMIT / OFFSET
        if sel.having is not None:
            self._forbid_windows(sel.having, "HAVING")
            sel.having, hty = self.infer_expr(ctx, sel.having)
            check_subsumes(hty, BOOL.nullable(), sel.having.loc, self.src or None)
        if sel.qualify is not None:
            # r14: QUALIFY — the window-result filter (the production
            # top-1-per-key dedup idiom). References to output aliases
            # inline their defining window expressions (same-scope
            # `with` semantics), so `qualify rn = 1` works; after
            # inlining the expression must actually contain a window —
            # otherwise it is WHERE/HAVING in disguise. DISTINCT
            # composes (r15, DuckDB order): windows evaluate over the
            # pre-DISTINCT rows, QUALIFY filters, THEN the projected
            # rows dedup.
            sel.qualify, qty = self.infer_expr(ctx, sel.qualify)
            check_subsumes(
                qty, BOOL.nullable(), sel.qualify.loc, self.src or None
            )
            if not self._contains_window(sel.qualify):
                self.err(
                    "QUALIFY requires a window function (use WHERE or "
                    "HAVING for non-window filters)", sel.qualify.loc,
                )
        if getattr(sel, "order_all", None):
            # r15: ORDER BY ALL [DESC] — one ordinal per output
            # column, left-to-right (DuckDB's determinism sugar);
            # reuses the ordinal resolution below
            if sel.is_open or any(it is None for it in raw_proj):
                self.err(
                    "ORDER BY ALL requires an explicit plain "
                    "projection", sel.loc,
                )
            desc = sel.order_all == "desc"
            sel.order_by = [
                A.OrderItem(A.ELit(i + 1, "int", loc=sel.loc), desc, None)
                for i in range(len(raw_proj))
            ]
        for o in sel.order_by:
            # r15: 1-based ordinals (ORDER BY 1, 2 — DuckDB/PG/Spark
            # SQL convention) substitute the raw projection item's
            # expression, hash-consing with its projection twin. An
            # integer literal was previously a silent no-op constant
            # sort — every mainstream engine reads it as an ordinal.
            if isinstance(o.expr, A.ELit) and o.expr.lit_kind == "int":
                n = o.expr.value
                if not 1 <= n <= len(raw_proj) or raw_proj[n - 1] is None:
                    self.err(
                        f"ORDER BY position {n} is not in the select "
                        "list", o.expr.loc,
                    )
                o.expr = copy.deepcopy(raw_proj[n - 1].expr)
            o.expr, _ = self.infer_expr(ctx, o.expr)
        if getattr(sel, "distinct_on", None):
            # r16: DISTINCT ON — PG's determinism rule: ORDER BY must
            # be present and its leading expressions must be exactly
            # the ON expressions (compared structurally after
            # elaboration), so "first row per group" is well-defined
            if sel.group_by is not None:
                self.err(
                    "DISTINCT ON is not supported with GROUP BY "
                    "(aggregate with arg_min/arg_max instead)", sel.loc,
                )
            if sel.qualify is not None:
                self.err(
                    "DISTINCT ON cannot combine with QUALIFY", sel.loc,
                )
            for it in sel.fields:
                ex = getattr(it, "expr", None)
                if ex is not None and self._contains_window(ex):
                    # the engine filters to the per-group winner BEFORE
                    # the projection evaluates; PG computes windows
                    # first — forbid the combination instead of
                    # silently diverging
                    self.err(
                        "window functions cannot combine with "
                        "DISTINCT ON", ex.loc,
                    )
            for o in sel.order_by:
                if self._contains_window(o.expr):
                    self.err(
                        "window functions cannot combine with "
                        "DISTINCT ON", o.expr.loc,
                    )
            ons = []
            for x in sel.distinct_on:
                if self._contains_window(x) or self._contains_subquery(x):
                    self.err(
                        "DISTINCT ON expressions must be plain scalar "
                        "expressions", x.loc,
                    )
                ex, _ = self.infer_expr(ctx, x)
                ons.append(ex)
            sel.distinct_on = ons
            if len(sel.order_by) < len(ons):
                self.err(
                    "DISTINCT ON requires ORDER BY starting with the "
                    "ON expressions (PostgreSQL's rule — it defines "
                    "which row per group is kept)", sel.loc,
                )
            for x, o in zip(ons, sel.order_by):
                if A.expr_key(x) != A.expr_key(o.expr):
                    self.err(
                        "DISTINCT ON expressions must match the "
                        "leading ORDER BY expressions", o.expr.loc,
                    )
        if sel.limit is not None:
            sel.limit, lty = self.infer_expr(ctx, sel.limit)
            if lty is None:  # bare param adopts non_null INT (analyze.ml:680-688)
                lty = self._adopt_param_non_null(sel.limit, INT, sel.limit.loc)
            check_subsumes(lty, INT, sel.limit.loc, self.src or None)
        if sel.offset is not None:
            sel.offset, oty = self.infer_expr(ctx, sel.offset)
            if oty is None:
                oty = self._adopt_param_non_null(sel.offset, INT, sel.offset.loc)
            check_subsumes(oty, INT, sel.offset.loc, self.src or None)
        # 6. aggregate validation (analyze.ml:271-331)
        self._check_aggregates(ctx)
        return ctx

    # -- FROM --------------------------------------------------------------

    def _analyze_from(self, ctx: SelectCtx, fr, nullable: bool) -> None:
        if isinstance(fr, A.FromPivot):
            self._rewrite_pivot(fr)
            return self._analyze_from(ctx, fr, nullable)
        if isinstance(fr, A.FromUnpivot):
            self._rewrite_unpivot(fr)
            return self._analyze_from(ctx, fr, nullable)
        if isinstance(fr, A.FromJoin):
            # outer-join nullability (r14 extends the r01 LEFT rule):
            # the preserved side keeps its nullability, the other side
            # becomes nullable — LEFT nullifies the right, RIGHT the
            # left, FULL both; INNER/CROSS neither
            left_nullable = nullable or fr.kind in ("right", "full")
            right_nullable = nullable or fr.kind in ("left", "full")
            self._analyze_from(ctx, fr.left, left_nullable)
            if isinstance(fr.right, A.FromSelect) and fr.right.lateral:
                self._analyze_lateral(ctx, fr, right_nullable)
            else:
                self._analyze_from(ctx, fr.right, right_nullable)
            if fr.kind == "cross":
                return  # CROSS JOIN has no ON condition
            fr.on, onty = self.infer_expr(ctx, fr.on)
            check_subsumes(onty, BOOL.nullable(), fr.on.loc, self.src or None)
            return
        if isinstance(fr, A.FromTable):
            name = fr.alias or fr.table
            if name in ctx.rels:
                self.err(f"duplicate scope name: {name}", fr.loc)
            ti = self.env.tables.get(fr.table)
            if ti is not None:
                ctx.rels[name] = TableRel(name, ti.columns, nullable, table=fr.table)
                return
            dq = self.env.queries.get(fr.table)
            if dq is not None:
                # named query: fresh re-analysis per use site (view
                # inlining, analyze.ml:814-816); r14: compound bodies
                # inline as closed SetOp relations
                sub = copy.deepcopy(dq.select)
                if isinstance(sub, A.RecursiveQuery):
                    # r17: recursive view — closed relation over the
                    # main row; the compiler runs the iterative loop
                    info = self.analyze_recursive(sub)
                    # each use site re-analyzes a deep copy, so the
                    # QueryInfo identity differs per use — carry the
                    # DECLARED query's identity so the compiler can
                    # memoize the fixpoint across uses within one
                    # query (r17 advisor: a self-join over a
                    # recursive view must not run the supersteps
                    # twice)
                    info.memo_key = ("view", fr.table)
                    fr_sel = A.FromSelect(sub, name, loc=fr.loc)
                    ctx.rels[name] = RecQueryRel(
                        name, dict(info.row), nullable, None, info
                    )
                    fr.__class__ = A.FromSelect
                    fr.__dict__.clear()
                    fr.__dict__.update(fr_sel.__dict__)
                    return
                if isinstance(sub, A.SetOp):
                    sctx = self.analyze_setop(sub)
                    fr_sel = A.FromSelect(sub, name, loc=fr.loc)
                    ctx.rels[name] = SetOpRel(
                        name, dict(sctx.row()), nullable, None, sctx
                    )
                    fr.__class__ = A.FromSelect
                    fr.__dict__.clear()
                    fr.__dict__.update(fr_sel.__dict__)
                    return
                subctx = self.analyze_select(sub)
                fr_sel = A.FromSelect(sub, name, loc=fr.loc)
                fr_sel_rel = SelectRel(name, subctx, nullable)
                ctx.rels[name] = fr_sel_rel
                # rewrite the FROM node in place so the compiler sees a
                # subselect
                fr.__class__ = A.FromSelect
                fr.__dict__.clear()
                fr.__dict__.update(fr_sel.__dict__)
                return
            self.err(f"no such table: {fr.table}", fr.loc)
        if isinstance(fr, A.FromSeries):
            if fr.alias in ctx.rels:
                self.err(f"duplicate scope name: {fr.alias}", fr.loc)
            for which in ("start", "stop", "step"):
                b = getattr(fr, which)
                if b is None:
                    continue
                elab, bty = self.infer_expr(ctx, b)
                setattr(fr, which, elab)
                if bty is None:
                    bty = self._adopt_param_non_null(elab, INT, elab.loc)
                check_subsumes(bty, INT, elab.loc, self.src or None)
            if isinstance(fr.step, A.ELit) and fr.step.value == 0:
                self.err("generate_series step must be nonzero", fr.loc)
            ctx.rels[fr.alias] = TableRel(
                fr.alias, {fr.col: INT}, nullable, table=fr.alias
            )
            return
        if isinstance(fr, A.FromSelect):
            if fr.alias in ctx.rels:
                self.err(f"duplicate scope name: {fr.alias}", fr.loc)
            if isinstance(fr.select, A.RecursiveQuery):
                # FROM (WITH RECURSIVE ...) AS alias (r17): closed rel
                info = self.analyze_recursive(fr.select)
                ctx.rels[fr.alias] = RecQueryRel(
                    fr.alias, dict(info.row), nullable, None, info
                )
                return
            if isinstance(fr.select, A.SetOp):
                # FROM (compound select) AS alias (r14): closed rel
                sctx = self.analyze_setop(fr.select)
                ctx.rels[fr.alias] = SetOpRel(
                    fr.alias, dict(sctx.row()), nullable, None, sctx
                )
                return
            subctx = self.analyze_select(fr.select)
            ctx.rels[fr.alias] = SelectRel(fr.alias, subctx, nullable)
            return
        raise SqlppError(f"bad from node {type(fr).__name__}")

    def _analyze_lateral(self, ctx: SelectCtx, fr: "A.FromJoin",
                         nullable: bool) -> None:
        """JOIN LATERAL (r17, beyond reference — PG/DuckDB lateral
        derived tables). The body analyzes through the same
        correlation lift as subqueries (_lift_correlated: top-level
        comparison conjuncts referencing FROM items to the LEFT),
        then the compiler decorrelates — equality conjuncts become
        hash-join keys, thetas residual join conditions, and an
        ORDER BY + LIMIT body becomes a pre-windowed top-k per
        equality key (compile._join_lateral), so the classic
        "top-k rows per outer row" shape runs as one window + one
        equi-join, never a per-row rescan.

        Boundaries (located errors, never wrong answers): RIGHT/FULL
        lateral (the lateral side cannot be preserved — PG also
        forbids), compound bodies, aggregated/windowed bodies (a
        correlated scalar subquery covers those), LIMIT with theta
        correlation (per-probe top-k would reintroduce the quadratic
        corner), LIMIT without ORDER BY (nondeterministic),
        DISTINCT + LIMIT together."""
        lat = fr.right
        if fr.kind in ("right", "full"):
            self.err(
                f"{fr.kind.upper()} JOIN LATERAL is not supported "
                "(the lateral side cannot be preserved)", lat.loc,
            )
        if isinstance(lat.select, A.SetOp):
            self.err(
                "LATERAL takes a plain SELECT body (no set "
                "operations)", lat.loc,
            )
        if lat.alias in ctx.rels:
            self.err(f"duplicate scope name: {lat.alias}", lat.loc)
        sub_ctx, corr = self._lift_correlated(ctx, lat.select)
        sel = sub_ctx.select
        if sel.group_by is not None or getattr(sel, "group_all", False):
            # r18: aggregated LATERAL bodies — the most common LATERAL
            # shape after top-k. The compiler lowers them through the
            # same groupBy-on-correlation-keys + equi-join shape the
            # correlated scalar subqueries use (_join_lateral_agg);
            # global (GROUP BY ()) bodies densify over the distinct
            # outer key tuples so empty groups complete per SQL
            # (count -> 0, others NULL).
            if any(op != "=" for op, _ie, _oe in corr):
                self.err(
                    "aggregated LATERAL bodies require equality-only "
                    "correlation (use a correlated scalar subquery "
                    "for theta shapes)", lat.loc,
                )
            if sel.limit is not None or sel.offset is not None:
                self.err(
                    "LIMIT/OFFSET in an aggregated LATERAL body is "
                    "not supported", lat.loc,
                )
            if sel.distinct:
                self.err(
                    "DISTINCT in an aggregated LATERAL body is not "
                    "supported", lat.loc,
                )
        for f in sub_ctx.fields:
            self._forbid_windows(f.expr, "a LATERAL body")
        if sel.limit is not None or sel.offset is not None:
            thetas = [op for op, _ie, _oe in corr if op != "="]
            if thetas:
                # r19 (verdict task 2): a SINGLE ordered theta
                # correlation is supported — alone, it lowers through
                # the banded range-bucket machinery
                # (compile._join_lateral_theta_topk: per-bucket window
                # top-k + prefix completion, the same shape that
                # killed the quantifier nested loop); MIXED with
                # equality conjuncts (the per-entity as-of join:
                # "top-k events of THIS key before t"), the equality
                # keys hash-partition the work and the per-probe-tuple
                # window is the same join shape the non-LIMIT
                # eq+theta lateral already runs. Multiple thetas /
                # non-ordered ops stay located errors (no
                # non-quadratic lowering).
                if len(thetas) > 1 or thetas[0] not in (
                    "<", "<=", ">", ">="
                ):
                    self.err(
                        "LIMIT in a LATERAL body supports at most one "
                        "ordered (<, <=, >, >=) theta correlation",
                        lat.loc,
                    )
            if not sel.order_by:
                self.err(
                    "LIMIT in a LATERAL body requires ORDER BY "
                    "(deterministic top-k per outer row)", lat.loc,
                )
            if sel.distinct:
                self.err(
                    "DISTINCT with LIMIT in a LATERAL body is not "
                    "supported", lat.loc,
                )
        elif sel.order_by:
            self.err(
                "ORDER BY in a LATERAL body has no effect without "
                "LIMIT", lat.loc,
            )
        lat.sub_ctx = sub_ctx
        lat.corr = corr
        ctx.rels[lat.alias] = SelectRel(lat.alias, sub_ctx, nullable)

    # -- PIVOT / UNPIVOT desugar (r18, beyond reference) -------------------

    def _from_src_columns(self, src, loc) -> List[str]:
        """Column names of a PIVOT/UNPIVOT source (table, view, or
        derived table) — resolved WITHOUT binding it into the current
        scope (the rewrite re-analyzes the synthesized select
        normally afterwards)."""
        if isinstance(src, A.FromTable):
            ti = self.env.tables.get(src.table)
            if ti is not None:
                return list(ti.columns)
            dq = self.env.queries.get(src.table)
            if dq is not None:
                body = copy.deepcopy(dq.select)
                if isinstance(body, A.SetOp):
                    return [
                        n for n, _t in self.analyze_setop(body).row()
                    ]
                if isinstance(body, A.RecursiveQuery):
                    return [
                        n for n, _t in self.analyze_recursive(body).row
                    ]
                return [
                    n for n, _t in self.analyze_select(body).row()
                ]
            self.err(f"no such table: {src.table}", loc)
        if isinstance(src, (A.FromPivot, A.FromUnpivot)):
            # chained suffixes: t PIVOT (...) AS p UNPIVOT (...) AS u
            # — rewrite the inner node first (mutates it into a
            # FromSelect), then resolve its columns normally
            if isinstance(src, A.FromPivot):
                self._rewrite_pivot(src)
            else:
                self._rewrite_unpivot(src)
            return self._from_src_columns(src, loc)
        if isinstance(src, A.FromSelect):
            body = src.select
            if isinstance(body, A.SetOp):
                sub = self.analyze_setop(copy.deepcopy(body))
            elif isinstance(body, A.RecursiveQuery):
                return [
                    n for n, _t in
                    self.analyze_recursive(copy.deepcopy(body)).row
                ]
            else:
                sub = self.analyze_select(copy.deepcopy(body))
            return [n for n, _t in sub.row()]
        self.err("PIVOT/UNPIVOT take a table or derived table", loc)

    @staticmethod
    def _bare_names(e) -> set:
        """Bare column names referenced by an expression (EName
        leaves; navigation roots count as scope uses, rejected by the
        pivot rewrite's callers via the synthesized re-analysis).
        Walks EVERY child-expression field generically — r19 (ADVICE):
        the old expr/args-only walk missed EInList.items, EIn.exprs,
        EWindow partition/order keys and EMatch branches, leaving a
        column referenced only there in the implicit PIVOT group
        keys. Subquery SELECT bodies are separate scopes and are
        deliberately not entered (Select/SetOp are not Expr nodes)."""
        out: set = set()

        def walk(x):
            if isinstance(x, A.EName):
                out.add(x.name)
                return
            for v in vars(x).values():
                if isinstance(v, A.Expr):
                    walk(v)
                elif isinstance(v, list):
                    for y in v:
                        if isinstance(y, A.Expr):
                            walk(y)
                        elif y is not None and isinstance(
                            getattr(y, "expr", None), A.Expr
                        ):  # OrderItem
                            walk(y.expr)
                        elif y is not None and isinstance(
                            getattr(y, "body", None), A.Expr
                        ):  # EMatchBranch
                            walk(y.body)

        walk(e)
        return out

    def _rewrite_pivot(self, fr: "A.FromPivot") -> None:
        """Desugar ``src PIVOT (agg(x) FOR k IN (v AS n, ...)) AS p``
        into grouped conditional aggregation:

            (SELECT <others>, agg(CASE WHEN k = v THEN x END) AS n,
                    ... FROM src GROUP BY <others>) AS p

        — the portable spelling (one hash aggregate on Spark, native
        SQL on every oracle backend). Implicit group keys <others> =
        every source column not referenced by the pivot clause
        (Spark's rule). Mutates fr into the FromSelect in place."""
        loc = fr.loc
        aggs = list(getattr(fr, "aggs", None) or
                    [(fr.agg_fn, fr.agg_arg, None)])
        for agg_fn, _arg, _nm in aggs:
            if agg_fn.lower() not in AGG_FNS:
                self.err(
                    f"PIVOT aggregate `{agg_fn}` is not an aggregate "
                    "function", loc,
                )
        src_cols = self._from_src_columns(fr.src, loc)
        if fr.pivot_col not in src_cols:
            self.err(
                f"PIVOT column `{fr.pivot_col}` is not a column of "
                "the source", loc,
            )
        if getattr(fr, "dynamic", False) and not fr.values:
            # r19: IN list omitted — one plan-time DISTINCT job over
            # the pivot column (engine-provided hook; pure-frontend
            # callers like the SQL printers see the already-
            # substituted values because the engine discovers before
            # analysis re-runs)
            if self.pivot_values is None:
                self.err(
                    "dynamic PIVOT (no IN list) requires an engine "
                    "session to discover the values", loc,
                )
            fr.values = self.pivot_values(fr.src, fr.pivot_col, loc)
            fr.dynamic = False
        agg_refs: set = set()
        for _fn, arg, _nm in aggs:
            agg_refs |= self._bare_names(arg)
        others = [
            c for c in src_cols
            if c != fr.pivot_col and c not in agg_refs
        ]
        fields = [
            A.Field(
                expr=A.EName(name=c, loc=loc), name=c,
                explicit_name=True, loc=loc,
            )
            for c in others
        ]
        seen = set(others)
        for lit, name in fr.values:
            if not isinstance(lit, A.ELit) or lit.value is None:
                self.err(
                    "PIVOT IN values must be non-NULL literals", loc,
                )
            # default output names use SQL literal rendering — a bool
            # renders 'true'/'false' (Python str() would give
            # 'True'/'False', diverging from Spark and the DuckDB
            # native-PIVOT oracle)
            if name is not None:
                vname = name
            elif isinstance(lit.value, bool):
                vname = "true" if lit.value else "false"
            else:
                vname = str(lit.value)
            for agg_fn, agg_arg, agg_name in aggs:
                # multi-aggregate naming: {value}_{aggname} (the
                # Spark/DuckDB convention, probed); single aggregate
                # keeps the bare value name
                out = (
                    vname if len(aggs) == 1 else f"{vname}_{agg_name}"
                )
                if out in seen:
                    self.err(
                        f"duplicate PIVOT output column `{out}` (use "
                        "AS to rename)", loc,
                    )
                seen.add(out)
                case = A.EApp(
                    fn="case",
                    args=[
                        A.EApp(
                            fn="=",
                            args=[
                                A.EName(name=fr.pivot_col, loc=loc),
                                copy.deepcopy(lit),
                            ],
                            loc=loc,
                        ),
                        copy.deepcopy(agg_arg),
                    ],
                    loc=loc,
                )
                fields.append(
                    A.Field(
                        expr=A.EApp(fn=agg_fn, args=[case], loc=loc),
                        name=out, explicit_name=True, loc=loc,
                    )
                )
        sel = A.Select(
            fields=fields, from_=fr.src,
            group_by=[A.EName(name=c, loc=loc) for c in others],
            loc=loc,
        )
        fr_sel = A.FromSelect(sel, fr.alias, loc=loc)
        fr.__class__ = A.FromSelect
        fr.__dict__.clear()
        fr.__dict__.update(fr_sel.__dict__)

    def _rewrite_unpivot(self, fr: "A.FromUnpivot") -> None:
        """Desugar ``src UNPIVOT [INCLUDE NULLS] (v FOR nm IN (c1 AS
        'l1', ...)) AS u`` into ONE scan of src cross-joined with a
        constant generate_series(1, N) spine and CASE dispatch:

            (SELECT <others>,
                    CASE WHEN i = 1 THEN 'l1' ... END AS nm,
                    CASE WHEN i = 1 THEN c1  ... END AS v
             FROM src CROSS JOIN generate_series(1, N) AS __unp(__unp_i)
             [WHERE CASE ... END IS NOT NULL]) AS u

        The spine is an N-row constant relation (broadcast at scale,
        never a shuffle); the source is read ONCE — not the N-scan
        UNION ALL naive melt. Runs natively on the oracle backends
        (DuckDB/PG share generate_series). Mutates fr in place."""
        loc = fr.loc
        src_cols = self._from_src_columns(fr.src, loc)
        val_names = list(getattr(fr, "val_names", None) or [fr.val_name])
        groups = [
            (g if isinstance(g, tuple) else (g,), l) for g, l in fr.cols
        ]
        flat = [c for g, _l in groups for c in g]
        if len(set(flat)) != len(flat):
            self.err("duplicate UNPIVOT source column", loc)
        for c in flat:
            if c not in src_cols:
                self.err(
                    f"UNPIVOT column `{c}` is not a column of the "
                    "source", loc,
                )
        others = [c for c in src_cols if c not in set(flat)]
        for out in (*val_names, fr.name_name):
            if out in others:
                self.err(
                    f"UNPIVOT output column `{out}` collides with a "
                    "kept source column", loc,
                )
        idx = "__unp_i"

        def when(i: int, then: "A.Expr") -> list:
            return [
                A.EApp(
                    fn="=",
                    args=[
                        A.EName(name=idx, loc=loc),
                        A.ELit(value=i, lit_kind="int", loc=loc),
                    ],
                    loc=loc,
                ),
                then,
            ]

        # multi-column groups (r19): one value CASE per value column,
        # all dispatched on the same spine index; default labels join
        # the group's source columns with '_' (DuckDB's rule, probed)
        name_args: list = []
        val_args: list = [[] for _ in val_names]
        for i, (g, label) in enumerate(groups, start=1):
            name_args += when(
                i, A.ELit(
                    value=label if label is not None else "_".join(g),
                    lit_kind="string", loc=loc,
                )
            )
            for j, c in enumerate(g):
                val_args[j] += when(i, A.EName(name=c, loc=loc))
        name_case = A.EApp(fn="case", args=list(name_args), loc=loc)
        val_cases = [
            A.EApp(fn="case", args=list(a), loc=loc) for a in val_args
        ]
        fields = [
            A.Field(
                expr=A.EName(name=c, loc=loc), name=c,
                explicit_name=True, loc=loc,
            )
            for c in others
        ]
        fields.append(A.Field(
            expr=name_case, name=fr.name_name, explicit_name=True,
            loc=loc,
        ))
        for vn, vc in zip(val_names, val_cases):
            fields.append(A.Field(
                expr=vc, name=vn, explicit_name=True, loc=loc,
            ))
        series = A.FromSeries(
            A.ELit(value=1, lit_kind="int", loc=loc),
            A.ELit(value=len(groups), lit_kind="int", loc=loc),
            None, "__unp", idx, loc=loc,
        )
        join = A.FromJoin(fr.src, series, "cross", None, loc=loc)
        where = None
        if not fr.include_nulls:
            # EXCLUDE NULLS (default) drops a row when ANY value
            # column is NULL — DuckDB's probed multi-column rule,
            # pinned because DuckDB's native UNPIVOT is the oracle
            # for the original-source differential leg. (Spark's
            # native UNPIVOT keeps partially-NULL rows and drops only
            # all-NULL ones — a probed engine divergence; the engine
            # desugars rather than using Spark's native form, so the
            # pin holds on both sides.)
            where = None
            for vc in val_cases:
                c = A.EApp(
                    fn="IS NOT NULL", args=[copy.deepcopy(vc)], loc=loc,
                )
                where = c if where is None else A.EApp(
                    fn="and", args=[where, c], loc=loc,
                )
        sel = A.Select(fields=fields, from_=join, where=where, loc=loc)
        fr_sel = A.FromSelect(sel, fr.alias, loc=loc)
        fr.__class__ = A.FromSelect
        fr.__dict__.clear()
        fr.__dict__.update(fr_sel.__dict__)

    # -- projection --------------------------------------------------------

    def _analyze_field_item(self, ctx: SelectCtx, item) -> None:
        if isinstance(item, A.FieldWithScope):
            path = self._expand_alias_path(ctx, item.path)
            self._resolve_scope_path(ctx, path, item.loc)  # validate
            ctx.aliases[item.alias] = path
            return
        if isinstance(item, A.FieldFieldset):
            self._splice_fieldset(ctx, item)
            return
        assert isinstance(item, A.Field)
        elab, ty = self.infer_expr(ctx, item.expr)
        out_name = self._field_out_name(ctx, item)
        f = A.Field(
            expr=elab, name=item.name, is_lazy=item.is_lazy, loc=item.loc,
            out_name=out_name, is_used=not item.is_lazy,
            explicit_name=item.explicit_name,
        )
        f.expr.ty = ty
        ctx.add_field(f)

    def _field_out_name(self, ctx: SelectCtx, item: A.Field) -> str:
        if item.explicit_name:
            if item.name in ctx.by_name:
                self.err(f"column `{item.name}` is already defined", item.loc)
            return item.name
        # auto-name from navigation tail (syntax.ml:367-371), falling
        # back to positional _i (analyze.ml:769-772)
        auto = self._nav_auto_name(item.expr)
        if auto is not None and auto not in ctx.by_name:
            return auto
        return f"_{len(ctx.fields)}"

    @staticmethod
    def _nav_auto_name(e: A.Expr) -> Optional[str]:
        while isinstance(e, A.ENav):
            e = e.expr
        if isinstance(e, A.EName):
            return e.name
        if isinstance(e, A.ERef):
            return e.name
        return None

    # -- fieldsets ---------------------------------------------------------

    def _splice_fieldset(self, ctx: SelectCtx, item: A.FieldFieldset) -> None:
        info = self.env.fieldsets.get(item.name)
        if info is None:
            self.err(f"no such fieldset: {item.name}", item.loc)
        if len(item.args) != len(info.params):
            self.err(
                f"fieldset ...{item.name} expects {len(info.params)} arguments "
                f"but {len(item.args)} provided",
                item.loc,
            )
        # bind param aliases to the argument scope paths; the body is
        # re-analyzed at the splice site (fieldset.t error goldens show
        # body errors located at the splice)
        bindings: Dict[str, List[str]] = {}
        for p, arg in zip(info.params, item.args):
            path = self._expand_alias_path(ctx, arg)
            self._resolve_scope_path(ctx, path, item.loc)
            bindings[p.alias] = path
        for rawf in info.fields:
            f2 = copy.deepcopy(rawf)
            f2.expr = self._rebase_fieldset_expr(f2.expr, bindings, item.loc)
            elab, ty = self.infer_expr(ctx, f2.expr)
            if f2.name in ctx.by_name:
                self.err(f"column `{f2.name}` is already defined", item.loc)
            nf = A.Field(
                expr=elab, name=f2.name, is_lazy=item.is_lazy, loc=item.loc,
                out_name=f2.name, is_used=not item.is_lazy, explicit_name=True,
            )
            nf.expr.ty = ty
            ctx.add_field(nf)

    def _rebase_fieldset_expr(self, e: A.Expr, bindings: Dict[str, List[str]], loc: Loc):
        """Rewrite fieldset-body references so param names point at the
        argument scopes: nav through a param alias expands to the bound
        path; unqualified names resolve through the first param."""
        if isinstance(e, A.ENav) and e.scope in bindings:
            # nav tail is analyzed in the TARGET scope — param bindings
            # must not rewrite it
            return _nav_chain(bindings[e.scope], e.expr, e.loc)
        if isinstance(e, A.EName) and e.name in bindings:
            # bare param alias is a scope, not a value — leave to error
            return e
        if isinstance(e, A.EName) and len(bindings) >= 1:
            # unqualified body name → navigate through the first param
            first = next(iter(bindings.values()))
            return _nav_chain(first, e, e.loc)
        if isinstance(e, A.EApp):
            e.args = [self._rebase_fieldset_expr(a, bindings, loc) for a in e.args]
            return e
        if isinstance(e, A.ENav):
            # nav through non-param scope inside a fieldset body: treat
            # head as unqualified relative to first param
            first = next(iter(bindings.values()), None)
            if first is not None:
                return _nav_chain(first, e, e.loc)
            return e
        if isinstance(e, A.EAscribe):
            e.expr = self._rebase_fieldset_expr(e.expr, bindings, loc)
            return e
        return e

    # -- scope paths / aliases ---------------------------------------------

    def _expand_alias_path(self, ctx: SelectCtx, path: List[str]) -> List[str]:
        if path and path[0] in ctx.aliases:
            return ctx.aliases[path[0]] + path[1:]
        return list(path)

    def _resolve_scope_path(self, ctx: SelectCtx, path: List[str], loc: Loc):
        """Check a scope path resolves to a relation (possibly nested)."""
        if not path:
            self.err("empty scope path", loc)
        rel = ctx.rels.get(path[0])
        if rel is None:
            self.err(f"no such scope: {path[0]}", loc)
        cur = rel
        for name in path[1:]:
            if isinstance(cur, TableRel):
                self.err(f"no such scope: {name}", loc)
            inner_ctx = cur.ctx
            nxt = inner_ctx.rels.get(name)
            if nxt is None:
                alias = inner_ctx.aliases.get(name)
                if alias is not None:
                    nxt = self._resolve_scope_path(inner_ctx, alias, loc)
                else:
                    self.err(f"no such scope: {name}", loc)
            cur = nxt
        return cur

    # -- expression inference ----------------------------------------------

    def infer_expr(self, ctx: SelectCtx, e: A.Expr) -> Tuple[A.Expr, Ty]:
        elab, ty = self._infer(ctx, e)
        elab.ty = ty
        return elab, ty

    def _infer(self, ctx: SelectCtx, e: A.Expr) -> Tuple[A.Expr, Ty]:
        if isinstance(e, A.ELit):
            ty = {"int": INT, "string": STRING, "bool": BOOL, "float": Ty(frozenset({"float"}), True)}[
                e.lit_kind
            ]
            return e, ty
        if isinstance(e, A.ENull):
            self.err("missing type annotation for NULL value", e.loc)
        if isinstance(e, A.EInterval):
            self.err(
                "interval literals are only valid as the right "
                "operand of + / - on a DATETIME", e.loc,
            )
        if isinstance(e, A.EAscribe):
            if e.convert:
                return self._infer_cast(ctx, e)
            if isinstance(e.expr, A.ENull):
                return e.expr, e.to_ty.with_non_null(False)
            inner, ity = self._infer(ctx, e.expr)
            check_subsumes(ity, e.to_ty, e.loc, self.src or None)
            # ascription erased from output (printer.ml:162), type kept
            return inner, e.to_ty
        if isinstance(e, A.EParam):
            return self._infer_param(e)
        if isinstance(e, A.EMatch):
            return self._infer_match(ctx, e)
        if isinstance(e, A.EName):
            return self._resolve_name(ctx, e)
        if isinstance(e, A.ENav):
            return self._resolve_nav(ctx, e)
        if isinstance(e, A.ERef):  # already elaborated (re-analysis path)
            return e, e.ty
        if isinstance(e, A.EWindow):
            return self._infer_window(ctx, e)
        if isinstance(e, A.EApp):
            if e.fn.lower() not in AGG_FNS:
                return self._infer_app(ctx, e)
            ctx.agg_depth += 1
            try:
                return self._infer_app(ctx, e)
            finally:
                ctx.agg_depth -= 1
        if isinstance(e, A.EInList):
            return self._infer_inlist(ctx, e)
        if isinstance(e, A.EIn):
            try:
                return self._infer_in(ctx, e)
            except SqlppError as err:
                split = self._try_quantified_or_split(ctx, e, err)
                if split is not None:
                    return split
                raise
        if isinstance(e, A.EExists):
            if isinstance(e.select, A.SetOp):
                sub, corr = (
                    self._analyze_sub_compound(e.select, "EXISTS", e.loc),
                    [],
                )
                e.sub_ctx = sub
                e.corr = corr
                return e, BOOL
            try:
                sub, corr = self._lift_correlated(ctx, e.select)
            except SqlppError as err:
                split = self._try_quantified_or_split(ctx, e, err)
                if split is not None:
                    return split
                raise
            e.sub_ctx = sub
            e.corr = corr
            if corr:
                self._check_corr_sub_shape(e.select, "EXISTS", e.loc)
            return e, BOOL
        if isinstance(e, A.EScalarSub):
            return self._infer_scalar_sub(ctx, e)
        if isinstance(e, A.EQuant):
            return self._infer_quant(ctx, e)
        raise SqlppError(f"cannot infer {type(e).__name__}", getattr(e, "loc", None), self.src or None)

    # -- params ------------------------------------------------------------

    def _param_entry(self, name: str) -> ParamEntry:
        if name not in self.params:
            self.params[name] = ParamEntry(name)
        return self.params[name]

    def _infer_param(self, e: A.EParam) -> Tuple[A.Expr, Ty]:
        entry = self._param_entry(e.name)
        if e.is_expr_param:
            entry.kind = "expr"
            use_ty = e.ascribed
            return e, use_ty
        if e.ascribed is not None:
            # use-site type = the RUNNING unified (glb) type after this
            # use's constraint folds in — infer.t pins the left-to-right
            # behavior: `?x:int not null as x, ?x:int null as y` gives
            # y:int NOT NULL (the bound value is already non-null),
            # while `?x:int null as x, ?x:int not null as y` keeps
            # x:int NULL (at x's analysis point the entry was nullable)
            constraint = e.ascribed if e.null_spec is not None else e.ascribed.with_non_null(False)
            self._unify_param(entry, constraint, e.loc)
            return e, entry.ty
        # bare ?p: type adopted from context (analyze.ml:529-544); if
        # entry already has a type from another use, use it (nullable)
        if entry.ty is not None:
            return e, entry.ty.with_non_null(False)
        return e, None  # caller must adopt

    def _unify_param(self, entry: ParamEntry, ty: Ty, loc: Loc) -> None:
        entry.uses.append(ty)
        if entry.ty is None:
            entry.ty = ty
        else:
            entry.ty = ty_glb(entry.ty, ty, loc, self.src or None)

    def _adopt_param_non_null(self, e: A.Expr, ty: Ty, loc: Loc) -> Ty:
        """LIMIT/OFFSET position: the param must be a non-null value
        (binding None is a prepare-time error)."""
        if isinstance(e, A.EParam) and e.ascribed is None:
            entry = self._param_entry(e.name)
            adopted = ty.with_non_null(True)
            self._unify_param(entry, adopted, loc)
            e.ty = adopted
            return adopted
        return ty

    def _adopt_param(self, e: A.Expr, ty: Ty, loc: Loc) -> Ty:
        """Give an untyped param the other operand's type (nullable at
        the use site)."""
        if isinstance(e, A.EParam) and e.ascribed is None:
            entry = self._param_entry(e.name)
            adopted = ty.with_non_null(False)
            self._unify_param(entry, adopted, loc)
            e.ty = adopted
            return adopted
        return ty

    def _infer_match(self, ctx: SelectCtx, e: A.EMatch) -> Tuple[A.Expr, Ty]:
        entry = self._param_entry(e.param)
        entry.kind = "variant"
        result_ty: Optional[Ty] = None
        for br in e.branches:
            if br.tag in entry.variant and entry.variant[br.tag] != br.params:
                self.err(f"duplicate variant tag {br.tag}", e.loc)
            entry.variant[br.tag] = list(br.params)
            br.body, bty = self.infer_expr(ctx, br.body)
            if bty is None:
                self.err("cannot infer type of match branch", e.loc)
            result_ty = bty if result_ty is None else ty_lub(result_ty, bty, e.loc, self.src or None)
        return e, result_ty

    # -- name/nav resolution ----------------------------------------------

    def _resolve_name(self, ctx: SelectCtx, e: A.EName) -> Tuple[A.Expr, Ty]:
        n = e.name
        # own projection fields: inline the defining expression
        # (same-scope `with` semantics, analyze.ml:401-407)
        f = ctx.by_name.get(n)
        if f is not None and ctx.agg_depth and any(
            app.fn.lower() in AGG_FNS for app in _iter_apps(f.expr)
        ):
            # an aggregate's argument ranges over input rows: inlining
            # an aggregated field there would nest aggregates, so the
            # name means the input column (`select max(n) + 1 as n ...
            # having max(n) < 5`), as it does in DuckDB and Spark
            f = None
        if f is not None:
            inlined = copy.deepcopy(f.expr)
            return inlined, f.expr.ty
        if n in ctx.own_synthetic:  # struct-sty field (fieldset decl check)
            return A.ERef("", n, loc=e.loc), ctx.own_synthetic[n]
        # child relations
        hits = []
        for rname, rel in ctx.rels.items():
            got = self._rel_field(rel, n)
            if got is not None:
                hits.append((rname, rel, got))
        if len(hits) > 1:
            self.err(f"ambiguous column: {n}", e.loc)
        if hits:
            rname, rel, (fld, ty) = hits[0]
            self._mark_used(rel, fld)
            ty = ty.with_non_null(False) if rel.nullable else ty
            return A.ERef(rname, fld_name(fld, n), loc=e.loc), ty
        # scope aliases (with-scope.t: unqualified names search aliases)
        for alias, path in ctx.aliases.items():
            try:
                return self._resolve_nav(
                    ctx, _nav_chain(path, A.EName(name=n, loc=e.loc), e.loc)
                )
            except SqlppError:
                continue
        self.err(f"no such column: {n}", e.loc)

    def _rel_field(self, rel, n: str):
        if isinstance(rel, TableRel):
            ty = rel.columns.get(n)
            return (n, ty) if ty is not None else None
        f = rel.ctx.by_name.get(n)
        if f is not None and not f.is_generated:
            return (f, f.expr.ty)
        if isinstance(rel, StructRel):
            ty = rel.ctx.own_synthetic.get(n)
            if ty is not None:
                return (n, ty)
        return None

    def _mark_used(self, rel, fld) -> None:
        """Materialize a (possibly lazy) field and, transitively, the
        fields its expression references (analyze.ml:254-269)."""
        if not isinstance(fld, A.Field):
            return
        if fld.is_used:
            return
        fld.is_used = True
        inner_ctx = rel.ctx if not isinstance(rel, TableRel) else None
        if inner_ctx is None:
            return
        for ref in _iter_refs(fld.expr):
            r2 = inner_ctx.rels.get(ref.rel)
            if r2 is not None and not isinstance(r2, TableRel):
                f2 = r2.ctx.by_name.get(ref.name)
                if f2 is not None:
                    self._mark_used(r2, f2)

    def _resolve_nav(
        self, ctx: SelectCtx, e: A.ENav, expand_alias: bool = True
    ) -> Tuple[A.Expr, Ty]:
        head = e.scope
        if expand_alias and head in ctx.aliases:
            # Alias paths are pre-expanded at definition time (their
            # head names a relation of THIS scope), so expand exactly
            # once — a self-named alias (with-scope.t: `withscope x.z
            # as x`) would otherwise re-expand forever.
            path = ctx.aliases[head]
            return self._resolve_nav(
                ctx, _nav_chain(path, e.expr, e.loc), expand_alias=False
            )
        rel = ctx.rels.get(head)
        if rel is None:
            self.err(f"no such scope: {head}", e.loc)
        if isinstance(rel, TableRel):
            if isinstance(e.expr, A.EName):
                col = e.expr.name
                ty = rel.columns.get(col)
                if ty is None:
                    self.err(f"no such column: {col}", e.expr.loc)
                ty = ty.with_non_null(False) if rel.nullable else ty
                return A.ERef(rel.name, col, loc=e.loc), ty
            self.err(
                f"subquery `{head}` doesn't allow to build new expressions inside",
                e.loc,
            )
        inner_ctx: SelectCtx = rel.ctx
        # plain field reference into the subquery
        if isinstance(e.expr, A.EName):
            f = inner_ctx.by_name.get(e.expr.name)
            if f is not None and not f.is_generated:
                self._mark_used(rel, f)
                ty = f.expr.ty
                ty = ty.with_non_null(False) if rel.nullable else ty
                return A.ERef(rel.name, f.out_name, loc=e.loc), ty
        # navigation building a new expression inside the subquery
        inner_elab, inner_ty = self.infer_expr(inner_ctx, e.expr)
        if isinstance(rel, StructRel):
            # decl-time struct scope: no physical field injection needed
            return A.ERef(rel.name, "_struct", loc=e.loc), inner_ty
        k = expr_key(inner_elab)
        existing = inner_ctx.by_key.get(k)
        if existing is not None:
            # structurally-equal field already present — reuse, even in
            # a closed subquery (nested.t: x.users.id over a non-open
            # subselect reuses x.id)
            self._mark_used(rel, existing)
            ty = existing.expr.ty
            ty = ty.with_non_null(False) if rel.nullable else ty
            return A.ERef(rel.name, existing.out_name, loc=e.loc), ty
        # injection requires an open select (analyze.ml:369-371)
        if not inner_ctx.select.is_open:
            self.err(
                f"subquery `{head}` doesn't allow to build new expressions inside",
                e.loc,
            )
        gen_name = f"_{len(inner_ctx.fields)}"
        gf = A.Field(
            expr=inner_elab, name=None, is_lazy=False, loc=e.loc,
            out_name=gen_name, is_used=True, is_generated=True,
        )
        gf.expr.ty = inner_ty
        inner_ctx.add_field(gf)
        # ensure what the generated expr references is materialized
        for ref in _iter_refs(inner_elab):
            r2 = inner_ctx.rels.get(ref.rel)
            if r2 is not None and not isinstance(r2, TableRel):
                f2 = r2.ctx.by_name.get(ref.name)
                if f2 is not None:
                    self._mark_used(r2, f2)
        ty = inner_ty.with_non_null(False) if rel.nullable else inner_ty
        return A.ERef(rel.name, gen_name, loc=e.loc), ty

    # -- applications (the builtin function table, analyze.ml:546-621) ----

    # ranking/offset window fns (must have ORDER BY); aggregate window
    # fns reuse the aggregate names but are NOT aggregates (no GROUP BY
    # interaction — the frame always contains the current row, so
    # sum/min/max keep the argument's nullability)
    _WIN_RANKING = {"row_number", "rank", "dense_rank"}
    # float-valued ranking fns (r14): still no args, ORDER BY required
    _WIN_RANKING_F = {"percent_rank", "cume_dist"}
    _WIN_OFFSET = {"lag", "lead"}
    _WIN_AGG = {"count", "sum", "min", "max", "avg"}
    # late r14: statistical aggregates over windows — FLOAT NULL
    # regardless of frame (sample forms are NULL on 1-row frames)
    _WIN_STAT = {"stddev", "variance", "stddev_pop", "var_pop"}
    # r15: sketch aggregates over windows (both Spark and DuckDB
    # support them; same literal-argument rules as the agg forms)
    _WIN_APPROX = {"approx_count_distinct", "approx_percentile"}
    # order-dependent value fns: require ORDER BY; ntile needs the
    # bucket count as an int literal; nth_value (r14) the 1-based
    # position as an int literal
    _WIN_VALUE = {"first_value", "last_value", "ntile", "nth_value"}

    def _infer_window(self, ctx: SelectCtx, e: A.EWindow) -> Tuple[A.Expr, Ty]:
        """Window application (r13, beyond-reference): type the args and
        the window spec in the current scope. Placement rules are
        enforced by the callers (projection/ORDER BY only —
        _forbid_windows covers WHERE/GROUP BY/HAVING); in grouped
        selects the window runs over the aggregated rows, so its
        subexpressions must be group keys or aggregates
        (_check_agg_expr validates that)."""
        fnl = e.fn.lower()
        if fnl not in (
            self._WIN_RANKING | self._WIN_RANKING_F | self._WIN_OFFSET
            | self._WIN_AGG | self._WIN_VALUE | self._WIN_STAT
            | self._WIN_APPROX
        ):
            self.err(f"unknown window function `{e.fn}(..)`", e.loc)
        grouped = ctx.select.group_by is not None
        for sub in [*e.args, *e.partition_by, *[o.expr for o in e.order_by]]:
            if A.expr_has_subquery(sub):
                self.err(
                    "subqueries are not allowed inside window "
                    "specifications", e.loc,
                )
            # in a GROUPED select, aggregates inside window args/specs
            # are standard SQL (they evaluate first, the window runs
            # over the aggregated rows); ungrouped keeps the ban
            if not grouped:
                for app in _iter_apps(sub):
                    if app.fn.lower() in AGG_FNS:
                        self.err(
                            "aggregate functions are not allowed inside "
                            "window specifications without GROUP BY",
                            app.loc,
                        )
            if isinstance(sub, A.EWindow):
                self.err("window functions cannot nest", e.loc)
        if fnl != "count" and fnl in (
            self._WIN_RANKING | self._WIN_RANKING_F | self._WIN_OFFSET
            | self._WIN_VALUE
        ) and not e.order_by:
            self.err(
                f"window function `{e.fn}(..)` requires ORDER BY in its "
                "OVER clause", e.loc,
            )
        if e.nulls_mode is not None:
            # r16: IGNORE/RESPECT NULLS — the value/offset functions
            # only (the set DuckDB and Spark agree on)
            if fnl not in (
                "lag", "lead", "nth_value", "first_value", "last_value"
            ):
                self.err(
                    f"IGNORE/RESPECT NULLS is not supported for "
                    f"`{e.fn}(..)` (lag/lead/nth_value/first_value/"
                    "last_value only)", e.loc,
                )
            if e.nulls_mode == "ignore" and fnl in self._WIN_OFFSET:
                # the reversed-frame nth_value lowering needs a
                # strictly positive offset (lag(x, 0) is the identity,
                # negative offsets flip the direction — spell those
                # directly)
                if len(e.args) == 2 and isinstance(e.args[1], A.ELit) \
                        and e.args[1].lit_kind == "int" \
                        and e.args[1].value < 1:
                    self.err(
                        f"`{e.fn}(..)` IGNORE NULLS requires a "
                        "positive offset", e.loc,
                    )
        new_args: List[A.Expr] = []
        arg_tys: List[Ty] = []
        for a in e.args:
            elab, ty = self.infer_expr(ctx, a)
            new_args.append(elab)
            arg_tys.append(ty)
        e.args = new_args
        e.partition_by = [self.infer_expr(ctx, p)[0] for p in e.partition_by]
        order_tys: List[Ty] = []
        for o in e.order_by:
            o.expr, oty = self.infer_expr(ctx, o.expr)
            order_tys.append(oty)
        self._check_window_frame(e, fnl, order_tys)
        # a frame that may exclude the current row can be EMPTY for
        # some rows — aggregate/value results become nullable then
        frame_may_empty = (
            e.frame is not None and not e.frame.contains_current_row()
        )
        if fnl in self._WIN_RANKING:
            if e.args:
                self.err(f"`{e.fn}(..)` takes no arguments", e.loc)
            return e, INT
        if fnl in self._WIN_RANKING_F:
            if e.args:
                self.err(f"`{e.fn}(..)` takes no arguments", e.loc)
            return e, FLOAT
        if fnl == "ntile":
            if len(e.args) != 1 or not (
                isinstance(e.args[0], A.ELit) and e.args[0].lit_kind == "int"
            ):
                self.err("`ntile(..)` takes one integer literal", e.loc)
            return e, INT
        if fnl == "nth_value":
            if len(e.args) != 2 or not (
                isinstance(e.args[1], A.ELit) and e.args[1].lit_kind == "int"
                and e.args[1].value >= 1
            ):
                self.err(
                    "`nth_value(..)` takes (expr, positive int literal)",
                    e.loc,
                )
            # the nth row may not exist in the frame
            return e, arg_tys[0].with_non_null(False)
        if fnl in ("first_value", "last_value"):
            if len(e.args) != 1:
                self.err(f"`{e.fn}(..)` takes exactly 1 argument", e.loc)
            # the default frame always contains >= 1 row, so the value
            # fns keep the argument's nullability — unless an explicit
            # frame can be empty
            return e, arg_tys[0].with_non_null(
                arg_tys[0].non_null and not frame_may_empty
            )
        if fnl in self._WIN_OFFSET:
            if not 1 <= len(e.args) <= 2:
                self.err(f"`{e.fn}(..)` takes 1 or 2 arguments", e.loc)
            if len(e.args) == 2 and not (
                isinstance(e.args[1], A.ELit) and e.args[1].lit_kind == "int"
            ):
                self.err(
                    f"`{e.fn}(..)` offset must be an integer literal", e.loc
                )
            # beyond-frame rows yield NULL
            return e, arg_tys[0].with_non_null(False)
        if fnl == "approx_count_distinct":
            # r15: same literal rules as the aggregate form; 0 over
            # an empty frame, like count
            if len(e.args) not in (1, 2):
                self.err(
                    "approx_count_distinct(..) takes 1 or 2 arguments",
                    e.loc,
                )
            if len(e.args) == 2 and not (
                isinstance(e.args[1], A.ELit)
                and e.args[1].lit_kind in ("float", "int")
                and 0 < float(e.args[1].value) < 1
            ):
                self.err(
                    "approx_count_distinct(..) relative standard "
                    "deviation must be a numeric literal in (0, 1)",
                    e.loc,
                )
            return e, INT
        if fnl == "approx_percentile":
            if len(e.args) not in (2, 3):
                self.err(
                    "approx_percentile(..) takes 2 or 3 arguments", e.loc
                )
            check_subsumes(
                arg_tys[0], NUMERIC.nullable(), e.args[0].loc,
                self.src or None,
            )
            if not (
                isinstance(e.args[1], A.ELit)
                and e.args[1].lit_kind in ("float", "int")
                and 0 <= float(e.args[1].value) <= 1
            ):
                self.err(
                    "approx_percentile(..) percentile must be a numeric "
                    "literal in [0, 1]", e.loc,
                )
            if len(e.args) == 3 and not (
                isinstance(e.args[2], A.ELit)
                and e.args[2].lit_kind == "int" and e.args[2].value >= 1
            ):
                self.err(
                    "approx_percentile(..) accuracy must be a positive "
                    "integer literal", e.loc,
                )
            # NULL over an empty/all-NULL frame
            return e, FLOAT.with_non_null(False)
        # aggregate-shaped window fns
        if len(e.args) != 1:
            self.err(f"window `{e.fn}(..)` takes exactly 1 argument", e.loc)
        if fnl in self._WIN_STAT:
            check_subsumes(
                arg_tys[0], NUMERIC.nullable(), e.args[0].loc,
                self.src or None,
            )
            # sample forms are NULL on 1-row frames, pop forms on
            # empty frames — always nullable
            return e, FLOAT.with_non_null(False)
        if fnl == "count":
            return e, INT  # count over an empty frame is 0, NOT NULL
        check_subsumes(arg_tys[0], NUMERIC.nullable(), e.args[0].loc, self.src or None)
        if fnl == "avg":
            return e, FLOAT.with_non_null(
                arg_tys[0].non_null and not frame_may_empty
            )
        return e, arg_tys[0].with_non_null(
            arg_tys[0].non_null and not frame_may_empty
        )

    def _check_window_frame(
        self, e: A.EWindow, fnl: str, order_tys: List[Ty]
    ) -> None:
        """Explicit frame validity (r14): frames attach to aggregate
        and first/last/nth-value functions only (Spark REJECTS frames
        on ranking/offset fns; other engines silently ignore them —
        erroring keeps the two lowerings agreeing); ORDER BY required;
        start may not sort after end; RANGE with numeric offsets needs
        exactly one int-kind ORDER BY key (Spark rangeBetween takes
        long offsets)."""
        f = e.frame
        if f is None:
            return
        if fnl in (
            self._WIN_RANKING | self._WIN_RANKING_F | self._WIN_OFFSET
        ) or fnl == "ntile":
            self.err(
                f"window frames are not allowed for `{e.fn}(..)`", f.loc
            )
        if not e.order_by:
            self.err(
                "a window frame requires ORDER BY in its OVER clause",
                f.loc,
            )
        so = A.FRAME_BOUND_ORDER[f.start[0]]
        eo = A.FRAME_BOUND_ORDER[f.end[0]]
        if so > eo or (
            so == eo == 1 and f.start[1] < f.end[1]
        ) or (
            so == eo == 3 and f.start[1] > f.end[1]
        ):
            self.err("frame start cannot come after frame end", f.loc)
        has_offset = f.start[0] in ("preceding", "following") or (
            f.end[0] in ("preceding", "following")
        )
        if f.mode == "range" and has_offset:
            if len(e.order_by) != 1:
                self.err(
                    "RANGE with numeric offsets requires exactly one "
                    "ORDER BY key", f.loc,
                )
            if order_tys[0] is None or order_tys[0].kinds != frozenset(
                {"int"}
            ):
                self.err(
                    "RANGE with numeric offsets requires an int ORDER "
                    "BY key", f.loc,
                )

    @staticmethod
    def _contains_window(e: A.Expr) -> bool:
        stack = [e]
        while stack:
            n = stack.pop()
            if isinstance(n, A.EWindow):
                return True
            stack.extend(getattr(n, "args", None) or [])
            if isinstance(n, (A.EAscribe, A.ENav)):
                stack.append(n.expr)
            if isinstance(n, A.EIn):
                stack.extend(n.exprs)
            if isinstance(n, A.EInList):
                stack.append(n.expr)
                stack.extend(n.items)
            if isinstance(n, A.EMatch):
                stack.extend(br.body for br in n.branches)
        return False

    def _resolve_named_windows(self, sel: A.Select) -> List["A.NamedWindow"]:
        """WINDOW clause resolution (r16): substitute each named
        window's spec (partition/order/frame, deep-copied) into every
        ``OVER w`` reference, before any inference — downstream
        passes only ever see inline specs. Window names are
        per-SELECT (subquery bodies resolve their own clause when
        they are analyzed). Unused definitions are allowed (DuckDB's
        behavior) but still returned for binding validation (r17 —
        the oracle engines bind unreferenced specs too); duplicate
        names and unknown references error."""
        wins = getattr(sel, "windows", None) or []
        specs: Dict[str, A.NamedWindow] = {}
        used: set = set()
        for nw in wins:
            if nw.name in specs:
                self.err(f"duplicate window name `{nw.name}`", nw.loc)
            specs[nw.name] = nw
        if not wins and not sel.qualify and not sel.fields \
                and not sel.order_by:
            return []
        exprs = []
        for it in sel.fields:
            ex = getattr(it, "expr", None)
            if ex is not None:
                exprs.append(ex)
        for clause in (sel.qualify, sel.having, sel.where):
            if clause is not None:
                exprs.append(clause)
        for o in sel.order_by:
            if o.expr is not None:
                exprs.append(o.expr)
        stack = exprs
        while stack:
            n = stack.pop()
            if isinstance(n, A.EWindow):
                if n.ref is not None:
                    nw = specs.get(n.ref)
                    if nw is None:
                        self.err(
                            f"unknown window name `{n.ref}` (define it "
                            "in a WINDOW clause)", n.loc,
                        )
                    used.add(n.ref)
                    n.partition_by = copy.deepcopy(nw.partition_by)
                    n.order_by = copy.deepcopy(nw.order_by)
                    n.frame = copy.deepcopy(nw.frame)
                    n.ref = None
                stack.extend(n.args)
                stack.extend(n.partition_by)
                stack.extend(o.expr for o in n.order_by)
                continue
            stack.extend(getattr(n, "args", None) or [])
            if isinstance(n, (A.EAscribe, A.ENav)):
                stack.append(n.expr)
            if isinstance(n, A.EIn):
                stack.extend(n.exprs)
            if isinstance(n, A.EInList):
                stack.append(n.expr)
                stack.extend(n.items)
            if isinstance(n, A.EMatch):
                stack.extend(br.body for br in n.branches)
            if isinstance(n, A.EQuant):
                stack.append(n.expr)
        return [nw for name, nw in specs.items() if name not in used]

    @staticmethod
    def _contains_subquery(e: A.Expr) -> bool:
        """True if the expression contains any subquery-scoped node
        (scalar subquery, IN/EXISTS, quantified comparison). Used by
        GROUP BY ALL, whose aggregate classifier (_iter_apps) cannot
        see into subquery scopes."""
        stack = [e]
        while stack:
            n = stack.pop()
            if isinstance(n, (A.EScalarSub, A.EIn, A.EExists, A.EQuant)):
                return True
            stack.extend(getattr(n, "args", None) or [])
            if isinstance(n, (A.EAscribe, A.ENav)):
                stack.append(n.expr)
            if isinstance(n, A.EInList):
                stack.append(n.expr)
                stack.extend(n.items)
            if isinstance(n, A.EMatch):
                stack.extend(br.body for br in n.branches)
        return False

    def _forbid_windows(self, e: Optional[A.Expr], where: str) -> None:
        """Windows are projection/ORDER-BY-only (standard SQL forbids
        them in WHERE/GROUP BY/HAVING; this dialect also keeps them
        out of grouped selects)."""
        if e is None:
            return
        stack = [e]
        while stack:
            n = stack.pop()
            if isinstance(n, A.EWindow):
                self.err(
                    f"window functions are not allowed in {where}",
                    n.loc,
                )
            stack.extend(getattr(n, "args", None) or [])
            if isinstance(n, (A.EAscribe, A.ENav)):
                stack.append(n.expr)
            if isinstance(n, A.EIn):
                stack.extend(n.exprs)
            if isinstance(n, A.EInList):
                stack.append(n.expr)
                stack.extend(n.items)
            if isinstance(n, A.EMatch):
                stack.extend(br.body for br in n.branches)

    def _infer_app(self, ctx: SelectCtx, e: A.EApp) -> Tuple[A.Expr, Ty]:
        fn = e.fn
        fnl = fn.lower()
        if getattr(e, "win_nulls", None) is not None:
            # r16: IGNORE/RESPECT NULLS parsed but no OVER followed —
            # it is a window-only modifier
            self.err(
                "IGNORE/RESPECT NULLS requires an OVER clause "
                "(window functions only)", e.loc,
            )

        def arg(i):
            elab, ty = self.infer_expr(ctx, e.args[i])
            e.args[i] = elab
            return ty

        def nargs(n):
            if len(e.args) != n:
                self.err(f"function {fn} expects {n} arguments", e.loc)

        if fnl in ("=", "!=", ">", ">=", "<", "<="):
            nargs(2)
            t0, t1 = arg(0), arg(1)
            if t0 is None and t1 is None:
                self.err("cannot infer parameter type", e.loc)
            if t0 is None:
                t0 = self._adopt_param(e.args[0], t1, e.loc)
            if t1 is None:
                t1 = self._adopt_param(e.args[1], t0, e.loc)
            lub = ty_lub(t0, t1, e.loc, self.src or None)
            # operands are comparable when their kind-sets intersect or
            # both sit in the numeric family (INT vs FLOAT compares via
            # the NUMERIC union type, syntax.ml:89)
            numeric_family = (t0.kinds | t1.kinds) <= frozenset({"int", "float"})
            if not (t0.kinds & t1.kinds) and not numeric_family:
                self.err(f"types do not match: {t0} vs {t1}", e.loc)
            return e, BOOL.with_non_null(lub.non_null)
        if fnl in ("is distinct from", "is not distinct from"):
            # r15: null-safe comparison — same comparability rules as
            # `=`, but the result is two-valued (never NULL)
            nargs(2)
            t0, t1 = arg(0), arg(1)
            if t0 is None and t1 is None:
                self.err("cannot infer parameter type", e.loc)
            if t0 is None:
                t0 = self._adopt_param(e.args[0], t1, e.loc)
            if t1 is None:
                t1 = self._adopt_param(e.args[1], t0, e.loc)
            numeric_family = (t0.kinds | t1.kinds) <= frozenset({"int", "float"})
            if not (t0.kinds & t1.kinds) and not numeric_family:
                self.err(f"types do not match: {t0} vs {t1}", e.loc)
            return e, BOOL
        if fnl in ("and", "or"):
            nargs(2)
            for i in range(2):
                t = arg(i)
                if t is None:
                    t = self._adopt_param(e.args[i], BOOL.with_non_null(False), e.loc)
                check_subsumes(t, BOOL.nullable(), e.args[i].loc, self.src or None)
            return e, BOOL
        if fnl == "not":
            nargs(1)
            t = arg(0)
            if t is None:
                t = self._adopt_param(e.args[0], BOOL.with_non_null(False), e.loc)
            check_subsumes(t, BOOL.nullable(), e.loc, self.src or None)
            return e, BOOL
        if fnl == "-u":
            nargs(1)
            t = arg(0)
            if t is None:
                t = self._adopt_param(e.args[0], NUMERIC.with_non_null(False), e.loc)
            check_subsumes(t, NUMERIC.nullable(), e.loc, self.src or None)
            return e, t
        if fnl in ("+", "-", "*", "/"):
            nargs(2)
            # r16: DATETIME +/- INTERVAL literal (right operand only)
            if isinstance(e.args[1], A.EInterval):
                if fnl not in ("+", "-"):
                    self.err(
                        "interval literals only support + and -", e.loc
                    )
                t0 = arg(0)
                if t0 is None:
                    t0 = self._adopt_param(
                        e.args[0],
                        Ty(frozenset({"datetime"}), False), e.loc,
                    )
                if t0.kinds != frozenset({"datetime"}):
                    self.err(
                        "interval arithmetic needs a DATETIME left "
                        "operand (use date_add for DATEs)",
                        e.args[0].loc,
                    )
                return e, Ty(frozenset({"datetime"}), t0.non_null)
            if isinstance(e.args[0], A.EInterval):
                self.err(
                    "write the interval on the right: expr + "
                    "interval n unit", e.args[0].loc,
                )
            t0, t1 = arg(0), arg(1)
            if t0 is None:
                t0 = self._adopt_param(e.args[0], t1 or NUMERIC.with_non_null(False), e.loc)
            if t1 is None:
                t1 = self._adopt_param(e.args[1], t0, e.loc)
            check_subsumes(t0, NUMERIC.nullable(), e.args[0].loc, self.src or None)
            check_subsumes(t1, NUMERIC.nullable(), e.args[1].loc, self.src or None)
            return e, ty_lub(t0, t1, e.loc, self.src or None)
        if fnl in ("is null", "is not null"):
            nargs(1)
            arg(0)
            return e, BOOL
        if fnl == "nullif":
            nargs(2)
            t0, t1 = arg(0), arg(1)
            if t1 is None:
                self._adopt_param(e.args[1], t0, e.loc)
            return e, t0.with_non_null(False)
        if fnl == "coalesce":
            if not e.args:
                self.err("coalesce expects at least one argument", e.loc)
            running: Optional[Ty] = None
            for i in range(len(e.args)):
                t = arg(i)
                if t is None:
                    if running is None:
                        self.err("cannot infer parameter type in coalesce", e.loc)
                    t = self._adopt_param(e.args[i], running, e.loc)
                running = t if running is None else ty_glb(running, t, e.loc, self.src or None)
            return e, running
        if fnl == "case":
            # searched CASE (r14): args = [c1, v1, ..., else?]; odd
            # count means ELSE present. Conditions are bool; value
            # types lub under the comparison rule (kinds intersect or
            # both numeric — int/float widens); result nullable when
            # any value is, or when ELSE is absent (unmatched → NULL)
            n = len(e.args)
            has_else = n % 2 == 1
            for i in range(n // 2):
                ct = arg(2 * i)
                if ct is None:
                    ct = self._adopt_param(
                        e.args[2 * i], BOOL.with_non_null(False), e.loc
                    )
                check_subsumes(
                    ct, BOOL.nullable(), e.args[2 * i].loc, self.src or None
                )
            val_idx = [2 * i + 1 for i in range(n // 2)]
            if has_else:
                val_idx.append(n - 1)
            running: Optional[Ty] = None
            for i in val_idx:
                t = arg(i)
                if t is None:
                    if running is None:
                        self.err(
                            "cannot infer parameter type in case", e.loc
                        )
                    t = self._adopt_param(e.args[i], running, e.loc)
                if running is None:
                    running = t
                    continue
                numeric = (running.kinds | t.kinds) <= frozenset(
                    {"int", "float"}
                )
                if not (running.kinds & t.kinds) and not numeric:
                    self.err(
                        f"case branches do not match: {running} vs {t}",
                        e.args[i].loc,
                    )
                running = ty_lub(running, t, e.loc, self.src or None)
            if running.kinds == frozenset({"int", "float"}):
                running = FLOAT.with_non_null(running.non_null)
            if not has_else:
                running = running.with_non_null(False)
            return e, running
        if fnl == "now":
            nargs(0)
            return e, DATETIME
        if fnl == "tostring":
            nargs(1)
            t = arg(0)
            return e, STRING.with_non_null(t.non_null)
        if fnl == "datetime":
            nargs(1)
            if isinstance(e.args[0], A.ELit) and e.args[0].lit_kind == "string":
                if not DATETIME_RE.match(e.args[0].value):
                    self.err(
                        f"invalid datetime literal: {e.args[0].value!r} "
                        "(expected YYYY-MM-DDTHH:MM:SS)",
                        e.loc,
                    )
                e.args[0].ty = STRING
                return e, DATETIME
            t = arg(0)
            check_subsumes(t, STRING.nullable(), e.loc, self.src or None)
            return e, DATETIME.with_non_null(False)
        if fnl == "date":
            nargs(1)
            if isinstance(e.args[0], A.ELit) and e.args[0].lit_kind == "string":
                if not DATE_RE.match(e.args[0].value):
                    self.err(
                        f"invalid date literal: {e.args[0].value!r} (expected YYYY-MM-DD)",
                        e.loc,
                    )
                e.args[0].ty = STRING
                return e, DATE
            t = arg(0)
            check_subsumes(t, STRING.nullable(), e.loc, self.src or None)
            return e, DATE.with_non_null(False)
        if fnl == "count":
            nargs(1)
            arg(0)
            return e, INT
        if fnl == "count_distinct":
            # r14: was validated as an aggregate but never typed — the
            # dialect spelling is count_distinct(x) (no DISTINCT kw in
            # the call grammar); prints as count(DISTINCT x)
            nargs(1)
            arg(0)
            return e, INT
        if fnl == "approx_count_distinct":
            # r15: HLL++-backed distinct count — approximate BY
            # CONTRACT (engines may differ within the sketch's rsd;
            # the printers fall back to exact count(DISTINCT) where
            # the backend has no sketch). Optional second arg = max
            # relative standard deviation, a float literal in (0, 1)
            # — it parameterizes the sketch, not the data.
            if len(e.args) not in (1, 2):
                self.err(
                    "approx_count_distinct(..) takes 1 or 2 arguments",
                    e.loc,
                )
            arg(0)
            if len(e.args) == 2:
                rsd = e.args[1]
                ok = (
                    isinstance(rsd, A.ELit)
                    and rsd.lit_kind in ("float", "int")
                    and 0 < float(rsd.value) < 1
                )
                if not ok:
                    self.err(
                        "approx_count_distinct(..) relative standard "
                        "deviation must be a numeric literal in (0, 1)",
                        e.loc,
                    )
                arg(1)
            # 0 over an empty group, like count
            return e, INT
        if fnl == "approx_percentile":
            # r15: GK/quantile-sketch percentile — approximate BY
            # CONTRACT. approx_percentile(x, p [, accuracy]): p a
            # numeric literal in [0, 1], accuracy a positive int
            # literal (Spark's GK state bound). FLOAT result on every
            # engine (Spark returns an input element, DuckDB
            # interpolates — both within the sketch tolerance).
            if len(e.args) not in (2, 3):
                self.err(
                    "approx_percentile(..) takes 2 or 3 arguments", e.loc
                )
            t = arg(0)
            if t is None:
                t = self._adopt_param(
                    e.args[0], NUMERIC.with_non_null(False), e.loc
                )
            check_subsumes(t, NUMERIC.nullable(), e.loc, self.src or None)
            p = e.args[1]
            ok = (
                isinstance(p, A.ELit)
                and p.lit_kind in ("float", "int")
                and 0 <= float(p.value) <= 1
            )
            if not ok:
                self.err(
                    "approx_percentile(..) percentile must be a numeric "
                    "literal in [0, 1]", e.loc,
                )
            arg(1)
            if len(e.args) == 3:
                acc = e.args[2]
                if not (
                    isinstance(acc, A.ELit) and acc.lit_kind == "int"
                    and acc.value >= 1
                ):
                    self.err(
                        "approx_percentile(..) accuracy must be a "
                        "positive integer literal", e.loc,
                    )
                arg(2)
            # NULL over an empty/all-NULL group
            return e, FLOAT.with_non_null(False)
        if fnl == "percentile_cont":
            # r15: EXACT percentile — percentile_cont(x, p), p a
            # numeric literal in [0, 1]. Sorts within groups (unlike
            # the GK sketch) — prefer approx_percentile at extreme
            # group cardinalities (SCALING.md).
            nargs(2)
            t = arg(0)
            if t is None:
                t = self._adopt_param(
                    e.args[0], NUMERIC.with_non_null(False), e.loc
                )
            check_subsumes(t, NUMERIC.nullable(), e.loc, self.src or None)
            pq = e.args[1]
            if not (
                isinstance(pq, A.ELit)
                and pq.lit_kind in ("float", "int")
                and 0 <= float(pq.value) <= 1
            ):
                self.err(
                    "percentile_cont(..) percentile must be a numeric "
                    "literal in [0, 1]", e.loc,
                )
            arg(1)
            return e, FLOAT.with_non_null(False)
        if fnl in ("stddev", "variance", "stddev_pop", "var_pop"):
            # sample forms are NULL for n < 2, pop forms for n = 0 —
            # and a correlated/empty group can always be empty, so the
            # result is nullable regardless of the argument
            nargs(1)
            t = arg(0)
            if t is None:
                t = self._adopt_param(e.args[0], NUMERIC.with_non_null(False), e.loc)
            check_subsumes(t, NUMERIC.nullable(), e.loc, self.src or None)
            return e, FLOAT.with_non_null(False)
        if fnl == "median":
            # exact median (both engines interpolate the even-count
            # midpoint); NULL over an empty/all-NULL group
            nargs(1)
            t = arg(0)
            if t is None:
                t = self._adopt_param(e.args[0], NUMERIC.with_non_null(False), e.loc)
            check_subsumes(t, NUMERIC.nullable(), e.loc, self.src or None)
            return e, FLOAT.with_non_null(False)
        if fnl == "mode":
            # most frequent non-NULL value (both engines skip NULLs,
            # probed); ties are engine-unspecified in BOTH — same
            # determinism caveat as arg_min/arg_max
            nargs(1)
            t = arg(0)
            if t is None:
                t = self._adopt_param(
                    e.args[0], STRING.with_non_null(False), e.loc
                )
            return e, t.with_non_null(False)
        if fnl in ("arg_min", "arg_max"):
            # arg_max(value, by): the value at the group's max/min of
            # `by`. Rows with a NULL value OR a NULL key are skipped
            # (Spark max_by and DuckDB arg_max agree, probed); NULL
            # over an empty/all-skipped group. Ties are
            # engine-unspecified in BOTH engines — same caveat as any
            # unordered first()-style pick.
            nargs(2)
            vt = arg(0)
            if vt is None:
                vt = self._adopt_param(
                    e.args[0], STRING.with_non_null(False), e.loc
                )
            kt = arg(1)
            if kt is None:
                kt = self._adopt_param(
                    e.args[1], NUMERIC.with_non_null(False), e.loc
                )
            return e, vt.with_non_null(False)
        if fnl in ("corr", "covar_samp", "covar_pop"):
            # bivariate: corr/covar_samp are NULL for n < 2 (and corr
            # for zero variance), covar_pop for n = 0
            nargs(2)
            for i in range(2):
                t = arg(i)
                if t is None:
                    t = self._adopt_param(
                        e.args[i], NUMERIC.with_non_null(False), e.loc
                    )
                check_subsumes(t, NUMERIC.nullable(), e.loc, self.src or None)
            return e, FLOAT.with_non_null(False)
        if fnl in ("bool_and", "bool_or"):
            nargs(1)
            t = arg(0)
            if t is None:
                t = self._adopt_param(e.args[0], BOOL.with_non_null(False), e.loc)
            check_subsumes(t, BOOL.nullable(), e.loc, self.src or None)
            # NULL over an empty/all-NULL group
            return e, BOOL.with_non_null(False)
        if fnl in ("bit_and", "bit_or", "bit_xor"):
            # r16: exact bitwise fold over INTs, NULLs skipped, NULL
            # over an empty/all-NULL group (probed identical)
            nargs(1)
            t = arg(0)
            if t is None:
                t = self._adopt_param(
                    e.args[0], INT.with_non_null(False), e.loc
                )
            if "int" not in t.kinds:
                self.err(f"{fn}(..) expects an INT argument", e.loc)
            return e, INT.with_non_null(False)
        if fnl == "count_if":
            # r16: rows where the predicate is TRUE (NULL/FALSE both
            # excluded); 0 over an empty group, like count
            nargs(1)
            t = arg(0)
            if t is None:
                t = self._adopt_param(
                    e.args[0], BOOL.with_non_null(False), e.loc
                )
            check_subsumes(t, BOOL.nullable(), e.loc, self.src or None)
            return e, INT
        if fnl == "string_agg":
            # string_agg(x, sep) — DETERMINISTIC by definition in this
            # dialect: elements concatenate in ascending order of x
            # (equivalent to SQL string_agg(x, sep ORDER BY x)), so the
            # result is reproducible across engines and partitionings.
            # The separator must be a string literal (it parameterizes
            # the plan, not the data).
            nargs(2)
            t = arg(0)
            if t is None:
                t = self._adopt_param(e.args[0], STRING.with_non_null(False), e.loc)
            check_subsumes(t, STRING.nullable(), e.loc, self.src or None)
            if not (isinstance(e.args[1], A.ELit) and e.args[1].lit_kind == "string"):
                self.err(
                    "string_agg(..) separator must be a string literal",
                    e.loc,
                )
            return e, STRING.with_non_null(False)
        if fnl == "grouping":
            # r14: 1 when the row is a subtotal that aggregates the
            # argument away, 0 otherwise — distinguishes subtotal
            # NULLs from data NULLs in ROLLUP/CUBE/GROUPING SETS
            nargs(1)
            arg(0)
            if ctx.select.group_kind == "plain":
                self.err(
                    "grouping() requires GROUP BY ROLLUP/CUBE/"
                    "GROUPING SETS", e.loc,
                )
            if expr_key(e.args[0]) not in ctx.group_keys:
                self.err(
                    "grouping() argument must be a GROUP BY expression",
                    e.loc,
                )
            return e, INT
        if fnl in ("sum", "max", "min", "avg",
                   "sum_distinct", "avg_distinct"):
            nargs(1)
            t = arg(0)
            if t is None:
                t = self._adopt_param(e.args[0], NUMERIC.with_non_null(False), e.loc)
            if fnl in ("sum", "avg", "sum_distinct", "avg_distinct"):
                check_subsumes(t, NUMERIC.nullable(), e.loc, self.src or None)
            if ctx.select.group_by == []:
                # a global aggregate (GROUP BY ()) over no rows returns
                # one row of NULL, whatever its argument's nullability
                t = t.with_non_null(False)
            if fnl in ("avg", "avg_distinct"):
                return e, Ty(frozenset({"float"}), t.non_null)
            return e, t
        if fnl == "like":
            # late r14: the dialect PINS backslash as the LIKE escape
            # (Spark's implicit default), and the SQL printers emit an
            # explicit ESCAPE '\' because the backends disagree when
            # left implicit (DuckDB/SQLite have NO default escape — a
            # '\%' pattern silently matches different rows). Dangling
            # or unknown escape sequences are rejected HERE so the
            # semantics stay total and engine-identical.
            nargs(2)
            t = arg(0)
            check_subsumes(t, STRING.nullable(), e.loc, self.src or None)
            pat = e.args[1]
            if not (isinstance(pat, A.ELit) and pat.lit_kind == "string"):
                self.err("like() pattern must be a string literal", e.loc)
            arg(1)
            i, p = 0, pat.value
            while i < len(p):
                if p[i] == "\\":
                    if i + 1 >= len(p) or p[i + 1] not in ("%", "_", "\\"):
                        self.err(
                            "like() escape must be \\%, \\_ or \\\\ "
                            "(backslash is the pinned escape character)",
                            pat.loc,
                        )
                    i += 2
                else:
                    i += 1
            return e, BOOL.with_non_null(t.non_null)
        # -- extension scalar library (beyond reference; SURVEY §2.7) -----
        ext = _EXT_FNS.get(fnl)
        if ext is not None:
            tys = [arg(i) for i in range(len(e.args))]
            return e, ext(self, e, tys)
        self.err(f"no such function: {fn}", e.loc)

    def _infer_inlist(self, ctx: SelectCtx, e: A.EInList) -> Tuple[A.Expr, Ty]:
        """``x [NOT] IN (e1, ..)`` value list (r14): each item must be
        comparable with x under the same rule as ``=`` (kind-set
        intersection, or both numeric). 3VL like chained OR-of-equals:
        the result can be UNKNOWN when x or any item is nullable.
        Items are scalar expressions — subqueries belong to the EIn
        form and are rejected here."""
        elab, ty = self.infer_expr(ctx, e.expr)
        e.expr = elab
        non_null = True
        item_tys = []
        for i, item in enumerate(e.items):
            if A.expr_has_subquery(item):
                self.err(
                    "subqueries are not allowed in IN value lists "
                    "(use x IN (select ..))", item.loc,
                )
            ielab, ity = self.infer_expr(ctx, item)
            e.items[i] = ielab
            item_tys.append(ity)
        if ty is None:
            known = next((t for t in item_tys if t is not None), None)
            if known is None:
                self.err("cannot infer parameter type", e.loc)
            ty = self._adopt_param(e.expr, known, e.loc)
        for i, ity in enumerate(item_tys):
            if ity is None:
                ity = self._adopt_param(e.items[i], ty, e.loc)
            numeric_family = (ty.kinds | ity.kinds) <= frozenset({"int", "float"})
            if not (ty.kinds & ity.kinds) and not numeric_family:
                self.err(f"expected {ty} but got {ity}", e.items[i].loc)
            non_null = non_null and ity.non_null
        return e, BOOL.with_non_null(non_null and ty.non_null)

    def _analyze_sub_compound(self, q: "A.SetOp", what: str, loc):
        """Compound (UNION/INTERSECT/EXCEPT) subquery body in IN /
        EXISTS position (r15): analyzed UNCORRELATED via the standard
        compound path. Correlation lifting works per-branch-WHERE and
        is not defined across set operations — an unresolved column
        inside a branch gets a targeted error instead of the raw
        no-such-column failure."""
        try:
            return self.analyze_setop(q)
        except SqlppError as err:
            if _re.search(
                r"no such column|ambiguous column|no such scope",
                str(err),
            ):
                self.err(
                    f"correlated compound (UNION/INTERSECT/EXCEPT) "
                    f"subqueries are not supported in {what} — "
                    f"correlate a plain SELECT subquery instead",
                    loc,
                )
            raise

    # CAST conversion matrix (r15): target kind <- allowed source
    # kinds. Chosen where Spark (ANSI) and DuckDB agree: bad string
    # conversions RAISE on both engines; datetime->date truncates;
    # numeric<->bool use the nonzero/1-0 conventions both share.
    _CAST_OK = {
        "string": {"string", "int", "float", "bool", "date", "datetime"},
        "int": {"int", "float", "string", "bool"},
        "float": {"int", "float", "string", "bool"},
        "bool": {"bool", "int", "string"},
        "date": {"date", "datetime", "string"},
        "datetime": {"datetime", "date", "string"},
    }

    def _infer_cast(self, ctx: SelectCtx, e: A.EAscribe):
        """CAST(expr AS TY) (r15) — converting cast, kept through
        compile (Column.cast) and print (CAST .. AS). Nullability
        follows the argument: unrepresentable values ERROR on both
        engines (Spark runs ANSI mode), they don't go NULL."""
        if isinstance(e.expr, A.ENull):
            return e, e.to_ty.with_non_null(False)
        inner, ity = self._infer(ctx, e.expr)
        e.expr = inner
        if ity is None:
            ity = self._adopt_param(
                inner, e.to_ty.with_non_null(False), e.loc
            )
        if getattr(inner, "ty", None) is None and hasattr(inner, "ty"):
            inner.ty = ity  # printers read the SOURCE kind off the node
        tgt = e.to_ty.kind
        allowed = self._CAST_OK.get(tgt)
        if allowed is None:
            self.err(f"cannot CAST to {tgt.upper()}", e.loc)
        if not (ity.kinds & allowed):
            self.err(
                f"cannot CAST {ity} to {tgt.upper()}", e.loc,
            )
        if getattr(e, "safe", False):
            # TRY_CAST (r15): malformed/overflowing values go NULL
            # instead of raising — always nullable
            return e, e.to_ty.with_non_null(False)
        return e, e.to_ty.with_non_null(ity.non_null)

    def _infer_in(self, ctx: SelectCtx, e: A.EIn) -> Tuple[A.Expr, Ty]:
        if isinstance(e.select, A.SetOp):
            sub, corr = self._analyze_sub_compound(e.select, "IN", e.loc), []
        else:
            sub, corr = self._lift_correlated(ctx, e.select)
        e.sub_ctx = sub
        e.corr = corr
        if corr:
            self._check_corr_sub_shape(e.select, "IN", e.loc)
        row = sub.row()
        if len(e.exprs) != len(row):
            self.err(
                f"number of expressions ({len(e.exprs)}) doesn't match "
                f"number of columns ({len(row)})",
                e.loc,
            )
        non_null = True
        for i, (cname, cty) in enumerate(row):
            elab, ty = self.infer_expr(ctx, e.exprs[i])
            e.exprs[i] = elab
            if ty is None:
                ty = self._adopt_param(elab, cty, e.loc)
            numeric_family = (ty.kinds | cty.kinds) <= frozenset({"int", "float"})
            if not (ty.kinds & cty.kinds) and not numeric_family:
                self.err(f"expected {cty} but got {ty}", elab.loc)
            non_null = non_null and ty.non_null and cty.non_null
        return e, BOOL.with_non_null(non_null)

    def _infer_quant(self, ctx: SelectCtx, e: A.EQuant) -> Tuple[A.Expr, Ty]:
        """Quantified comparison over the ORDERED ops (r15 — see
        ast.EQuant). The subquery analyzes UNCORRELATED (plain or
        compound): a witness/falsifier reduces to a comparison against
        the set's min/max, which only exists as a per-set constant
        when the set doesn't vary per outer row. Equality-correlated
        forms reduce per correlation key (r15); theta-correlated forms
        reduce per distinct outer probe tuple (r16) — both keep the
        four bounded aggregate cells."""
        what = f"{e.op} {e.quant.upper()}"
        if isinstance(e.select, A.SetOp):
            sub, corr = self._analyze_sub_compound(e.select, what, e.loc), []
        else:
            sub, corr = self._lift_correlated(ctx, e.select)
        if corr:
            # equality correlation compiles as a per-key aggregate
            # marker (bounded per-key state); theta correlation (r16)
            # reduces over the distinct outer probe tuples instead —
            # same four bounded cells per tuple (compile._attach_quant)
            self._check_corr_sub_shape(e.select, what, e.loc)
        e.corr = corr
        e.sub_ctx = sub
        row = sub.row()
        if len(row) != 1:
            self.err(
                f"{e.quant.upper()} subquery must project exactly one "
                f"column, got {len(row)}",
                e.loc,
            )
        cname, cty = row[0]
        elab, ty = self.infer_expr(ctx, e.expr)
        e.expr = elab
        if ty is None:
            ty = self._adopt_param(elab, cty, e.loc)
        numeric_family = (ty.kinds | cty.kinds) <= frozenset({"int", "float"})
        if not (ty.kinds & cty.kinds) and not numeric_family:
            self.err(f"expected {cty} but got {ty}", elab.loc)
        # NULL only possible when a NULL probe or NULL element can
        # leave the outcome undecided — same rule as IN
        return e, BOOL.with_non_null(ty.non_null and cty.non_null)

    def _infer_scalar_sub(
        self, ctx: SelectCtx, e: A.EScalarSub
    ) -> Tuple[A.Expr, Ty]:
        """Scalar subquery (beyond-reference extension, r11 — see
        ast.EScalarSub). The select must project exactly ONE field
        holding a single global aggregate (``group by ()``), so the
        result is one row by construction. Correlation: when analysis
        fails on an unresolved column that a top-level comparison
        conjunct (= != < <= > >=) mentions, that conjunct is lifted
        out and analysis retried; lifted conjuncts become
        (op, inner, outer) triples — inner side elaborated in the
        subquery scope, outer side in the ENCLOSING scope, op
        oriented inner-first — compiled by the backend as a grouped
        left join (pure equality: textbook decorrelation) or through
        distinct outer keys (any theta op, r12). The elaborated
        conjuncts are re-inserted into the analyzed WHERE marked
        ``_corr`` so SQL printers emit the ordinary correlated form
        while the Spark compiler skips them in the residual filter.
        Genuinely unsupported correlations still error cleanly: a
        non-comparison conjunct mentioning the outer scope (e.g.
        ``inner + outer = 3``, OR-connected correlation) raises
        "unsupported correlation"."""
        if isinstance(e.select, A.SetOp):
            # a compound cannot be a single global aggregate — the
            # <=1-row property would not hold by construction (r15:
            # targeted error; IN/EXISTS accept compounds)
            self.err(
                "compound (UNION/INTERSECT/EXCEPT) scalar subqueries "
                "are not supported — a scalar subquery must be a "
                "single global aggregate (group by ())", e.loc,
            )
        sub_ctx, corr = self._lift_correlated(ctx, e.select)
        fields = [f for f in sub_ctx.fields if f.is_used]
        if len(fields) != 1:
            self.err(
                "scalar subquery must select exactly one column", e.loc
            )
        fexpr = fields[0].expr
        if not (
            isinstance(fexpr, A.EApp) and fexpr.fn.lower() in AGG_FNS
        ):
            self.err(
                "scalar subquery must select a single aggregate "
                "(count/sum/max/min/avg)", e.loc,
            )
        if e.select.group_by is None or sub_ctx.group_exprs:
            self.err(
                "scalar subquery must aggregate globally — "
                "add `group by ()`", e.loc,
            )
        e.agg_fn = fexpr.fn.lower()
        e.corr = corr
        e.sub_ctx = sub_ctx
        fty = fexpr.ty
        if e.agg_fn in ("count", "count_distinct", "approx_count_distinct"):
            fty = fty.with_non_null(True)  # missing group coalesces to 0
        elif e.corr:
            fty = fty.with_non_null(False)  # unmatched outer row → NULL
        return e, fty

    def _check_corr_sub_shape(self, select, what: str, loc) -> None:
        """Correlated IN/EXISTS decorrelate to semi/anti joins, which
        is only sound for plain SELECT ... WHERE subqueries: GROUP BY
        would aggregate ACROSS correlation groups once the correlation
        filter lifts out, and ORDER BY/LIMIT/OFFSET would apply
        globally instead of per outer row. Reject those shapes with a
        clear error (scalar subqueries have their own global-agg
        contract and are exempt)."""
        if select.group_by is not None:
            self.err(
                f"correlated {what} subquery cannot use GROUP BY "
                "(grouping would span correlation groups after "
                "decorrelation)", loc,
            )
        if select.order_by or select.limit is not None \
                or select.offset is not None:
            self.err(
                f"correlated {what} subquery cannot use "
                "ORDER BY/LIMIT/OFFSET (they would apply globally, "
                "not per outer row)", loc,
            )

    def _lift_correlated(self, ctx: SelectCtx, select) -> tuple:
        """Analyze a subquery SELECT, lifting top-level comparison
        conjuncts (= != < <= > >=) that reference the ENCLOSING scope:
        analysis is retried with suspect conjuncts removed until it
        succeeds, then each lifted conjunct elaborates into an
        (op, inner, outer) triple — inner side in the subquery scope,
        outer side in ``ctx``, op oriented inner-first (mirror op when
        the outer side was written on the left). The elaborated
        conjuncts are re-inserted into the analyzed WHERE marked
        ``_corr`` so SQL printers emit the ordinary correlated form
        while the Spark compiler skips them in the residual filter.
        Shared by scalar subqueries (r11/r12) and correlated IN /
        EXISTS (r12). Returns (sub_ctx, corr_triples)."""
        if select.where is not None:
            # NNF first (r13): NOT pushed to the atoms, comparisons
            # flipped — correlation under NOT becomes liftable
            select.where = _push_not(select.where)
        conjs = _split_and(select.where)
        lifted: set = set()
        sub_ctx = None
        last_err = None
        saved_params = copy.deepcopy(self.params)
        for _ in range(len(conjs) + 1):
            trial = copy.deepcopy(select)
            tconjs = _split_and(trial.where)
            trial.where = _join_and(
                [c for i, c in enumerate(tconjs) if i not in lifted]
            )
            # deep restore: a failed trial may have recorded param uses
            # (ParamEntry mutates in place) before raising
            self.params = copy.deepcopy(saved_params)
            try:
                sub_ctx = self.analyze_select(trial)
                break
            except SqlppError as err:
                last_err = err
                m = _re.search(
                    r"(?:no such column|ambiguous column|no such scope)"
                    r": (\w+)", str(err)
                )
                if m is None:
                    raise
                name = m.group(1)
                pick = None
                for i, c in enumerate(conjs):
                    if i in lifted or not (
                        isinstance(c, A.EApp)
                        and c.fn in _CORR_OPS
                        and len(c.args) == 2
                    ):
                        continue
                    if any(
                        (isinstance(n, A.EName) and n.name == name)
                        or (isinstance(n, A.ENav) and n.scope == name)
                        for a in c.args for n in _iter_subnodes(a)
                    ):
                        pick = i
                        break
                if pick is None:
                    # The unresolved name lives in the ENCLOSING scope
                    # but sits somewhere we cannot lift — under OR/NOT,
                    # inside a function argument, or in a
                    # non-comparison predicate. Raise the dedicated
                    # boundary error (compile-time, before execution —
                    # never a wrong answer) instead of the raw
                    # resolution failure, which would read as a typo.
                    outer_has = (
                        name in ctx.rels
                        or name in ctx.aliases
                        or self._try_infer(
                            ctx, A.EName(name, loc=select.where.loc)
                        )
                        is not None
                    )
                    if outer_has:
                        self.err(
                            "unsupported correlation in subquery: "
                            f"`{name}` references the enclosing scope "
                            "outside a top-level comparison conjunct "
                            "(correlated predicates under OR/NOT, "
                            "inside function arguments, or in "
                            "non-comparison positions cannot be "
                            "decorrelated)", select.where.loc,
                        )
                    raise
                lifted.add(pick)
        if sub_ctx is None:
            raise last_err  # pragma: no cover — loop always resolves
        corr = []
        for i in sorted(lifted):
            conj = conjs[i]
            op = conj.fn
            l, r = conj.args
            li = self._try_infer(sub_ctx, l)
            ri = self._try_infer(sub_ctx, r)
            lo = self._try_infer(ctx, l)
            ro = self._try_infer(ctx, r)
            if li is not None and ro is not None:
                (inner, ity), (outer, oty) = li, ro
            elif ri is not None and lo is not None:
                (inner, ity), (outer, oty) = ri, lo
                op = _CORR_OPS[op]  # inner moved to the left: flip
            else:
                self.err(
                    "unsupported correlation in subquery: only "
                    "`inner <cmp> outer` comparison conjuncts "
                    "(= != < <= > >=) may reference the enclosing "
                    "scope", conj.loc,
                )
            numeric = (ity.kinds | oty.kinds) <= frozenset({"int", "float"})
            if not (ity.kinds & oty.kinds) and not numeric:
                self.err(f"expected {ity} but got {oty}", conj.loc)
            corr.append((op, inner, outer))
            marked = A.EApp(op, [inner, outer], loc=conj.loc)
            marked.ty = BOOL
            marked._corr = True
            w = sub_ctx.select.where
            sub_ctx.select.where = (
                marked if w is None else A.EApp("and", [w, marked])
            )
            sub_ctx.select.where.ty = BOOL
        return sub_ctx, corr

    def _try_quantified_or_split(self, ctx: SelectCtx, e, err):
        """r13 (negation fixed r14): EXISTS/IN distribute over OR —
        existential quantification over a union is the Kleene-OR of the
        branch quantifications. When the direct correlation lift fails
        with the boundary error AND the subquery WHERE contains a
        top-level OR of decorrelatable branches, rewrite

            EXISTS (S WHERE P OR Q)  ->  EXISTS(S WHERE P) OR
                                         EXISTS(S WHERE Q)
            x IN   (S WHERE P OR Q)  ->  x IN(S WHERE P) OR
                                         x IN(S WHERE Q)
            x NOT IN (S WHERE P OR Q) -> NOT (x IN(S WHERE P) OR
                                              x IN(S WHERE Q))

        via full AND-over-OR distribution (DNF, capped at 8 branches —
        past that the rewrite would multiply subquery scans, not help).
        NOT IN must negate the OR of the POSITIVE branch memberships
        (De Morgan: x ∉ (A ∪ B) ⇔ ¬(x ∈ A ∨ x ∈ B)); distributing the
        negation into the branches — (x ∉ A) ∨ (x ∉ B) — is wrong
        whenever x is in exactly one branch. Kleene NOT of Kleene OR
        keeps the rewrite exact in 3VL. Branches whose correlation is
        still undecorrelatable (theta under OR, non-comparison)
        re-raise their own boundary error. Returns (expr, ty) or None
        when the shape does not apply."""
        if "unsupported correlation" not in str(err):
            return None
        where = e.select.where
        if where is None:
            return None
        disjuncts = _dnf(where)
        if not 1 < len(disjuncts) <= 8:
            return None
        negated = isinstance(e, A.EIn) and e.negated
        branches = []
        for conjs in disjuncts:
            b = copy.deepcopy(e)
            if negated:
                b.negated = False  # quantify positively; negate the OR
            b.select.where = _join_and([copy.deepcopy(c) for c in conjs])
            branches.append(b)
        node = None
        ty = BOOL
        for b in branches:
            elab, bty = self.infer_expr(ctx, b)
            ty = BOOL.with_non_null(ty.non_null and bty.non_null)
            node = elab if node is None else A.EApp(
                "or", [node, elab], loc=e.loc
            )
            node.ty = ty
        if negated:
            node = A.EApp("not", [node], loc=e.loc)
            node.ty = ty
        return node, ty

    def _try_infer(self, ctx: SelectCtx, expr: A.Expr):
        try:
            return self.infer_expr(ctx, copy.deepcopy(expr))
        except SqlppError:
            return None

    # -- aggregate validation ----------------------------------------------

    def _reject_agg(self, e: A.Expr, where: str) -> None:
        for app in _iter_apps(e):
            if app.fn.lower() in AGG_FNS:
                self.err(f"aggregate function `{app.fn}(..)` is not allowed in {where}", app.loc)

    def _check_aggregates(self, ctx: SelectCtx) -> None:
        grouped = ctx.select.group_by is not None
        exprs: List[A.Expr] = [f.expr for f in ctx.fields]
        if ctx.select.having is not None:
            exprs.append(ctx.select.having)
        if ctx.select.qualify is not None:
            exprs.append(ctx.select.qualify)
        exprs.extend(o.expr for o in ctx.select.order_by)
        for ex in exprs:
            self._check_agg_expr(ctx, ex, grouped, in_agg=False)

    def _check_agg_expr(self, ctx: SelectCtx, e: A.Expr, grouped: bool, in_agg: bool) -> None:
        if grouped and expr_key(e) in ctx.group_keys:
            return
        if isinstance(e, A.EWindow):
            # the window runs over the (possibly aggregated) output
            # rows — its subexpressions obey the same grouped-ref
            # rules as the projection itself
            for sub in [
                *e.args, *e.partition_by, *[o.expr for o in e.order_by]
            ]:
                self._check_agg_expr(ctx, sub, grouped, in_agg)
            return
        if isinstance(e, A.EApp):
            if e.fn.lower() in AGG_FNS:
                if not grouped or in_agg:
                    self.err(
                        f"aggregate function `{e.fn}(..)` is not allowed without GROUP BY",
                        e.loc,
                    )
                for a in e.args:
                    self._check_agg_expr(ctx, a, grouped, in_agg=True)
                return
            for a in e.args:
                self._check_agg_expr(ctx, a, grouped, in_agg)
            return
        if isinstance(e, A.ERef):
            if grouped and not in_agg:
                self.err(
                    f"expression `{e.rel}.{e.name}` is not in GROUP BY clause "
                    "and is not under aggregate function",
                    e.loc,
                )
            return
        if isinstance(e, A.EIn):
            for x in e.exprs:
                self._check_agg_expr(ctx, x, grouped, in_agg)
        if isinstance(e, A.EQuant):
            self._check_agg_expr(ctx, e.expr, grouped, in_agg)
            return
        if isinstance(e, A.EInList):
            self._check_agg_expr(ctx, e.expr, grouped, in_agg)
            for x in e.items:
                self._check_agg_expr(ctx, x, grouped, in_agg)
            return
        if isinstance(e, A.EMatch):
            for br in e.branches:
                self._check_agg_expr(ctx, br.body, grouped, in_agg)
            return
        # literals, params, exists, null — fine


# ---------------------------------------------------------------------------
# Extension scalar functions (beyond-reference; typed loosely)
# ---------------------------------------------------------------------------


_DATE_TRUNC_PARTS = {"year", "quarter", "month", "week", "day",
                     "hour", "minute"}


def _date_trunc_rule(an: "Analyzer", e: A.EApp, tys) -> Ty:
    """date_trunc(part, x) (r15): part is a string literal from the
    cross-engine-agreeing set; the result keeps x's kind (DATE in ->
    DATE out, DATETIME in -> DATETIME out — Spark returns TIMESTAMP
    always, the compiler casts back; DuckDB/PG do this natively)."""
    if len(e.args) != 2:
        an.err("date_trunc(..) takes (part, date/datetime)", e.loc)
    part = e.args[0]
    if not (
        isinstance(part, A.ELit) and part.lit_kind == "string"
        and part.value.lower() in _DATE_TRUNC_PARTS
    ):
        an.err(
            "date_trunc(..) part must be a string literal, one of: "
            + ", ".join(sorted(_DATE_TRUNC_PARTS)), e.loc,
        )
    t = tys[1]
    if t is None or not (t.kinds & {"date", "datetime"}):
        an.err("date_trunc(..) expects a DATE or DATETIME", e.loc)
    kind = "datetime" if "datetime" in t.kinds else "date"
    if kind == "date" and part.value.lower() in ("hour", "minute"):
        an.err(
            "date_trunc(..) to hour/minute needs a DATETIME input",
            e.loc,
        )
    return Ty(frozenset({kind}), t.non_null)


def _regexp_rule(ret: Ty):
    def rule(an: "Analyzer", e: A.EApp, tys) -> Ty:
        nargs = 3 if ret is STRING else 2
        if len(e.args) != nargs:
            an.err(f"{e.fn}(..) takes {nargs} arguments", e.loc)
        pat = e.args[1]
        if not (isinstance(pat, A.ELit) and pat.lit_kind == "string"):
            an.err(
                f"{e.fn}(..) pattern must be a string literal", e.loc
            )
        nn = all(t is not None and t.non_null for t in tys)
        return ret.with_non_null(nn)

    return rule


def _temporal_rule(arg_kinds: frozenset, ret_kind: str, only_dt=False):
    """1-arg temporal field/conversion functions (r16 wave)."""

    def rule(an: "Analyzer", e: A.EApp, tys) -> Ty:
        if len(e.args) != 1:
            an.err(f"{e.fn}(..) takes 1 argument", e.loc)
        t = tys[0]
        if t is not None and not (t.kinds & arg_kinds):
            want = "DATETIME" if only_dt else "DATE or DATETIME"
            an.err(f"{e.fn}(..) expects a {want}", e.loc)
        nn = t is not None and t.non_null
        return Ty(frozenset({ret_kind}), nn)

    return rule


def _make_temporal_rule(nargs: int, ret_kind: str):
    """make_date(y, m, d) / make_timestamp(y, mo, d, h, mi, s) — int
    components; out-of-range components ERROR at runtime in BOTH
    engines (Spark ANSI / DuckDB), so no silent divergence."""

    def rule(an: "Analyzer", e: A.EApp, tys) -> Ty:
        if len(e.args) != nargs:
            an.err(f"{e.fn}(..) takes {nargs} arguments", e.loc)
        for i, t in enumerate(tys):
            if t is not None and "int" not in t.kinds:
                an.err(
                    f"{e.fn}(..) arguments must be INT", e.args[i].loc
                )
        nn = all(t is not None and t.non_null for t in tys)
        return Ty(frozenset({ret_kind}), nn)

    return rule


def _regexp_extract_rule(an: "Analyzer", e: A.EApp, tys) -> Ty:
    """regexp_extract(s, pattern, group) (r16): pattern a string
    literal (plan-parameterizing, like the other regexp fns), group a
    non-negative int literal (0 = whole match). Returns '' on miss,
    NULL on NULL input — Spark and DuckDB agree (probed)."""
    if len(e.args) != 3:
        an.err("regexp_extract(..) takes 3 arguments", e.loc)
    pat = e.args[1]
    if not (isinstance(pat, A.ELit) and pat.lit_kind == "string"):
        an.err("regexp_extract(..) pattern must be a string literal", e.loc)
    g = e.args[2]
    if not (
        isinstance(g, A.ELit) and g.lit_kind == "int" and g.value >= 0
    ):
        an.err(
            "regexp_extract(..) group must be a non-negative int "
            "literal", e.loc,
        )
    nn = tys[0] is not None and tys[0].non_null
    return STRING.with_non_null(nn)


def _translate_rule(an: "Analyzer", e: A.EApp, tys) -> Ty:
    """translate(s, from, to) (r16): from/to are string literals —
    Spark's translate takes them as plan constants."""
    if len(e.args) != 3:
        an.err("translate(..) takes 3 arguments", e.loc)
    for i in (1, 2):
        if not (
            isinstance(e.args[i], A.ELit)
            and e.args[i].lit_kind == "string"
        ):
            an.err(
                "translate(..) from/to must be string literals", e.loc
            )
    nn = tys[0] is not None and tys[0].non_null
    return STRING.with_non_null(nn)


def _greatest_rule(an: "Analyzer", e: A.EApp, tys) -> Ty:
    if len(e.args) < 2:
        an.err(f"{e.fn}(..) takes at least 2 arguments", e.loc)
    t = None
    for i, a in enumerate(tys):
        if a is None:
            continue
        t = a if t is None else ty_lub(t, a, e.loc, an.src or None)
    if t is None:
        an.err(f"cannot infer {e.fn}(..) argument types", e.loc)
    # skip-NULL: the result is NULL only when EVERY input is
    nn = any(a is not None and a.non_null for a in tys)
    return t.with_non_null(nn)


def _date_add_rule(an: "Analyzer", e: A.EApp, tys) -> Ty:
    """date_add(d, n) — d strictly DATE (Spark's date_add on a
    DATETIME silently truncates to date; require an explicit CAST
    instead), n INT; result DATE."""
    if len(e.args) != 2:
        an.err("date_add(..) takes (date, days)", e.loc)
    _require_kind(an, tys[0], {"date"}, e, "date_add(..) first argument")
    _require_kind(an, tys[1], {"int"}, e, "date_add(..) day count")
    nn = all(t is not None and t.non_null for t in tys)
    return DATE.with_non_null(nn)


def _date_diff_rule(an: "Analyzer", e: A.EApp, tys) -> Ty:
    """date_diff(a, b) = a - b in whole days; both strictly DATE
    (CAST a DATETIME explicitly — silent truncation differs across
    engines)."""
    if len(e.args) != 2:
        an.err("date_diff(..) takes (date, date)", e.loc)
    for i, what in ((0, "first"), (1, "second")):
        _require_kind(
            an, tys[i], {"date"}, e, f"date_diff(..) {what} argument"
        )
    nn = all(t is not None and t.non_null for t in tys)
    return INT.with_non_null(nn)


def _require_kind(an, t, kinds, e, what):
    if t is None or not (t.kinds & kinds):
        an.err(
            f"{what} must be {'/'.join(sorted(k.upper() for k in kinds))}"
            f"{'' if t is None else f', got {t}'}", e.loc,
        )


def _ext(ret_builder):
    def rule(an: Analyzer, e: A.EApp, tys: List[Ty]) -> Ty:
        nn = all(t is not None and t.non_null for t in tys) if tys else True
        return ret_builder(tys).with_non_null(nn)

    return rule


_EXT_FNS = {
    "upper": _ext(lambda tys: STRING),
    "lower": _ext(lambda tys: STRING),
    "length": _ext(lambda tys: INT),
    "substring": _ext(lambda tys: STRING),
    "substr": _ext(lambda tys: STRING),
    "concat": _ext(lambda tys: STRING),
    "trim": _ext(lambda tys: STRING),
    # r15: one-sided trims and a content fingerprint (md5 hex — the
    # pipeline's exact-dedup / shard-routing hash)
    "ltrim": _ext(lambda tys: STRING),
    "rtrim": _ext(lambda tys: STRING),
    "md5": _ext(lambda tys: STRING),
    "replace": _ext(lambda tys: STRING),
    "abs": _ext(lambda tys: tys[0] if tys and tys[0] is not None else NUMERIC),
    "round": _ext(lambda tys: Ty(frozenset({"float"}), True)),
    "floor": _ext(lambda tys: INT),
    "ceil": _ext(lambda tys: INT),
    "year": _ext(lambda tys: INT),
    "month": _ext(lambda tys: INT),
    "day": _ext(lambda tys: INT),
    # r15: EXTRACT parts below day (datetime input)
    "hour": _ext(lambda tys: INT),
    "minute": _ext(lambda tys: INT),
    "second": _ext(lambda tys: INT),
    # r15 text-pipeline string functions: split_part is 1-based and
    # returns '' out of range (Spark and DuckDB/PG agree, probed);
    # regexp patterns must be string LITERALS (they parameterize the
    # plan) and stick to the Java-and-RE2-common subset — documented
    # caveat, like LIKE's pinned escape
    "split_part": _ext(lambda tys: STRING),
    "regexp_replace": _regexp_rule(STRING),
    "regexp_like": _regexp_rule(BOOL),
    # r15: n-ary greatest/least — SKIP-NULL semantics on every engine
    # that has them (Spark/DuckDB/PG: NULL only when ALL inputs are);
    # result is the args' lub, NON-NULL if ANY arg is
    "greatest": _greatest_rule,
    "least": _greatest_rule,
    "like": _ext(lambda tys: BOOL),
    # r15 date arithmetic (cross-engine portable; see sqlgen hooks)
    "date_add": _date_add_rule,
    "date_diff": _date_diff_rule,
    "date_trunc": _date_trunc_rule,
    # r14 string pack (portable across Spark/DuckDB/PG; SQLite via
    # dialect hooks or documented gaps)
    "lpad": _ext(lambda tys: STRING),
    "rpad": _ext(lambda tys: STRING),
    "repeat": _ext(lambda tys: STRING),
    "reverse": _ext(lambda tys: STRING),
    "left": _ext(lambda tys: STRING),
    "right": _ext(lambda tys: STRING),
    "strpos": _ext(lambda tys: INT),
    "contains": _ext(lambda tys: BOOL),
    "starts_with": _ext(lambda tys: BOOL),
    "ends_with": _ext(lambda tys: BOOL),
    "mod": _ext(lambda tys: tys[0] if tys and tys[0] is not None else NUMERIC),
    # sqrt/ln are NULL on out-of-domain input (late r14) — always
    # nullable regardless of the argument
    "sqrt": lambda an, e, tys: Ty(frozenset({"float"}), False),
    "pow": _ext(lambda tys: Ty(frozenset({"float"}), True)),
    "exp": _ext(lambda tys: Ty(frozenset({"float"}), True)),
    "ln": lambda an, e, tys: Ty(frozenset({"float"}), False),
    # r16 scalar wave (all probed Spark-vs-DuckDB before wiring):
    # regexp_extract ''-on-miss, translate drop-unmapped, sign/trunc
    # as DOUBLE, log10/log2 NULL out-of-domain (like ln), ascii as
    # the full Unicode codepoint (0 for '')
    "regexp_extract": _regexp_extract_rule,
    "translate": _translate_rule,
    # r16 temporal wave (probed; dialect pins: epoch = FLOOR seconds
    # as INT, dayofweek = Sunday-1..Saturday-7 like Spark, week = ISO)
    "epoch": _temporal_rule(frozenset({"datetime"}), "int", only_dt=True),
    "last_day": _temporal_rule(frozenset({"date", "datetime"}), "date"),
    "dayofweek": _temporal_rule(frozenset({"date", "datetime"}), "int"),
    "week": _temporal_rule(frozenset({"date", "datetime"}), "int"),
    "quarter": _temporal_rule(frozenset({"date", "datetime"}), "int"),
    "dayofyear": _temporal_rule(frozenset({"date", "datetime"}), "int"),
    "make_date": _make_temporal_rule(3, "date"),
    "make_timestamp": _make_temporal_rule(6, "datetime"),
    "sign": _ext(lambda tys: Ty(frozenset({"float"}), True)),
    "trunc": _ext(lambda tys: Ty(frozenset({"float"}), True)),
    "log10": lambda an, e, tys: Ty(frozenset({"float"}), False),
    "log2": lambda an, e, tys: Ty(frozenset({"float"}), False),
    "ascii": _ext(lambda tys: INT),
}


# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------


def fld_name(fld, fallback: str) -> str:
    if isinstance(fld, A.Field):
        return fld.out_name
    return fallback


def _nav_chain(path: List[str], inner: A.Expr, loc: Loc) -> A.ENav:
    e = inner
    for name in reversed(path):
        e = A.ENav(scope=name, expr=e, loc=loc)
    return e


def _dnf(e):
    """Distribute AND over OR: list of conjunct-lists whose OR-join is
    equivalent to ``e``. NOT is treated as an atom (no De Morgan — a
    correlated atom under NOT stays undecorrelatable and will re-raise
    its boundary error downstream)."""
    if isinstance(e, A.EApp) and e.fn.lower() == "and" and len(e.args) == 2:
        return [
            left + right
            for left in _dnf(e.args[0])
            for right in _dnf(e.args[1])
        ]
    if isinstance(e, A.EApp) and e.fn.lower() == "or" and len(e.args) == 2:
        return _dnf(e.args[0]) + _dnf(e.args[1])
    return [[e]]


_NOT_FLIP = {
    "=": "!=", "!=": "=", "<": ">=", "<=": ">", ">": "<=", ">=": "<",
    "IS NULL": "IS NOT NULL", "IS NOT NULL": "IS NULL",
    # two-valued, so the flip is exact trivially (r15)
    "IS DISTINCT FROM": "IS NOT DISTINCT FROM",
    "IS NOT DISTINCT FROM": "IS DISTINCT FROM",
}


def _push_not(e):
    """Negation normal form — EXACT in Kleene three-valued logic:
    ``NOT(a AND b) = NOT a OR NOT b`` and its dual hold in K3,
    ``NOT(x < y) = x >= y`` (both UNKNOWN exactly when an operand is
    NULL), ``NOT NOT a = a``, ``NOT(x IS NULL) = x IS NOT NULL``.
    Pushing NOT to the atoms turns a correlated comparison under NOT
    into a plain (flipped) correlated comparison the lift handles;
    atoms with no exact negation (LIKE, IN, EXISTS, bare columns)
    keep their NOT and, if correlated, still raise the boundary error
    BEFORE execution (r13; previously ANY correlation under NOT
    errored)."""
    if not isinstance(e, A.EApp):
        return e
    fnl = e.fn.lower()
    if fnl in ("and", "or") and len(e.args) == 2:
        return A.EApp(e.fn, [_push_not(a) for a in e.args], loc=e.loc)
    if fnl == "not" and len(e.args) == 1:
        inner = e.args[0]
        if isinstance(inner, A.EApp):
            ifnl = inner.fn.lower()
            if ifnl == "and" and len(inner.args) == 2:
                return A.EApp(
                    "or",
                    [
                        _push_not(A.EApp("not", [a], loc=e.loc))
                        for a in inner.args
                    ],
                    loc=e.loc,
                )
            if ifnl == "or" and len(inner.args) == 2:
                return A.EApp(
                    "and",
                    [
                        _push_not(A.EApp("not", [a], loc=e.loc))
                        for a in inner.args
                    ],
                    loc=e.loc,
                )
            if ifnl == "not" and len(inner.args) == 1:
                return _push_not(inner.args[0])
            if inner.fn in _NOT_FLIP:
                return A.EApp(_NOT_FLIP[inner.fn], list(inner.args), loc=e.loc)
        if isinstance(inner, A.EInList):
            # NOT(x IN list) = x NOT IN list — both are the Kleene
            # negation of the same OR-of-equals, exact in 3VL (r14)
            return A.EInList(
                expr=inner.expr, items=list(inner.items),
                negated=not inner.negated, loc=e.loc,
            )
        return e
    return e


def _split_and(e):
    """Top-level AND conjuncts of an (unelaborated) predicate."""
    if e is None:
        return []
    if isinstance(e, A.EApp) and e.fn.lower() == "and" and len(e.args) == 2:
        return _split_and(e.args[0]) + _split_and(e.args[1])
    return [e]


def _join_and(conjs):
    out = None
    for c in conjs:
        out = c if out is None else A.EApp("and", [out, c], loc=c.loc)
    return out


def _iter_subnodes(e):
    """Every expression node below ``e`` (raw AST walk, subqueries not
    entered — used to match an unresolved-name error to the conjunct
    that mentions it)."""
    yield e
    for child in getattr(e, "args", None) or []:
        yield from _iter_subnodes(child)
    if isinstance(e, (A.EAscribe, A.ENav)):
        yield from _iter_subnodes(e.expr)


def _iter_refs(e: A.Expr):
    if isinstance(e, A.ERef):
        yield e
    elif isinstance(e, A.EApp):
        for a in e.args:
            yield from _iter_refs(a)
    elif isinstance(e, A.EAscribe):
        yield from _iter_refs(e.expr)
    elif isinstance(e, A.EIn):
        for x in e.exprs:
            yield from _iter_refs(x)
    elif isinstance(e, A.EQuant):
        yield from _iter_refs(e.expr)
    elif isinstance(e, A.EMatch):
        for br in e.branches:
            yield from _iter_refs(br.body)


def _iter_apps(e: A.Expr):
    if isinstance(e, A.EApp):
        yield e
        for a in e.args:
            yield from _iter_apps(a)
    elif isinstance(e, A.EAscribe):
        yield from _iter_apps(e.expr)
    elif isinstance(e, A.EIn):
        for x in e.exprs:
            yield from _iter_apps(x)
    elif isinstance(e, A.EQuant):
        yield from _iter_apps(e.expr)
    elif isinstance(e, A.EMatch):
        for br in e.branches:
            yield from _iter_apps(br.body)


def analyze(env: Env, src: str, pivot_values=None) -> QueryInfo:
    q = parse_query(src)
    an = Analyzer(env, src)
    an.pivot_values = pivot_values
    return an.analyze_query(q)
