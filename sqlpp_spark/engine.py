"""SqlppEngine — the runtime API surface of the engine.

Mirrors the reference's runtime shapes (SURVEY.md §2.10):
- ``fetch_list`` / ``fetch_option`` / ``exec`` — typed fetch API
  (sqlpp_ppx.ml:406-497); analysis happens eagerly at ``prepare`` time
  so type errors surface before any Spark job runs
- ``Dynamic``-style string API: ``engine.query(src, **params)`` returns
  a DataFrame; ``fetch_json`` returns JSON rows (sqlpp.ml:388-401)
- schema env with CREATE TABLE/QUERY/FIELDSET decls (sqlpp.ml:81-111),
  plus registration straight from Spark DataFrames/parquet
- DML: INSERT / UPDATE / DELETE on parquet-backed managed tables,
  crash-atomic via the versioned commit protocol below (or real Delta
  ACID commits when delta-spark is on the classpath); the plan/row
  semantics (ON CONFLICT, RETURNING, joined UPDATE ... FROM) match the
  reference (analyze.ml:826-998). A plain write runs one Spark job (the
  version write): the engine remembers the schema of each version it
  commits, so reading it back is a file listing, not footer inference.
  RETURNING adds one more job, a local checkpoint of the affected rows
  held in executor block storage; it lives as long as the returned
  DataFrame and does not survive the loss of an executor
"""

from __future__ import annotations

import os
import re
import shutil
from contextlib import contextmanager
from typing import Dict, List, Optional

from py4j.protocol import Py4JJavaError
from pyspark.sql import Column, DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sqlpp_spark.compiler.compile import (
    Bindings, Compiler, not_terminated, spark_type,
)
from sqlpp_spark.frontend import ast as A
from sqlpp_spark.frontend.analyze import Analyzer, Env, QueryInfo
from sqlpp_spark.frontend.errors import SqlppError
from sqlpp_spark.frontend.parser import parse_query
from sqlpp_spark.frontend.types import Ty, check_subsumes, ty as mk_ty

# -- managed-table storage: versioned commit protocol ------------------------
#
# Plain-parquet ``overwrite`` is NOT crash-atomic: a failure between the
# delete and the write leaves a truncated table. Managed tables therefore
# use a versioned layout mirroring the reference's transactional migration
# apply (/root/reference/sqlpp_manage.ml:40-131):
#
#   <table>.parquet/
#     _v_0/ _v_1/ ...   immutable parquet version directories
#     _CURRENT          text file naming the active version
#
# A rewrite WRITES a fresh version dir (readers of the old version are
# untouched), then flips _CURRENT with os.replace — the POSIX-atomic
# commit point. Crash before the flip: the old version stays active and
# the orphan dir is garbage-collected on the next commit. Crash after:
# the new version is active. The previous version is kept for one commit
# cycle (open readers), older ones are GC'd.
#
# When delta-spark is importable (not in this container), managed tables
# use format("delta") instead and every mutation is a real ACID commit —
# same call sites, gated by _HAS_DELTA.

try:  # pragma: no cover - delta not in this image
    import importlib.util as _ilu

    _HAS_DELTA = _ilu.find_spec("delta") is not None
except Exception:  # pragma: no cover
    _HAS_DELTA = False

_CURRENT = "_CURRENT"


def managed_data_dir(path: str) -> str:
    """Active data directory of a managed table (versioned layout), or
    ``path`` itself for legacy flat layouts / plain registered parquet."""
    cur = os.path.join(path, _CURRENT)
    if os.path.isfile(cur):
        with open(cur) as fh:
            return os.path.join(path, fh.read().strip())
    return path


def list_versions(path: str) -> list:
    """Version numbers present under a managed table dir, ascending.
    The commit protocol retains the active version plus its immediate
    predecessor (plus any not-yet-flipped staged dirs)."""
    if not os.path.isdir(path):
        return []
    return sorted(
        int(d[3:]) for d in os.listdir(path)
        if d.startswith("_v_") and d[3:].isdigit()
    )


def read_managed_version(
    spark: SparkSession, path: str, version: Optional[int] = None
) -> DataFrame:
    """TIME-TRAVEL read of a managed table: ``version=None`` reads the
    active version; otherwise reads the requested retained version
    (the predecessor survives one commit cycle — long-horizon travel
    is Delta/Iceberg territory, but one-version-back covers the
    'compare against pre-migration data' and 'open reader during
    rewrite' cases the protocol is built for)."""
    if version is None:
        return spark.read.parquet(managed_data_dir(path))
    vdir = os.path.join(path, f"_v_{version}")
    if not os.path.isdir(vdir):
        raise FileNotFoundError(
            f"version {version} not retained under {path} "
            f"(have: {list_versions(path)})"
        )
    return spark.read.parquet(vdir)


def vacuum_managed(path: str) -> list:
    """Drop RETAINED versions older than the active one (the VACUUM /
    OPTIMIZE-retention verb). Safe only when no reader still holds the
    predecessor — same contract as Delta VACUUM. Versions NEWER than
    the active one are never touched: they are staged dirs of an
    in-flight (or crashed-pending) migration transaction, and deleting
    them would wedge ``Migrate._recover``'s roll-forward. Returns the
    removed version numbers."""
    cur = os.path.join(path, _CURRENT)
    if not os.path.isfile(cur):
        return []
    with open(cur) as fh:
        active = fh.read().strip()
    active_n = int(active[3:]) if active.startswith("_v_") else -1
    removed = []
    for d in os.listdir(path):
        if (
            d.startswith("_v_") and d != active and d[3:].isdigit()
            and int(d[3:]) < active_n
        ):
            shutil.rmtree(os.path.join(path, d), ignore_errors=True)
            removed.append(int(d[3:]))
    return sorted(removed)


def stage_version(path: str, write) -> str:
    """Write a fresh version dir WITHOUT flipping _CURRENT — invisible
    to readers until ``flip_current``. Returns the version dir name.
    Orphans from a crashed transaction are GC'd by the next flip."""
    os.makedirs(path, exist_ok=True)
    versions = [
        int(d[3:]) for d in os.listdir(path)
        if d.startswith("_v_") and d[3:].isdigit()
    ]
    vdir = f"_v_{max(versions) + 1 if versions else 0}"
    write(os.path.join(path, vdir))
    return vdir


def flip_current(path: str, vdir: str) -> None:
    """Atomically point _CURRENT at ``vdir`` (idempotent: a re-run
    after a crash mid-recovery is a no-op). GC: removes version dirs
    other than the new one and its immediate predecessor, and (on
    first migration from a flat layout) the stale flat files."""
    cur = os.path.join(path, _CURRENT)
    prev = None
    if os.path.isfile(cur):
        with open(cur) as fh:
            prev = fh.read().strip()
    if prev == vdir:
        return
    if not os.path.isdir(os.path.join(path, vdir)):
        raise FileNotFoundError(f"staged version missing: {path}/{vdir}")
    tmp = cur + ".tmp"
    with open(tmp, "w") as fh:
        fh.write(vdir)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, cur)  # commit point
    target = int(vdir[3:]) if vdir[3:].isdigit() else None
    for d in os.listdir(path):
        full = os.path.join(path, d)
        if d.startswith("_v_") and d not in (vdir, prev):
            # GC only OLDER versions: a multi-intent transaction may
            # have staged newer dirs this same flip must not eat
            if target is None or (d[3:].isdigit() and int(d[3:]) < target):
                shutil.rmtree(full, ignore_errors=True)
        elif prev is None and os.path.isfile(full) and d not in (_CURRENT,):
            # first commit over a legacy flat layout: drop stale files
            try:
                os.remove(full)
            except OSError:
                pass


def _version_identity(path: str) -> Optional[tuple]:
    """Identity of a managed table's active version: its data dir plus
    the dir's inode and mtime, so a table dropped and re-created under
    the same path (whose first version is ``_v_0`` again) does not
    match a record of the old one. None if there is no such dir."""
    data_dir = managed_data_dir(path)
    try:
        st = os.stat(data_dir)
    except FileNotFoundError:
        return None
    return data_dir, st.st_ino, st.st_mtime_ns


def commit_version(path: str, write) -> str:
    """Run ``write(new_version_dir)`` then atomically flip _CURRENT to
    it. Returns the committed data dir."""
    vdir = stage_version(path, write)
    flip_current(path, vdir)
    return os.path.join(path, vdir)


class StagedTxn:
    """Write-ahead intent log for an all-or-nothing multi-table commit
    (the migration runner's transaction; sqlpp applies each migration's
    action list inside one DB transaction —
    /root/reference/sqlpp_manage.ml:40-131 — and this is the parquet
    equivalent). Storage writes stage version dirs without flipping
    _CURRENT; drops/renames defer entirely. The caller serializes the
    intent list to a manifest file (the single commit point) and then
    applies it — see manage.Migrate._commit_txn. A crash before the
    manifest exists leaves every table's _CURRENT untouched (rollback);
    a crash after it rolls forward on recovery, each step idempotent.
    """

    def __init__(self):
        self.intents: list = []

    def stage_write(self, path: str, df: DataFrame) -> str:
        fresh = not os.path.exists(path)
        vdir = stage_version(path, lambda d: df.write.parquet(d))
        self.intents.append(
            {"op": "flip", "path": path, "version": vdir, "fresh": fresh}
        )
        return os.path.join(path, vdir)

    def add_drop(self, path: str) -> None:
        self.intents.append({"op": "drop", "path": path})

    def add_rename(self, src: str, dst: str) -> None:
        self.intents.append({"op": "rename", "src": src, "dst": dst})


_SPARK_TO_SQLPP = {
    T.BooleanType: "bool",
    T.StringType: "string",
    T.ByteType: "int",
    T.ShortType: "int",
    T.IntegerType: "int",
    T.LongType: "int",
    T.FloatType: "float",
    T.DoubleType: "float",
    T.TimestampType: "datetime",
    T.TimestampNTZType: "datetime",  # parquet isAdjustedToUTC=false (Spark 4)
    T.DateType: "date",
}


def ty_from_spark(dt: T.DataType, nullable: bool) -> Optional[Ty]:
    if isinstance(dt, T.DecimalType):
        return mk_ty("float", not nullable)
    kind = _SPARK_TO_SQLPP.get(type(dt))
    if kind is None:
        return None  # arrays/maps/structs: not addressable from sqlpp
    return mk_ty(kind, not nullable)


@contextmanager
def _recursion_cap():
    """A native recursive CTE (compile._native_recursive) hits its
    MAX RECURSION LEVEL while the action runs, as Spark's
    RECURSION_LEVEL_LIMIT_EXCEEDED; re-raise it as the SqlppError the
    driver loop raises at compile time."""
    try:
        yield
    except Py4JJavaError as e:
        hit = re.search(
            r"RECURSION_LEVEL_LIMIT_EXCEEDED\] Recursion level limit (\d+)",
            str(e),
        )
        if hit is None:
            raise
        raise not_terminated(hit.group(1)) from e


class PreparedQuery:
    """An analyzed query: type-checked, parameter-typed, compilable."""

    def __init__(self, engine: "SqlppEngine", info: QueryInfo):
        self.engine = engine
        self.info = info

    @property
    def row(self):
        return self.info.row

    @property
    def params(self):
        return self.info.params

    def df(self, **params) -> DataFrame:
        self._check_params(params)
        comp = Compiler(self.engine.spark, self.engine.catalog)
        return comp.compile_query(self.info, params)

    def _check_params(self, params: Dict[str, object]) -> None:
        for name, entry in self.info.params.items():
            if name not in params:
                # params bound inside MATCH branches arrive via the
                # variant payload, not at top level
                if any(
                    name in tags
                    for p in self.info.params.values()
                    for tags in p.variant.values()
                ):
                    continue
                raise SqlppError(f"missing parameter: ?{name}")
            if entry.ty is not None and entry.ty.non_null and params[name] is None:
                raise SqlppError(f"parameter ?{name} is {entry.ty}; got None")


class SqlppEngine:
    def __init__(self, spark: SparkSession, env: Optional[Env] = None):
        self.spark = spark
        self.env = env or Env()
        self.catalog: Dict[str, DataFrame] = {}
        self.managed_paths: Dict[str, str] = {}  # table -> parquet dir (DML-able)
        # active migration transaction (manage.Migrate sets/clears it);
        # when set, storage writes stage instead of committing
        self._txn: Optional[StagedTxn] = None
        # table path -> (identity of the version this engine committed,
        # its schema); lets DML read that version back without a
        # schema-inference job while it is still the active one
        self._committed: Dict[str, tuple] = {}

    # -- analysis ----------------------------------------------------------

    def _an(self, src: str) -> Analyzer:
        """Analyzer wired to this engine (r19: carries the dynamic
        PIVOT value-discovery hook — pure-frontend Analyzer uses
        raise a located error on a missing IN list instead)."""
        an = Analyzer(self.env, src)
        an.pivot_values = self._pivot_values
        return an

    def _pivot_values(self, src_node, col: str, loc) -> list:
        """Dynamic PIVOT IN-list discovery (r19): ONE bounded
        plan-time DISTINCT job over the pivot column of the (copied)
        source relation, capped by ``spark.sqlpp.pivot.maxValues``
        (default 1000 — a 10k-column pivot is an outage, not a
        query). Same documented eager-at-plan-time caveat as the
        banded quantifier chooser (compiler/compile.py): bounded,
        dimension-scale, and the only data-dependent plan input."""
        import copy as _copy

        cap = int(self.spark.conf.get("spark.sqlpp.pivot.maxValues",
                                      "1000"))
        sel = A.Select(
            fields=[A.Field(
                expr=A.EName(name=col, loc=loc), name=col, loc=loc,
            )],
            from_=_copy.deepcopy(src_node), distinct=True, loc=loc,
        )
        info = self._an("").analyze_query(sel)
        comp = Compiler(self.spark, self.catalog)
        rows = comp.compile_query(info).limit(cap + 1).collect()
        if len(rows) > cap:
            raise SqlppError(
                f"dynamic PIVOT: more than {cap} distinct values in "
                f"`{col}` (set spark.sqlpp.pivot.maxValues to raise "
                "the cap, or write an explicit IN list)", loc,
            )
        vals = sorted(r[0] for r in rows if r[0] is not None)
        out = []
        for v in vals:
            if isinstance(v, bool):
                kind = "bool"
            elif isinstance(v, int):
                kind = "int"
            elif isinstance(v, str):
                kind = "string"
            else:
                raise SqlppError(
                    "dynamic PIVOT supports int/string/bool pivot "
                    f"columns (got {type(v).__name__}); write an "
                    "explicit IN list", loc,
                )
            out.append((A.ELit(value=v, lit_kind=kind, loc=loc), None))
        if not out:
            raise SqlppError(
                f"dynamic PIVOT: no non-NULL values in `{col}`", loc,
            )
        return out

    # -- registration ------------------------------------------------------

    def add_decls(self, src: str) -> None:
        self.env.add(src)

    def register_df(self, name: str, df: DataFrame) -> None:
        # an explicit CREATE TABLE decl is the source of truth (the
        # reference's schema is declared, not inferred — SURVEY §1.3);
        # only derive the env entry when none exists
        if name not in self.env.tables:
            cols = {}
            for f in df.schema.fields:
                ty = ty_from_spark(f.dataType, f.nullable)
                if ty is not None:
                    cols[f.name] = ty
            self.env.add_table(name, cols)
        self.catalog[name] = df

    def register_parquet(self, name: str, path: str) -> None:
        self.register_df(name, self.spark.read.parquet(path))

    def create_managed(self, name: str, path: str, df: DataFrame) -> None:
        """A parquet-backed table the engine may mutate (INSERT/UPDATE/
        DELETE) — stored under the versioned commit protocol (or as a
        Delta table when delta-spark is on the classpath)."""
        if self._txn is not None and not _HAS_DELTA:
            staged = self._txn.stage_write(path, df)
            self.managed_paths[name] = path
            # read-your-writes inside the transaction: the catalog sees
            # the staged version while on-disk _CURRENT stays put
            self.register_df(name, self.spark.read.parquet(staged))
            return
        committed = self._commit(path, df)
        self.managed_paths[name] = path
        self.register_df(name, committed)

    def _commit(self, path: str, df: DataFrame) -> DataFrame:
        """Commit ``df`` as the table's new active version and return a
        fresh read of it. The schema of the written frame is remembered
        with the version's identity, so the read back (and the next
        ``_managed_df`` while no one else commits) infers nothing."""
        if _HAS_DELTA:  # pragma: no cover - delta not in this image
            df.write.format("delta").mode("overwrite").save(path)
            return self._read_managed_path(path)
        commit_version(path, lambda d: df.write.parquet(d))
        schema = df.schema
        self._committed[path] = (_version_identity(path), schema)
        return self._read_managed_path(path, schema)

    def _read_managed_path(
        self, path: str, schema: Optional[T.StructType] = None
    ) -> DataFrame:
        """Read a managed table's ACTIVE version. A known ``schema``
        skips parquet footer inference, a Spark job; Spark reads every
        field of a file source as nullable, which is also what
        inference returns for parquet Spark wrote."""
        if _HAS_DELTA:  # pragma: no cover
            return self.spark.read.format("delta").load(path)
        reader = self.spark.read if schema is None else self.spark.read.schema(schema)
        return reader.parquet(managed_data_dir(path))

    def _managed_df(self, table: str, path: str) -> DataFrame:
        """Current contents of a managed table for DML: inside a
        migration transaction the catalog entry points at staged
        (uncommitted) data — read-your-writes; otherwise read the
        committed _CURRENT version. The read is always a fresh one, never
        the catalog's frame, so a statement that also reads the table
        through the catalog gets distinct expression IDs. When the active
        version is still the one this engine committed, its schema is
        known; after a commit by anyone else (another engine,
        ``manage.Migrate``) it is inferred again."""
        if self._txn is not None and table in self.catalog:
            return self.catalog[table]
        ident, schema = self._committed.get(path, (None, None))
        if ident != _version_identity(path):
            schema = None
        return self._read_managed_path(path, schema)

    # -- query API ---------------------------------------------------------

    def prepare(self, src: str) -> PreparedQuery:
        q = parse_query(src)
        an = self._an(src)
        if isinstance(q, (A.Select, A.SetOp, A.RecursiveQuery)):
            info = an.analyze_query(q)
            return PreparedQuery(self, info)
        raise SqlppError("prepare() is for SELECT; use exec() for DML")

    def query(self, src: str, **params) -> DataFrame:
        return self.prepare(src).df(**params)

    def fetch_list(self, src: str, record: Optional[type] = None, **params) -> List[Row]:
        """Typed fetch (sqlpp_ppx.ml:406-464). ``record=`` maps each row
        into the given dataclass/constructor by column name — the
        ``~record:t`` variant of the reference's fetch_list. The
        prepared row type is validated against the record's fields
        before any Spark job runs."""
        with _recursion_cap():
            rows = self._fetch_df(src, record, params).collect()
        if record is None:
            return rows
        return [record(**r.asDict()) for r in rows]

    def fetch_option(self, src: str, record: Optional[type] = None, **params) -> Optional[Row]:
        with _recursion_cap():
            rows = self._fetch_df(src, record, params).limit(2).collect()
        if len(rows) > 1:
            raise SqlppError("fetch_option: query returned more than one row")
        if not rows:
            return None
        return record(**rows[0].asDict()) if record is not None else rows[0]

    def _fetch_df(self, src: str, record: Optional[type], params) -> DataFrame:
        prepared = self.prepare(src)
        if record is not None:
            import dataclasses

            if dataclasses.is_dataclass(record):
                wanted = {f.name for f in dataclasses.fields(record)}
                got = {n for n, _ in prepared.row}
                if wanted != got:
                    raise SqlppError(
                        f"record {record.__name__} fields {sorted(wanted)} "
                        f"don't match query row {sorted(got)}"
                    )
        return prepared.df(**params)

    def fetch_json(self, src: str, **params) -> List[str]:
        with _recursion_cap():
            return self.query(src, **params).toJSON().collect()

    def fold(self, src: str, init, f, **params):
        """Streamed row fold — the reference's primary result sink
        (``fold : init -> f -> db -> query -> 'a``, sqlpp.ml:264).
        Rows stream through ``toLocalIterator`` so the driver holds one
        partition at a time, not the whole result."""
        acc = init
        with _recursion_cap():
            for row in self.query(src, **params).toLocalIterator():
                acc = f(row, acc)
        return acc

    def compile_expr_param(self, prepared: PreparedQuery, expr_src: str) -> Column:
        """Build a Column for an expression parameter by analyzing
        sqlpp source in the prepared query's scope (the reference
        re-analyzes Pty_expr params in the captured scope,
        sqlpp.ml:360-363)."""
        from sqlpp_spark.frontend.parser import Parser

        p = Parser(expr_src)
        e = p.expr()
        an = self._an(expr_src)
        elab, _ = an.infer_expr(prepared.info.ctx, e)
        comp = Compiler(self.spark, self.catalog)
        return comp.expr(elab, Bindings({}), {})

    # -- DML ---------------------------------------------------------------

    def exec(self, src: str, **params) -> Optional[DataFrame]:
        """Execute a DML statement. Returns the RETURNING DataFrame if
        requested, else None."""
        q = parse_query(src)
        if isinstance(q, A.Insert):
            return self._exec_insert(q, src, params)
        if isinstance(q, A.Update):
            return self._exec_update(q, src, params)
        if isinstance(q, A.Delete):
            return self._exec_delete(q, src, params)
        if isinstance(q, A.Select):
            return self.prepare(src).df(**params)
        raise SqlppError(f"cannot exec {type(q).__name__}")

    def _managed(self, table: str) -> str:
        path = self.managed_paths.get(table)
        if path is None:
            raise SqlppError(
                f"table {table} is not managed (create_managed) — DML unavailable"
            )
        return path

    def _table_fields(self, table: str):
        ti = self.env.tables.get(table)
        if ti is None:
            raise SqlppError(f"no such table: {table}")
        return ti.columns

    def _exec_insert(self, ins: A.Insert, src: str, params) -> Optional[DataFrame]:
        path = self._managed(ins.table)
        cols = self._table_fields(ins.table)
        cur = self._managed_df(ins.table, path)
        an = self._an(src)
        comp = Compiler(self.spark, self.catalog)
        binds = Bindings(params)
        if ins.values is not None:
            from sqlpp_spark.frontend.analyze import SelectCtx

            ctx = SelectCtx(A.Select())
            row_cols = []
            for row in ins.values:
                if len(row) != len(ins.columns):
                    raise SqlppError(
                        f"INSERT arity mismatch: {len(ins.columns)} columns, "
                        f"{len(row)} values"
                    )
                vals = []
                for cname, e in zip(ins.columns, row):
                    if cname not in cols:
                        raise SqlppError(f"no such column: {cname}")
                    elab, ety = an.infer_expr(ctx, e)
                    ety = self._check_column_assign(an, elab, ety, cols[cname], src)
                    vals.append(comp.expr(elab, binds, {}).cast(spark_type(cols[cname])).alias(cname))
                row_cols.append(vals)
            new_df = None
            for vals in row_cols:
                one = self.spark.range(1).select(*vals)
                new_df = one if new_df is None else new_df.unionByName(one)
        else:
            from sqlpp_spark.frontend.analyze import SetOpCtx

            sub = self.prepare_select_in(src, ins.select)
            if isinstance(sub, SetOpCtx):
                # r14: INSERT ... compound SELECT
                sub_row = sub.row()
                if len(sub_row) != len(ins.columns):
                    raise SqlppError(
                        f"INSERT arity mismatch: {len(ins.columns)} "
                        f"columns, {len(sub_row)} select outputs"
                    )
                for cname, (_n, fty) in zip(ins.columns, sub_row):
                    if cname not in cols:
                        raise SqlppError(f"no such column: {cname}")
                    if fty is not None:
                        check_subsumes(fty, cols[cname], sub.node.loc, src)
                sdf = comp.compile_setop(sub, binds)
            else:
                sub_fields = [f for f in sub.fields if f.is_used]
                if len(sub_fields) != len(ins.columns):
                    raise SqlppError(
                        f"INSERT arity mismatch: {len(ins.columns)} columns, "
                        f"{len(sub_fields)} select outputs"
                    )
                # analysis-time kind/nullability check per output column
                # (reference analyze.ml:857-880 rejects before execution)
                for cname, f in zip(ins.columns, sub_fields):
                    if cname not in cols:
                        raise SqlppError(f"no such column: {cname}")
                    if f.expr.ty is not None:
                        check_subsumes(f.expr.ty, cols[cname], getattr(f.expr, "loc", None), src)
                sdf = comp.compile_select(sub, binds)
            if len(sdf.columns) != len(ins.columns):
                raise SqlppError(
                    f"INSERT arity mismatch: {len(ins.columns)} columns, "
                    f"{len(sdf.columns)} select outputs"
                )
            new_df = sdf.toDF(*ins.columns)
            new_df = new_df.select(
                *[F.col(c).cast(spark_type(cols[c])).alias(c) for c in ins.columns]
            )
        # missing required (non-null, no default) columns check
        for cname, cty in cols.items():
            if cname not in ins.columns:
                if cty.non_null:
                    raise SqlppError(f"missing required column: {cname}")
                new_df = new_df.withColumn(cname, F.lit(None).cast(spark_type(cty)))
        new_df = new_df.select(*[c for c in cur.columns])

        pk = self._primary_key(ins.table)
        if ins.on_conflict and not pk:
            # silently appending duplicates would invalidate the upsert
            # contract — reject like the reference's analyzer would
            raise SqlppError(
                f"ON CONFLICT requires a primary key on {ins.table}"
            )
        if ins.on_conflict and pk:
            on = [new_df[k] == cur[k] for k in pk]
            cond = on[0]
            for c in on[1:]:
                cond = cond & c
            if ins.on_conflict == "ignore":
                new_df = new_df.join(cur, on=cond, how="left_anti")
                result = cur.unionByName(new_df)
            else:  # replace: new rows win (correct upsert — unlike
                # the reference's broken ON CONFLICT DO UPDATE printer,
                # printer.ml:290 / SURVEY §2.11)
                keep = cur.join(new_df, on=cond, how="left_anti")
                result = keep.unionByName(new_df)
        else:
            result = cur.unionByName(new_df)
        # materialize RETURNING before the rewrite invalidates sources
        ret = self._returning(new_df, ins.returning, src, ins.table) if ins.returning else None
        self._rewrite(ins.table, path, result)
        return ret

    def _exec_update(self, upd: A.Update, src: str, params) -> Optional[DataFrame]:
        path = self._managed(upd.table)
        cols = self._table_fields(upd.table)
        cur = self._managed_df(upd.table, path)
        # analyze SET/WHERE in the table's scope (+ optional FROM rels)
        sel = A.Select(from_=A.FromTable(upd.table, None))
        if upd.from_ is not None:
            f = upd.from_
            sel.from_ = A.FromJoin(sel.from_, f, "inner", None)
        an = self._an(src)
        from sqlpp_spark.frontend.analyze import SelectCtx, TableRel

        ctx = SelectCtx(sel)
        ctx.rels[upd.table] = TableRel(upd.table, cols, table=upd.table)
        comp = Compiler(self.spark, self.catalog)
        binds = Bindings(params)
        base = cur.alias(upd.table)
        if upd.from_ is not None:
            # Postgres-style joined update: FROM adds relations, WHERE
            # correlates (updatesyn, syntax.ml:164-173). One update per
            # target row: first match wins (row_number over PK).
            pk = self._primary_key(upd.table)
            if not pk:
                raise SqlppError(
                    f"UPDATE ... FROM requires a primary key on {upd.table}"
                )
            # Reference parity (printer.ml:312-329 prints any
            # analyzable predicate): IN/EXISTS conjuncts that resolve
            # against the target alone narrow the TARGET side before
            # the join (cheapest — the subquery semi-join runs on the
            # small side); conjuncts referencing the FROM relations
            # (r11, closes the r10 residual gap) are applied AFTER the
            # join through the same IN/EXISTS semi/anti-join lowering
            # the select compiler uses. Plain conjuncts stay in the
            # joined filter.
            target = base
            plain_where = upd.where
            post_join_subs: list = []
            if A.expr_has_subquery(upd.where):
                sub_conjs, plain_conjs = [], []
                for conj in self._split_conjuncts(upd.where):
                    (sub_conjs if A.expr_has_subquery(conj)
                     else plain_conjs).append(conj)
                target_subs = []
                for conj in sub_conjs:
                    probe = A.Select(
                        fields=[A.Field(expr=A.EName(name=c), name=c)
                                for c in cur.columns],
                        from_=A.FromTable(upd.table, None),
                        where=conj,
                    )
                    try:
                        self.prepare_select_in(src, probe)
                    except SqlppError:
                        post_join_subs.append(conj)
                    else:
                        target_subs.append(conj)
                if target_subs:
                    target = self._matching_rows(
                        upd.table, cur.columns,
                        self._and_conjuncts(target_subs), src, binds,
                    ).alias(upd.table)
                plain_where = self._and_conjuncts(plain_conjs)
            self._analyze_extra_from(ctx, upd.from_, an)
            extra = comp._compile_from_node(ctx, upd.from_, binds)
            joined = target.join(extra, on=F.lit(True), how="inner")
            if plain_where is not None:
                welab, _ = an.infer_expr(ctx, plain_where)
                joined = joined.filter(comp.expr(welab, binds, {}))
            for conj in post_join_subs:
                # analyzed in the joined scope: probe exprs may now
                # reference both the target and the FROM relations
                celab, _ = an.infer_expr(ctx, conj)
                joined = comp._apply_predicate(joined, ctx, celab, binds)
            joined, set_cols = self._set_columns(
                upd, cols, an, ctx, comp, binds, joined)
            from pyspark.sql import Window as W

            w = W.partitionBy(*[F.col(f"{upd.table}.{k}") for k in pk]).orderBy(F.lit(1))
            updated = (
                joined.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .select(
                    *[
                        set_cols.get(c, F.col(f"{upd.table}.{c}")).alias(c)
                        for c in cur.columns
                    ]
                )
            )
            upd_keys = updated.select(*pk)
            keep_cond = None
            for k in pk:
                c = F.col(f"{upd.table}.{k}") == upd_keys[k]
                keep_cond = c if keep_cond is None else keep_cond & c
            keep = base.join(upd_keys, on=keep_cond, how="left_anti").select(
                *[F.col(f"{upd.table}.{c}").alias(c) for c in cur.columns]
            )
            result = keep.unionByName(updated)
        elif upd.where is not None and A.expr_has_subquery(upd.where):
            # subquery predicate: matching rows come from the full
            # query compiler (join-rewritten IN/EXISTS), SET applies
            # to exactly those; untouched rows pass through unchanged
            matching = self._matching_rows(
                upd.table, cur.columns, upd.where, src, binds
            ).alias(upd.table)
            matching, set_cols = self._set_columns(
                upd, cols, an, ctx, comp, binds, matching)
            updated = matching.select(
                *[
                    set_cols.get(c, F.col(f"{upd.table}.{c}")).alias(c)
                    for c in cur.columns
                ]
            )
            result = base.exceptAll(
                matching.select(*cur.columns)
            ).unionByName(updated)
        else:
            where_col = F.lit(True)
            if upd.where is not None:
                welab, _ = an.infer_expr(ctx, upd.where)
                where_col = comp.expr(welab, binds, {})
            base, set_cols = self._set_columns(
                upd, cols, an, ctx, comp, binds, base)
            out_cols = []
            for c in cur.columns:
                if c in set_cols:
                    out_cols.append(
                        F.when(where_col, set_cols[c])
                        .otherwise(F.col(f"{upd.table}.{c}"))
                        .alias(c)
                    )
                else:
                    out_cols.append(F.col(f"{upd.table}.{c}").alias(c))
            result = base.select(*out_cols)
            updated = base.filter(where_col).select(
                *[set_cols.get(c, F.col(f"{upd.table}.{c}")).alias(c) for c in cur.columns]
            )
        ret = self._returning(updated, upd.returning, src, upd.table) if upd.returning else None
        self._rewrite(upd.table, path, result)
        return ret

    def _set_columns(self, upd, cols, an, ctx, comp, binds, df):
        """Elaborate + compile the SET expressions against ``df``.
        Scalar subqueries in SET position (r12: both uncorrelated and
        correlated forms) attach to the frame first — the returned
        frame carries their value columns and MUST replace the
        caller's, since the compiled set columns reference them.
        Returns (df, {col: Column})."""
        set_cols: Dict[str, Column] = {}
        elabs = []
        for cname, e in upd.sets:
            if cname not in cols:
                raise SqlppError(f"no such column: {cname}")
            elab, ety = an.infer_expr(ctx, e)
            self._check_column_assign(an, elab, ety, cols[cname], an.src)
            elabs.append((cname, elab))
        df, scalar_map = comp._attach_scalar_subqueries(
            df, [elab for _c, elab in elabs], binds
        )
        for cname, elab in elabs:
            set_cols[cname] = comp.expr(elab, binds, scalar_map).cast(
                spark_type(cols[cname])
            )
        return df, set_cols

    @staticmethod
    def _check_column_assign(an: Analyzer, elab: A.Expr, ety: Optional[Ty], cty: Ty, src: str) -> Ty:
        """Analysis-time subsumption check for a value assigned to a
        declared column (INSERT VALUES / UPDATE SET), mirroring the
        reference's per-expression check (analyze.ml:857-880): kind
        mismatches and nullable values flowing into NOT NULL columns
        are rejected before any Spark job runs. Bare params adopt the
        column's declared type (including its non-null bit)."""
        loc = getattr(elab, "loc", None)
        if ety is None:
            # untyped ?param: adopt the column type outright
            if cty.non_null:
                ety = an._adopt_param_non_null(elab, cty, loc)
            else:
                ety = an._adopt_param(elab, cty, loc)
        check_subsumes(ety, cty, loc, src)
        return ety

    def _analyze_extra_from(self, ctx, fr, an) -> None:
        if isinstance(fr, A.FromJoin):
            self._analyze_extra_from(ctx, fr.left, an)
            self._analyze_extra_from(ctx, fr.right, an)
            return
        an._analyze_from(ctx, fr, nullable=False)

    @staticmethod
    def _split_conjuncts(e):
        """Flatten a WHERE into its top-level AND-conjuncts."""
        if isinstance(e, A.EApp) and e.fn.upper() == "AND":
            return (SqlppEngine._split_conjuncts(e.args[0])
                    + SqlppEngine._split_conjuncts(e.args[1]))
        return [e] if e is not None else []

    @staticmethod
    def _and_conjuncts(conjs):
        """Rebuild a left-assoc AND tree (None when empty)."""
        if not conjs:
            return None
        out = conjs[0]
        for c in conjs[1:]:
            out = A.EApp("AND", [out, c], loc=getattr(out, "loc", A.NO_LOC))
        return out

    def _matching_rows(
        self, table: str, columns, where, src: str, binds
    ) -> DataFrame:
        """Rows of ``table`` satisfying a WHERE that contains
        subqueries: compile a synthetic single-table SELECT through
        the full query compiler (whose IN/EXISTS machinery rewrites
        subqueries into joins — reference parity: the reference's
        printer-backends hand any analyzable predicate to SQL, so
        `delete from t where id in (select ...)` works there).
        Multiset semantics are preserved (no dedup)."""
        sel = A.Select(
            fields=[A.Field(expr=A.EName(name=c), name=c) for c in columns],
            from_=A.FromTable(table, None),
            where=where,
        )
        info = self.prepare_select_in(src, sel)
        comp = Compiler(self.spark, self.catalog)
        return comp.compile_select(info, binds).toDF(*columns)

    def _exec_delete(self, dele: A.Delete, src: str, params) -> Optional[DataFrame]:
        path = self._managed(dele.table)
        cols = self._table_fields(dele.table)
        cur = self._managed_df(dele.table, path).alias(dele.table)
        an = self._an(src)
        from sqlpp_spark.frontend.analyze import SelectCtx, TableRel

        ctx = SelectCtx(A.Select())
        ctx.rels[dele.table] = TableRel(dele.table, cols, table=dele.table)
        comp = Compiler(self.spark, self.catalog)
        binds = Bindings(params)
        if dele.where is not None and A.expr_has_subquery(dele.where):
            deleted = self._matching_rows(
                dele.table, cur.columns, dele.where, src, binds
            ).alias(dele.table)
            # SQL EXCEPT-style null-safe row equality; every duplicate
            # of a matching row matches too, so ALL copies delete
            remaining = cur.exceptAll(deleted)
        else:
            cond = F.lit(True)
            if dele.where is not None:
                elab, _ = an.infer_expr(ctx, dele.where)
                cond = comp.expr(elab, binds, {})
            deleted = cur.filter(cond)
            remaining = cur.filter(~F.coalesce(cond, F.lit(False)))
        ret = self._returning(deleted, dele.returning, src, dele.table) if dele.returning else None
        self._rewrite(dele.table, path, remaining)
        return ret

    def _returning(
        self, df: DataFrame, fields: List[A.Field], src: str, table: str
    ) -> DataFrame:
        """RETURNING projects arbitrary expressions over the affected
        rows, analyzed in the target table's scope (updatesyn/insertsyn
        field lists, syntax.ml:164-196)."""
        from sqlpp_spark.frontend.analyze import Analyzer, SelectCtx, TableRel

        tcols = self._table_fields(table)
        an = self._an(src)
        ctx = SelectCtx(A.Select(from_=A.FromTable(table, None)))
        ctx.rels[table] = TableRel(table, tcols, table=table)
        comp = Compiler(self.spark, self.catalog)
        binds = Bindings({})
        base = df.alias(table)
        cols = []
        for i, f in enumerate(fields):
            elab, _ = an.infer_expr(ctx, f.expr)
            if f.name:
                name = f.name
            elif isinstance(f.expr, A.EName):
                name = f.expr.name
            else:
                name = f"_{i}"
            cols.append(comp.expr(elab, binds, {}).alias(name))
        # materialize: the caller rewrites the table right after, and a
        # later commit deletes the version a lazy plan would read. One
        # eager local checkpoint (one job) keeps the rows in executor
        # block storage — never funnelled through the driver the way a
        # collect() would be — and cuts the plan's tie to the old files.
        # The blocks live as long as the returned DataFrame: Spark's
        # ContextCleaner frees them once it is garbage-collected. Like
        # any local checkpoint, they do not survive losing an executor.
        return base.select(*cols).localCheckpoint(eager=True)

    def _primary_key(self, table: str) -> List[str]:
        ti = self.env.tables.get(table)
        if ti is None or ti.decl is None:
            return []
        return [c.name for c in ti.decl.columns if c.primary_key]

    def _rewrite(self, table: str, path: str, df: DataFrame) -> None:
        """Crash-atomic full-table rewrite: write a fresh version dir,
        then flip the _CURRENT pointer (commit_version protocol above).
        The plan reading the old version is untouched while the new one
        writes, and a crash anywhere leaves the old version active.
        With delta-spark on the classpath this is a real ACID overwrite
        commit instead. Inside a migration transaction the write only
        STAGES (no _CURRENT flip); the catalog reads the staged version
        so later actions in the same migration see it."""
        if self._txn is not None and not _HAS_DELTA:
            staged = self._txn.stage_write(path, df)
            self.catalog[table] = self.spark.read.parquet(staged)
            return
        self.catalog[table] = self._commit(path, df)

    def prepare_select_in(self, src: str, sel: A.Select):
        an = self._an(src)
        if isinstance(sel, A.SetOp):  # r14: INSERT ... compound SELECT
            return an.analyze_setop(sel)
        return an.analyze_select(sel)
