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
  crash-atomic via the manifest commit protocol below; the plan/row
  semantics (ON CONFLICT, RETURNING, joined UPDATE ... FROM) match the
  reference (analyze.ml:826-998). A version is a list of live files, so
  a plain INSERT writes only its own rows, and an UPDATE/DELETE keyed on
  the primary key rewrites only the files whose key range can match.
  A write runs at most one Spark job (the version write); the manifest
  carries the schema, so reading a version back is a file list, not
  footer inference. RETURNING adds one more job, a local checkpoint of
  the affected rows held in executor block storage; it lives as long as
  the returned DataFrame and does not survive the loss of an executor.
  An INSERT ... VALUES of literals returns its rows' frame as is: it
  reads no table file. Two kinds of write run no Spark job at all, on
  tables of bigint, double, string and boolean columns: an INSERT whose
  values are bare literals or parameters, which the engine writes itself
  with pyarrow; and an UPDATE or DELETE whose WHERE is one primary-key
  ``=`` or ``IN`` of such constants and whose SET values are such
  constants too. pyarrow rewrites the files that UPDATE/DELETE touches,
  and its RETURNING projects a literal frame of the changed rows
  (``SqlppEngine._by_key``)
"""

from __future__ import annotations

import json
import os
import re
import shutil
import uuid
from contextlib import contextmanager
from dataclasses import dataclass
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

# -- managed-table storage: manifest commit protocol -------------------------
#
# Plain-parquet ``overwrite`` is NOT crash-atomic: a failure between the
# delete and the write leaves a truncated table. Managed tables therefore
# use a versioned layout mirroring the reference's transactional migration
# apply (sqlpp_manage.ml:40-131), where each version is a
# file manifest, the design Delta Lake uses for atomic commits without
# full rewrites (Armbrust et al., "Delta Lake", VLDB 2020):
#
#   <table>.parquet/
#     _v_0/ _v_1/ ...   the data files each version wrote, and its
#       _FILES          manifest: the table schema plus every live data
#                       file, its own and inherited ones (paths relative
#                       to the table dir), with its row count and the
#                       min/max of the primary-key columns
#     _CURRENT          text file naming the active version
#
# A commit writes only what it changed into a fresh version dir — by a
# Spark job, or in-process with pyarrow for literal INSERT rows and for
# by-key UPDATE/DELETE rewrites of at most _LOCAL_ROWS rows — reads the
# new files' parquet footers in-process (pyarrow, no Spark job), writes
# the manifest, then flips _CURRENT with os.replace — the POSIX-atomic
# commit point. Readers of the old version are untouched.
# Crash before the flip: the old version stays active and the orphan dir
# is garbage. After the flip, GC deletes every file that no retained
# manifest references: the new version's, its predecessor's (kept one
# commit cycle for open readers) and those of newer dirs staged by a
# migration transaction. A retired dir whose files are still live keeps
# just those files and is no longer a version. Dirs written by the
# earlier full-copy layout (no _FILES) read as the list of their files.

_CURRENT = "_CURRENT"
_FILES = "_FILES"
# compaction: a file holding under 1/_SMALL_SHARE of the table's rows is
# small; a write that would keep _FOLD_AT small files folds the _FOLD_AT
# smallest into one file inside its own job. Small files therefore stop
# piling up, at most _SMALL_SHARE files are not small, and reads stay
# under Spark's parallel-listing threshold (32 paths), past which
# building a read runs a listing job. A fold rewrites at most _FOLD_AT
# files, each under 1/_SMALL_SHARE of the rows.
_SMALL_SHARE = 8
_FOLD_AT = 4


@dataclass
class Snapshot:
    """One version of a managed table as its manifest lists it.
    ``files`` holds ``{"path", "rows", "stats": {col: [min, max]}}``
    entries, ``path`` relative to the table dir; ``schema`` is None for
    a dir of the full-copy layout (Spark then infers it)."""

    files: list
    schema: Optional[T.StructType]


def _vnum(name: str) -> Optional[int]:
    return int(name[3:]) if name.startswith("_v_") and name[3:].isdigit() else None


def _active(path: str) -> Optional[str]:
    cur = os.path.join(path, _CURRENT)
    if not os.path.isfile(cur):
        return None
    with open(cur) as fh:
        return fh.read().strip()


def _write_durable(target: str, text: str) -> None:
    """Write ``target`` atomically and durably: tmp file, fsync, rename."""
    tmp = target + ".tmp"
    with open(tmp, "w") as fh:
        fh.write(text)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, target)


def managed_data_dir(path: str) -> str:
    """Dir of a managed table's active version, which holds only the
    files that version wrote (``read_managed_version`` reads the whole
    table), or ``path`` itself for legacy flat layouts / plain
    registered parquet."""
    vdir = _active(path)
    return path if vdir is None else os.path.join(path, vdir)


def _entries(path: str, vdir: str, keys=()) -> list:
    """Manifest entries of the parquet files directly under
    ``path/vdir`` ("" is the flat layout), read from their footers. A
    key gets a range only when every non-empty row group has min/max
    statistics of an int or string."""
    import pyarrow.parquet as pq

    out = []
    for f in sorted(os.listdir(os.path.join(path, vdir))):
        if not f.endswith(".parquet") or f.startswith((".", "_")):
            continue
        rel = os.path.join(vdir, f)
        md = pq.read_metadata(os.path.join(path, rel))
        stats = {}
        for key in keys:
            col = next((i for i in range(md.num_columns)
                        if md.schema.column(i).path == key), None)
            lo = hi = None
            for g in range(md.num_row_groups if col is not None else 0):
                rg = md.row_group(g)
                if rg.num_rows == 0:
                    continue
                st = rg.column(col).statistics
                if st is None or not st.has_min_max or type(st.min) not in (int, str):
                    lo = None
                    break
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
            if lo is not None:
                stats[key] = [lo, hi]
        out.append({"path": rel, "rows": md.num_rows, "stats": stats})
    return out


def _write_manifest(path: str, vdir: str, files: list, schema) -> None:
    doc = {"schema": None if schema is None else schema.jsonValue(),
           "files": files}
    _write_durable(os.path.join(path, vdir, _FILES), json.dumps(doc))


def read_snapshot(path: str, vdir: Optional[str] = None) -> Snapshot:
    """The manifest of version ``vdir`` (default: the active one). A
    full-copy dir without one lists its files and leaves the schema to
    Spark's inference."""
    if vdir is None:
        vdir = _active(path) or ""
    man = os.path.join(path, vdir, _FILES)
    if not os.path.isfile(man):
        return Snapshot(_entries(path, vdir), None)
    with open(man) as fh:
        doc = json.load(fh)
    schema = doc["schema"] and T.StructType.fromJson(doc["schema"])
    return Snapshot(doc["files"], schema)


def _read_files(spark: SparkSession, path: str, files: list,
               schema: Optional[T.StructType]) -> DataFrame:
    """Read the given manifest entries of a managed table. A known
    ``schema`` skips parquet footer inference, a Spark job; Spark reads
    every field of a file source as nullable either way."""
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(*[os.path.join(path, f["path"]) for f in files])


def list_versions(path: str) -> list:
    """Version numbers retained under a managed table dir, ascending:
    the active version, its immediate predecessor and any not-yet-flipped
    staged dirs. A table still in the full-copy layout lists every
    version dir."""
    if not os.path.isdir(path):
        return []
    dirs = [d for d in os.listdir(path) if _vnum(d) is not None]
    active = _active(path)
    if active is not None and os.path.isfile(os.path.join(path, active, _FILES)):
        dirs = [d for d in dirs if os.path.isfile(os.path.join(path, d, _FILES))]
    return sorted(_vnum(d) for d in dirs)


def read_managed_version(
    spark: SparkSession, path: str, version: Optional[int] = None
) -> DataFrame:
    """TIME-TRAVEL read of a managed table: ``version=None`` reads the
    active version; otherwise reads the requested retained version
    (the predecessor survives one commit cycle — long-horizon travel
    is Delta/Iceberg territory, but one-version-back covers the
    'compare against pre-migration data' and 'open reader during
    rewrite' cases the protocol is built for)."""
    vdir = None
    if version is not None:
        if version not in list_versions(path):
            raise FileNotFoundError(
                f"version {version} not retained under {path} "
                f"(have: {list_versions(path)})"
            )
        vdir = f"_v_{version}"
    snap = read_snapshot(path, vdir)
    return _read_files(spark, path, snap.files, snap.schema)


def _gc(path: str, retain, below: int) -> None:
    """Delete what no retained manifest references: the files of every
    version dir older than ``below`` other than ``retain``, and the loose
    files of a flat layout. The manifests of ``retain`` and of every dir
    newer than ``below`` (staged by a transaction) count. Idempotent, so
    a crash midway leaves garbage the next flip removes."""
    dirs = [d for d in os.listdir(path) if _vnum(d) is not None]
    kept = [d for d in dirs if d in retain or _vnum(d) > below]
    live = {f["path"] for d in kept for f in read_snapshot(path, d).files}
    for d in dirs:
        if d in kept:
            continue
        full = os.path.join(path, d)
        for f in os.listdir(full):
            if os.path.isdir(os.path.join(full, f)):  # a crashed write's _temporary
                shutil.rmtree(os.path.join(full, f))
            elif os.path.join(d, f) not in live:
                os.remove(os.path.join(full, f))
        if not os.listdir(full):
            os.rmdir(full)
    for f in os.listdir(path):
        if (os.path.isfile(os.path.join(path, f)) and f not in live
                and not f.startswith(_CURRENT)):
            os.remove(os.path.join(path, f))


def vacuum_managed(path: str) -> list:
    """Drop RETAINED versions older than the active one (the VACUUM /
    OPTIMIZE-retention verb). Safe only when no reader still holds the
    predecessor — same contract as Delta VACUUM. Versions NEWER than
    the active one are never touched: they are staged dirs of an
    in-flight (or crashed-pending) migration transaction, and deleting
    them would wedge ``Migrate._recover``'s roll-forward. Returns the
    removed version numbers."""
    active = _active(path)
    if active is None:
        return []
    before = list_versions(path)
    _gc(path, (active,), _vnum(active))
    after = set(list_versions(path))
    return [v for v in before if v not in after]


def stage_version(path: str, write, keep=(), schema=None, keys=()) -> str:
    """Write a fresh version dir WITHOUT flipping _CURRENT — invisible
    to readers until ``flip_current``. ``write(dir)`` writes the
    version's new data files (``write=None``: a version that only drops
    files); the manifest lists them, minus empty ones, after the
    inherited ``keep`` entries, with ``schema`` (None: readers infer it)
    and the ranges of the ``keys`` columns. Returns the version dir
    name. Orphans from a crashed commit are GC'd by the next flip."""
    os.makedirs(path, exist_ok=True)
    nums = [_vnum(d) for d in os.listdir(path) if _vnum(d) is not None]
    vdir = f"_v_{max(nums) + 1 if nums else 0}"
    full = os.path.join(path, vdir)
    if write is not None:
        write(full)
    os.makedirs(full, exist_ok=True)
    new = _entries(path, vdir, keys)
    _write_manifest(path, vdir, [*keep, *(f for f in new if f["rows"])], schema)
    return vdir


def flip_current(path: str, vdir: str) -> None:
    """Atomically point _CURRENT at ``vdir`` (idempotent: a re-run
    after a crash mid-recovery is a no-op), then GC (``_gc``): the new
    version and its immediate predecessor are retained. A full-copy
    version on either side gets its manifest first, so it stays a
    retained version under this layout."""
    prev = _active(path)
    if prev == vdir:
        return
    if not os.path.isdir(os.path.join(path, vdir)):
        raise FileNotFoundError(f"staged version missing: {path}/{vdir}")
    for d in (prev, vdir):
        if d is not None and not os.path.isfile(os.path.join(path, d, _FILES)):
            snap = read_snapshot(path, d)
            _write_manifest(path, d, snap.files, snap.schema)
    _write_durable(os.path.join(path, _CURRENT), vdir)  # commit point
    _gc(path, (vdir, prev), _vnum(vdir))


def commit_version(path: str, write, keep=(), schema=None, keys=()) -> str:
    """Stage a version (``stage_version``) and atomically flip _CURRENT
    to it. Returns the committed dir, which holds only the files this
    version wrote."""
    vdir = stage_version(path, write, keep, schema, keys)
    flip_current(path, vdir)
    return os.path.join(path, vdir)


def _fold(files: list) -> list:
    """The files a commit keeping ``files`` folds into its write: the
    _FOLD_AT smallest once that many are small, else none."""
    total = sum(f["rows"] for f in files)
    small = sorted((f for f in files if f["rows"] * _SMALL_SHARE < total),
                   key=lambda f: f["rows"])
    return small[:_FOLD_AT] if len(small) >= _FOLD_AT else []


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

    def stage_write(self, path: str, write, keep=(), schema=None, keys=()) -> str:
        """Stage the table's next version (``stage_version``); returns
        its dir name."""
        fresh = not os.path.exists(path)
        vdir = stage_version(path, write, keep, schema, keys)
        self.intents.append(
            {"op": "flip", "path": path, "version": vdir, "fresh": fresh}
        )
        return vdir

    def staged(self, path: str) -> Optional[str]:
        """The latest version this transaction staged for ``path``."""
        for it in reversed(self.intents):
            if it["op"] == "flip" and it["path"] == path:
                return it["version"]
        return None

    def add_drop(self, path: str) -> None:
        self.intents.append({"op": "drop", "path": path})

    def add_rename(self, src: str, dst: str) -> None:
        self.intents.append({"op": "rename", "src": src, "dst": dst})


_NOT_CONSTANT = object()


def _constant(e, params):
    """The value of a literal or bound parameter, else _NOT_CONSTANT."""
    if isinstance(e, A.ENull):
        return None
    if isinstance(e, A.ELit):
        return e.value
    if isinstance(e, A.EParam) and not e.is_expr_param and e.name in params:
        return params[e.name]
    return _NOT_CONSTANT


def _stored(e, params, dt: T.DataType):
    """The value of a literal or parameter ``e`` when a ``dt`` column
    stores it as it is: NULL or a value of ``dt``'s own Python type
    (``_own_value``), and a parameter's ascription, if any, names ``dt``
    (Spark casts a parameter to its ascribed type first). Else
    _NOT_CONSTANT."""
    v = _constant(e, params)
    asc = e.ascribed if isinstance(e, A.EParam) else None
    if not _own_value(v, dt) or (
            asc is not None and spark_type(asc) != dt.simpleString()):
        return _NOT_CONSTANT
    return v


def _may_hold(entry: dict, col: str, vals: list) -> bool:
    """Can the file behind a manifest entry hold a row whose ``col``
    equals one of ``vals``? Only an int or string compared with a
    recorded range of its own type is ever ruled out (bool is not int);
    NULL equals nothing."""
    rng = entry["stats"].get(col)
    if rng is None:
        return True
    lo, hi = rng
    return any(
        v is not None and (type(v) is not type(lo) or lo <= v <= hi)
        for v in vals
    )


# column types the engine may write in-process: Spark type -> (Arrow type,
# the column's own Python type)
_LOCAL_TYPES = {
    T.LongType: ("int64", int),
    T.DoubleType: ("float64", float),
    T.StringType: ("string", str),
    T.BooleanType: ("bool", bool),
}
# the most rows a by-key UPDATE/DELETE reads into the driver to rewrite
# its files in-process (the touched files plus the small files the
# commit folds); a larger change goes through a Spark job
_LOCAL_ROWS = 1 << 20


def _own_value(v, dt: T.DataType) -> bool:
    """Is ``v`` NULL or a value of ``dt``'s own Python type (an int
    within bigint's range), so that storing it needs no Spark cast?"""
    py = _LOCAL_TYPES.get(type(dt), (None, None))[1]
    return v is None or (type(v) is py and (py is not int or -2**63 <= v < 2**63))


def _arrow_schema(schema: T.StructType):
    """The Arrow form of ``schema``, every field nullable — or None
    unless every column is bigint, double, string or boolean."""
    import pyarrow as pa

    if any(type(f.dataType) not in _LOCAL_TYPES for f in schema):
        return None
    return pa.schema([(f.name, _LOCAL_TYPES[type(f.dataType)][0]) for f in schema])


def _arrow_rows(rows: list, schema: T.StructType):
    """``rows`` (dicts of Python values, a missing column is NULL) as an
    Arrow table — or None unless every column of ``schema`` is bigint,
    double, string or boolean and every value already has its column's
    Python type (an int may go into a double), so no Spark cast could
    differ."""
    import pyarrow as pa

    target = _arrow_schema(schema)
    if target is None:
        return None
    arrays = []
    for f in schema:
        vals = [r.get(f.name) for r in rows]
        if not all(_own_value(v, f.dataType) or (
                type(v) is int and isinstance(f.dataType, T.DoubleType))
                for v in vals):
            return None
        if isinstance(f.dataType, T.DoubleType):
            vals = [None if v is None else float(v) for v in vals]
        arrays.append(pa.array(vals, target.field(f.name).type))
    return pa.Table.from_arrays(arrays, schema=target)


def _arrow_read(path: str, files: list, schema: T.StructType):
    """The rows of the manifest entries ``files`` of a managed table as
    one Arrow table of ``schema``, read in-process with pyarrow."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    target = _arrow_schema(schema)
    return pa.concat_tables([
        pq.read_table(os.path.join(path, f["path"]), columns=schema.names)
        .cast(target) for f in files
    ])


def _arrow_write(table):
    """A ``write`` that stores an Arrow table as one parquet file
    in-process, with no Spark job."""

    def write(d: str) -> None:
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        os.makedirs(d)
        name = f"part-00000-{uuid.uuid4()}-c000.snappy.parquet"
        # pyarrow keeps the dictionary page of a column whose dictionary
        # overflows, where Spark's writer falls back to plain encoding;
        # a near-unique column (the key) would grow the file by a third
        dictionary = [c for c in table.column_names
                      if 2 * pc.count_distinct(table[c]).as_py() <= table.num_rows]
        pq.write_table(table, os.path.join(d, name), compression="snappy",
                       use_dictionary=dictionary)

    return write


def _values_frame(spark: SparkSession, rows: list) -> DataFrame:
    """``rows``, lists of aliased Columns, as a frame of one partition.
    Rows of constants fold into a local relation, which reads no file
    and runs no job when collected."""
    return spark.range(1, numPartitions=1).select(
        F.inline(F.array(*[F.struct(*r) for r in rows]))
    )


def _literal_frame(spark: SparkSession, rows: list,
                   schema: T.StructType) -> DataFrame:
    """``rows``, dicts of Python values, as a ``schema`` frame of
    literals (``_values_frame``)."""
    lits = [[F.lit(r.get(f.name)).cast(f.dataType).alias(f.name) for f in schema]
            for r in rows or [{}]]
    df = _values_frame(spark, lits)
    return df if rows else df.limit(0)


def _key_rewrite(path: str, files: list, schema: T.StructType, key: str,
                 vals: list, new: Optional[dict]):
    """Rewrite ``files`` in-process for a by-key change: the rows whose
    ``key`` is one of ``vals`` (NULL matches nothing) match. ``new``
    ({column: value}, an UPDATE) replaces those columns of the matches
    in place; None (a DELETE) drops them. Returns the files' rows after
    the change as one Arrow table, and the changed rows as dicts: the
    new ones of an UPDATE, the old ones of a DELETE."""
    import pyarrow as pa
    import pyarrow.compute as pc

    rows = _arrow_read(path, files, schema)
    hit = pc.is_in(rows[key], value_set=pa.array(
        [v for v in vals if v is not None], rows.schema.field(key).type))
    if new is None:
        return rows.filter(pc.invert(hit)), rows.filter(hit).to_pylist()
    for c, v in new.items():
        i = rows.schema.get_field_index(c)
        field = rows.schema.field(i)
        rows = rows.set_column(
            i, field, pc.if_else(hit, pa.scalar(v, field.type), rows[c]))
    return rows, rows.filter(hit).to_pylist()


def _is_literal(e) -> bool:
    """A VALUES expression that evaluates the same every time: literals
    and parameters under casts and operators (no function call)."""
    if isinstance(e, (A.ELit, A.ENull)):
        return True
    if isinstance(e, A.EParam):
        return not e.is_expr_param
    if isinstance(e, A.EAscribe):
        return _is_literal(e.expr)
    if isinstance(e, A.EApp):
        return not e.fn[:1].isalpha() and all(_is_literal(a) for a in e.args)
    return False


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
        DELETE), stored under the manifest commit protocol."""
        committed = self._commit_change(name, path, Snapshot([], None), [], df)
        self.managed_paths[name] = path
        self.register_df(name, committed)

    def _snapshot(self, path: str) -> Snapshot:
        """A managed table's current manifest: inside a migration
        transaction the version it staged last (read-your-writes; the
        on-disk _CURRENT stays put), otherwise the committed one."""
        return read_snapshot(
            path, self._txn.staged(path) if self._txn is not None else None
        )

    def _managed_df(self, path: str) -> DataFrame:
        """Current contents of a managed table. The read is always a
        fresh one, never the catalog's frame, so a statement that also
        reads the table through the catalog gets distinct expression
        IDs; the manifest's schema spares it footer inference."""
        snap = self._snapshot(path)
        return _read_files(self.spark, path, snap.files, snap.schema)

    def _commit_change(
        self, table: str, path: str, snap: Snapshot, drop: list,
        add, rows: Optional[list] = None,
    ) -> DataFrame:
        """Commit the next version of ``table`` — ``snap``'s files minus
        ``drop`` plus the rows of ``add`` — and return a fresh read of it.
        Inside a migration transaction the version is only staged.
        ``add`` is a DataFrame, which a Spark job writes; an Arrow table
        of rows in the stored schema, which the engine writes in-process;
        or None, no rows. A DataFrame whose column types differ from the
        kept files' (a value wider than the stored column) rewrites the
        whole table under the unioned types; otherwise the write also
        folds the small kept files (``_fold``) into one file, read by
        Spark into a DataFrame and with pyarrow into an Arrow table.
        ``rows``, a DataFrame's rows as Python values, let a commit that
        neither rewrites nor folds write them in-process
        (``_arrow_rows``)."""
        gone = {f["path"] for f in drop}
        keep = [f for f in snap.files if f["path"] not in gone]
        if add is None or isinstance(add, DataFrame):
            schema = snap.schema if add is None else add.schema
            if keep and add is not None:
                stored = snap.schema or _read_files(self.spark, path, keep, None).schema
                if [(f.name, f.dataType) for f in schema] != [
                    (f.name, f.dataType) for f in stored
                ]:
                    kept = _read_files(self.spark, path, keep, snap.schema)
                    add, keep, rows = kept.unionByName(add), [], None
                    schema = add.schema
                elif fold := _fold(keep):
                    folded = {f["path"] for f in fold}
                    keep = [f for f in keep if f["path"] not in folded]
                    add = add.unionByName(
                        _read_files(self.spark, path, fold, snap.schema).coalesce(1)
                    )
                    rows = None
            write = None if add is None else add.write.parquet
            if rows is not None and (local := _arrow_rows(rows, schema)) is not None:
                write = _arrow_write(local)
        else:
            import pyarrow as pa

            schema = snap.schema
            if fold := _fold(keep):
                folded = {f["path"] for f in fold}
                keep = [f for f in keep if f["path"] not in folded]
                add = pa.concat_tables([add, _arrow_read(path, fold, schema)])
            write = _arrow_write(add) if add.num_rows else None
        keys = self._primary_key(table)
        if self._txn is not None:
            vdir = self._txn.stage_write(path, write, keep, schema, keys)
        else:
            vdir = os.path.basename(
                commit_version(path, write, keep, schema, keys)
            )
        new = read_snapshot(path, vdir)
        return _read_files(self.spark, path, new.files, new.schema)

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
        snap = self._snapshot(path)
        # only ON CONFLICT reads the table's rows; a known schema names
        # the columns without building a read
        cur = None
        if ins.on_conflict or snap.schema is None:
            cur = _read_files(self.spark, path, snap.files, snap.schema)
        columns = snap.schema.names if cur is None else cur.columns
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
            # every row in one partition, so an append writes one file
            new_df = _values_frame(self.spark, row_cols)
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
        new_df = new_df.select(*columns)

        pk = self._primary_key(ins.table)
        if ins.on_conflict and not pk:
            # silently appending duplicates would invalidate the upsert
            # contract — reject like the reference's analyzer would
            raise SqlppError(
                f"ON CONFLICT requires a primary key on {ins.table}"
            )
        if not ins.on_conflict:
            # a plain INSERT writes only its own rows. A VALUES list of
            # literals and parameters reads no table file and evaluates
            # the same every time, so its RETURNING frame needs no
            # checkpoint
            literal = ins.values is not None and all(
                _is_literal(e) for row in ins.values for e in row
            )
            ret = self._returning(
                new_df, ins.returning, src, ins.table, checkpoint=not literal
            ) if ins.returning else None
            # rows of bare literals and parameters are known here already
            rows = [
                {c: _constant(e, params) for c, e in zip(ins.columns, row)}
                for row in ins.values
            ] if literal else None
            if rows and any(_NOT_CONSTANT in r.values() for r in rows):
                rows = None
            self.catalog[ins.table] = self._commit_change(
                ins.table, path, snap, [], new_df, rows
            )
            return ret
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
        # materialize RETURNING before the rewrite invalidates sources
        ret = self._returning(new_df, ins.returning, src, ins.table) if ins.returning else None
        self.catalog[ins.table] = self._commit_change(
            ins.table, path, snap, snap.files, result
        )
        return ret

    def _exec_update(self, upd: A.Update, src: str, params) -> Optional[DataFrame]:
        path = self._managed(upd.table)
        cols = self._table_fields(upd.table)
        snap = self._snapshot(path)
        # the rows an UPDATE can change all sit in the files it touches;
        # a joined UPDATE ... FROM touches every file
        touched = snap.files if upd.from_ is not None else self._touched(
            upd.table, upd.alias, snap, upd.where, params)
        by_key = self._by_key(upd, snap, touched, params)
        # analyze SET/WHERE in the table's scope (+ optional FROM rels)
        sel = A.Select(from_=A.FromTable(upd.table, None))
        if upd.from_ is not None:
            f = upd.from_
            sel.from_ = A.FromJoin(sel.from_, f, "inner", None)
        an = self._an(src)
        from sqlpp_spark.frontend.analyze import SelectCtx, TableRel

        ctx = SelectCtx(sel)
        ctx.rels[upd.table] = TableRel(upd.table, cols, table=upd.table)
        if by_key is not None:
            an.infer_expr(ctx, upd.where)
            self._analyze_sets(upd, cols, an, ctx)
            return self._commit_by_key(upd, path, snap, touched, by_key, src)
        cur = _read_files(self.spark, path, touched, snap.schema)
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
        self.catalog[upd.table] = self._commit_change(
            upd.table, path, snap, touched, result if touched else None
        )
        return ret

    def _set_columns(self, upd, cols, an, ctx, comp, binds, df):
        """Elaborate + compile the SET expressions against ``df``.
        Scalar subqueries in SET position (r12: both uncorrelated and
        correlated forms) attach to the frame first — the returned
        frame carries their value columns and MUST replace the
        caller's, since the compiled set columns reference them.
        Returns (df, {col: Column})."""
        set_cols: Dict[str, Column] = {}
        elabs = self._analyze_sets(upd, cols, an, ctx)
        df, scalar_map = comp._attach_scalar_subqueries(
            df, [elab for _c, elab in elabs], binds
        )
        for cname, elab in elabs:
            set_cols[cname] = comp.expr(elab, binds, scalar_map).cast(
                spark_type(cols[cname])
            )
        return df, set_cols

    def _analyze_sets(self, upd, cols, an, ctx) -> list:
        """Elaborate the SET expressions in ``ctx`` and check each against
        its column's declared type: ``[(column, elaborated expr)]``."""
        elabs = []
        for cname, e in upd.sets:
            if cname not in cols:
                raise SqlppError(f"no such column: {cname}")
            elab, ety = an.infer_expr(ctx, e)
            self._check_column_assign(an, elab, ety, cols[cname], an.src)
            elabs.append((cname, elab))
        return elabs

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
        snap = self._snapshot(path)
        touched = self._touched(dele.table, dele.alias, snap, dele.where, params)
        by_key = self._by_key(dele, snap, touched, params)
        an = self._an(src)
        from sqlpp_spark.frontend.analyze import SelectCtx, TableRel

        ctx = SelectCtx(A.Select())
        ctx.rels[dele.table] = TableRel(dele.table, cols, table=dele.table)
        if by_key is not None:
            an.infer_expr(ctx, dele.where)
            return self._commit_by_key(dele, path, snap, touched, by_key, src)
        cur = _read_files(self.spark, path, touched, snap.schema).alias(dele.table)
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
        self.catalog[dele.table] = self._commit_change(
            dele.table, path, snap, touched, remaining if touched else None
        )
        return ret

    def _returning(
        self, df: DataFrame, fields: List[A.Field], src: str, table: str,
        checkpoint: bool = True,
    ) -> DataFrame:
        """RETURNING projects arbitrary expressions over the affected
        rows, analyzed in the target table's scope (updatesyn/insertsyn
        field lists, syntax.ml:164-196). ``checkpoint=False`` returns
        the projection as is, for rows that read no table file."""
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
        if not checkpoint:
            return base.select(*cols)
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

    def _key_conjunct(self, table: str, alias: Optional[str], conj, params):
        """``(pk column, value exprs)`` when ``conj`` is ``pk = v`` or
        ``pk IN (v, ...)`` (either operand order; the column bare or
        qualified by the table or its alias), each ``v`` a literal or
        parameter; else None."""
        if isinstance(conj, A.EApp) and conj.fn == "=" and len(conj.args) == 2:
            a, b = conj.args
            pairs = [(a, [b]), (b, [a])]
        elif isinstance(conj, A.EInList) and not conj.negated:
            pairs = [(conj.expr, conj.items)]
        else:
            return None
        pk = self._primary_key(table)
        for col_e, val_es in pairs:
            if isinstance(col_e, A.ENav) and col_e.scope in (table, alias):
                col_e = col_e.expr
            if (isinstance(col_e, A.EName) and col_e.name in pk and all(
                    _constant(e, params) is not _NOT_CONSTANT for e in val_es)):
                return col_e.name, val_es
        return None

    def _touched(self, table: str, alias: Optional[str], snap: Snapshot,
                 where, params) -> list:
        """The files of ``snap`` an UPDATE/DELETE with this WHERE can
        change. A top-level ``_key_conjunct`` limits them to the files
        whose recorded key range can hold one of its values; any other
        WHERE touches every file."""
        if snap.schema is None:
            return snap.files  # an empty read needs the schema
        for conj in self._split_conjuncts(where):
            hit = self._key_conjunct(table, alias, conj, params)
            if hit is not None:
                key, val_es = hit
                vals = [_constant(e, params) for e in val_es]
                return [f for f in snap.files if _may_hold(f, key, vals)]
        return snap.files

    def _by_key(self, stmt, snap: Snapshot, touched: list, params):
        """How an UPDATE or DELETE can change its ``touched`` files
        in-process, with no Spark job: ``(key, values, {column: value})``
        (None for a DELETE's SETs), or None. It can when
        - its WHERE is exactly one ``_key_conjunct``, on a key that is not
          a double (Spark's equality holds 0.0 = -0.0, Arrow's does not);
        - it has no FROM and no subquery, and every SET value is a
          literal or parameter;
        - every key and SET value is stored as it is (``_stored``);
        - the table is stored as declared, with bigint, double, string
          or boolean columns only;
        - the rows it reads, the touched files' and those of the small
          files the commit folds, are at most ``_LOCAL_ROWS``."""
        schema = snap.schema
        sets = stmt.sets if isinstance(stmt, A.Update) else None
        conjs = self._split_conjuncts(stmt.where)
        hit = len(conjs) == 1 and self._key_conjunct(
            stmt.table, stmt.alias, conjs[0], params)
        if (not hit or getattr(stmt, "from_", None) is not None
                or any(A.expr_has_subquery(f.expr) for f in stmt.returning)
                or schema is None or _arrow_schema(schema) is None):
            return None
        cols = self._table_fields(stmt.table)
        if any(f.name not in cols
               or spark_type(cols[f.name]) != f.dataType.simpleString()
               for f in schema):
            return None
        types = {f.name: f.dataType for f in schema}
        key, val_es = hit
        consts = [(key, e) for e in val_es] + list(sets or [])
        if isinstance(types.get(key), T.DoubleType) or any(
            c not in types or _stored(e, params, types[c]) is _NOT_CONSTANT
            for c, e in consts
        ):
            return None
        kept = [f for f in snap.files if f not in touched]
        read = touched + _fold(kept) if touched else []
        if sum(f["rows"] for f in read) > _LOCAL_ROWS:
            return None
        new = None if sets is None else {c: _constant(e, params) for c, e in sets}
        return key, [_constant(e, params) for e in val_es], new

    def _commit_by_key(self, stmt, path: str, snap: Snapshot, touched: list,
                       by_key, src: str) -> Optional[DataFrame]:
        """Commit an analyzed by-key UPDATE/DELETE the way ``_by_key``
        found: pyarrow rewrites the touched files (``_key_rewrite``) and
        RETURNING projects a literal frame of the changed rows, so neither
        runs a Spark job."""
        rows, changed = (_key_rewrite(path, touched, snap.schema, *by_key)
                         if touched else (None, []))
        ret = self._returning(
            _literal_frame(self.spark, changed, snap.schema), stmt.returning,
            src, stmt.table, checkpoint=False,
        ) if stmt.returning else None
        self.catalog[stmt.table] = self._commit_change(
            stmt.table, path, snap, touched, rows
        )
        return ret

    def _rewrite(self, table: str, path: str, df: DataFrame) -> None:
        """Crash-atomic full-table rewrite (schema evolution): ``df``
        becomes a version that inherits no file. Inside a migration
        transaction the write only STAGES (no _CURRENT flip); the catalog
        reads the staged version so later actions in the same migration
        see it."""
        self.catalog[table] = self._commit_change(
            table, path, Snapshot([], None), [], df
        )

    def prepare_select_in(self, src: str, sel: A.Select):
        an = self._an(src)
        if isinstance(sel, A.SetOp):  # r14: INSERT ... compound SELECT
            return an.analyze_setop(sel)
        return an.analyze_select(sel)
