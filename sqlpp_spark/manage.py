"""Migrations + management verbs (SURVEY.md §2.9).

The reference tracks named, ordered migrations in a ``_migrate`` table
and applies each migration's actions transactionally
(sqlpp_manage.ml:40-131, sqlpp_sqlite_manage.ml:19-42). Our port of the
*semantics* to Spark-managed parquet tables:

- a migration is ``Migration(name, actions)`` where each action is
  ``Define(ddl_src)`` (schema evolution, applied to env AND storage) or
  ``Exec(stmt_src)`` (DML run through the engine)
- applied migration names are recorded in a ``_migrate`` parquet table
  (id, name, applied_at); ``migrate()`` skips already-applied ones and
  errors on history divergence (a recorded name missing from the
  migration list), like the reference's ordered-prefix check
- each migration applies as ONE transaction over the managed root,
  matching the reference's per-migration DB transaction
  (sqlpp_manage.ml:40-131): every storage write STAGES a version dir
  without flipping the table's _CURRENT pointer (engine.StagedTxn),
  drops/renames defer entirely, and the _migrate record joins the same
  intent list. A root-level ``_TXN`` manifest written atomically is the
  single commit point; the intents then apply (each step idempotent).
  Crash before the manifest → nothing visible changed, staged dirs are
  garbage (rolled back; GC'd by the next commit). Crash after → the
  next ``migrate()`` rolls FORWARD from the manifest before reading
  history. In-process failure mid-migration restores the engine's
  catalog/managed-path view of committed state and deletes staged
  dirs; the in-memory env may retain the failed migration's schema
  changes, so rebuild the engine before retrying in-process.

DDL application to storage:
- ADD COLUMN  → project existing data with the new column (default
  expr if declared, else NULL)
- DROP COLUMN → project it away
- RENAME      → metadata-only env update + column rename projection
- DROP TABLE  → remove the managed directory
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass
from typing import Iterable, List, Optional

from pyspark.sql import DataFrame, functions as F

from sqlpp_spark.engine import (
    SqlppEngine,
    StagedTxn,
    commit_version,
    flip_current,
    read_managed_version,
    read_snapshot,
)
from sqlpp_spark.frontend import ast as A
from sqlpp_spark.frontend.errors import SqlppError
from sqlpp_spark.frontend.parser import parse_decls


@dataclass
class Define:
    """Schema-evolution action: sqlpp DDL source (one or more
    statements)."""

    src: str


@dataclass
class Exec:
    """DML action: an INSERT/UPDATE/DELETE statement."""

    src: str


@dataclass
class Migration:
    name: str
    actions: List[object]  # Define | Exec


def _translate(path: str, trans: dict) -> str:
    """Rewrite ``path`` through rename translations (exact or prefix)."""
    for src, dst in trans.items():
        if path == src or path.startswith(src + os.sep):
            path = dst + path[len(src):]
    return path


def _has_committed_data(path: str) -> bool:
    """True if a managed dir holds COMMITTED data: a _CURRENT pointer
    (versioned layout) or loose files (legacy flat layout). A dir with
    only staged ``_v_*`` orphans from a rolled-back transaction does
    not count."""
    if not os.path.isdir(path):
        return False
    if os.path.isfile(os.path.join(path, "_CURRENT")):
        return True
    return any(
        os.path.isfile(os.path.join(path, f))
        for f in os.listdir(path)
        if f != "_CURRENT"
    )


class Migrate:
    """Ordered-migration runner over a SqlppEngine."""

    TRACK = "_migrate"

    def __init__(self, engine: SqlppEngine, root: str):
        self.engine = engine
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- tracking table ----------------------------------------------------

    def _track_path(self) -> str:
        return os.path.join(self.root, f"{self.TRACK}.parquet")

    def applied(self) -> List[str]:
        path = self._track_path()
        if not _has_committed_data(path):
            return []
        rows = (
            read_managed_version(self.engine.spark, path)
            .orderBy("id")
            .select("name")
            .collect()
        )
        return [r.name for r in rows]

    def _record(self, idx: int, name: str, txn: Optional[StagedTxn]) -> None:
        """Append the new row to the track table as a version that
        inherits every committed file — staged when the record rides the
        migration's transaction, so 'applied' and 'storage effects
        visible' flip together."""
        row = self.engine.spark.createDataFrame(
            [(idx, name)], "id int, name string"
        ).withColumn("applied_at", F.current_timestamp())
        path = self._track_path()
        keep = read_snapshot(path).files if _has_committed_data(path) else []
        if txn is not None:
            txn.stage_write(path, row.write.parquet, keep, row.schema)
        else:
            commit_version(path, row.write.parquet, keep, row.schema)

    # -- apply -------------------------------------------------------------

    def migrate(self, migrations: Iterable[Migration]) -> List[str]:
        """Apply pending migrations in order; returns the names applied
        this run. Errors if recorded history diverges from the given
        list (same ordered-prefix rule as the reference runner).
        Already-applied migrations replay their ENV effects only (a
        fresh engine resuming an existing root must see the evolved
        schema without re-touching storage). Each pending migration
        applies in its own all-or-nothing transaction (module
        docstring); an interrupted commit from a previous run rolls
        forward before history is read."""
        migrations = list(migrations)
        self._recover()
        done = self.applied()
        for i, name in enumerate(done):
            if i >= len(migrations) or migrations[i].name != name:
                raise SqlppError(
                    f"migration history diverged: applied {name!r} not at "
                    f"position {i} of the migration list"
                )
            self._replay_env(migrations[i])
        newly: List[str] = []
        for i in range(len(done), len(migrations)):
            m = migrations[i]
            self._begin_txn()
            try:
                for act in m.actions:
                    self._apply_action(act)
                self._record(i, m.name, self.engine._txn)
            except BaseException:
                self._abort_txn()
                raise
            self._commit_txn()
            newly.append(m.name)
        return newly

    # -- transaction protocol ---------------------------------------------

    TXN = "_TXN"

    def _txn_manifest(self) -> str:
        return os.path.join(self.root, self.TXN)

    def _begin_txn(self) -> None:
        eng = self.engine
        self._snap_catalog = dict(eng.catalog)
        self._snap_paths = dict(eng.managed_paths)
        eng._txn = StagedTxn()

    def _commit_txn(self) -> None:
        eng = self.engine
        txn, eng._txn = eng._txn, None
        manifest = self._txn_manifest()
        tmp = manifest + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"intents": txn.intents}, fh)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, manifest)  # THE commit point for the migration
        trans = self._apply_intents(txn.intents)
        os.remove(manifest)
        # rebind any paths a rename moved, then refresh the catalog to
        # read the now-committed _CURRENT pointers
        if trans:
            for name, p in list(eng.managed_paths.items()):
                eng.managed_paths[name] = _translate(p, trans)
        for name, p in eng.managed_paths.items():
            eng.catalog[name] = read_managed_version(eng.spark, p)

    def _abort_txn(self) -> None:
        """In-process failure before the manifest: delete staged dirs
        and restore the engine's view of committed state."""
        eng = self.engine
        txn, eng._txn = eng._txn, None
        if txn is not None:
            for it in txn.intents:
                if it["op"] != "flip":
                    continue
                staged = os.path.join(it["path"], it["version"])
                shutil.rmtree(staged, ignore_errors=True)
                if it.get("fresh") and os.path.isdir(it["path"]) and not os.listdir(
                    it["path"]
                ):
                    os.rmdir(it["path"])
        eng.catalog = self._snap_catalog
        eng.managed_paths = self._snap_paths

    def _recover(self) -> None:
        """Roll an interrupted commit forward: the manifest exists ⇒
        the transaction committed; every intent is idempotent. If a
        staged dir the manifest references is GONE (external deletion —
        engine.vacuum_managed refuses to touch staged dirs precisely to
        keep this impossible), fail with remediation instead of wedging
        every subsequent migrate() on a bare FileNotFoundError."""
        manifest = self._txn_manifest()
        if not os.path.isfile(manifest):
            return
        with open(manifest) as fh:
            intents = json.load(fh)["intents"]
        try:
            self._apply_intents(intents)
        except FileNotFoundError as e:
            raise SqlppError(
                f"cannot roll forward interrupted migration transaction: {e}. "
                f"A staged version referenced by {manifest} was deleted "
                f"externally. Remediate by restoring the staged dir, or — "
                f"accepting loss of that transaction — deleting the manifest "
                f"file and re-running the migration."
            ) from e
        os.remove(manifest)

    @staticmethod
    def _apply_intents(intents: List[dict]) -> dict:
        """Apply flips/drops/renames in recorded order. Renames build a
        path-translation map so later intents (and the caller's
        managed-path rebind) follow the moved directories. Returns the
        translation map."""
        trans: dict = {}
        for it in intents:
            if it["op"] == "flip":
                flip_current(_translate(it["path"], trans), it["version"])
            elif it["op"] == "drop":
                shutil.rmtree(_translate(it["path"], trans), ignore_errors=True)
            elif it["op"] == "rename":
                src = _translate(it["src"], trans)
                dst = it["dst"]
                if os.path.isdir(src) and not os.path.isdir(dst):
                    shutil.move(src, dst)  # same-fs rename: atomic
                trans[it["src"]] = dst
            else:
                raise SqlppError(f"unknown txn intent {it['op']!r}")
        return trans

    def ls(self, migrations: Iterable[Migration]) -> List[tuple]:
        """(name, applied?) pairs — the `migrate-ls` verb."""
        done = set(self.applied())
        return [(m.name, m.name in done) for m in migrations]

    def show(self, migrations: Iterable[Migration], name: str) -> str:
        """Render a migration's actions — the `migrate-show` verb."""
        for m in migrations:
            if m.name == name:
                out = []
                for act in m.actions:
                    tag = "define" if isinstance(act, Define) else "exec"
                    out.append(f"-- {tag}\n{act.src.strip()}")
                return "\n".join(out)
        raise SqlppError(f"no such migration: {name}")

    def _replay_env(self, m: Migration) -> None:
        """Re-apply a previously-applied migration's schema effects to
        the (fresh) engine env + catalog, without touching storage."""
        eng = self.engine
        for act in m.actions:
            if not isinstance(act, Define):
                continue  # Exec effects live in the data already
            for ddl in parse_decls(act.src):
                if isinstance(ddl, A.DeclTable):
                    if ddl.name not in eng.env.tables:
                        eng.env.add_decl(ddl)
                elif isinstance(ddl, (A.DeclQuery, A.DeclFieldset)):
                    eng.env.add_decl(ddl)
                elif not self._env_ddl_applied(ddl):
                    eng.env.add_ddl(ddl)
        # (re)bind managed storage for every table now in the env
        # (_has_committed_data: a dir holding only staged orphans from
        # a rolled-back transaction must not bind)
        for name in list(eng.env.tables):
            path = os.path.join(self.root, f"{name}.parquet")
            if _has_committed_data(path) and name not in eng.managed_paths:
                eng.managed_paths[name] = path
                eng.catalog[name] = read_managed_version(eng.spark, path)

    def _env_ddl_applied(self, ddl) -> bool:
        """Replay idempotence: did this evolution already reach the
        env (same engine ran the migration earlier in-process)?"""
        tables = self.engine.env.tables
        if isinstance(ddl, A.DdlDropTable):
            return ddl.table not in tables
        if isinstance(ddl, A.DdlRenameTable):
            return ddl.table not in tables and ddl.new_name in tables
        ti = tables.get(ddl.table)
        if ti is None:
            return False
        if isinstance(ddl, A.DdlRenameColumn):
            return ddl.column not in ti.columns and ddl.new_name in ti.columns
        if isinstance(ddl, A.DdlDropColumn):
            return ddl.column not in ti.columns
        if isinstance(ddl, A.DdlAddColumn):
            return ddl.column.name in ti.columns
        return False

    def _apply_action(self, act) -> None:
        if isinstance(act, Exec):
            self.engine.exec(act.src)
            return
        if not isinstance(act, Define):
            raise SqlppError(f"unknown migration action {type(act).__name__}")
        for ddl in parse_decls(act.src):
            self._apply_ddl(ddl)

    # -- DDL → env + managed storage --------------------------------------

    def _apply_ddl(self, ddl) -> None:
        eng = self.engine
        if isinstance(ddl, A.DeclTable):
            eng.env.add_decl(ddl)
            path = os.path.join(self.root, f"{ddl.name}.parquet")
            if not _has_committed_data(path):
                from sqlpp_spark.compiler.compile import spark_type
                from pyspark.sql import types as T

                schema = T.StructType.fromDDL(
                    ", ".join(
                        f"{c.name} {spark_type(c.ty)}"
                        + (" NOT NULL" if c.ty.non_null else "")
                        for c in ddl.columns
                    )
                )
                empty = eng.spark.createDataFrame([], schema)
                eng.create_managed(ddl.name, path, empty)
            return
        if isinstance(ddl, (A.DeclQuery, A.DeclFieldset)):
            eng.env.add_decl(ddl)
            return

        # evolution statements need the current managed data
        eng.env.add_ddl(ddl)
        txn = eng._txn
        if isinstance(ddl, A.DdlDropTable):
            path = eng.managed_paths.pop(ddl.table, None)
            eng.catalog.pop(ddl.table, None)
            if path and os.path.isdir(path):
                if txn is not None:
                    txn.add_drop(path)  # deferred to commit
                else:
                    shutil.rmtree(path)
            return

        path = eng.managed_paths.get(ddl.table)
        if path is None:
            return  # env-only table (no storage to evolve)
        df = eng._managed_df(path)
        if isinstance(ddl, A.DdlRenameTable):
            new_path = os.path.join(os.path.dirname(path), f"{ddl.new_name}.parquet")
            del eng.managed_paths[ddl.table]
            moved = eng.catalog.pop(ddl.table, None)
            if txn is not None:
                # defer the move; the table keeps its OLD physical path
                # until commit (later staged writes land there and the
                # intent translation follows them through the rename)
                txn.add_rename(path, new_path)
                eng.managed_paths[ddl.new_name] = path
                eng.catalog[ddl.new_name] = (
                    moved if moved is not None else df
                )
                return
            shutil.move(path, new_path)
            eng.managed_paths[ddl.new_name] = new_path
            eng.catalog[ddl.new_name] = read_managed_version(eng.spark, new_path)
            return
        if isinstance(ddl, A.DdlRenameColumn):
            out = df.withColumnRenamed(ddl.column, ddl.new_name)
        elif isinstance(ddl, A.DdlDropColumn):
            out = df.drop(ddl.column)
        elif isinstance(ddl, A.DdlAddColumn):
            from sqlpp_spark.compiler.compile import Bindings, Compiler, spark_type
            from sqlpp_spark.frontend.analyze import Analyzer, SelectCtx

            st = spark_type(ddl.column.ty)
            if ddl.column.default is not None:
                an = Analyzer(eng.env)
                ctx = SelectCtx(A.Select())
                elab, _ = an.infer_expr(ctx, ddl.column.default)
                col = Compiler(eng.spark, eng.catalog).expr(elab, Bindings({}), {})
            else:
                col = F.lit(None)
            out = df.withColumn(ddl.column.name, col.cast(st))
        else:
            raise SqlppError(f"unknown DDL {type(ddl).__name__}")
        eng._rewrite(ddl.table, path, out)
