"""Manifest commits of managed tables (engine.py storage section): each
version's ``_FILES`` lists the live data files, so an INSERT writes only
its own rows and an UPDATE/DELETE keyed on the primary key rewrites only
the files whose key range can match. Crash windows (before the manifest,
before the flip, during GC), tables in the earlier full-copy layout, and
the compaction bound."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest

from sqlpp_spark import engine as E
from sqlpp_spark.engine import (
    SqlppEngine,
    list_versions,
    read_managed_version,
    read_snapshot,
)

DECL = (
    "create table kv (id int not null primary key, grp int not null, "
    "tag string not null);"
)


def _kv(spark, tmp_path, n=30, files=3):
    """A managed table of ``n`` rows in ``files`` key-range files."""
    eng = SqlppEngine(spark)
    eng.add_decls(DECL)
    df = spark.createDataFrame(
        [(i, i % 3, f"t{i}") for i in range(1, n + 1)],
        "id long, grp long, tag string",
    ).repartitionByRange(files, "id")
    path = str(tmp_path / "kv")
    eng.create_managed("kv", path, df)
    return eng, path


def _rows(eng):
    return sorted(tuple(r) for r in eng.fetch_list("select id, grp, tag from kv"))


def _own_files(path):
    """Data files the active version wrote, with their row counts."""
    d = E.managed_data_dir(path)
    return {
        f: pq.read_metadata(os.path.join(d, f)).num_rows
        for f in os.listdir(d) if f.endswith(".parquet") and not f.startswith(".")
    }


def test_manifest_lists_files_with_key_ranges(spark, tmp_path):
    eng, path = _kv(spark, tmp_path)
    snap = read_snapshot(path)
    assert len(snap.files) == 3
    assert sum(f["rows"] for f in snap.files) == 30
    ranges = sorted(tuple(f["stats"]["id"]) for f in snap.files)
    assert ranges[0][0] == 1 and ranges[-1][1] == 30
    assert [f.name for f in snap.schema] == ["id", "grp", "tag"]


def test_insert_writes_only_its_rows_in_one_file(spark, tmp_path):
    eng, path = _kv(spark, tmp_path)
    before = {f["path"] for f in read_snapshot(path).files}
    eng.exec(
        "insert into kv (id, grp, tag) values "
        "(31, 0, 'a'), (32, 1, 'b'), (33, 2, 'c')"
    )
    assert list(_own_files(path).values()) == [3]
    after = {f["path"] for f in read_snapshot(path).files}
    assert before < after and len(after - before) == 1
    assert len(_rows(eng)) == 33


def test_literal_rows_are_written_without_spark(spark, tmp_path):
    """Rows of bare literals and parameters go to parquet in-process;
    Spark reads them back like its own rows, and a value that
    needs a Spark cast or operator still goes through a Spark write."""
    eng = SqlppEngine(spark)
    eng.add_decls(
        "create table m (id int not null primary key, x float, s string, "
        "b bool);"
    )
    path = str(tmp_path / "m")
    eng.create_managed("m", path, spark.createDataFrame(
        [(1, 1.5, "a", True)], "id long, x double, s string, b boolean"))
    eng.exec(
        "insert into m (id, x, s, b) values (2, 7.5, 'b', false), "
        "(3, ?p, 'c', true)", p=2,
    )
    meta = pq.read_metadata(os.path.join(
        E.managed_data_dir(path), next(iter(_own_files(path)))))
    assert b"org.apache.spark.version" not in (meta.metadata or {})
    eng.exec("insert into m (id) values (4)")
    eng.exec("insert into m (id, x) values (5, 1.0 + 1.0)")
    rows = sorted(tuple(r) for r in eng.fetch_list("select id, x, s, b from m"))
    assert rows == [
        (1, 1.5, "a", True), (2, 7.5, "b", False), (3, 2.0, "c", True),
        (4, None, None, None), (5, 2.0, None, None),
    ]
    assert [f["stats"]["id"] for f in read_snapshot(path).files][1:] == [
        [2, 3], [4, 4], [5, 5],
    ]


def _holding(path, *keys):
    """Rows of the live files whose key range holds one of ``keys``."""
    return sum(
        f["rows"] for f in read_snapshot(path).files
        if any(f["stats"]["id"][0] <= k <= f["stats"]["id"][1] for k in keys)
    )


def test_update_by_key_rewrites_only_its_file(spark, tmp_path):
    eng, path = _kv(spark, tmp_path)
    before = read_snapshot(path).files
    rows = _holding(path, 2)
    eng.exec("update kv set tag = 'x' where id = ?k:int not null", k=2)
    assert list(_own_files(path).values()) == [rows]
    after = {f["path"] for f in read_snapshot(path).files}
    assert len({f["path"] for f in before} - after) == 1
    assert (2, 2, "x") in _rows(eng)

    # IN lists, reversed operands and qualified names prune too
    rows = _holding(path, 29, 30)
    eng.exec("delete from kv where kv.id in (29, 30)")
    assert sum(_own_files(path).values()) == rows - 2
    rows = _holding(path, 1)
    eng.exec("update kv set grp = 9 where 1 = id")
    assert sum(_own_files(path).values()) == rows
    # a WHERE not keyed on the primary key rewrites every file
    eng.exec("update kv set grp = 8 where grp = 9")
    assert sum(_own_files(path).values()) == 28


def test_delete_of_absent_key_writes_nothing(spark, tmp_path):
    eng, path = _kv(spark, tmp_path)
    v = list_versions(path)[-1]
    eng.exec("delete from kv where id = 999")
    assert list_versions(path)[-1] == v + 1
    assert _own_files(path) == {}
    assert len(_rows(eng)) == 30


def test_delete_emptying_a_file_and_the_table(spark, tmp_path):
    eng, path = _kv(spark, tmp_path, n=6, files=3)
    first = min(read_snapshot(path).files, key=lambda f: f["stats"]["id"][0])
    lo, hi = first["stats"]["id"]
    ids = ", ".join(str(i) for i in range(lo, hi + 1))
    ret = eng.exec(f"delete from kv where id in ({ids}) returning id")
    assert sorted(r.id for r in ret.collect()) == list(range(lo, hi + 1))
    assert len(read_snapshot(path).files) == 2
    assert sum(_own_files(path).values()) == 0  # no live file written
    assert [r[0] for r in _rows(eng)] == [i for i in range(1, 7) if i > hi]

    eng.exec("delete from kv where grp >= 0")
    assert read_snapshot(path).files == []
    assert _rows(eng) == []
    eng.exec("insert into kv (id, grp, tag) values (1, 1, 'back')")
    assert _rows(eng) == [(1, 1, "back")]


def test_live_files_stay_bounded(spark, tmp_path):
    eng, path = _kv(spark, tmp_path, n=200, files=1)
    counts = []
    for i in range(12):
        eng.exec(f"insert into kv (id, grp, tag) values ({1000 + i}, 0, 'n')")
        counts.append(len(read_snapshot(path).files))
    assert max(counts) <= 1 + E._FOLD_AT
    assert counts[-1] < 12
    assert len(_rows(eng)) == 212


def test_crash_before_manifest_leaves_table_intact(spark, tmp_path, monkeypatch):
    eng, path = _kv(spark, tmp_path)
    active = E.managed_data_dir(path)

    def crash(*_a):
        raise RuntimeError("crash before _FILES")

    with monkeypatch.context() as m:
        m.setattr(E, "_write_manifest", crash)
        with pytest.raises(RuntimeError, match="before _FILES"):
            eng.exec("insert into kv (id, grp, tag) values (31, 0, 'a')")
    assert E.managed_data_dir(path) == active
    orphan = max(d for d in os.listdir(path) if d.startswith("_v_"))
    assert not os.path.exists(os.path.join(path, orphan, "_FILES"))
    assert len(_rows(eng)) == 30

    eng.exec("insert into kv (id, grp, tag) values (31, 0, 'a')")
    assert not os.path.exists(os.path.join(path, orphan))
    assert len(_rows(eng)) == 31


def test_crash_before_flip_leaves_table_intact(spark, tmp_path, monkeypatch):
    eng, path = _kv(spark, tmp_path)
    active = E.managed_data_dir(path)

    def crash(*_a):
        raise RuntimeError("crash before flip")

    with monkeypatch.context() as m:
        m.setattr(E, "flip_current", crash)
        with pytest.raises(RuntimeError, match="before flip"):
            eng.exec("update kv set tag = 'x' where id = 1")
    assert E.managed_data_dir(path) == active
    orphan = max(d for d in os.listdir(path) if d.startswith("_v_"))
    assert os.path.exists(os.path.join(path, orphan, "_FILES"))
    assert (1, 1, "t1") in _rows(eng)

    eng.exec("update kv set tag = 'y' where id = 1")
    assert not os.path.exists(os.path.join(path, orphan))
    assert (1, 1, "y") in _rows(eng)


@pytest.mark.parametrize("at", ["write", "flip"])
def test_crash_in_process_by_key_write_leaves_table_intact(
        spark, tmp_path, monkeypatch, at):
    """A by-key UPDATE rewrites its file in-process; a crash inside the
    pyarrow write (leaving a partial file, no _FILES) or after _FILES but
    before the flip keeps the old version, and the next flip removes the
    orphan dir."""
    eng, path = _kv(spark, tmp_path)
    active = E.managed_data_dir(path)

    def partial(table, where, **_kw):
        with open(where, "wb") as fh:
            fh.write(b"PAR1\x00partial")
        raise OSError("crash mid-write")

    def before_flip(*_a):
        raise OSError("crash before flip")

    with monkeypatch.context() as m:
        if at == "write":
            m.setattr(pq, "write_table", partial)
        else:
            m.setattr(E, "flip_current", before_flip)
        m.setattr(E, "_read_files", None)  # no Spark read, so no job
        with pytest.raises(OSError, match="crash"):
            eng.exec("update kv set tag = 'x' where id = 1")
    assert E.managed_data_dir(path) == active
    orphan = max(d for d in os.listdir(path) if d.startswith("_v_"))
    assert orphan != os.path.basename(active)
    left = os.listdir(os.path.join(path, orphan))
    assert ("_FILES" in left) == (at == "flip")
    assert any(f.endswith(".parquet") for f in left)
    assert (1, 1, "t1") in _rows(eng)
    assert len(_rows(eng)) == 30

    eng.exec("update kv set tag = 'y' where id = 1")
    assert not os.path.exists(os.path.join(path, orphan))
    assert (1, 1, "y") in _rows(eng) and len(_rows(eng)) == 30


def test_by_key_updates_keep_live_files_bounded(spark, tmp_path):
    """In-process by-key UPDATEs and DELETEs fold small files like Spark
    writes do, so the live files stay within the same bound."""
    eng, path = _kv(spark, tmp_path, n=200, files=1)
    counts = []
    for i in range(12):
        eng.exec(f"insert into kv (id, grp, tag) values ({1000 + i}, 0, 'n')")
        eng.exec(f"update kv set tag = 'u' where id in ({1000 + i // 2}, {1 + i})")
        eng.exec(f"delete from kv where id = {100 + i}")
        counts.append(len(read_snapshot(path).files))
    assert max(counts) <= 1 + E._FOLD_AT
    rows = _rows(eng)
    assert len(rows) == 200
    assert {r[0] for r in rows if r[2] == "u"} == (
        set(range(1, 13)) | set(range(1000, 1006)))


def test_crash_during_gc_is_finished_by_the_next_commit(spark, tmp_path, monkeypatch):
    eng, path = _kv(spark, tmp_path)
    eng.exec("update kv set tag = 'a' where grp >= 0")  # rewrites all
    retired = E.managed_data_dir(path)  # retired two commits later
    real_remove = os.remove
    calls = []

    def flaky(p):
        calls.append(p)
        if len(calls) == 2:
            raise OSError("crash during GC")
        real_remove(p)

    eng.exec("update kv set tag = 'b' where grp >= 0")
    with monkeypatch.context() as m:
        m.setattr(os, "remove", flaky)
        with pytest.raises(OSError, match="during GC"):
            eng.exec("update kv set tag = 'c' where grp >= 0")
    # the flip happened before GC: the new version is committed
    fresh = sorted(tuple(r) for r in read_managed_version(spark, path).collect())
    assert {r[2] for r in fresh} == {"c"} and len(fresh) == 30
    assert os.path.isdir(retired)
    eng.exec("delete from kv where id = 999")
    assert not os.path.exists(retired)
    assert len(list_versions(path)) == 2


def test_full_copy_layout_is_read_and_accepts_dml(spark, tmp_path):
    """A table written by the earlier layout (version dirs without
    _FILES) reads as its file list; the first commit gives the versions
    it retains a manifest and retires the rest."""
    path = str(tmp_path / "kv")
    old = spark.createDataFrame(
        [(i, 0, "old") for i in range(1, 4)], "id long, grp long, tag string")
    cur = spark.createDataFrame(
        [(i, 0, f"t{i}") for i in range(1, 6)], "id long, grp long, tag string")
    old.write.parquet(os.path.join(path, "_v_0"))
    cur.write.parquet(os.path.join(path, "_v_1"))
    with open(os.path.join(path, "_CURRENT"), "w") as fh:
        fh.write("_v_1")

    eng = SqlppEngine(spark)
    eng.add_decls(DECL)
    eng.managed_paths["kv"] = path
    eng.register_df("kv", read_managed_version(spark, path))
    assert list_versions(path) == [0, 1]
    assert len(_rows(eng)) == 5

    eng.exec("insert into kv (id, grp, tag) values (6, 1, 'new')")
    assert list_versions(path) == [1, 2]
    assert os.path.isfile(os.path.join(path, "_v_1", "_FILES"))
    assert not os.path.exists(os.path.join(path, "_v_0"))
    assert len(read_managed_version(spark, path, 1).collect()) == 5
    eng.exec("update kv set tag = 'x' where id = 2")
    eng.exec("delete from kv where id = 3")
    assert _rows(eng) == [
        (1, 0, "t1"), (2, 0, "x"), (4, 0, "t4"), (5, 0, "t5"), (6, 1, "new"),
    ]
