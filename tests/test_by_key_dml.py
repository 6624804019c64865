"""By-key UPDATE and DELETE in-process (engine.py ``_by_key``): pyarrow
rewrites the touched files and RETURNING projects the changed rows as
literals. Each sequence runs twice on fresh tables, once as the engine
routes it and once with the in-process row cap at 0, which sends every
statement that reads a file through Spark; the RETURNING rows and the
final rows must match exactly (``repr``, so NaN and -0.0 count), and
each statement must take the path its shape calls for."""

from __future__ import annotations

import datetime as dt
from sqlpp_spark import engine as E
from sqlpp_spark.engine import SqlppEngine, read_managed_version

KV_DECL = (
    "create table kv (id int not null primary key, x float, n int, "
    "s string, b bool);"
)
KV_ROWS = [
    (1, 1.5, 10, "a", True), (2, -2.0, 20, "b", False),
    (3, None, None, None, None), (4, 4.0, 40, "d", True),
]
KV_SCHEMA = "id long, x double, n long, s string, b boolean"
ALL = "returning id, x, n, s, b"

# (statement, binds, in-process?); None: not an UPDATE/DELETE
KV_STEPS = [
    # a plain INSERT of an existing key makes a duplicate
    ("insert into kv (id, x, n, s, b) values (2, 9.0, 0, 'dup', false)", {}, None),
    (f"update kv set s = 'u', n = ?n where id = 2 {ALL}", {"n": 7}, True),
    ("delete from kv where id = 99 returning id", {}, True),
    ("delete from kv where id = 3 and s = 'a'", {}, False),
    ("update kv set s = 'z' where id = ?k returning id", {"k": None}, True),
    ("delete from kv where id in (1, 1, ?k, ?z) returning id, s",
     {"k": 4, "z": None}, True),
    ("update kv set x = ?x where kv.id = 2 returning id, x", {"x": float("nan")}, True),
    ("update kv set x = ?x, b = ?b where kv.id in (3, 3) returning id, x",
     {"x": -0.0, "b": True}, True),
    ("update kv set n = ?n where id = 2 returning n", {"n": 2**63 - 1}, True),
    ("update kv set n = ?n where id = 3 returning n", {"n": -2**63}, True),
    # an int into a double column is cast by Spark
    ("update kv set x = ?x where id = 3 returning x", {"x": 5}, False),
    # a parameter is cast to its ascribed type first
    ("update kv set s = 'f' where id = ?k:float returning id, s", {"k": 3}, False),
    ("update kv set x = 1.0 + 1.0 where id = 3", {}, False),
    ("update kv set n = n + 1 where id = 3", {}, False),
    (f"delete from kv where id = 2 {ALL}", {}, True),
]

SK_DECL = "create table sk (k string not null primary key, v int);"
SK_STEPS = [
    ("update sk set v = 5 where k = 'a' returning k, v", {}, True),
    # an int is cast to the string key by Spark
    ("update sk set v = 6 where k = ?k returning k, v", {"k": 2}, False),
    ("delete from sk where sk.k in ('b', 'a') returning k, v", {}, True),
]

TS_DECL = "create table ts (id int not null primary key, at datetime, n int);"
TS_STEPS = [
    ("update ts set n = 9 where id = 1 returning id, n", {}, False),
    ("delete from ts where id = 2 returning id", {}, False),
]


def _show(rows):
    return sorted(repr(tuple(r)) for r in rows)


def _run(spark, path, decl, df, steps, cap, monkeypatch):
    """Run ``steps`` on a fresh managed table under the row cap ``cap``:
    the RETURNING rows and in-process flag of each step, and the final
    rows."""
    table = decl.split()[2]
    eng = SqlppEngine(spark)
    eng.add_decls(decl)
    eng.create_managed(table, path, df)
    local = []
    real = SqlppEngine._commit_by_key

    def spy(self, *a):
        local.append(True)
        return real(self, *a)

    out = []
    with monkeypatch.context() as m:
        m.setattr(E, "_LOCAL_ROWS", cap)
        m.setattr(SqlppEngine, "_commit_by_key", spy)
        for src, binds, _ in steps:
            n = len(local)
            ret = eng.exec(src, **binds)
            out.append((_show(ret.collect()) if ret is not None else None,
                        len(local) > n))
    return out, _show(read_managed_version(spark, path).collect())


def _differential(spark, tmp_path, monkeypatch, decl, df, steps):
    fast, fast_rows = _run(spark, str(tmp_path / "fast"), decl, df, steps,
                           E._LOCAL_ROWS, monkeypatch)
    slow, slow_rows = _run(spark, str(tmp_path / "slow"), decl, df, steps,
                           0, monkeypatch)
    for (src, binds, want), (f_ret, f_local), (s_ret, s_local) in zip(steps, fast, slow):
        assert f_ret == s_ret, (src, binds)
        if want is not None:
            assert f_local == want, (src, binds)
    assert fast_rows == slow_rows
    return fast, fast_rows


def test_in_process_matches_spark(spark, tmp_path, monkeypatch):
    df = spark.createDataFrame(KV_ROWS, KV_SCHEMA)
    out, rows = _differential(spark, tmp_path, monkeypatch, KV_DECL, df, KV_STEPS)
    # spot checks against hand-worked results, beyond agreement
    rets = [ret for ret, _ in out]
    assert rets[1] == _show([(2, -2.0, 7, "u", False), (2, 9.0, 7, "u", False)])
    assert rets[2] == rets[4] == []
    assert rets[5] == _show([(1, "a"), (4, "d")])
    assert rets[7] == _show([(3, -0.0)])
    assert rets[10] == _show([(5.0,)]) and rets[11] == _show([(3, "f")])
    assert rets[-1] == _show([(2, float("nan"), 2**63 - 1, "u", False)] * 2)
    assert rows == _show([(3, 2.0, -2**63 + 1, "f", True)])


def test_string_key_in_process_matches_spark(spark, tmp_path, monkeypatch):
    df = spark.createDataFrame([("a", 1), ("b", 2), ("2", 3)], "k string, v long")
    out, rows = _differential(spark, tmp_path, monkeypatch, SK_DECL, df, SK_STEPS)
    assert out[1][0] == _show([("2", 6)])
    assert rows == _show([("2", 6)])


def test_table_with_timestamp_takes_spark_path(spark, tmp_path, monkeypatch):
    at = dt.datetime(2024, 1, 2, 3, 4, 5)
    df = spark.createDataFrame([(1, at, 1), (2, at, 2)], "id long, at timestamp, n long")
    out, rows = _differential(spark, tmp_path, monkeypatch, TS_DECL, df, TS_STEPS)
    assert rows == _show([(1, at, 9)])
