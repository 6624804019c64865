"""The benchmark's workloads.

Each workload owns its inputs, one pass of ops (every op in its list
once, in a seeded order) and its correctness gate. ``run_op`` runs one
op and raises ``Mismatch`` when the op's output disagrees with what the
workload expected; ``gate`` returns every disagreement it finds after
the timed window, outside timing.
"""

from __future__ import annotations

import contextlib
import os
import random

import pyarrow.parquet as pq

# read_mix, dialect part: rows of queries/sqlpp_suite.SQLPP_SOURCES with
# their binds. A subset of the 83: all 83 take 30-50 s per warm pass on 2
# cores (48 s for the cold one), which does not fit a run. These cover
# the core dialect (joins, named queries, fieldsets, params, variants),
# correlated-subquery decorrelation and a recursive CTE whose fixpoint
# jobs run inside compile_query. With the registry part below there are
# 17 op types: an odd count, with 8 of them between 130 and 200 ms warm,
# so the median op falls inside one dense band of types rather than in
# the gap between two (which moved op_p50_ms by up to 25% run to run).
# Every row here is deterministic under ties, so the oracle holds on any
# seed's data.
TYPED_ROWS = (
    "sqlpp_filter_project",
    "sqlpp_join_group",
    "sqlpp_left_join_nullable",
    "sqlpp_named_query_compose",
    "sqlpp_fieldset_splice",
    "sqlpp_group_having_order",
    "sqlpp_params_bound",
    "sqlpp_variant_param",
    "sqlpp_scalar_subquery_corr",
    "sqlpp_window_functions",
    "sqlpp_date_ops",
    "sqlpp_group_order_all",
    "sqlpp_in_list",
    "sqlpp_case_like_between",
    "sqlpp_recursive_spine",
)

# read_mix, registry part: headline rows run through their builders into
# Spark's noop sink (the full plan, no column pruning, no collect), with
# clearCache() after each. dedup_minhash runs Spark jobs inside its
# builder; the jpeg row is the only headline row that starts Python
# workers.
BATCH_ROWS = (
    "dedup_minhash",
    "multimodal_jpeg_decode_oracle",
)

# the schema env the rows above are written against: the same
# registrations and declarations as the suite's engine
TYPED_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
                "lineitem", "documents")
TYPED_DECLS = (
    "create query big_orders as select o_custkey as ck, count(1) as n_big "
    "from orders where o_totalprice > 200000 group by o_custkey;",
    "create fieldset nat_fields(from nation as n) as "
    "select n.n_nationkey as nationkey, n.n_name as nation_name;",
    "create query pow2 as with recursive p (b) as (select 1 as b union all "
    "select b * 2 as b from p where b < 300000) select b from p;",
)

TINY_TYPED_ROWS = ("sqlpp_filter_project", "sqlpp_join_group", "sqlpp_params_bound")
TINY_BATCH_ROWS = ("dedup_exact",)


class Mismatch(Exception):
    """An op's output disagrees with the expected output."""


def _corrupt_frame(pdf) -> None:
    """Change one expected value (the smoke test's broken oracle)."""
    col = pdf.columns[0]
    if len(pdf):
        v = pdf.at[0, col]
        pdf.at[0, col] = v + 1 if isinstance(v, (int, float)) else f"{v}#"
    else:
        pdf.loc[0] = [None] * len(pdf.columns)


class Workload:
    name = ""
    sf = 0.0
    # warm pass time on the reference host (4 vCPUs, local[2]); sizes the
    # timed window as a fixed number of whole passes
    nominal_pass_s = 1.0

    def __init__(self, spark, data_dir: str, work_dir: str, tiny: bool,
                 corrupt: bool = False):
        self.spark = spark
        self.data_dir = data_dir
        self.work_dir = work_dir
        self.tiny = tiny
        self.corrupt = corrupt
        self.tracer = None

    def span(self, name: str):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name)

    def register(self) -> None:
        raise NotImplementedError

    def pass_ops(self, rng: random.Random) -> list[tuple[str, object]]:
        """One pass: ``(kind, payload)`` per op, in seeded order."""
        raise NotImplementedError

    def run_op(self, kind: str, payload) -> None:
        raise NotImplementedError

    def gate(self) -> list[str]:
        raise NotImplementedError

    def finish_trace(self) -> dict:
        """After the traced window: annotate spans and return the
        workload's resource counters."""
        return {}


class ReadMix(Workload):
    """Dialect rows collected through the workload's own ``SqlppEngine``,
    and registry rows run through their builders into the noop sink."""

    name = "read_mix"
    sf = 0.001
    nominal_pass_s = 6.0

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.rows = TINY_TYPED_ROWS if self.tiny else TYPED_ROWS
        self.batch_rows = TINY_BATCH_ROWS if self.tiny else BATCH_ROWS
        self.seen_counts: dict[str, set] = {}
        self.planned = []  # (span, df) for the Catalyst phase times
        self.leaked: list[int] = []

    def register(self) -> None:
        from sqlpp_spark.engine import SqlppEngine
        from sqlpp_spark.queries import REGISTRY, _ensure_loaded
        from sqlpp_spark.sources.tables import read_table

        eng = SqlppEngine(self.spark)
        for t in TYPED_TABLES:
            eng.register_parquet(t, os.path.join(self.data_dir, f"{t}.parquet"))
        eng.register_df("events", read_table(self.spark, self.data_dir, "events"))
        for decl in TYPED_DECLS:
            eng.add_decls(decl)
        self.eng = eng
        _ensure_loaded()
        self.specs = {n: REGISTRY[n] for n in self.batch_rows}

    def pass_ops(self, rng):
        ops = [("fetch", r) for r in self.rows] + [("batch", r) for r in self.batch_rows]
        rng.shuffle(ops)
        return ops

    def run_op(self, kind, name):
        if kind == "batch":
            self._batch(name)
            return
        from sqlpp_spark.queries.sqlpp_suite import SQLPP_SOURCES

        src, binds = SQLPP_SOURCES[name]
        df = self.eng.query(src, **binds)
        with self.span("exec") as s:
            rows = df.collect()
        if s is not None:
            self.planned.append((s, df))
        self.seen_counts.setdefault(name, set()).add(len(rows))

    def _batch(self, name):
        with self.span("queries.build"):
            df = self.specs[name].builder(self.spark, self.data_dir)
        with self.span("exec"):
            df.write.format("noop").mode("overwrite").save()
        self.spark.catalog.clearCache()
        if self.tracer is not None:
            self.leaked.append(self.spark.sparkContext._jsc.getPersistentRDDs().size())

    def gate(self):
        from sqlpp_spark.queries import REGISTRY
        from sqlpp_spark.queries.sqlpp_suite import SQLPP_SOURCES
        from sqlpp_spark.testing.oracle import compare, run_oracle

        bad = []
        for i, name in enumerate((*self.rows, *self.batch_rows)):
            expected = run_oracle(REGISTRY[name].oracle, self.data_dir)
            if self.corrupt and i == 0:
                _corrupt_frame(expected)
            if name in self.specs:
                df = self.specs[name].builder(self.spark, self.data_dir)
            else:
                src, binds = SQLPP_SOURCES[name]
                df = self.eng.query(src, **binds)
                seen = self.seen_counts.get(name, set())
                if seen - {len(expected)}:
                    bad.append(f"{name}: timed ops returned {sorted(seen)} rows, "
                               f"oracle has {len(expected)}")
            report = compare(df, expected)
            self.spark.catalog.clearCache()
            if not report["match"]:
                bad.append(f"{name}: {report['detail']}")
        return bad

    def finish_trace(self):
        from perfbench.trace import catalyst_plan_ms

        for s, df in self.planned:
            s.attrs["plan_ms"] = catalyst_plan_ms(df)
        self.planned = []
        n = len(self.leaked)
        return {"queries.leaked_rdds": sum(self.leaked) / n if n else 0.0}


# -- dml_mixed ---------------------------------------------------------------

DML_DECL = (
    "create table orders_m (o_orderkey int not null primary key, "
    "o_custkey int not null, o_orderstatus string not null, "
    "o_totalprice float not null, o_orderpriority string not null);"
)
DML_COLS = ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderpriority")
_SEL = ", ".join(DML_COLS)
POINT_READ = f"select {_SEL} from orders_m where o_orderkey = ?k:int not null"
GROUPED_READ = (
    "select o_orderstatus, count(1) as n, max(o_totalprice) as top "
    "from orders_m where o_custkey < ?c:int not null group by o_orderstatus"
)
INSERT = (
    f"insert into orders_m ({_SEL}) values (?k:int not null, ?c:int not null, "
    "?s:string not null, ?p:float not null, ?q:string not null)"
)
UPDATE = (
    "update orders_m set o_totalprice = ?p:float not null, "
    "o_orderstatus = ?s:string not null where o_orderkey = ?k:int not null"
)
DELETE = "delete from orders_m where o_orderkey = ?k:int not null"
FULL_SCAN = f"select {_SEL} from orders_m"

# one pass: 6 reads and 4 writes (60/40); 2 of the writes use RETURNING
DML_PASS = (
    ["point_read"] * 4 + ["grouped_read"] * 2
    + ["insert", "insert_ret", "update_ret", "delete"]
)
TINY_DML_PASS = ["point_read", "grouped_read", "insert_ret", "update_ret", "delete_ret"]


class OrdersModel:
    """The replay oracle: the table as a Python dict, mutated by the same
    seeded op sequence the engine runs."""

    def __init__(self, path: str, limit: int | None):
        t = pq.read_table(path, columns=list(DML_COLS)).to_pylist()
        t = t[:limit] if limit else t
        self.rows = {r["o_orderkey"]: tuple(r[c] for c in DML_COLS) for r in t}
        self.keys = list(self.rows)
        self.pos = {k: i for i, k in enumerate(self.keys)}
        self.next_key = max(self.keys) + 1
        self.n_cust = max(r[1] for r in self.rows.values()) + 1

    def pick(self, rng) -> int:
        return self.keys[rng.randrange(len(self.keys))]

    def put(self, row: tuple) -> None:
        k = row[0]
        if k not in self.rows:
            self.pos[k] = len(self.keys)
            self.keys.append(k)
        self.rows[k] = row

    def drop(self, k: int) -> None:
        del self.rows[k]
        i = self.pos.pop(k)
        last = self.keys.pop()
        if last != k:
            self.keys[i] = last
            self.pos[last] = i

    def grouped(self, c: int) -> list[tuple]:
        agg: dict[str, list] = {}
        for row in self.rows.values():
            if row[1] < c:
                a = agg.setdefault(row[2], [0, row[3]])
                a[0] += 1
                a[1] = max(a[1], row[3])
        return sorted((s, n, top) for s, (n, top) in agg.items())


class DmlMixed(Workload):
    name = "dml_mixed"
    sf = 0.01
    nominal_pass_s = 2.5

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.limit = 500 if self.tiny else None
        self.mix = TINY_DML_PASS if self.tiny else DML_PASS
        self._n_reg = 0
        self.rows_changed: list[tuple[int, int]] = []  # (bytes, table rows)

    def register(self) -> None:
        from sqlpp_spark.engine import SqlppEngine

        src = os.path.join(self.data_dir, "orders.parquet")
        eng = SqlppEngine(self.spark)
        eng.add_decls(DML_DECL)
        df = self.spark.read.parquet(src).select(*DML_COLS)
        if self.limit:
            df = df.orderBy("o_orderkey").limit(self.limit)
        self._n_reg += 1
        self.path = os.path.join(self.work_dir, f"orders_m_{self._n_reg}")
        eng.create_managed("orders_m", self.path, df)
        self.eng = eng
        self.model = OrdersModel(src, self.limit)

    def pass_ops(self, rng):
        kinds = list(self.mix)
        rng.shuffle(kinds)
        m = self.model
        ops = []
        for kind in kinds:
            # every expectation is derived from the model at generation
            # time; ops run in the same order, so the replay is exact
            if kind == "point_read":
                k = m.pick(rng)
                ops.append((kind, ({"k": k}, m.rows.get(k))))
            elif kind == "grouped_read":
                c = rng.randrange(1, m.n_cust)
                ops.append((kind, ({"c": c}, m.grouped(c))))
            elif kind.startswith("insert"):
                row = (m.next_key, rng.randrange(m.n_cust), rng.choice("FOP"),
                       round(rng.uniform(1000, 500000), 2),
                       rng.choice(["1-URGENT", "2-HIGH", "5-LOW"]))
                m.next_key += 1
                m.put(row)
                binds = dict(zip("kcspq", row))
                ops.append((kind, (binds, [(row[0], row[3])])))
            elif kind.startswith("update"):
                k = m.pick(rng)
                old = m.rows[k]
                row = (k, old[1], rng.choice("FOP"),
                       round(rng.uniform(1000, 500000), 2), old[4])
                m.put(row)
                ops.append((kind, ({"k": k, "s": row[2], "p": row[3]},
                                   [(k, row[3])])))
            else:
                k = m.pick(rng)
                m.drop(k)
                ops.append((kind, ({"k": k}, [(k,)])))
        return ops

    def run_op(self, kind, payload):
        binds, expected = payload
        eng = self.eng
        ret = kind.endswith("_ret")
        if kind == "point_read":
            r = eng.fetch_option(POINT_READ, **binds)
            got = tuple(r) if r is not None else None
        elif kind == "grouped_read":
            got = sorted(tuple(r) for r in eng.fetch_list(GROUPED_READ, **binds))
        elif kind.startswith("insert"):
            got = self._write(INSERT + (" returning o_orderkey, o_totalprice" if ret else ""),
                              binds, ret)
        elif kind.startswith("update"):
            got = self._write(UPDATE + (" returning o_orderkey, o_totalprice" if ret else ""),
                              binds, ret)
        else:
            got = self._write(DELETE + (" returning o_orderkey" if ret else ""), binds, ret)
        if ret or kind.endswith("read"):
            if got != expected:
                raise Mismatch(f"{kind} {binds}: got {got!r}, expected {expected!r}")

    def _write(self, src, binds, ret):
        out = self.eng.exec(src, **binds)
        return sorted(tuple(r) for r in out.collect()) if ret else None

    def gate(self):
        got = {tuple(r)[0]: tuple(r) for r in self.eng.fetch_list(FULL_SCAN)}
        want = dict(self.model.rows)
        if self.corrupt:
            k = next(iter(want))
            want[k] = want[k][:3] + (want[k][3] + 1.0,) + want[k][4:]
        if got == want:
            return []
        diff = [k for k in set(got) | set(want) if got.get(k) != want.get(k)]
        return [f"orders_m differs from the replay on {len(diff)} keys, "
                f"e.g. {sorted(diff)[:3]}"]

    def finish_trace(self):
        import glob
        import tempfile

        versions = [d for d in os.listdir(self.path) if d.startswith("_v_")]
        tmp = glob.glob(os.path.join(tempfile.gettempdir(), "sqlpp_returning_*"))
        return {"engine.versions_on_disk": float(len(versions)),
                "engine.returning_tmp_dirs": float(len(tmp))}


WORKLOADS = {w.name: w for w in (ReadMix, DmlMixed)}
