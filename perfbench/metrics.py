"""Per-layer metrics from a traced window.

Times are per op (ms per timed op) unless the name says otherwise, so
that the ``self.*`` entries add up to ``op.wall_ms``: each span's self
time is its duration minus its children's, and ``self.untraced_ms`` is
what the op spent outside every wrapped entry point (the benchmark's own
code between calls, Row conversion, checks).
"""

from __future__ import annotations

import os
import statistics
from collections import Counter, defaultdict

import pyarrow.parquet as pq

from perfbench.workloads import BATCH_ROWS

# span name -> metric prefix for the self-time split
SELF_LAYERS = {
    "op": "self.untraced_ms",
    "frontend.parse": "self.frontend.parse_ms",
    "frontend.analyze": "self.frontend.analyze_ms",
    "compiler.compile": "self.compiler.compile_ms",
    "sources.read_table": "self.sources.read_table_ms",
    "queries.build": "self.queries.build_ms",
    "exec": "self.exec_ms",
    "engine.exec": "self.engine.exec_ms",
    "engine.fetch_list": "self.engine.fetch_list_ms",
    "engine.fetch_option": "self.engine.fetch_option_ms",
    "engine.commit": "self.engine.commit_ms",
}
DML_KINDS = {
    "engine.point_read_ms": ("point_read",),
    "engine.grouped_read_ms": ("grouped_read",),
    "engine.insert_ms": ("insert", "insert_ret"),
    "engine.update_ms": ("update", "update_ret"),
    "engine.delete_ms": ("delete", "delete_ret"),
}


def _q(xs, p):
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(p * len(xs)))] if xs else 0.0


def commit_size(span, data_dir) -> None:
    """``Tracer.on_commit``: bytes and rows of the committed version."""
    size = rows = 0
    for f in os.listdir(data_dir):
        full = os.path.join(data_dir, f)
        size += os.path.getsize(full)
        if f.endswith(".parquet"):
            rows += pq.ParquetFile(full).metadata.num_rows
    span.attrs.update(bytes=size, rows=rows)


def per_layer(plain, traced, tracer, counters, warm) -> dict:
    spans = tracer.spans
    ops = [s for s in spans if s.name == "op"]
    n = max(len(ops), 1)
    by_id = {s.sid: s for s in spans}
    child_s = defaultdict(float)
    for s in spans:
        if s.parent is not None:
            child_s[s.parent] += s.end - s.start

    def outermost(s):
        p = s.parent
        while p is not None:
            if by_id[p].name == s.name:
                return False
            p = by_id[p].parent
        return True

    # jobs and stage counters summed over each span's subtree
    sub = defaultdict(Counter)
    for s in reversed(spans):
        for k in ("jobs", "stages", "tasks", "run_ms", "cpu_ms",
                  "shuffle_read", "shuffle_write", "spill"):
            if k in s.attrs:
                sub[s.sid][k] += s.attrs[k]
        if s.parent is not None:
            sub[s.parent].update(sub[s.sid])

    incl = defaultdict(float)
    calls = Counter()
    jobs = Counter()
    for s in spans:
        if outermost(s):
            incl[s.name] += (s.end - s.start) * 1000.0
            jobs[s.name] += sub[s.sid]["jobs"]
        calls[s.name] += 1
    self_ms = defaultdict(float)
    for s in spans:
        self_ms[s.name] += (s.end - s.start - child_s[s.sid]) * 1000.0

    ex = Counter()
    plan_ms = 0.0
    for s in spans:
        if s.name == "exec":
            ex.update(sub[s.sid])
            plan_ms += s.attrs.get("plan_ms", 0.0)
    commits = [s for s in spans if s.name == "engine.commit"]
    written = [s.attrs["bytes"] for s in commits if "bytes" in s.attrs]
    # every write op changes one row and commits once, so bytes written
    # over bytes of rows changed is the rows each commit rewrites
    amp = [s.attrs["rows"] for s in commits if s.attrs.get("rows")]

    wall = incl["op"]
    m = {
        "op.wall_ms": wall / n,
        "frontend.parse_ms": incl["frontend.parse"] / n,
        "frontend.parse_calls": calls["frontend.parse"] / n,
        "frontend.analyze_ms": incl["frontend.analyze"] / n,
        "frontend.analyze_calls": calls["frontend.analyze"] / n,
        "compiler.compile_ms": incl["compiler.compile"] / n,
        "compiler.jobs": jobs["compiler.compile"] / n,
        "queries.build_ms": incl["queries.build"] / n,
        "queries.build_jobs": jobs["queries.build"] / n,
        "queries.build_share": incl["queries.build"] / wall if wall else 0.0,
        "exec.plan_ms": plan_ms / n,
        "exec.jobs": ex["jobs"] / n,
        "exec.stages": ex["stages"] / n,
        "exec.tasks": ex["tasks"] / n,
        "exec.executor_run_ms": ex["run_ms"] / n,
        "exec.executor_cpu_ms": ex["cpu_ms"] / n,
        "exec.shuffle_read_mb": ex["shuffle_read"] / 1e6 / n,
        "exec.shuffle_write_mb": ex["shuffle_write"] / 1e6 / n,
        "exec.spill_mb": ex["spill"] / 1e6 / n,
        "sources.read_table_ms": incl["sources.read_table"] / n,
        "sources.read_table_calls": calls["sources.read_table"] / n,
        "engine.commit_ms": (incl["engine.commit"] / len(commits)) if commits else 0.0,
        "engine.bytes_written_per_write": statistics.fmean(written) if written else 0.0,
        "engine.write_amp": statistics.fmean(amp) if amp else 0.0,
        "engine.versions_on_disk": 0.0,
        "engine.returning_tmp_dirs": 0.0,
        "queries.leaked_rdds": 0.0,
    }
    for name, kinds in DML_KINDS.items():
        xs = [t for t, (k, _) in zip(plain.lat_ms, plain.kinds) if k in kinds]
        m[name] = statistics.median(xs) if xs else 0.0
    m.update(counters)
    for span_name, metric in SELF_LAYERS.items():
        m[metric] = self_ms[span_name] / n
    m["op.p90_ms"] = _q(plain.lat_ms, 0.9)
    m["op.max_ms"] = max(plain.lat_ms) if plain.lat_ms else 0.0
    for row in (*BATCH_ROWS, "sqlpp_recursive_spine"):
        xs = [t for t, (_, r) in zip(plain.lat_ms, plain.kinds) if r == row]
        m[f"row.{row}.p50_ms"] = statistics.median(xs) if xs else 0.0
    m["trace.overhead"] = traced.ops_per_s() / plain.ops_per_s()
    first, second = plain.halves()
    m["steady.first_half_ops_per_s"] = first
    m["steady.second_half_ops_per_s"] = second
    m["steady.warmup_passes"] = float(len(warm))
    m["steady.window_passes"] = float(plain.passes)
    m["steady.samples"] = float(len(plain.lat_ms))
    return {k: (float(v), UNITS.get(k, _unit(k))) for k, v in m.items()}


def _unit(name: str) -> str:
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_mb"):
        return "MB"
    return "count"


UNITS = {
    "queries.build_share": "ratio",
    "trace.overhead": "ratio",
    "engine.write_amp": "ratio",
    "engine.bytes_written_per_write": "B",
    "steady.first_half_ops_per_s": "1/s",
    "steady.second_half_ops_per_s": "1/s",
    "steady.load_before": "load",
    "steady.load_after": "load",
}
