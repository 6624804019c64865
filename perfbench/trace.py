"""Spans around the engine's public entry points, recorded from outside.

``Tracer.install()`` wraps the functions and methods below in place and
``uninstall()`` puts the originals back; nothing inside ``sqlpp_spark``
is edited. Each span records its name, start, end, parent and op id and
stays in memory until ``dump``. Every span also gets its own Spark job
group, so after the timed window the jobs (and their stages) that ran
under each span can be read back from Spark's status store.
"""

from __future__ import annotations

import contextlib
import functools
import json
import sys
import time
from dataclasses import asdict, dataclass, field

# (module, attribute, span name). Module-level functions are also
# replaced in every sqlpp_spark module that imported them by name.
FUNCTIONS = (
    ("sqlpp_spark.frontend.parser", "parse_query", "frontend.parse"),
    ("sqlpp_spark.sources.tables", "read_table", "sources.read_table"),
    ("sqlpp_spark.engine", "commit_version", "engine.commit"),
)
METHODS = (
    ("sqlpp_spark.frontend.analyze", "Analyzer", "analyze_query", "frontend.analyze"),
    ("sqlpp_spark.compiler.compile", "Compiler", "compile_query", "compiler.compile"),
    ("sqlpp_spark.engine", "SqlppEngine", "exec", "engine.exec"),
    ("sqlpp_spark.engine", "SqlppEngine", "fetch_list", "engine.fetch_list"),
    ("sqlpp_spark.engine", "SqlppEngine", "fetch_option", "engine.fetch_option"),
)


@dataclass
class Span:
    sid: int
    name: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0
    group: str = ""
    attrs: dict = field(default_factory=dict)


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._op = -1
        self._undo: list[tuple[object, str, object]] = []
        self.on_commit = None  # callback(span, committed_dir), outside the span

    # -- spans --------------------------------------------------------------

    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(span.group, span.name)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, self._op,
                 parent.sid if parent else None, 0.0, attrs=attrs)
        s.group = f"perfbench-{s.sid}"
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)

    @contextlib.contextmanager
    def op(self, op_id: int, kind: str):
        self._op = op_id
        with self.span("op", kind=kind) as s:
            yield s

    # -- patching -----------------------------------------------------------

    def _wrap(self, fn, name):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name) as s:
                out = fn(*args, **kwargs)
            if name == "engine.commit" and tracer.on_commit is not None:
                tracer.on_commit(s, out)
            return out

        return traced

    def _replace(self, owner, attr, new) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def install(self) -> None:
        import importlib

        for mod_name, attr, name in FUNCTIONS:
            orig = getattr(importlib.import_module(mod_name), attr)
            traced = self._wrap(orig, name)
            for mod in list(sys.modules.values()):
                if (getattr(mod, "__name__", "").startswith("sqlpp_spark")
                        and getattr(mod, attr, None) is orig):
                    self._replace(mod, attr, traced)
        for mod_name, cls_name, attr, name in METHODS:
            cls = getattr(importlib.import_module(mod_name), cls_name)
            self._replace(cls, attr, self._wrap(getattr(cls, attr), name))

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)
        self._set_group(None)

    # -- Spark status -------------------------------------------------------

    def collect_jobs(self) -> None:
        """Attach job/stage counters to every span (after the window)."""
        jsc = self.sc._jsc.sc()
        with contextlib.suppress(Exception):
            jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = jsc.statusStore()
        for s in self.spans:
            jobs = tracker.getJobIdsForGroup(s.group)
            if not jobs:
                continue
            st = dict(jobs=len(jobs), stages=0, tasks=0, run_ms=0.0,
                      cpu_ms=0.0, shuffle_read=0, shuffle_write=0, spill=0)
            for j in jobs:
                info = tracker.getJobInfo(j)
                for sid in (info.stageIds if info else ()):
                    try:
                        sd = store.lastStageAttempt(sid)
                    except Exception:  # skipped stage: never attempted
                        continue
                    if str(sd.status()) == "SKIPPED":
                        continue
                    st["stages"] += 1
                    st["tasks"] += sd.numCompleteTasks()
                    st["run_ms"] += sd.executorRunTime()
                    st["cpu_ms"] += sd.executorCpuTime() / 1e6
                    st["shuffle_read"] += (sd.shuffleRemoteBytesRead()
                                           + sd.shuffleLocalBytesRead())
                    st["shuffle_write"] += sd.shuffleWriteBytes()
                    st["spill"] += sd.diskBytesSpilled()
            s.attrs.update(st)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")


def catalyst_plan_ms(df) -> float:
    """Sum of the Catalyst phase times recorded on ``df``'s own
    QueryExecution (analysis, optimization, planning)."""
    phases = df._jdf.queryExecution().tracker().phases()
    it = phases.iterator()
    total = 0.0
    while it.hasNext():
        total += it.next()._2().durationMs()
    return float(total)
