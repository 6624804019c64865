"""One benchmark run of one workload, in a fresh process.

Started by ``run.py`` with the environment it prepares; writes its result
as JSON to the path given as the last argument. The phases are: start the
session, register the workload three times (the median counts towards
``setup_s``), warm up until two passes agree, run the timed window, and
finally run the correctness gate outside timing. With ``--trace 1`` an
untraced window is followed by a traced one, and the result holds the
per-layer metrics instead of the end-to-end ones.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import statistics
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import metrics  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

REGISTRATIONS = 3
MIN_WARM, MAX_WARM, STEADY = 2, 3, 0.10


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Window:
    """A fixed number of whole passes in a closed loop (one op in
    flight); latencies and failures per op."""

    def __init__(self):
        self.lat_ms: list[float] = []
        self.kinds: list[tuple[str, str]] = []  # (kind, row name)
        self.ends: list[float] = []
        self.failed = 0
        self.attempted = 0
        self.passes = 0
        self.errors: list[str] = []

    def run(self, wl, rng, passes, tracer=None, op_base=0):
        self.t0 = time.perf_counter()
        for _ in range(passes):
            for kind, payload in wl.pass_ops(rng):
                self.attempted += 1
                op_id = op_base + self.attempted
                t = time.perf_counter()
                try:
                    if tracer is None:
                        wl.run_op(kind, payload)
                    else:
                        with tracer.op(op_id, kind):
                            wl.run_op(kind, payload)
                except Exception as e:  # a failed op (Mismatch too) is counted; the run goes on
                    self.failed += 1
                    if len(self.errors) < 5:
                        self.errors.append("".join(
                            traceback.format_exception_only(type(e), e)).strip())
                    continue
                end = time.perf_counter()
                self.lat_ms.append((end - t) * 1000.0)
                name = payload if isinstance(payload, str) else kind
                self.kinds.append((kind, name))
                self.ends.append(end)
            self.passes += 1
        self.t1 = time.perf_counter()

    @property
    def elapsed(self) -> float:
        return self.t1 - self.t0

    def ops_per_s(self) -> float:
        return len(self.lat_ms) / self.elapsed

    def halves(self) -> tuple[float, float]:
        mid = self.t0 + self.elapsed / 2
        first = sum(1 for e in self.ends if e < mid)
        half = self.elapsed / 2
        return first / half, (len(self.ends) - first) / half


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--tiny", action="store_true")
    ap.add_argument("--corrupt-expected", action="store_true")
    ap.add_argument("out")
    args = ap.parse_args(argv)
    t_proc = float(os.environ["PERFBENCH_T0"])

    from sqlpp_spark.session import get_spark

    spark = get_spark("perfbench")
    session_s = time.time() - t_proc
    wl = WORKLOADS[args.workload](spark, args.data, args.work, args.tiny,
                                  args.corrupt_expected)
    reg = []
    for _ in range(REGISTRATIONS):
        t = time.perf_counter()
        wl.register()
        reg.append(time.perf_counter() - t)

    warm_rng = random.Random(args.seed * 7919 + 1)
    warm: list[float] = []
    lo, hi = (1, 1) if args.tiny else (MIN_WARM, MAX_WARM)
    while True:
        t = time.perf_counter()
        for kind, payload in wl.pass_ops(warm_rng):
            wl.run_op(kind, payload)
        warm.append(time.perf_counter() - t)
        if len(warm) >= hi or (len(warm) >= lo and
                               abs(warm[-1] - warm[-2]) <= STEADY * warm[-2]):
            break
    setup_s = session_s + statistics.median(reg) + sum(warm)
    _log(f"{args.workload}: session {session_s:.2f}s, registration "
         f"{[round(r, 3) for r in reg]}, warm-up passes {[round(w, 2) for w in warm]}")

    # the same number of passes in every run, so every run measures the
    # same ops at the same point of the JIT's progress; on the reference
    # host the window lasts about --seconds
    passes = max(1, round(args.seconds / wl.nominal_pass_s))
    rng = random.Random(args.seed)
    plain = Window()
    plain.run(wl, rng, passes)
    result = {"attempted": plain.attempted, "failed": plain.failed,
              "errors": list(plain.errors)}
    if args.trace:
        from perfbench.trace import Tracer

        tracer = Tracer(spark.sparkContext)
        wl.tracer = tracer
        tracer.on_commit = metrics.commit_size
        tracer.install()
        try:
            traced = Window()
            traced.run(wl, rng, passes, tracer, op_base=plain.attempted)
        finally:
            tracer.uninstall()
            wl.tracer = None
        tracer.collect_jobs()
        counters = wl.finish_trace()
        result["metrics"] = metrics.per_layer(plain, traced, tracer, counters, warm)
        result["attempted"] += traced.attempted
        result["failed"] += traced.failed
        result["errors"] += traced.errors
        tracer.dump(args.out + ".spans.jsonl")
    else:
        lat = plain.lat_ms
        result["metrics"] = {
            "setup_s": (setup_s, "s"),
            "ops_per_s": (plain.ops_per_s(), "1/s"),
            "op_geomean_ms": (math.exp(statistics.fmean(math.log(x) for x in lat)), "ms"),
            "op_p50_ms": (statistics.median(lat), "ms"),
        }
        first, second = plain.halves()
        result["samples"] = len(lat)
        result["halves_ops_per_s"] = [first, second]
        result["warmup_s"] = warm
        by_row: dict[str, list[float]] = {}
        for t, (_, name) in zip(lat, plain.kinds):
            by_row.setdefault(name, []).append(round(t, 1))
        result["latency_ms_by_row"] = by_row
    result["passes"] = plain.passes
    bad = wl.gate()
    result["gate"] = bad
    result["correct"] = not bad and result["failed"] == 0
    for line in bad + result["errors"]:
        _log(f"{args.workload}: {line}")
    with open(args.out, "w") as fh:
        json.dump(result, fh)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
