"""Benchmark entry point.

    python3 perfbench/run.py --workload typed_fetch --seed 1 --seconds 8 --trace 0

Run from the root of a checkout of this repository. Generates the
workload's tables from ``--seed`` under a scratch directory inside the
checkout, starts ``worker.py`` in a fresh process pinned to ``--cpus``
CPUs (Spark runs as ``local[cpus]``), samples the resident memory of the
worker's whole process tree (Python, the JVM and Spark's Python workers),
and prints one JSON line with ``correct``, ``attempted``, ``failed`` and
``metrics``. The scratch directory is removed afterwards; a record of
the run (and, when traced, its spans) is kept under ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TIMEOUT_S = 150
HEAP = "1g"
PAGE = os.sysconf("SC_PAGE_SIZE")
PR_SET_CHILD_SUBREAPER = 36


def _ppids() -> dict[int, int]:
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                out[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
    return out


def _statm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return fh.read()
    except OSError:
        return ""


def tree_rss_mb(pid: int) -> float:
    """Resident memory of ``pid`` and its descendants. A child whose
    memory counters equal its parent's is skipped: it is a fork (the JVM
    spawning a helper command) that has not exec'd yet, still showing
    the parent's pages."""
    ppid = _ppids()
    kids: dict[int, list[int]] = {}
    for p, pp in ppid.items():
        kids.setdefault(pp, []).append(p)
    todo, total = [pid], 0
    while todo:
        p = todo.pop()
        todo.extend(kids.get(p, ()))
        m = _statm(p)
        if m and (p == pid or m != _statm(ppid.get(p, 0))):
            total += int(m.split()[1]) * PAGE
    return total / 2**20


def _run_pids(sid: int) -> list[int]:
    """Live (non-zombie) processes of the run: those of session ``sid``,
    and any orphan re-parented to this process."""
    me, out = os.getpid(), []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            # after the command: state, ppid, pgrp, session, ...
            if fields[0] != "Z" and (int(fields[3]) == sid or int(fields[1]) == me):
                out.append(int(d))
        except (OSError, IndexError, ValueError):
            pass
    return out


def _stop_session(sid: int) -> None:
    """Kill every process of the run and wait until none is left. Each is
    signalled by pid: Spark's Python daemon moves itself into a process
    group of its own, which a signal to the worker's group would miss,
    and the JVM outlives the worker by seconds."""
    deadline = time.time() + 60
    while pids := _run_pids(sid):
        if time.time() > deadline:
            raise RuntimeError(f"perfbench: processes {pids} of the run did not stop")
        for p in pids:
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass
        time.sleep(0.05)


def _reap_children() -> None:
    """Wait for every (killed) child; with the subreaper flag set, the
    run's orphans (the JVM once the worker is gone) are children of this
    process."""
    while True:
        try:
            os.waitpid(-1, 0)
        except ChildProcessError:
            return


def _terminate(signum, _frame):
    raise SystemExit(128 + signum)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=2,
                    help="Spark task slots (local[N]) and CPUs the run is pinned to")
    ap.add_argument("--tiny", action="store_true",
                    help="smallest inputs and op lists (smoke tests)")
    ap.add_argument("--corrupt-expected", action="store_true",
                    help="change one expected value; the gate must then fail")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "sqlpp_spark", "__init__.py")):
        print(f"perfbench: no sqlpp_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import datagen
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]

    run_dir = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    shutil.rmtree(run_dir, ignore_errors=True)
    dirs = {k: os.path.join(run_dir, k) for k in ("data", "work", "tmp", "spark-local")}
    for d in (*dirs.values(), out_dir):
        os.makedirs(d, exist_ok=True)
    datagen.generate(dirs["data"], 0.001 if args.tiny else wl.sf, args.seed)

    allowed = sorted(os.sched_getaffinity(0))
    pin = set(allowed[: args.cpus + 1])  # task slots plus one for the driver
    env = dict(
        os.environ,
        PYTHONPATH=ROOT,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        SPARK_GRAFT_CPUS=str(args.cpus),
        SPARK_GRAFT_DRIVER_MEM=HEAP,
        # a heap that is resident from the start: peak RSS then measures
        # what is outside it (JVM code and metadata, Python, Python
        # workers) instead of when the collector chose to grow the heap
        PYSPARK_SUBMIT_ARGS=f"--driver-java-options '-Xms{HEAP} -XX:+AlwaysPreTouch' pyspark-shell",
        # every JVM (the launcher too) keeps its files in the scratch dir
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={dirs['tmp']}",
        SPARK_LOCAL_DIRS=dirs["spark-local"],
        TMPDIR=dirs["tmp"],
    )
    env.pop("SPARK_GRAFT_SF_DIR", None)
    result_path = os.path.join(run_dir, "result.json")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--data", dirs["data"], "--work", dirs["work"], result_path]
    if args.tiny:
        cmd.append("--tiny")
    if args.corrupt_expected:
        cmd.append("--corrupt-expected")

    # orphans of the run are re-parented here rather than to init, so
    # that they can be waited for
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    signal.signal(signal.SIGTERM, _terminate)
    signal.signal(signal.SIGHUP, _terminate)
    load_before = os.getloadavg()[0]
    env["PERFBENCH_T0"] = repr(time.time())
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, start_new_session=True,
                            preexec_fn=lambda: os.sched_setaffinity(0, pin),
                            stdout=sys.stderr)
    peak = 0.0
    t_end = time.time() + TIMEOUT_S
    try:
        while proc.poll() is None:
            peak = max(peak, tree_rss_mb(proc.pid))
            if time.time() > t_end:
                print("perfbench: worker timed out", file=sys.stderr)
                break
            time.sleep(0.2)
    finally:
        # on every way out, the worker, the JVM and Spark's Python
        # workers are gone before the scratch dir is removed
        _stop_session(proc.pid)
        proc.wait()
        _reap_children()
        tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
        if os.path.exists(result_path + ".spans.jsonl"):
            shutil.move(result_path + ".spans.jsonl",
                        os.path.join(out_dir, tag + ".spans.jsonl"))
        try:
            with open(result_path) as fh:
                res = json.load(fh)
        except (OSError, ValueError):
            res = None
        shutil.rmtree(run_dir, ignore_errors=True)
        if not os.listdir(os.path.dirname(run_dir)):
            os.rmdir(os.path.dirname(run_dir))
    load_after = os.getloadavg()[0]
    if res is None or proc.returncode != 0:
        print(f"perfbench: worker failed (exit {proc.returncode})", file=sys.stderr)
        return 1

    metrics = {k: {"value": v, "unit": u} for k, (v, u) in res.pop("metrics").items()}
    if args.trace:
        metrics["steady.load_before"] = {"value": load_before, "unit": "load"}
        metrics["steady.load_after"] = {"value": load_after, "unit": "load"}
    else:
        metrics["peak_rss_mb"] = {"value": peak, "unit": "MB"}
    record = dict(res, workload=args.workload, seed=args.seed, cpus=args.cpus,
                  loadavg=[load_before, load_after], metrics=metrics)
    with open(os.path.join(out_dir, tag + ".json"), "w") as fh:
        json.dump(record, fh, indent=1)
    line = {"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
            "failed": int(res["failed"]), "metrics": metrics}
    print(json.dumps(line), flush=True)
    return 0 if line["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
