"""Engine benchmark: one run of one workload, reported as one JSON line.

Run from the repository root:

    python3 perfbench/run.py --workload reference --seed 1 --seconds 12 --trace 0

Each run is its own child process (``harness.py``) with its scratch space
(temp dir, streaming checkpoints, warehouse, Spark local dirs, event log)
under ``perfbench/.work/``; the scratch is removed afterwards, also when
the child crashes or times out, and every process the child started is
stopped.  The last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0`` the
end-to-end metrics, with ``--trace 1`` the per-layer ones.  The full
record (provenance, per-query times, spans, every layer number) goes to
``perfbench/.work/records/``.
"""

from __future__ import annotations

import argparse
import ctypes
import hashlib
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from layers import LAYER_METRICS, ZERO_BY_DESIGN  # noqa: E402
from workloads import DATA_DIR, WORKLOADS  # noqa: E402

#: (name, unit) of every end-to-end metric, in report order
END_TO_END = (
    ("setup_s", "s"),
    ("cold_pass_s", "s"),
    ("pass_s", "s"),
    ("query_p50_s", "s"),
    ("heap_live_mb", "MB"),
    ("scratch_mb", "MB"),
)

PACKAGE = "nosql_join_stream_spark"
#: a run must end within 180 s; leave room for reaping and clean-up
CHILD_TIMEOUT_S = 150
PR_SET_CHILD_SUBREAPER = 36


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="recorded only: a run makes its workload's fixed "
                         "number of timed passes")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--expected", default=None,
                    help="expected-digest file (default: the stored one)")
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE}/ package under {root}; run from "
              "the repository root", file=sys.stderr)
        return 2
    if not os.path.isdir(DATA_DIR):
        print(f"perfbench: data directory {DATA_DIR} is missing",
              file=sys.stderr)
        return 2

    signal.signal(signal.SIGTERM, _raise_exit)
    # orphans of the child (its JVM, the JVM's Python workers) become this
    # process's children, so it can wait for each of them to end
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    work = os.path.join(HERE, ".work")
    run_dir = os.path.join(work, f"run-{os.getpid()}-{uuid.uuid4().hex[:8]}")
    os.makedirs(run_dir)
    provenance = _provenance(root, args)
    cpu_start = _cpu_ticks()
    try:
        result = _run_child(args, root, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    provenance["loadavg_end"] = os.getloadavg()
    provenance["cpu_probe_end_s"] = _cpu_probe()
    provenance["cpu_steal_share"] = _steal_share(cpu_start, _cpu_ticks())
    if result is None:
        return 1

    if args.trace:
        shown, values = LAYER_METRICS, result["layers"]
        carried = [(n, u) for n, u in LAYER_METRICS if n not in ZERO_BY_DESIGN]
    else:
        shown = carried = END_TO_END
        values = {**result, "setup_s": result["ready_wall"] - result["spawn_wall"]}
    metrics = {name: {"value": values[name], "unit": unit} for name, unit in carried}

    records = os.path.join(work, "records")
    os.makedirs(records, exist_ok=True)
    record_path = os.path.join(
        records, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(record_path, "w") as fh:
        json.dump({"provenance": provenance, "metrics": metrics, **result},
                  fh, indent=1, default=str)

    for name, unit in shown:
        print(f"{name} = {values[name]:.6g} {unit}")
    print(f"samples = {result['samples']}  fail_frac = "
          f"{result['failed'] / result['attempted']:.4g}  "
          f"record = {os.path.relpath(record_path, root)}")
    for f in result["failures"]:
        print(f"FAILED {f['pass']} {f['query']}: {f['error'].strip()}",
              file=sys.stderr)
    print(json.dumps({"correct": result["failed"] == 0,
                      "attempted": result["attempted"],
                      "failed": result["failed"],
                      "metrics": metrics}))
    return 0


def _run_child(args, root: str, run_dir: str) -> dict | None:
    """Run ``harness.py`` in its own process group; None if it failed."""
    out = os.path.join(run_dir, "result.json")
    log_path = os.path.join(run_dir, "child.log")
    env = dict(os.environ,
               TMPDIR=os.path.join(run_dir, "tmp"),
               NSJS_STREAM_CKPT_DIR=os.path.join(run_dir, "ckpt"),
               SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
               PYTHONHASHSEED="0",
               PERFBENCH_RUN=os.path.basename(run_dir))
    cmd = [sys.executable, os.path.join(HERE, "harness.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--trace", str(args.trace),
           "--run-dir", run_dir, "--out", out]
    if args.expected:
        cmd += ["--expected", os.path.abspath(args.expected)]
    with open(log_path, "w") as log:
        spawn_wall = time.time()
        proc = subprocess.Popen(cmd, cwd=root, env=env, stdout=log,
                                stderr=subprocess.STDOUT,
                                start_new_session=True)
        rc = None
        try:
            rc = proc.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            pass
        finally:
            exit_wall = time.time()
            _stop_group(proc, env["PERFBENCH_RUN"])
    if rc != 0 or not os.path.exists(out):
        why = "timed out" if rc is None else f"exited with {rc}"
        print(f"perfbench: run {why}; last lines of its log:", file=sys.stderr)
        with open(log_path, errors="replace") as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        return None
    with open(out) as fh:
        result = json.load(fh)
    result["spawn_wall"] = spawn_wall
    result["child_wall_s"] = exit_wall - spawn_wall
    result["reap_s"] = time.time() - exit_wall
    return result


def _stop_group(proc: subprocess.Popen, token: str) -> None:
    """Kill the child and everything it started (JVM, Python workers),
    and wait until all of them have ended.  A child that exits by itself
    has stopped its Spark session first; left alone, its JVM would spend
    about two more seconds in shutdown hooks that only clean the run
    directory, which is removed anyway.  Killing the child's process
    group is not enough: PySpark's worker daemon moves itself and its
    forked workers into a group of their own.  So every descendant of
    this process, and every process that inherited this run's
    ``PERFBENCH_RUN`` token in its environment (in case one was adopted
    by another process), is killed by pid until none is left; the
    orphans this process adopts as their subreaper are reaped."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.monotonic() + 20.0
    while True:
        _reap()
        alive = _descendants() | _marked(token)
        if not alive:
            break
        if time.monotonic() > deadline:
            print(f"perfbench: processes {sorted(alive)} did not end",
                  file=sys.stderr)
            break
        for pid in alive:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.02)


def _reap() -> None:
    """Collect the exit status of every child that has ended."""
    try:
        while os.waitpid(-1, os.WNOHANG)[0]:
            pass
    except ChildProcessError:
        pass


def _marked(token: str) -> set[int]:
    """Pids of live processes whose environment carries this run's token."""
    mark = f"\0PERFBENCH_RUN={token}\0".encode()
    found = set()
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/environ", "rb") as fh:
                if mark in b"\0" + fh.read() + b"\0":
                    found.add(int(entry))
        except OSError:
            continue
    return found


def _descendants() -> set[int]:
    """Pids of every live process below this one, zombies included."""
    parent_of = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; the fields after it do not
        parent_of[int(entry)] = int(stat.rpartition(")")[2].split()[1])
    found, frontier = set(), {os.getpid()}
    while frontier:
        frontier = {pid for pid, ppid in parent_of.items()
                    if ppid in frontier and pid not in found}
        found |= frontier
    return found


def _provenance(root: str, args) -> dict:
    src = hashlib.sha256()
    for dirpath, _dirs, files in sorted(os.walk(os.path.join(root, PACKAGE))):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(dirpath, f), "rb") as fh:
                    src.update(fh.read())
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root,
                                capture_output=True, text=True,
                                timeout=10).stdout.strip() or None
    except (OSError, subprocess.TimeoutExpired):
        commit = None
    return {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "commit": commit, "source_sha256": src.hexdigest(),
        "cwd": root, "nproc": os.cpu_count(),
        "loadavg_start": os.getloadavg(),
        "cpu_probe_start_s": _cpu_probe(),
        "python": platform.python_version(),
        "env": {k: v for k, v in os.environ.items()
                if k.startswith(("SPARK_GRAFT_", "NSJS_"))},
    }


def _cpu_probe() -> float:
    """Seconds to hash 16 MB, best of five: a machine-speed reading taken
    beside each run, so runs on a slowed machine can be told apart."""
    buf = bytes(16 << 20)
    best = float("inf")
    for _ in range(5):
        t = time.perf_counter()
        hashlib.sha256(buf).digest()
        best = min(best, time.perf_counter() - t)
    return best


def _cpu_ticks() -> list[int] | None:
    """Machine-wide CPU tick counters (user ... steal), where readable."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:9]]
    except (OSError, ValueError):
        return None


def _steal_share(start, end) -> float | None:
    """Share of CPU time the hypervisor gave to other guests meanwhile."""
    if not start or not end:
        return None
    delta = [b - a for a, b in zip(start, end)]
    return delta[7] / sum(delta) if sum(delta) else None


def _raise_exit(signum, frame):
    raise SystemExit(128 + signum)


if __name__ == "__main__":
    sys.exit(main())
