"""One benchmark run inside a fresh process; ``run.py`` starts it.

The run goes: set-up (session plus a first catalog scan), one cold pass
that also checks every result digest, then a fixed number of timed
passes.  A pass runs every query of the workload once: the cold pass in
the workload's listed order, the timed ones in an order drawn from the
seed.  After the timed
phase it measures the live heap and the scratch space the run left.
With ``--trace 1`` the last timed pass is followed by a traced one,
which feeds the per-layer numbers.

Writes its findings as JSON to ``--out``; prints nothing that matters.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import random
import statistics
import sys
import time
import traceback

import digest as digest_mod
import layers
from workloads import DATA_DIR, STANDING, TIMED_PASSES, WORKLOADS

#: Spark local[N]; fixed so a run does the same work on any machine
CPUS = 4
#: fixed JVM heap: a heap left to grow sized itself differently per
#: process, and the faster processes were the ones with the larger heap
HEAP = "2g"
#: traced passes in a ``--trace 1`` run, each after one of the last
#: untraced ones, so they are compared with passes as warm as themselves;
#: a second one cost about 4 s a run, and per-layer numbers carry no bound
TRACED_PASSES = 1


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--expected", default=digest_mod.EXPECTED_PATH)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    t_start = time.perf_counter()
    sys.path.insert(0, os.getcwd())
    from nosql_join_stream_spark.catalog import load_table
    from nosql_join_stream_spark.queries import REGISTRY
    from nosql_join_stream_spark.session import get_session
    import pyspark

    scratch = {d: os.path.join(args.run_dir, d)
               for d in ("tmp", "ckpt", "warehouse", "eventlog")}
    for d in scratch.values():
        os.makedirs(d, exist_ok=True)
    conf = {
        "spark.driver.memory": HEAP,
        "spark.driver.extraJavaOptions":
            f"-Xms{HEAP} -XX:-UsePerfData -Djava.io.tmpdir={scratch['tmp']}",
        "spark.sql.warehouse.dir": scratch["warehouse"],
    }
    if args.trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + scratch["eventlog"],
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    t_session = time.perf_counter()
    spark = get_session("perfbench", cpus=CPUS, extra_conf=conf)
    session_s = time.perf_counter() - t_session
    load_table(spark, "lineitem", DATA_DIR).count()
    ready_wall = time.time()
    phase_s = {"setup": time.perf_counter() - t_start}

    tracer = None
    if args.trace:
        tracer = layers.Tracer(spark)
        tracer.install()

    names = WORKLOADS[args.workload]
    rng = random.Random(args.seed)
    bench = Bench(spark, REGISTRY, tracer)

    def order():
        return rng.sample(names, len(names))

    # the cold pass keeps one order, so its first-use costs (codegen,
    # Python-worker start) land on the same queries in every run
    bench.expected = digest_mod.load_expected(args.expected)
    t = time.perf_counter()
    cold = bench.run_pass("cold", list(names), check=True)
    phase_s["cold"] = time.perf_counter() - t
    timed, traced = [], []
    t_timed = time.perf_counter()
    n_timed = TIMED_PASSES[args.workload]
    for i in range(n_timed):
        timed.append(bench.run_pass(f"u{i}", order()))
        if args.trace and i >= n_timed - TRACED_PASSES:
            traced.append(bench.run_pass(f"t{i}", order(), traced=True))
    phase_s["timed"] = time.perf_counter() - t_timed
    if args.trace:
        tracer.add_root("run", t_timed)

    # collector time of the whole run so far, before the forced collections
    gc_s = jvm_gc_seconds(spark)
    heap_live_mb = live_heap_mb(spark)
    scratch_mb = sum(du(scratch[d]) for d in ("tmp", "ckpt", "warehouse")) / 1e6

    steady = {q: statistics.median(p["queries"][q] for p in timed
                                   if q in p["queries"])
              for q in names if any(q in p["queries"] for p in timed)}
    result = {
        "ready_wall": ready_wall,
        "import_s": t_session - t_start,
        "session_s": session_s,
        "spark": pyspark.__version__,
        "passes": {p["label"]: p for p in [cold, *timed, *traced]},
        "phase_s": phase_s,
        "cold_pass_s": cold["wall"],
        "pass_s": statistics.median(p["wall"] for p in timed),
        # the median over queries of each query's steady latency: one
        # sample per query, so no single query's passes outweigh another's
        "query_p50_s": statistics.median(steady.values()),
        "samples": sum(len(p["queries"]) for p in timed),
        "heap_live_mb": heap_live_mb,
        "jvm_gc_s": gc_s,
        "scratch_mb": scratch_mb,
        "steady": steady,
        "attempted": bench.attempted,
        "failed": len(bench.failures),
        "failures": bench.failures,
        "digests": bench.digests,
    }
    if tracer is not None:
        # let the listener bus deliver the last progress events; the
        # event log is complete only once the session stops.  An untraced
        # run leaves the JVM to the parent, which kills it
        time.sleep(1.0)
        spark.stop()
        standing_s = sum(max(cold["queries"][q] - steady[q], 0.0)
                         for q in names if q in STANDING
                         and q in cold["queries"] and q in steady)
        overhead_s = (statistics.median(p["wall"] for p in traced)
                      - result["pass_s"])
        events = layers.parse_event_log(scratch["eventlog"], tracer.stream_runs)
        result["layers"] = layers.layer_metrics(
            tracer, events, [p["label"] for p in traced],
            {"session.start_s": session_s, "standing.build_s": standing_s,
             "exec.gc_s": gc_s,
             "trace.overhead_s": overhead_s})
        result["unattributed_jobs"] = events["unattributed_jobs"]
        result["spans"] = tracer.spans
        result["per_query_traced"] = bench.traced_split
    phase_s["total"] = time.perf_counter() - t_start
    with open(args.out, "w") as fh:
        json.dump(result, fh, default=str)
    return 0


class Bench:
    """Runs passes over the registry and keeps score."""

    def __init__(self, spark, registry, tracer):
        self.spark = spark
        self.registry = registry
        self.tracer = tracer
        self.attempted = 0
        self.failures: list[dict] = []
        self.expected: dict = {}
        self.digests: dict = {}
        #: query -> pass label -> (build, plan, exec) seconds
        self.traced_split: dict[str, dict[str, list]] = {}
        #: (query, QueryExecution) of the traced pass under way
        self._planned: list[tuple] = []

    def run_pass(self, label: str, order: list[str], traced: bool = False,
                 check: bool = False) -> dict:
        times = {}
        if check:
            for q in order:
                self._attempt(label, q, times, self._checked_query)
        elif traced:
            self.tracer.active = True
            with self.tracer.span("pass", label=label):
                for q in order:
                    self._attempt(label, q, times, self._traced_query)
            self.tracer.active = False
            # read the planning trackers outside every query's wall
            for q, qe in self._planned:
                self.tracer.record_planning(label, q, qe)
            self._planned.clear()
        else:
            for q in order:
                self._attempt(label, q, times, self._plain_query)
        # a pass is the sum over its queries; failed ones are left out
        return {"label": label, "order": order, "queries": times,
                "wall": sum(times.values())}

    def _attempt(self, label, q, times, fn) -> None:
        """Time ``fn``; a check it returns runs after the timing."""
        self.attempted += 1
        t = time.perf_counter()
        try:
            check = fn(label, q)
            times[q] = time.perf_counter() - t
            if check is not None:
                check()
        except Exception:
            times.pop(q, None)
            self.failures.append({"pass": label, "query": q,
                                  "error": traceback.format_exc(limit=3)})

    def _plain_query(self, label, q):
        df = self.registry[q].fn(self.spark, DATA_DIR)
        df.write.format("noop").mode("overwrite").save()

    def _checked_query(self, label, q):
        """Run the query, collecting its result.  The returned check
        digests the result and compares it with the stored digest; a
        mismatch raises and counts as a failure."""
        df = self.registry[q].fn(self.spark, DATA_DIR)
        rows = [tuple(r) for r in df.collect()]

        def check():
            got = {"rows": len(rows),
                   "hash": digest_mod.value_hash(df.columns, rows)}
            self.digests[q] = got
            want = self.expected.get(q) or {}
            if (got["rows"], got["hash"]) != (want.get("rows"),
                                              want.get("hash")):
                raise AssertionError(
                    f"digest {got} != expected {want or None}")
        return check

    def _traced_query(self, label, q):
        tr = self.tracer
        tr.context = (label, q)
        try:
            with tr.span("query", query=q):
                with tr.phase(label, q, "build") as b:
                    df = self.registry[q].fn(self.spark, DATA_DIR)
                # force planning on the query's own QueryExecution, then
                # execute through it, so planning is not counted twice
                with tr.phase(label, q, "plan") as p:
                    qe = df._jdf.queryExecution()
                    qe.executedPlan()
                with tr.phase(label, q, "exec") as e:
                    qe.toRdd().count()
        finally:
            tr.context = None
        self._planned.append((q, qe))
        self.traced_split.setdefault(q, {})[label] = [
            r["end"] - r["start"] for r in (b, p, e)]


def live_heap_mb(spark) -> float:
    """JVM heap in use after forced full collections: the least of five
    readings.

    Each round runs Python's collector first, so py4j releases the JVM
    objects that dead Python handles pinned, then a JVM collection and a
    pause in which Spark's context cleaner drops the shuffles and
    broadcasts that collection found unreachable; a later round's
    collection frees them.  The readings settled by the third or fourth
    round (105, 99, 91, 79, 79 MB, with half-second pauses) and then held
    to 0.1 MB."""
    jvm = spark._jvm
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    readings = []
    for _ in range(5):
        gc.collect()
        jvm.java.lang.System.gc()
        time.sleep(0.3)
        readings.append(bean.getHeapMemoryUsage().getUsed() / 1e6)
    return min(readings)


def jvm_gc_seconds(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1e3


def du(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(root, f)).st_size
            except FileNotFoundError:
                pass
    return total


if __name__ == "__main__":
    sys.exit(main())
