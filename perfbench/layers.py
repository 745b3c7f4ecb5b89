"""Per-layer measurement for the traced run, taken from outside the engine.

Nothing here changes an engine module.  The tracer:

- records spans run -> pass -> query -> {build, plan, exec} and, inside
  build, spans around the public catalog and front-end functions, by
  wrapping those functions in place;
- times every streaming drain from ``DataStreamWriter.start`` to the
  return of ``StreamingQuery.awaitTermination``;
- sets a Spark job group per (pass, query, phase), and maps each
  streaming query's own job group (its run id) back to the query whose
  build started it;
- listens to ``StreamingQueryListener`` progress events;
- parses Spark's event log after the session stops, for task metrics
  and the Python-worker SQL metrics.

``layer_metrics`` turns all of that into the per-layer numbers, as
averages per traced pass.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import statistics
import sys
import time
from collections import defaultdict

#: (name, unit) of every per-layer metric, in report order
LAYER_METRICS = (
    ("session.start_s", "s"),
    ("catalog.calls", "count"),
    ("catalog.s", "s"),
    ("catalog.memo_hit_ratio", "ratio"),
    ("frontend.calls", "count"),
    ("frontend.s", "s"),
    ("build.s", "s"),
    ("build.jobs", "count"),
    ("build.share", "ratio"),
    ("plan.s", "s"),
    ("plan.analysis_s", "s"),
    ("plan.optimization_s", "s"),
    ("plan.planning_s", "s"),
    ("exec.s", "s"),
    ("exec.jobs", "count"),
    ("exec.stages", "count"),
    ("exec.tasks", "count"),
    ("exec.task_s", "s"),
    ("exec.cpu_s", "s"),
    ("exec.gc_s", "s"),
    ("exec.task_ok_ratio", "ratio"),
    ("python.boot_s", "s"),
    ("python.init_s", "s"),
    ("python.run_s", "s"),
    ("python.sent_mb", "MB"),
    ("python.recv_mb", "MB"),
    ("shuffle.write_mb", "MB"),
    ("shuffle.write_s", "s"),
    ("shuffle.fetch_wait_s", "s"),
    ("shuffle.skew", "ratio"),
    ("stream.queries", "count"),
    ("stream.batches", "count"),
    ("stream.nonempty_ratio", "ratio"),
    ("stream.trigger_s", "s"),
    ("stream.add_batch_s", "s"),
    ("stream.query_planning_s", "s"),
    ("stream.wal_commit_s", "s"),
    ("stream.commit_offsets_s", "s"),
    ("stream.latest_offset_s", "s"),
    ("stream.state_commit_s", "s"),
    ("stream.state_rows", "count"),
    ("stream.watermark_dropped", "count"),
    ("stream.start_stop_s", "s"),
    ("write.mb", "MB"),
    ("write.records", "count"),
    ("standing.build_s", "s"),
    ("trace.overhead_s", "s"),
)

#: times that read exactly 0 on every run of some workload, so they are
#: printed and kept in the run record but left off the result line,
#: where a time that never changes cannot be told from a stuck timer:
#: the Python-worker times (no Python workers on reference), the
#: streaming times (no drains on reference), shuffle fetch wait (no
#: remote fetches in local mode) and the standing build (only ingest
#: holds a standing query)
ZERO_BY_DESIGN = frozenset({
    "python.boot_s", "python.init_s", "python.run_s",
    "stream.trigger_s", "stream.add_batch_s", "stream.query_planning_s",
    "stream.wal_commit_s", "stream.commit_offsets_s",
    "stream.latest_offset_s", "stream.state_commit_s",
    "stream.start_stop_s", "shuffle.fetch_wait_s", "standing.build_s",
})

#: Python-worker SQL metrics Spark 4.1 emits per task (milliseconds / bytes)
_PYTHON_ACCUMS = {
    "time to start Python workers": "py_boot_ms",
    "time to initialize Python workers": "py_init_ms",
    "time to run Python workers": "py_run_ms",
    "data sent to Python workers": "py_sent_b",
    "data returned from Python workers": "py_recv_b",
}

#: streaming progress phases reported, durationMs key -> metric suffix
_STREAM_PHASES = {
    "triggerExecution": "trigger_s",
    "addBatch": "add_batch_s",
    "queryPlanning": "query_planning_s",
    "walCommit": "wal_commit_s",
    "commitOffsets": "commit_offsets_s",
    "latestOffset": "latest_offset_s",
}

_GROUP_PREFIX = "perfbench"
_IDLE_GROUP = f"{_GROUP_PREFIX}|idle"
_PACKAGE = "nosql_join_stream_spark"


class Tracer:
    """Spans, counters and Spark-side attribution for one traced run."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.t0 = time.perf_counter()
        self.active = False
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next_id = 1
        #: (pass label, query) of the query being built, for drains
        self.context: tuple[str, str] | None = None
        #: streaming run id -> {"pass", "query", "start", "end"}
        self.stream_runs: dict[str, dict] = {}
        self.progress: list[dict] = []
        #: (pass label, query) -> QueryPlanningTracker phase seconds
        self.planning: dict[tuple[str, str], dict[str, float]] = {}

    # -- spans ---------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.active:
            yield None
            return
        row = {"id": self._next_id, "name": name,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "start": time.perf_counter() - self.t0, **attrs}
        self._next_id += 1
        self._stack.append(row)
        try:
            yield row
        finally:
            self._stack.pop()
            row["end"] = time.perf_counter() - self.t0
            self.spans.append(row)

    def add_root(self, name: str, start: float) -> None:
        """Close a span from ``start`` (a perf_counter reading) to now and
        make it the parent of every span that has none."""
        root = {"id": self._next_id, "name": name, "parent": None,
                "start": start - self.t0, "end": time.perf_counter() - self.t0}
        self._next_id += 1
        for s in self.spans:
            if s["parent"] is None:
                s["parent"] = root["id"]
        self.spans.append(root)

    @contextlib.contextmanager
    def phase(self, pass_label: str, query: str, phase: str):
        """A build/plan/exec span whose Spark jobs carry its job group.
        The span covers setting the group, so the query's spans cover its
        wall."""
        with self.span(phase) as row:
            self.sc.setJobGroup(
                f"{_GROUP_PREFIX}|{pass_label}|{query}|{phase}",
                "perfbench", False)
            try:
                yield row
            finally:
                self.sc.setJobGroup(_IDLE_GROUP, "perfbench", False)

    def record_planning(self, pass_label: str, query: str, qe) -> None:
        phases = qe.tracker().phases()
        out = {}
        for k in ("analysis", "optimization", "planning"):
            opt = phases.get(k)
            out[k] = opt.get().durationMs() / 1e3 if opt.isDefined() else 0.0
        self.planning[(pass_label, query)] = out

    # -- wrappers around public engine and pyspark entry points --------
    def install(self) -> None:
        from pyspark.sql.readwriter import DataFrameReader
        from pyspark.sql.streaming import (DataStreamWriter,
                                           StreamingQuery,
                                           StreamingQueryListener)
        from nosql_join_stream_spark import catalog, dsl, engine, mql, typed

        self._wrap_everywhere(catalog.load_table, "catalog")
        for fn in (dsl.q, mql.mql_to_column, typed.column,
                   typed.variant_decode, typed.as_schema):
            self._wrap_everywhere(fn, "frontend")
        for meth in ("table", "load", "load_stream", "read", "sql",
                     "join_inner", "log_from"):
            self._wrap_attr(engine.Engine, meth, "frontend")
        self._wrap_attr(dsl.QuerySpec, "apply", "frontend")

        tracer = self
        orig_parquet = DataFrameReader.parquet

        @functools.wraps(orig_parquet)
        def parquet(reader, *a, **k):
            # a catalog call that reaches the reader missed its memo
            if tracer._stack and tracer._stack[-1]["name"] == "catalog":
                tracer._stack[-1]["miss"] = True
            return orig_parquet(reader, *a, **k)
        DataFrameReader.parquet = parquet

        orig_start = DataStreamWriter.start

        @functools.wraps(orig_start)
        def start(writer, *a, **k):
            t = time.perf_counter() - tracer.t0
            sq = orig_start(writer, *a, **k)
            if tracer.active and tracer.context:
                tracer.stream_runs[str(sq.runId)] = {
                    "pass": tracer.context[0], "query": tracer.context[1],
                    "start": t}
            return sq
        DataStreamWriter.start = start

        orig_await = StreamingQuery.awaitTermination

        @functools.wraps(orig_await)
        def await_termination(sq, *a, **k):
            out = orig_await(sq, *a, **k)
            if tracer.active:
                run = tracer.stream_runs.get(str(sq.runId))
                if run is not None and "end" not in run:
                    run["end"] = time.perf_counter() - tracer.t0
            return out
        StreamingQuery.awaitTermination = await_termination

        class _Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                tracer.progress.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.spark.streams.addListener(_Progress())

    def _wrapper(self, fn, layer: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*a, **k):
            if not tracer.active:
                return fn(*a, **k)
            with tracer.span(layer, fn=fn.__qualname__):
                return fn(*a, **k)
        return wrapper

    def _wrap_everywhere(self, fn, layer: str) -> None:
        """Rebind ``fn`` in every loaded engine module that imported it."""
        wrapped = self._wrapper(fn, layer)
        for name, mod in list(sys.modules.items()):
            if mod is None or not name.startswith(_PACKAGE):
                continue
            for attr, val in list(vars(mod).items()):
                if val is fn:
                    setattr(mod, attr, wrapped)

    def _wrap_attr(self, cls, attr: str, layer: str) -> None:
        setattr(cls, attr, self._wrapper(getattr(cls, attr), layer))


# -- event log -------------------------------------------------------------
def parse_event_log(log_dir: str, stream_runs: dict[str, dict]) -> dict:
    """Task metrics per (pass, query, phase) from Spark's JSON event log.

    Jobs carry the job group set by ``Tracer.phase``; streaming jobs carry
    their query's run id, which ``stream_runs`` maps back to the build
    phase of the query that started the drain."""
    stage_key: dict[int, tuple] = {}
    jobs: dict[tuple, int] = defaultdict(int)
    stages: dict[tuple, set] = defaultdict(set)
    acc: dict[tuple, dict] = defaultdict(lambda: defaultdict(float))
    shuffle_read: dict[int, list] = defaultdict(list)
    unattributed = 0
    for path in glob.glob(f"{log_dir}/*"):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    key = _job_key(ev.get("Properties") or {}, stream_runs)
                    if key is None:
                        unattributed += 1
                        continue
                    jobs[key] += 1
                    for sid in ev["Stage IDs"]:
                        stage_key.setdefault(sid, key)
                elif kind == "SparkListenerTaskEnd":
                    key = stage_key.get(ev["Stage ID"])
                    if key is None:
                        continue
                    stages[key].add(ev["Stage ID"])
                    _add_task(acc[key], ev, shuffle_read[ev["Stage ID"]])
    skew: dict[tuple, float] = defaultdict(float)
    for sid, reads in shuffle_read.items():
        reads = [r for r in reads if r > 0]
        if len(reads) >= 2:
            key = stage_key[sid]
            skew[key] = max(skew[key], max(reads) / statistics.median(reads))
    return {"jobs": dict(jobs), "stages": {k: len(v) for k, v in stages.items()},
            "acc": {k: dict(v) for k, v in acc.items()}, "skew": dict(skew),
            "unattributed_jobs": unattributed}


def _job_key(props: dict, stream_runs: dict[str, dict]) -> tuple | None:
    group = props.get("spark.jobGroup.id") or ""
    parts = group.split("|")
    if len(parts) == 4 and parts[0] == _GROUP_PREFIX:
        return (parts[1], parts[2], parts[3])
    run = stream_runs.get(group)
    if run is not None:
        return (run["pass"], run["query"], "build")
    return None


def _add_task(a: dict, ev: dict, stage_reads: list) -> None:
    a["tasks"] += 1
    if (ev.get("Task End Reason") or {}).get("Reason") == "Success":
        a["tasks_ok"] += 1
    m = ev.get("Task Metrics") or {}
    a["run_ms"] += m.get("Executor Run Time", 0)
    a["cpu_ns"] += m.get("Executor CPU Time", 0)
    sr = m.get("Shuffle Read Metrics") or {}
    a["fetch_wait_ms"] += sr.get("Fetch Wait Time", 0)
    read = sr.get("Local Bytes Read", 0) + sr.get("Remote Bytes Read", 0)
    if sr:
        stage_reads.append(read)
    sw = m.get("Shuffle Write Metrics") or {}
    a["shuffle_write_b"] += sw.get("Shuffle Bytes Written", 0)
    a["shuffle_write_ns"] += sw.get("Shuffle Write Time", 0)
    out = m.get("Output Metrics") or {}
    a["write_b"] += out.get("Bytes Written", 0)
    a["write_records"] += out.get("Records Written", 0)
    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
        field = _PYTHON_ACCUMS.get(acc.get("Name"))
        if field:
            a[field] += float(acc.get("Update") or 0)


# -- per-layer numbers -------------------------------------------------------
def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> its duration minus the time its child spans cover."""
    child: dict[int, float] = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    return {s["id"]: s["end"] - s["start"] - child[s["id"]] for s in spans}


def layer_metrics(tracer: Tracer, events: dict, traced_passes: list[str],
                  extra: dict[str, float]) -> dict[str, float]:
    """Per-layer numbers averaged over the traced timed passes.

    ``extra`` carries the values measured by the harness itself
    (session start, standing build, collector time, tracing overhead)."""
    n = max(len(traced_passes), 1)
    wanted = set(traced_passes)
    by_id = {s["id"]: s for s in tracer.spans}

    def pass_of(span: dict) -> str | None:
        while span is not None and span["name"] != "pass":
            span = by_id.get(span["parent"])
        return span.get("label") if span else None

    spans = [s for s in tracer.spans if pass_of(s) in wanted]
    selft = self_times(tracer.spans)
    total = defaultdict(float)
    inclusive = defaultdict(float)
    calls = defaultdict(int)
    misses = 0
    for s in spans:
        total[s["name"]] += selft[s["id"]]
        inclusive[s["name"]] += s["end"] - s["start"]
        calls[s["name"]] += 1
        misses += bool(s.get("miss"))

    acc = defaultdict(float)
    jobs = defaultdict(int)
    stages = 0
    skew = 0.0
    for key, a in events["acc"].items():
        if key[0] in wanted:
            for k, v in a.items():
                acc[k] += v
    for key, c in events["jobs"].items():
        if key[0] in wanted:
            jobs[key[2]] += c
    for key, c in events["stages"].items():
        if key[0] in wanted:
            stages += c
    for key, v in events["skew"].items():
        if key[0] in wanted:
            skew = max(skew, v)

    plan = defaultdict(float)
    for (p, _q), ph in tracer.planning.items():
        if p in wanted:
            for k, v in ph.items():
                plan[k] += v

    runs = {rid: r for rid, r in tracer.stream_runs.items()
            if r["pass"] in wanted}
    progress = [p for p in tracer.progress if p.get("runId") in runs]
    phase = defaultdict(float)
    state_commit = dropped = nonempty = 0.0
    state_rows: dict[str, float] = defaultdict(float)
    for p in progress:
        for key, name in _STREAM_PHASES.items():
            phase[name] += (p.get("durationMs") or {}).get(key, 0) / 1e3
        ops = p.get("stateOperators") or []
        state_commit += sum(o.get("commitTimeMs", 0) for o in ops) / 1e3
        dropped += sum(o.get("numRowsDroppedByWatermark", 0) for o in ops)
        state_rows[p["runId"]] = max(state_rows[p["runId"]],
                                     sum(o.get("numRowsTotal", 0) for o in ops))
        nonempty += p.get("numInputRows", 0) > 0
    drain_wall = sum(r["end"] - r["start"] for r in runs.values() if "end" in r)

    query_wall = inclusive["query"]
    out = {
        "catalog.calls": calls["catalog"] / n,
        "catalog.s": total["catalog"] / n,
        "catalog.memo_hit_ratio": (1 - misses / calls["catalog"]
                                   if calls["catalog"] else 0.0),
        "frontend.calls": calls["frontend"] / n,
        "frontend.s": total["frontend"] / n,
        "build.s": inclusive["build"] / n,
        "build.jobs": jobs["build"] / n,
        "build.share": inclusive["build"] / query_wall if query_wall else 0.0,
        "plan.s": inclusive["plan"] / n,
        "plan.analysis_s": plan["analysis"] / n,
        "plan.optimization_s": plan["optimization"] / n,
        "plan.planning_s": plan["planning"] / n,
        "exec.s": inclusive["exec"] / n,
        "exec.jobs": jobs["exec"] / n,
        "exec.stages": stages / n,
        "exec.tasks": acc["tasks"] / n,
        "exec.task_s": acc["run_ms"] / 1e3 / n,
        "exec.cpu_s": acc["cpu_ns"] / 1e9 / n,
        "exec.task_ok_ratio": (acc["tasks_ok"] / acc["tasks"]
                               if acc["tasks"] else 0.0),
        "python.boot_s": acc["py_boot_ms"] / 1e3 / n,
        "python.init_s": acc["py_init_ms"] / 1e3 / n,
        "python.run_s": acc["py_run_ms"] / 1e3 / n,
        "python.sent_mb": acc["py_sent_b"] / 1e6 / n,
        "python.recv_mb": acc["py_recv_b"] / 1e6 / n,
        "shuffle.write_mb": acc["shuffle_write_b"] / 1e6 / n,
        "shuffle.write_s": acc["shuffle_write_ns"] / 1e9 / n,
        "shuffle.fetch_wait_s": acc["fetch_wait_ms"] / 1e3 / n,
        "shuffle.skew": skew,
        "stream.queries": len(runs) / n,
        "stream.batches": len(progress) / n,
        "stream.nonempty_ratio": nonempty / len(progress) if progress else 0.0,
        **{f"stream.{name}": phase[name] / n for name in _STREAM_PHASES.values()},
        "stream.state_commit_s": state_commit / n,
        "stream.state_rows": sum(state_rows.values()) / n,
        "stream.watermark_dropped": dropped / n,
        "stream.start_stop_s": (drain_wall - phase["trigger_s"]) / n,
        "write.mb": acc["write_b"] / 1e6 / n,
        "write.records": acc["write_records"] / n,
        **extra,
    }
    return {name: float(out[name]) for name, _unit in LAYER_METRICS}
