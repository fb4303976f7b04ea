"""Tracing for the benchmark's traced run, all from outside the program.

Three pieces, none of which edits the engine's code:

* :class:`Tracer` keeps spans (name, start, end, parent, trace id) in memory
  and :func:`self_times` computes each span's self time: its duration minus
  the part of its interval that its children cover.
* :class:`Patcher` rebinds the engine's layer entry points (catalog loads,
  ALS training, stream drains, scratch directories) to timing wrappers. Modules import these by name, so the rebinding is done by
  identity across every loaded package module, and undone the same way.
* :class:`SparkCounters` reads Spark's own status stores — executor
  summaries, job groups, the SQL plan graph metrics, query-execution phase
  timings and streaming progress — which all work with the UI disabled.
"""

from __future__ import annotations

import os
import re
import sys
import threading
import time
from collections import defaultdict

PKG = "recommendersystems_bigdata_spark"
MB = 1024 * 1024


# --------------------------------------------------------------------- spans


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.trace_id = ""

    def start(self, name: str, **attrs) -> int:
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append({"id": sid, "parent": parent, "trace": self.trace_id,
                           "name": name, "start": time.perf_counter(), "end": None,
                           **attrs})
        self._stack.append(sid)
        return sid

    def end(self, sid: int, **attrs) -> None:
        self.spans[sid].update(end=time.perf_counter(), **attrs)
        self._stack.remove(sid)

    def span(self, name: str, **attrs):
        return _SpanCtx(self, name, attrs)


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, attrs: dict) -> None:
        self.tracer, self.name, self.attrs = tracer, name, attrs

    def __enter__(self) -> dict:
        self.sid = self.tracer.start(self.name, **self.attrs)
        return self.tracer.spans[self.sid]

    def __exit__(self, *exc) -> None:
        self.tracer.end(self.sid, error=exc[0].__name__ if exc[0] else None)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id → duration minus the union of its children's intervals,
    each child clipped to the parent's interval."""
    children: dict[int, list[dict]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)
    out = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(children[s["id"]], key=lambda c: c["start"]):
            a, b = max(lo, c["start"]), min(hi, c["end"])
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (hi - lo) - covered
    return out


# ------------------------------------------------------------------ patching


class Patcher:
    """Rebind package functions to wrappers by identity, and restore them."""

    def __init__(self) -> None:
        self._undo: list[tuple[object, str, object]] = []

    def wrap(self, original, wrapper) -> None:
        for name, mod in list(sys.modules.items()):
            if not (name == PKG or name.startswith(PKG + ".")) or mod is None:
                continue
            for attr, value in list(vars(mod).items()):
                if value is original:
                    setattr(mod, attr, wrapper)
                    self._undo.append((mod, attr, original))

    def restore(self) -> None:
        for mod, attr, original in reversed(self._undo):
            setattr(mod, attr, original)
        self._undo.clear()


def layer_wrappers(tracer: Tracer, tally: dict, job_count) -> list[tuple]:
    """(original, wrapper) pairs for every layer boundary the benchmark times.

    ``tally`` (a ``defaultdict(float)``) accumulates ``<span>.s`` and
    ``<span>.calls``, ``als.fit.jobs`` and the scratch paths for the current
    query; ``job_count()`` is the number of jobs the calling thread's job
    group has run so far. ``catalog.load_tables`` needs no wrapper of its
    own: it calls ``load_table`` through the catalog module, which is
    rebound too.
    """
    from recommendersystems_bigdata_spark import catalog, tmpdirs
    from recommendersystems_bigdata_spark.ml import recommender
    from recommendersystems_bigdata_spark.streaming import stream_queries

    def timed(name, fn):
        def wrapper(*args, **kwargs):
            jobs0 = job_count() if name == "als.fit" else 0
            with tracer.span(name) as span:
                result = fn(*args, **kwargs)
            tally[name + ".s"] += span["end"] - span["start"]
            tally[name + ".calls"] += 1
            if name == "als.fit":
                tally["als.fit.jobs"] += job_count() - jobs0
            if name == "tmpdirs.scratch_dir":
                tally.setdefault("tmpdirs.paths", []).append(result)
            return result
        return wrapper

    return [
        (catalog.load_table, timed("catalog.load_table", catalog.load_table)),
        (recommender.train_als, timed("als.fit", recommender.train_als)),
        (stream_queries.run_to_memory,
         timed("stream.drain", stream_queries.run_to_memory)),
        (tmpdirs.scratch_dir, timed("tmpdirs.scratch_dir", tmpdirs.scratch_dir)),
    ]


def dir_mb(path: str) -> float:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total / MB


# ------------------------------------------------------------ spark counters

_UNITS = {"ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6, "ns": 1e-6,
          "B": 1.0 / MB, "KiB": 1.0 / 1024, "MiB": 1.0, "GiB": 1024.0, "TiB": MB}
_VALUE = re.compile(r"^\s*(-?[0-9][0-9.,]*)\s*([A-Za-z]*)")
# SQL plan metric name → per-layer metric (ms for timings, MB for sizes).
SQL_METRICS = {
    "scan time": "exec.scan_ms",
    "fetch wait time": "exec.fetch_wait_ms",
    "time in aggregation build": "exec.agg_build_ms",
    "sort time": "exec.sort_ms",
    "time to collect": "exec.broadcast_collect_ms",
    "spill size": "exec.spill_mb",
}


def parse_metric_value(text: str) -> float | None:
    """The total of one formatted SQL metric, in ms or MB (None if unknown).

    Values read either ``"12 ms"`` or, for metrics aggregated over tasks,
    ``"total (min, med, max ...)<br>12 ms (0 ms, 1 ms, 5 ms ...)"``.
    """
    if text.startswith("total ("):
        text = text.split("<br>", 1)[1] if "<br>" in text else ""
    m = _VALUE.match(text)
    if not m:
        return None
    num = float(m.group(1).replace(",", ""))
    return num * _UNITS[m.group(2)] if m.group(2) in _UNITS else None


def sql_metric_totals(dot: str) -> dict[str, float]:
    """Sum the tracked SQL metrics over every node label of a plan graph."""
    out: dict[str, float] = defaultdict(float)
    for label in re.findall(r'label="(.*?)"', dot):
        parts = label.split("<br>")
        for i, part in enumerate(parts):
            name, sep, rest = part.partition(": ")
            if not sep or name not in SQL_METRICS:
                continue
            if rest.startswith("total (") and i + 1 < len(parts):
                rest = rest + "<br>" + parts[i + 1]
            value = parse_metric_value(rest)
            if value is not None:
                out[SQL_METRICS[name]] += value
    return out


class SparkCounters:
    """Snapshots of Spark's status stores, diffed around a phase."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        execs = self._sql.executionsList()
        self._next_exec = execs.apply(execs.size() - 1).executionId() + 1 if execs.size() else 0

    def drain(self) -> None:
        """Wait until every posted listener event has been processed."""
        self._jsc.listenerBus().waitUntilEmpty()

    def executors(self) -> dict[str, float]:
        tot = defaultdict(float)
        seq = self._jsc.statusStore().executorList(True)
        for i in range(seq.size()):
            e = seq.apply(i)
            tot["tasks"] += e.totalTasks()
            tot["task_s"] += e.totalDuration() / 1e3
            tot["gc_s"] += e.totalGCTime() / 1e3
            tot["input_mb"] += e.totalInputBytes() / MB
            tot["shuffle_read_mb"] += e.totalShuffleRead() / MB
            tot["shuffle_write_mb"] += e.totalShuffleWrite() / MB
        return tot

    def group_jobs(self, group: str) -> tuple[int, int]:
        """(jobs, stages) the job group has run."""
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stages = 0
        for j in jobs:
            info = tracker.getJobInfo(j)
            stages += len(list(info.stageIds)) if info else 0
        return len(jobs), stages

    def new_sql_metrics(self, parse: bool = True) -> dict[str, float]:
        """Totals of the tracked SQL metrics over executions since the last
        call (``parse=False`` only moves past them)."""
        out: dict[str, float] = defaultdict(float)
        misses = 0
        while misses < 3:
            eid = self._next_exec
            opt = self._sql.execution(eid)
            self._next_exec += 1
            if not opt.isDefined():
                misses += 1
                continue
            misses = 0
            if not parse:
                continue
            dot = self._sql.planGraph(eid).makeDotFile(self._sql.executionMetrics(eid))
            for k, v in sql_metric_totals(dot).items():
                out[k] += v
        self._next_exec -= misses
        return out


def plan_phases_ms(df) -> dict[str, float]:
    """Parse/analysis/optimisation/planning ms of ``df``'s query execution.

    Optimisation and physical planning run lazily, so the executed plan is
    forced first; the caller times this as its own span.
    """
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    names = {"parsing": "plan.parse_ms", "analysis": "plan.analysis_ms",
             "optimization": "plan.optimize_ms", "planning": "plan.physical_ms"}
    out = dict.fromkeys(names.values(), 0.0)
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        if kv._1() in names:
            out[names[kv._1()]] = float(kv._2().durationMs())
    return out


def stream_listener(spark):
    """A StreamingQueryListener that keeps progress per query id.

    ``tally(ids)`` waits for each id's termination event before reading.
    """
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def __init__(self) -> None:
            self.started: list[str] = []
            self.progress: dict[str, list] = defaultdict(list)
            self.terminated: set[str] = set()
            self.cond = threading.Condition()

        def onQueryStarted(self, event) -> None:
            with self.cond:
                self.started.append(str(event.id))

        def onQueryProgress(self, event) -> None:
            p = event.progress
            with self.cond:
                self.progress[str(p.id)].append(p)

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            with self.cond:
                self.terminated.add(str(event.id))
                self.cond.notify_all()

        def take_started(self) -> list[str]:
            with self.cond:
                ids, self.started = self.started, []
            return ids

        def tally(self, ids: list[str], timeout: float = 30.0) -> dict[str, float]:
            out: dict[str, float] = defaultdict(float)
            deadline = time.monotonic() + timeout
            with self.cond:
                while not set(ids) <= self.terminated:
                    left = deadline - time.monotonic()
                    if left <= 0:
                        raise RuntimeError(f"stream queries never terminated: {ids}")
                    self.cond.wait(left)
                for qid in ids:
                    rows = mem = 0.0
                    for p in self.progress.pop(qid, []):
                        d = p.durationMs
                        out["stream.batches"] += 1
                        out["stream.input_rows"] += p.numInputRows
                        out["stream.add_batch_ms"] += d.get("addBatch", 0)
                        out["stream.trigger_overhead_ms"] += (
                            d.get("triggerExecution", 0) - d.get("addBatch", 0))
                        out["stream.wal_commit_ms"] += d.get("walCommit", 0)
                        out["stream.commit_offsets_ms"] += d.get("commitOffsets", 0)
                        for op in p.stateOperators:
                            out["stream.state_commit_ms"] += op.commitTimeMs
                            rows = max(rows, op.numRowsTotal)
                            mem = max(mem, op.memoryUsedBytes / MB)
                    # State size is a level, not a flow: its peak per query.
                    out["stream.state_rows"] += rows
                    out["stream.state_mem_mb"] += mem
                    self.terminated.discard(qid)
            return out

    listener = Listener()
    spark.streams.addListener(listener)
    return listener
