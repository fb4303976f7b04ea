"""One benchmark run inside one fresh Spark driver process.

Started by ``run.py``. It sets the engine up and runs the workload in a
closed loop (one client: each query is built and materialised before the
next is sent), then writes a result file. With ``--setup-only`` it stops
after set-up, which is how ``run.py`` takes its extra set-up sample.

The first pass, in the fresh JVM, collects every result and checks it
(untimed) against its DuckDB oracle; for a rows-only key it records schema,
row count and canonical hash. Warm passes send oracle-backed keys through
the noop sink, as ``bench.py`` does, and collect rows-only keys again so
their hash is compared on every pass.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import statistics
import sys
import time
import traceback
from collections import defaultdict

from tracing import (
    Patcher, SparkCounters, Tracer, dir_mb, layer_wrappers, plan_phases_ms,
    stream_listener,
)
from workloads import WORKLOADS, warm_passes


def canonical_hash(pdf) -> str:
    from recommendersystems_bigdata_spark.oracle import canonicalize

    return hashlib.sha256(canonicalize(pdf).to_csv(index=False).encode()).hexdigest()[:16]


def jvm_peak_rss_mb() -> float:
    """VmHWM of this process's java child (the py4j gateway's JVM)."""
    me = str(os.getpid())
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                stat = fh.read()
            comm = stat[stat.index("(") + 1:stat.rindex(")")]
            if comm != "java" or stat[stat.rindex(")") + 2:].split()[1] != me:
                continue
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1]) / 1024.0
        except (OSError, ValueError, IndexError):
            continue
    return 0.0


class Run:
    def __init__(self, spark, args) -> None:
        from recommendersystems_bigdata_spark import registry

        self.spark, self.sc, self.args = spark, spark.sparkContext, args
        self.queries, self.oracles = registry.QUERIES, registry.ORACLES
        self.keys = WORKLOADS[args.workload]["keys"]
        self.attempted = self.failed = 0
        self.failures: dict[str, str] = {}
        self.first: dict[str, dict] = {}
        self.first_walls: dict[str, float] = {}
        self.key_walls: dict[str, list] = {k: [] for k in self.keys}
        self.verdicts: dict[str, str] = {}
        self.passes_hashed: dict[str, int] = {}
        self.oracle_checked = self.oracle_mismatched = 0
        self.tracer = Tracer()
        self.records: list[dict] = []

    def _fail(self, key: str, why: str) -> None:
        self.failed += 1
        self.failures.setdefault(key, why)

    def _attempt(self, key: str, fn):
        """Run one query; a raise or the time cap counts as a failure."""
        self.attempted += 1
        if time.monotonic() > self.args.deadline:
            self._fail(key, "time cap")
            return None
        try:
            return fn()
        except Exception as exc:
            traceback.print_exc(file=sys.stderr)
            self._fail(key, f"{type(exc).__name__}: {(str(exc).splitlines() or [''])[0][:200]}")
            return None

    def _build(self, key: str):
        return self.queries[key](self.spark, self.args.sf_dir)

    def _sink(self, key: str, df):
        """Materialise a built query: rows-only keys are collected so their
        hash can be checked on every pass, the rest go to the noop sink."""
        if key in self.oracles:
            df.write.format("noop").mode("overwrite").save()
            return None
        return df.toPandas()

    def _run(self, key: str) -> float:
        t = time.perf_counter()
        pdf = self._sink(key, self._build(key))
        wall = time.perf_counter() - t
        self._check_rows_only(key, pdf)
        return wall

    def _check_rows_only(self, key: str, pdf) -> None:
        """Schema, row count and canonical hash against the first pass."""
        if pdf is None:
            return
        h = canonical_hash(pdf)
        ref = self.first.setdefault(
            key, {"rows": len(pdf), "cols": list(pdf.columns), "hash": h})
        problems = []
        if not len(pdf):
            problems.append("empty result")
        if len(pdf) != ref["rows"]:
            problems.append(f"rows {ref['rows']} then {len(pdf)}")
        if list(pdf.columns) != ref["cols"]:
            problems.append(f"columns {ref['cols']} then {list(pdf.columns)}")
        if h != ref["hash"]:
            problems.append(f"hash {ref['hash']} then {h}")
        self.passes_hashed[key] = self.passes_hashed.get(key, 0) + 1
        self.verdicts[key] = (f"rows-only rows={len(pdf)} hash={h} equal on "
                              f"{self.passes_hashed[key]} passes")
        if problems:
            self.verdicts[key] += " MISMATCH " + "; ".join(problems)
            self._fail(key, "rows-only check: " + "; ".join(problems))

    def first_pass(self) -> float:
        """The first pass in the fresh JVM doubles as the verification pass:
        each result is collected (timed), then checked (untimed) against its
        DuckDB oracle or, for rows-only keys, recorded for later passes."""
        from recommendersystems_bigdata_spark import oracle

        con = oracle.duckdb_connection(self.args.sf_dir)

        def one(key):
            t = time.perf_counter()
            pdf = self._build(key).toPandas()
            wall = time.perf_counter() - t
            if key not in self.oracles:
                self._check_rows_only(key, pdf)
                return wall
            res = oracle.compare_frames(key, pdf, con.execute(self.oracles[key]).df())
            self.oracle_checked += 1
            self.verdicts[key] = "oracle OK" if res.ok else res.message()[:300]
            if not res.ok:
                self.oracle_mismatched += 1
                self._fail(key, "oracle mismatch")
            return wall

        try:
            for key in self.keys:
                self.first_walls[key] = self._attempt(key, lambda: one(key)) or 0.0
        finally:
            con.close()
        return sum(self.first_walls.values())

    def timed_passes(self) -> tuple[list[float], list[float], list[float]]:
        """The warm passes: (untraced pass walls, traced pass walls, untraced
        per-query walls). A traced run puts each traced pass between two
        untraced ones, so the tracing overhead is measured in the same JVM
        against untraced passes on either side (the engine is still warming
        up, so a one-sided comparison would be biased)."""
        n = warm_passes(self.args.workload, self.args.seconds)
        schedule = [i % 2 == 1 for i in range(2 * n + 1)] if self.args.trace else [False] * n
        plain, traced_walls, pool = [], [], []
        for pass_no, use_trace in enumerate(schedule, start=1):
            if use_trace:
                self._trace_on()
            wall = 0.0
            for key in self.keys:
                if use_trace:
                    q = self._attempt(key, lambda: self._traced_query(key, pass_no))
                else:
                    q = self._attempt(key, lambda: self._run(key))
                    if q is not None:
                        pool.append(q)
                        self.key_walls[key].append(q)
                wall += q or 0.0
            if use_trace:
                self._trace_off()
            (traced_walls if use_trace else plain).append(wall)
        return plain, traced_walls, pool

    # -------------------------------------------------------------- tracing

    def _init_tracing(self) -> None:
        self.counters = SparkCounters(self.spark)
        self.tally = defaultdict(float)
        self.patcher = Patcher()
        jobs = lambda: len(self.sc.statusTracker().getJobIdsForGroup(  # noqa: E731
            self.sc.getLocalProperty("spark.jobGroup.id")))
        self.wrappers = layer_wrappers(self.tracer, self.tally, jobs)

    def _trace_on(self) -> None:
        for original, wrapper in self.wrappers:
            self.patcher.wrap(original, wrapper)
        self.listener = stream_listener(self.spark)

    def _trace_off(self) -> None:
        self.patcher.restore()
        self.spark.streams.removeListener(self.listener)

    def _traced_query(self, key: str, pass_no: int) -> float:
        tr, ctr, tally = self.tracer, self.counters, self.tally
        tally.clear()
        tr.trace_id = f"{key}#{pass_no}"
        group = f"perfbench-{len(self.records)}"
        ctr.drain()
        ctr.new_sql_metrics(parse=False)
        ex0 = ctr.executors()
        with tr.span("query", key=key, pass_no=pass_no) as q_span:
            self.sc.setJobGroup(group + "-build", key)
            with tr.span("build") as b_span:
                df = self._build(key)
            ctr.drain()
            ex1 = ctr.executors()
            ctr.new_sql_metrics(parse=False)
            self.sc.setJobGroup(group + "-exec", key)
            with tr.span("exec") as e_span:
                pdf = self._sink(key, df)
            with tr.span("plan") as p_span:
                phases = plan_phases_ms(df)
        self.sc.setJobGroup("perfbench-idle", "")
        self._check_rows_only(key, pdf)
        ctr.drain()
        ex2 = ctr.executors()
        sql = ctr.new_sql_metrics()
        stream = self.listener.tally(self.listener.take_started())
        b_jobs, _ = ctr.group_jobs(group + "-build")
        e_jobs, e_stages = ctr.group_jobs(group + "-exec")

        def dur(span):
            return span["end"] - span["start"]
        rec = {
            "key": key, "pass": pass_no, "query_s": dur(q_span),
            "build.wall_s": dur(b_span), "exec.wall_s": dur(e_span),
            "plan.wall_s": dur(p_span),
            "build.jobs": b_jobs, "build.tasks": ex1["tasks"] - ex0["tasks"],
            "build.task_s": ex1["task_s"] - ex0["task_s"],
            "exec.jobs": e_jobs, "exec.stages": e_stages,
            "catalog.calls": tally["catalog.load_table.calls"],
            "catalog.load_s": tally["catalog.load_table.s"],
            "als.fit_s": tally["als.fit.s"], "als.jobs": tally["als.fit.jobs"],
            # A stream query that does not go through run_to_memory (the
            # foreachBatch sink) drains inside its build.
            "stream.drain_s": (tally["stream.drain.s"]
                               or (dur(b_span) if stream.get("stream.batches") else 0.0)),
            "tmpdirs.dirs": len(tally.get("tmpdirs.paths", [])),
            "tmpdirs.written_mb": sum(dir_mb(p) for p in tally.get("tmpdirs.paths", [])),
            **phases, **sql, **stream,
        }
        for k in ("tasks", "task_s", "gc_s", "input_mb", "shuffle_read_mb",
                  "shuffle_write_mb"):
            rec["exec." + k] = ex2[k] - ex1[k]
        if rec["catalog.calls"] == 0 and not key.startswith("q_stream_"):
            # Stream keys read the session's cached chunked copy of events
            # after their first call; every other key reads the corpus, so a
            # zero here means the catalog wrapper missed the calls.
            self._fail(key, "traced run saw zero catalog.calls")
        self.records.append(rec)
        return rec["query_s"]

    def go(self) -> dict:
        if self.args.trace:
            self._init_tracing()
        first = self.first_pass()
        plain, traced_walls, pool = self.timed_passes()
        return {
            "first_pass_s": first,
            "series_wall_s": statistics.median(plain),
            "pass_walls": plain,
            "first_walls": self.first_walls,
            "key_walls": self.key_walls,
            "traced_walls": traced_walls,
            "pool": pool,
            "attempted": self.attempted,
            "failed": self.failed,
            "failures": self.failures,
            "verdicts": self.verdicts,
            "oracle.checked": self.oracle_checked,
            "oracle.mismatched": self.oracle_mismatched,
            "records": self.records,
            "spans": self.tracer.spans,
        }


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--sf-dir", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--deadline", type=float, required=True,
                   help="time.monotonic() after which no query starts")
    p.add_argument("--setup-only", action="store_true")
    args = p.parse_args()

    spawned = float(os.environ["PERFBENCH_SPAWNED"])
    import bench
    from recommendersystems_bigdata_spark import registry
    from recommendersystems_bigdata_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark(app_name="perfbench", shuffle_partitions=bench.BENCH_SHUFFLE_PARTITIONS)
    session_s = time.perf_counter() - t
    t = time.perf_counter()
    registry.load_all()
    registry_s = time.perf_counter() - t
    result = {"setup_s": time.monotonic() - spawned, "session.start_s": session_s,
              "registry.load_s": registry_s, "registry.keys": len(registry.QUERIES)}
    spark.sparkContext.setLogLevel("ERROR")
    try:
        if not args.setup_only:
            result.update(Run(spark, args).go())
            result["jvm_peak_rss_mb"] = jvm_peak_rss_mb()
        with open(args.out + ".tmp", "w", encoding="utf-8") as fh:
            json.dump(result, fh)
        os.replace(args.out + ".tmp", args.out)
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
