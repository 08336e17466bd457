"""Per-layer trace for a ``--trace 1`` run.

Spans are recorded from the benchmark's side, around the calls into each
layer's public functions: ``GreengageEngine.execute``, the dialect's
``transpile`` and ``pg_sql`` (wherever the package imported them),
``DataFrame.collect``, the registry ``Query.fn`` and ``WritableTable``'s
write methods.  After every operation the tracer also reads Spark's own
public state: each DataFrame's ``QueryExecution.tracker`` phases, the
executed plan's SQL metrics, the status store's stage data for the
operation's job group, and the JVM's garbage-collector beans.  Spans and
counters stay in memory; :meth:`Tracer.summary` reduces them to the
per-layer metrics, each a mean per operation unless its name says
otherwise.
"""

from __future__ import annotations

import contextlib
import functools
import os
import sys
import time
from collections import defaultdict

from py4j.protocol import Py4JJavaError

PHASES = ("parsing", "analysis", "optimization", "planning")
DIALECT_SPANS = ("dialect.pg_sql", "dialect.transpile")
DML_METHODS = ("create", "insert", "update", "delete", "rewrite_files", "replace")


class Tracer:
    def __init__(self, spark, log_path: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.cores = self.sc.defaultParallelism
        self.log_path = log_path
        self.log_pos = 0
        self.gc_beans = list(
            spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans())
        self.stack: list[list] = []
        self.sums: dict[str, float] = defaultdict(float)
        self.n_ops = 0
        self.n_by_class: dict[str, int] = defaultdict(int)
        self.min_coverage = 1.0
        self.worst_op = None
        self.op_seq = 0
        self.gid = "idle"
        self.op: dict = defaultdict(float)
        self.op_dfs: list = []
        self.active = False  # inside a traced operation

    # ----------------------------------------------------------- wrapping
    def install(self) -> None:
        """Wrap the layer entry points.  The dialect functions are replaced
        in every loaded package module that imported them by name."""
        from greengage_spark.dialect import transpiler
        from greengage_spark.operators.dml import WritableTable

        originals = {
            transpiler.pg_sql: self._wrap(transpiler.pg_sql, "dialect.pg_sql", capture=True),
            transpiler.transpile: self._wrap(transpiler.transpile, "dialect.transpile"),
        }
        for name, mod in list(sys.modules.items()):
            if not name.startswith("greengage_spark") or mod is None:
                continue
            for attr in ("pg_sql", "transpile"):
                fn = getattr(mod, attr, None)
                if fn in originals:
                    setattr(mod, attr, originals[fn])
        for m in DML_METHODS:
            setattr(WritableTable, m, self._wrap(getattr(WritableTable, m), "dml.write"))
        commit = WritableTable._commit
        tracer = self

        @functools.wraps(commit)
        def traced_commit(table, files, *a, **kw):
            if not tracer.active:
                return commit(table, files, *a, **kw)
            prev = set(table.files()) if table.version >= 0 else set()
            commit(table, files, *a, **kw)
            tracer._count_files(prev, files)

        WritableTable._commit = traced_commit

    def _wrap(self, fn, name: str, capture: bool = False):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            if not tracer.active:
                return fn(*a, **kw)
            with tracer.span(name):
                out = fn(*a, **kw)
            if capture and out is not None and hasattr(out, "_jdf"):
                tracer.op_dfs.append(out)
            return out

        return wrapper

    @contextlib.contextmanager
    def span(self, name: str, group: str | None = None):
        """Time a layer call; ``group`` names the job group the call's
        Spark jobs are counted under (restored to the operation's own
        group on exit)."""
        frame = [name, time.perf_counter()]
        self.stack.append(frame)
        if group:
            self.sc.setJobGroup(f"{self.gid}-{group}", name, False)
        try:
            yield
        finally:
            if group:
                self.sc.setJobGroup(f"{self.gid}-run", "op", False)
            self.stack.pop()
            dur = (time.perf_counter() - frame[1]) * 1e3
            if not self.stack:
                self.op["top"] += dur
            self._record(name, dur)

    def _record(self, name: str, dur: float) -> None:
        """Add a finished span to the operation's totals.  A span nested in
        a span of the same name is already inside its parent's time."""
        op = self.op
        outer = [f[0] for f in self.stack]
        if outer and outer[-1] == "engine.execute":
            op["engine.children"] += dur
        if name in DIALECT_SPANS and not any(o in DIALECT_SPANS for o in outer):
            op["dialect.calls"] += 1
        if name not in outer:
            op[name] += dur

    def _count_files(self, prev: set, files: list[str]) -> None:
        import pyarrow.parquet as pq

        op = self.op
        for f in files:
            if f in prev:
                op["dml.files_carried"] += 1
            else:
                op["dml.files_written"] += 1
                op["dml.bytes_written"] += os.path.getsize(f)
                op["dml.rows_written"] += pq.ParquetFile(f).metadata.num_rows

    # ------------------------------------------------------ per operation
    def begin_op(self, op: dict) -> None:
        self.op_seq += 1
        self.gid = f"op{self.op_seq}"
        self.op = defaultdict(float)
        self.op_dfs = []
        self.gc0 = self._gc()
        self.log_pos = os.path.getsize(self.log_path)
        self.sc.setJobGroup(f"{self.gid}-run", "op", False)
        self.active = True

    def end_op(self, op: dict, wall: float, df, n_rows: int) -> None:
        self.active = False
        acc = self.op
        acc["exec.rows_out"] = n_rows
        self.jsc.listenerBus().waitUntilEmpty()
        self._stages(acc)
        dfs = list(self.op_dfs)
        if df is not None and all(d is not df for d in dfs):
            dfs.append(df)
        for d in dfs:
            self._phases(d, acc)
        if df is not None:
            self._plan(df, acc)
        gc1 = self._gc()
        acc["jvm.gc_ms"] = gc1[0] - self.gc0[0]
        acc["jvm.gc_count"] = gc1[1] - self.gc0[1]
        acc["session.warn_lines"] = self._warn_lines()
        acc["wall"] = wall
        coverage = acc["top"] / wall if wall else 1.0
        if coverage < self.min_coverage:
            self.min_coverage, self.worst_op = coverage, (op["tag"], wall, acc["top"])
        cls = "plan" if op["kind"] == "plan" else op["tag"].split("_")[0]
        if cls in ("insert", "update", "delete"):
            acc["dml.rows_affected"] = op.get("affected", 0)
            acc[f"dml.{cls}_ms"] = acc["dml.write"]
        if op["kind"] == "plan":
            acc["pipeline.collect_ms"] = acc["exec.collect"]
        self.n_ops += 1
        self.n_by_class[cls] += 1
        for k, v in acc.items():
            self.sums[k] += v
        self.sc.setJobGroup("idle", "between operations", False)

    def _gc(self) -> tuple[int, int]:
        return (sum(b.getCollectionTime() for b in self.gc_beans),
                sum(b.getCollectionCount() for b in self.gc_beans))

    def _warn_lines(self) -> int:
        try:
            with open(self.log_path, "rb") as fh:
                fh.seek(self.log_pos)
                chunk = fh.read()
        except OSError:
            return 0
        self.log_pos += len(chunk)
        return sum(1 for line in chunk.splitlines() if b" WARN " in line)

    def _stages(self, acc) -> None:
        tracker = self.sc.statusTracker()
        store = self.jsc.statusStore()
        for suffix in ("run", "build", "collect"):
            jobs = tracker.getJobIdsForGroup(f"{self.gid}-{suffix}")
            acc["exec.jobs"] += len(jobs)
            if suffix == "build":
                acc["pipeline.build_jobs"] += len(jobs)
            for j in jobs:
                info = tracker.getJobInfo(j)
                for sid in (info.stageIds if info else []):
                    try:
                        sd = store.lastStageAttempt(sid)
                    except Py4JJavaError:  # a skipped stage has no attempt
                        continue
                    acc["exec.stages"] += 1
                    acc["exec.tasks"] += sd.numTasks()
                    acc["exec.task_time_ms"] += sd.executorRunTime()
                    acc["exec.shuffle_bytes"] += sd.shuffleWriteBytes()
                    acc["exec.spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                    acc["exec.peak_mem_bytes"] = max(
                        acc["exec.peak_mem_bytes"], sd.peakExecutionMemory())
                    acc["exec.scan_rows"] += sd.inputRecords()

    def _phases(self, df, acc) -> None:
        phases = df._jdf.queryExecution().tracker().phases()
        for p in PHASES:
            o = phases.get(p)
            if o.isDefined():
                acc[f"catalyst.{p}_ms"] += o.get().durationMs()

    def _plan(self, df, acc) -> None:
        """Walk the executed (final adaptive) plan: exchanges and the
        Python-UDF nodes' SQL metrics."""
        todo = [df._jdf.queryExecution().executedPlan()]
        while todo:
            node = todo.pop()
            cls = node.getClass().getSimpleName()
            if cls in ("ShuffleExchangeExec", "BroadcastExchangeExec"):
                acc["exec.exchanges"] += 1
            metrics = node.metrics()
            if metrics.contains("pythonTotalTime"):
                for key, name in (("pythonTotalTime", "udf.python_total_ms"),
                                  ("pythonBootTime", "udf.python_boot_ms")):
                    if metrics.contains(key):
                        m = metrics.apply(key)
                        scale = 1e-6 if m.metricType() == "nsTiming" else 1.0
                        acc[name] += m.value() * scale
                if metrics.contains("pythonNumRowsReceived"):
                    acc["udf.rows"] += metrics.apply("pythonNumRowsReceived").value()
            if cls == "AdaptiveSparkPlanExec":
                kids = [node.executedPlan()]
            elif cls.endswith("QueryStageExec"):
                kids = [node.plan()]
            elif cls == "ReusedExchangeExec":
                kids = []
            else:
                seq = node.children()
                kids = [seq.apply(i) for i in range(seq.size())]
                subs = node.subqueries()
                kids += [subs.apply(i) for i in range(subs.size())]
            todo.extend(kids)

    # ------------------------------------------------------------ summary
    def summary(self) -> dict:
        s, by = self.sums, self.n_by_class

        def per(key: str, count: float) -> float:
            return s[key] / count if count else 0.0

        n = self.n_ops
        dml_ops = by["insert"] + by["update"] + by["delete"]
        out = {name: per(key, n) for name, key in (
            ("session.warn_lines", "session.warn_lines"),
            ("engine.execute_ms", "engine.execute"),
            ("dialect.transpile_ms", "dialect.transpile"),
            ("dialect.pg_sql_ms", "dialect.pg_sql"),
            ("dialect.calls_per_op", "dialect.calls"),
            ("exec.collect_ms", "exec.collect"),
            ("exec.jobs_per_op", "exec.jobs"),
            ("exec.stages_per_op", "exec.stages"),
            ("exec.tasks_per_op", "exec.tasks"),
            ("exec.task_time_ms", "exec.task_time_ms"),
            ("exec.exchanges", "exec.exchanges"),
            ("exec.shuffle_bytes", "exec.shuffle_bytes"),
            ("exec.spill_bytes", "exec.spill_bytes"),
            ("exec.peak_mem_bytes", "exec.peak_mem_bytes"),
            ("exec.scan_rows", "exec.scan_rows"),
            ("exec.rows_out", "exec.rows_out"),
            ("udf.python_total_ms", "udf.python_total_ms"),
            ("udf.python_boot_ms", "udf.python_boot_ms"),
            ("udf.rows", "udf.rows"),
            ("jvm.gc_ms", "jvm.gc_ms"),
            ("jvm.gc_count", "jvm.gc_count"),
        ) + tuple((f"catalyst.{p}_ms", f"catalyst.{p}_ms") for p in PHASES)}
        out.update({
            "engine.self_ms": (s["engine.execute"] - s["engine.children"]) / n if n else 0.0,
            "exec.parallelism_eff": per("exec.task_time_ms", s["wall"] * self.cores),
            "exec.examined_per_returned": s["exec.scan_rows"] / max(s["exec.rows_out"], 1.0),
            "dml.insert_ms": per("dml.insert_ms", by["insert"]),
            "dml.update_ms": per("dml.update_ms", by["update"]),
            "dml.delete_ms": per("dml.delete_ms", by["delete"]),
            "dml.files_written": per("dml.files_written", dml_ops),
            "dml.bytes_written": per("dml.bytes_written", dml_ops),
            "dml.files_carried": per("dml.files_carried", dml_ops),
            "dml.write_amp": per("dml.rows_written", s["dml.rows_affected"]),
            "pipeline.build_ms": per("pipeline.build", by["plan"]),
            "pipeline.build_jobs": per("pipeline.build_jobs", by["plan"]),
            "pipeline.collect_ms": per("pipeline.collect_ms", by["plan"]),
            "trace.span_coverage": self.min_coverage,
        })
        return out
