"""The measured process: one Spark driver running one workload's stream.

Started by ``run.py`` as ``python worker.py <work dir>`` with the
repository on ``PYTHONPATH`` (so Spark's Python workers can import the
package too), Spark's stderr going to a per-run log file, and the current
directory inside the per-run work directory.  Reads ``ops.json`` from the
work directory and writes ``result.json`` there; prints nothing.

The loop is closed with one client: each operation is submitted when the
previous one has returned its last row.  After every operation the
session's cache is cleared outside the timed span, as ``bench.py`` does.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()  # before any heavy import: setup_s starts here

import contextlib  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

from oracle import canon_named, canon_rows  # noqa: E402


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def check(op: dict, rows, columns, expected: dict) -> str | None:
    """None when ``rows`` is the output ``op`` expects, else why not."""
    exp = op["expect"]
    if exp is None:
        return None
    if rows is None:
        return "statement returned no result set"
    if "ref" in exp:
        want = expected[exp["ref"]]
        got = canon_named(columns, rows)
        if got["columns"] != want["columns"]:
            return f"columns {got['columns']} != oracle {want['columns']}"
        if got["rows"] != want["rows"]:
            return f"{len(got['rows'])} rows differ from the oracle's {len(want['rows'])}"
        return None
    got = canon_rows(rows, exp["ordered"])
    if got != exp["rows"]:
        return f"got {json.dumps(got)[:200]} expected {json.dumps(exp['rows'])[:200]}"
    return None


def _no_span(name: str, group: str | None = None):
    return contextlib.nullcontext()


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest value with at least p% of the
    samples at or below it."""
    s = sorted(values)
    k = max(0, min(len(s) - 1, -(-len(s) * p // 100) - 1))
    return s[int(k)]


class Runner:
    def __init__(self, work: str, cfg: dict):
        self.work = work
        self.cfg = cfg
        self.data_dir = os.path.join(work, "data")
        self.expected = cfg["expected"]
        self.attempted = 0
        self.failed = 0
        self.failures: list[dict] = []
        self.tracer = None
        self.op_walls: list[tuple[str, float]] = []

    # ------------------------------------------------------------ set-up
    def setup(self) -> dict:
        t0 = time.perf_counter()
        from greengage_spark.session import get_spark

        tmp = os.path.join(self.work, "tmp")
        heap_mb = int(os.environ["SPARK_DRIVER_MEMORY"].rstrip("m"))
        # The parallel collector with a fixed young generation: the heap,
        # and so the peak RSS, grows the same way on every run, however
        # fast the host is.  No perf-counter file in the host's /tmp.
        jvm_opts = (f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:+UseParallelGC "
                    f"-Xmn{heap_mb // 5}m")
        self.spark = get_spark(
            "perfbench",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": tmp,
                "spark.driver.extraJavaOptions": jvm_opts,
                "spark.sql.warehouse.dir": os.path.join(self.work, "spark-warehouse"),
            },
        )
        t1 = time.perf_counter()
        from greengage_spark.catalog import shared_catalog

        shared_catalog(self.spark, self.data_dir).warm()
        shared_catalog(self.spark, self.data_dir).register_views()
        t2 = time.perf_counter()
        from greengage_spark.engine import GreengageEngine
        from greengage_spark.plans.registry import all_queries

        self.engine = GreengageEngine(self.spark, os.path.join(self.work, "warehouse"))
        self.plans = all_queries()
        self.load_fixtures()
        return {"session.start_s": t1 - t0, "catalog.warm_s": t2 - t1}

    # ------------------------------------------------------- one operation
    def run_op(self, op: dict, traced: bool = False) -> float:
        """Run ``op``, check its output and return its wall time in ms."""
        tr = self.tracer if traced else None
        span = tr.span if tr else _no_span
        self.attempted += 1
        err = None
        rows = None
        if tr:
            tr.begin_op(op)
        t0 = time.perf_counter()
        try:
            if op["kind"] == "plan":
                with span("pipeline.build", group="build"):
                    df = self.plans[op["text"]].fn(self.spark, self.data_dir)
            else:
                with span("engine.execute"):
                    df = self.engine.execute(op["text"])
            if df is not None:
                with span("exec.collect", group="collect"):
                    rows = df.collect()
            wall = (time.perf_counter() - t0) * 1e3
            err = check(op, rows, df.columns if df is not None else None, self.expected)
        except Exception as e:  # an operation's failure is counted, not fatal
            wall = (time.perf_counter() - t0) * 1e3
            df = None
            err = "".join(traceback.format_exception_only(type(e), e)).strip()[-400:]
        if tr:
            tr.end_op(op, wall, df, len(rows) if rows is not None else 0)
        self.spark.catalog.clearCache()
        if err is not None:
            self.failed += 1
            if len(self.failures) < 20:
                self.failures.append({"op": op["text"][:300], "error": err})
        return wall

    def load_fixtures(self) -> None:
        """(Re)create the workload's tables: ``dml_mixed``'s table, fresh
        from ``customer``."""
        for sql in self.cfg["setup_sql"]:
            self.engine.execute(sql)

    def start_pass(self) -> None:
        """Before a timed pass, outside its window: reload the fixtures when
        the workload writes, so that every pass starts from the same table
        (each write adds data files, and later statements scan them all),
        then collect the garbage of what ran before."""
        if self.cfg["setup_sql"]:
            self.load_fixtures()
        self.collect_garbage()

    def run_passes(self, passes: list[list[dict]]):
        """Run ``passes``; returns (per-op wall times, seconds the passes
        took, what runs between them excluded)."""
        walls: list[float] = []
        window = 0.0
        for ops in passes:
            self.start_pass()
            t0 = time.perf_counter()
            for op in ops:
                walls.append(self.run_op(op))
                self.op_walls.append((op["tag"], walls[-1]))
            window += time.perf_counter() - t0
        return walls, window

    def collect_garbage(self) -> None:
        """A full JVM collection between passes (bench.py collects between
        queries): the garbage of one pass is not collected in the next."""
        self.spark._jvm.System.gc()

    def run_traced(self, passes: list[list[dict]]) -> float:
        """Run ``passes`` tracing every other operation (the other half in
        the next pass); returns the tracing overhead: the mean cost of a
        traced operation, its bookkeeping included, over that of an
        untraced one, minus one."""
        cost = {True: [], False: []}
        for p, ops in enumerate(passes):
            self.start_pass()
            for i, op in enumerate(ops):
                traced = (p + i) % 2 == 1
                t0 = time.perf_counter()
                self.run_op(op, traced)
                cost[traced].append(time.perf_counter() - t0)
        mean = {k: sum(v) / len(v) for k, v in cost.items() if v}
        return mean[True] / mean[False] - 1 if len(mean) == 2 else float("nan")


def main() -> None:
    work = sys.argv[1]
    with open(os.path.join(work, "ops.json")) as fh:
        cfg = json.load(fh)
    r = Runner(work, cfg)
    out: dict = {}
    passes = cfg["passes"]
    trace = cfg["trace"]
    t_setup = time.perf_counter()
    setup_layers = r.setup()
    t_warm = time.perf_counter()
    # Warm-up: pass 0 (each distinct operation once) and then passes like
    # the timed ones, executed and checked but not timed.  With pass 0
    # alone, the first timed pass ran 10-15% slower than the second.
    w = cfg["warmup_passes"]
    warmup = []
    for i, ops in enumerate(passes[:w]):
        if i:
            r.start_pass()
        warmup += [(op["tag"], r.run_op(op)) for op in ops]
    r.collect_garbage()
    k = cfg["timed_passes"]
    out["setup_s"] = time.perf_counter() - T_PROCESS
    out["setup_parts"] = dict(setup_layers, imports_s=t_setup - T_PROCESS,
                              fixtures_s=t_warm - t_setup - sum(setup_layers.values()),
                              warmup_s=time.perf_counter() - t_warm)
    # The loaded stream and set-up objects live for the whole run: keep the
    # interpreter's collector from rescanning them inside timed operations.
    gc.collect()
    gc.freeze()
    walls, window = r.run_passes(passes[w:w + k])
    if trace:
        from tracer import Tracer

        r.tracer = Tracer(r.spark, cfg["log"])
        r.tracer.install()
        overhead = r.run_traced(passes[w + k:w + 2 * k])
        out["layers"] = dict(r.tracer.summary(), **setup_layers)
        out["layers"]["trace.overhead_frac"] = overhead
        out["worst_covered_op"] = r.tracer.worst_op
    jvm_pid = int(r.spark._jvm.java.lang.ProcessHandle.current().pid())
    out.update({
        "latency_p50_ms": percentile(walls, 50),
        "latency_tail_ms": percentile(walls, cfg["tail_pct"]),
        "throughput_ops_s": len(walls) / window,
        "peak_rss_mb": (_vm_hwm_kb(jvm_pid) + _vm_hwm_kb(os.getpid())) / 1024,
        "timed_ops": len(walls),
        "op_walls": r.op_walls,
        "warmup_walls": warmup,
        "timed_passes": k,
        "attempted": r.attempted,
        "failed": r.failed,
        "failures": r.failures,
        "versions": {
            "spark": r.spark.version,
            "java": r.spark._jvm.java.lang.System.getProperty("java.version"),
        },
    })
    with open(os.path.join(work, "result.json.tmp"), "w") as fh:
        json.dump(out, fh)
    os.rename(os.path.join(work, "result.json.tmp"), os.path.join(work, "result.json"))
    # No orderly SparkContext shutdown: nothing is left to flush, and the
    # harness stops the JVM with the rest of this process group.
    os._exit(0)


if __name__ == "__main__":
    main()
