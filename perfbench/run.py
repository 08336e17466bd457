"""Benchmark of the PostgreSQL-dialect engine, end to end and per layer.

One run::

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

run from the repository root.  It generates a seeded dataset and operation
stream in a per-run work directory under ``.bench_work/``, computes every
expected result with DuckDB, then starts the measured process
(``worker.py``): one Spark driver at ``local[<nproc>]``, one closed-loop
client.  Spark's stderr goes to ``.bench_logs/<workload>-<seed>-<time>.log``
and never to standard output.  The last line printed is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``); the line before it is the run record (host, versions,
seed, source digest, failures).

Steadiness: ``--repeat N`` runs N seeds in a row and prints each metric's
median, quartiles and quartile spread; ``--save FILE`` keeps the runs.

Workloads, metrics and bounds are listed in ``BENCHMARK.json`` and
explained in ``perfbench/GLOSSARY.md``.
"""

from __future__ import annotations

import argparse
import contextlib
import ctypes
import hashlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(1, ROOT)

# Per-workload sizing.  sf: dataset scale.  passes: the whole timed passes
# a --seconds 10 run makes (the count scales with --seconds, at least one),
# so every run of a workload times the same number of operations; on a
# 4-core host they take about 10 to 20 s.  tail_pct: the percentile
# reported as latency_tail_ms -- the highest with at least ten of those
# operations beyond it.  BENCHMARK.json lists the workloads a check runs;
# dialect_short is left out of it to keep a check's runs within their time
# budget, and is run by name.
WORKLOADS = {
    "tpch_llm": {"sf": 0.02, "passes": 2, "tail_pct": 66},
    "dialect_short": {"sf": 0.02, "passes": 2, "tail_pct": 83},
    "dml_mixed": {"sf": 0.02, "passes": 2, "tail_pct": 58},
}

# Untimed passes before the timed ones: pass 0 (each distinct operation
# once) and one pass like the timed ones.
WARMUP_PASSES = 2

CHILD_TIMEOUT_S = 160  # a run must end within 180 s, preparation included


def host_record() -> dict:
    mem_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    with open("/proc/stat") as fh:
        steal = int(fh.readline().split()[8])  # the cpu line's steal field
    return {"nproc": os.cpu_count(), "mem_total_mb": mem_kb // 1024,
            "loadavg": list(os.getloadavg()), "cpu_steal_ticks": steal,
            "python": platform.python_version()}


def source_digest() -> str:
    """The commit when the tree is a git checkout, else a digest of the
    package sources (the benchmark may run from an exported tree)."""
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "greengage_spark")
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    return "src-" + h.hexdigest()[:16]


def driver_memory(mem_total_mb: int) -> str:
    """An eighth of the host's RAM, between 1 and 4 GB: the host may be
    shared, and the package's own default (48 GB) can exceed it."""
    return f"{max(1024, min(4096, mem_total_mb // 8))}m"


PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Adopt every orphaned descendant.  Spark's Python daemon leaves the
    worker's process group (``setpgid(0, 0)``) and outlives the JVM that
    started it for a moment; as a subreaper this process inherits it and
    can kill and reap it instead of leaving it to init."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def descendants() -> dict[int, str]:
    """Every descendant of this process, zombies included: pid -> state."""
    children: dict[int, list[int]] = {}
    state: dict[int, str] = {}
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                st, ppid = fh.read().rsplit(")", 1)[1].split()[:2]
        except OSError:
            continue
        children.setdefault(int(ppid), []).append(int(pid))
        state[int(pid)] = st
    out, todo = {}, [os.getpid()]
    while todo:
        for c in children.get(todo.pop(), []):
            out[c] = state[c]
            todo.append(c)
    return out


def reap() -> None:
    """Collect the exit status of every child that has ended."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_all(proc: subprocess.Popen, timeout_s: float = 20.0) -> None:
    """Kill the worker, its process group (its JVM and Spark's Python
    workers) and every other descendant, and wait until none is left."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.monotonic() + timeout_s
    while True:
        # A zombie is reaped once all its threads have ended; its own
        # children are adopted (and reaped) only after that.
        left = descendants()
        for pid, st in left.items():
            if st not in "ZX":
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, signal.SIGKILL)
        reap()
        if not left:
            return
        if time.monotonic() > deadline:
            raise RuntimeError(f"processes {left} still not reaped after SIGKILL")
        time.sleep(0.05)


def _exit_on_signal(signum, _frame):
    """SIGTERM/SIGHUP end the run through its cleanup, not around it."""
    raise SystemExit(128 + signum)


def prepare(work: str, workload: str, seed: int, seconds: int, trace: bool, log: str,
            sf: float | None) -> dict:
    """Dataset, operation stream and expected results for one run."""
    import datagen
    import pyarrow.parquet as pq
    from oracle import duck_connect, duck_named
    from workloads import build, dml_setup_sql, resolve

    from greengage_spark.plans.registry import all_queries

    cfg = WORKLOADS[workload]
    data = os.path.join(work, "data")
    datagen.write_dataset(data, sf or cfg["sf"], seed)
    tables = {t: pq.read_table(os.path.join(data, f"{t}.parquet"))
              for t in ("customer", "supplier", "orders")}
    k = max(1, round(cfg["passes"] * seconds / 10))
    # warm-up, k timed passes, and k more for a traced run
    passes = build(workload, seed, tables, WARMUP_PASSES + 2 * k)
    con = duck_connect(data)
    resolve(passes, con)
    plans = all_queries()
    expected = {}
    for ops in passes:
        for op in ops:
            exp = op["expect"]
            if exp and "ref" in exp:
                name = exp["ref"]
                if name not in expected:
                    expected[name] = duck_named(con, plans[name].oracle)
                if op["kind"] == "sql":
                    op["text"] = plans[name].oracle
    con.close()
    return {
        "passes": passes,
        "expected": expected,
        "tail_pct": cfg["tail_pct"],
        "timed_passes": k,
        "warmup_passes": WARMUP_PASSES,
        "trace": trace,
        "log": log,
        "setup_sql": dml_setup_sql() if workload == "dml_mixed" else [],
    }


def run_once(workload: str, seed: int, seconds: int, trace: bool,
             sf: float | None = None) -> dict:
    """One measured run; returns the run record (with ``result``).  ``sf``
    overrides the workload's dataset scale (the self-tests' smoke runs)."""
    t_start = time.perf_counter()
    become_subreaper()
    stamp = time.strftime("%Y%m%dT%H%M%S")
    work = os.path.join(ROOT, ".bench_work", f"{workload}-{seed}-{os.getpid()}")
    logs = os.path.join(ROOT, ".bench_logs")
    os.makedirs(logs, exist_ok=True)
    log = os.path.join(logs, f"{workload}-{seed}-{stamp}.log")
    record = {"workload": workload, "seed": seed, "seconds": seconds, "trace": int(trace),
              "source": source_digest(), "host_before": host_record(),
              "log": os.path.relpath(log, ROOT)}
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        t0 = time.perf_counter()
        cfg = prepare(work, workload, seed, seconds, trace, log, sf)
        record["prepare_s"] = time.perf_counter() - t0
        with open(os.path.join(work, "ops.json"), "w") as fh:
            json.dump(cfg, fh)
        env = dict(os.environ)
        env.update({
            # Spark's Python workers import the package by name: they need
            # the repository on their path, not only the driver.
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, HERE, env.get("PYTHONPATH")) if p),
            "SPARK_GRAFT_CPUS": str(os.cpu_count()),
            "SPARK_DRIVER_MEMORY": driver_memory(record["host_before"]["mem_total_mb"]),
            "SPARK_LOCAL_DIRS": os.path.join(work, "tmp"),
            "TMPDIR": os.path.join(work, "tmp"),
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
        })
        with open(log, "ab") as err:
            proc = subprocess.Popen([sys.executable, os.path.join(HERE, "worker.py"), work],
                                    cwd=work, env=env, stdout=err, stderr=err,
                                    start_new_session=True)
            timed_out = False
            try:
                proc.wait(timeout=CHILD_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                timed_out = True
            finally:
                stop_all(proc)
            if timed_out:
                raise RuntimeError(f"worker timed out after {CHILD_TIMEOUT_S}s; see {log}")
        if proc.returncode != 0:
            raise RuntimeError(f"worker exited with {proc.returncode}; see {log}")
        with open(os.path.join(work, "result.json")) as fh:
            res = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    record["host_after"] = host_record()
    record["wall_s"] = time.perf_counter() - t_start
    record.update({k: res.pop(k) for k in
                   ("versions", "failures", "timed_ops", "timed_passes", "setup_parts",
                    "op_walls", "warmup_walls", "worst_covered_op")
                   if k in res})
    record["failed_frac"] = res["failed"] / res["attempted"]
    record["result"] = res
    return record


def benchmark_workloads() -> list[str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return [w["name"] for w in json.load(fh)["workloads"]]


def metric_units() -> tuple[dict, dict]:
    """(end-to-end, per-layer) metric name -> unit, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def metrics_of(res: dict, trace: bool) -> dict:
    end_to_end, per_layer = metric_units()
    if trace:
        return {k: {"value": res["layers"][k], "unit": u} for k, u in per_layer.items()}
    return {k: {"value": res[k], "unit": u} for k, u in end_to_end.items()}


def result_line(record: dict) -> dict:
    res = record["result"]
    return {"correct": res["failed"] == 0, "attempted": res["attempted"],
            "failed": res["failed"], "metrics": metrics_of(res, bool(record["trace"]))}


def spread_table(records: list[dict]) -> dict:
    """Median, quartiles and quartile spread (as a share of the median) of
    every metric across runs."""
    table = {}
    lines = [result_line(r)["metrics"] for r in records]
    for k in lines[0]:
        vals = [m[k]["value"] for m in lines]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        table[k] = {"median": med, "q1": q1, "q3": q3,
                    "spread": (q3 - q1) / med if med else 0.0, "values": vals}
    return table


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS) + ["all"],
                    help="'all' (with --repeat) interleaves BENCHMARK.json's workloads "
                    "seed by seed")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--repeat", type=int, default=0,
                    help="run this many seeds (seed, seed+1, ...) and print the spread")
    ap.add_argument("--save", help="with --repeat: write the run records and spreads to "
                    "<SAVE><workload>.json")
    a = ap.parse_args()
    for sig in (signal.SIGTERM, signal.SIGHUP):
        signal.signal(sig, _exit_on_signal)
    for need in ("greengage_spark/__init__.py", "BENCHMARK.json"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}", file=sys.stderr)
            return 2
    if a.repeat:
        names = benchmark_workloads() if a.workload == "all" else [a.workload]
        records: dict[str, list] = {w: [] for w in names}
        for i in range(a.repeat):
            for w in names:
                rec = run_once(w, a.seed + i, a.seconds, bool(a.trace))
                records[w].append(rec)
                print(w, a.seed + i, f"wall {rec['wall_s']:.1f}s",
                      json.dumps(result_line(rec)), flush=True)
        for w in names:
            table = spread_table(records[w])
            if a.save:
                with open(f"{a.save}{w}.json", "w") as fh:
                    json.dump({"runs": records[w], "spread": table}, fh, indent=1)
            for k, v in table.items():
                print(f"{w:14s} {k:28s} median {v['median']:12.4f}  q1 {v['q1']:12.4f}  "
                      f"q3 {v['q3']:12.4f}  spread {v['spread']:.3f}")
        return 0
    if a.workload == "all":
        ap.error("--workload all needs --repeat")
    rec = run_once(a.workload, a.seed, a.seconds, bool(a.trace))
    print(json.dumps({k: v for k, v in rec.items() if k not in ("result", "op_walls", "warmup_walls")}))
    print(json.dumps(result_line(rec)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
