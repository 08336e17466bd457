"""Self-tests of the benchmark: generator, output checker, smoke runs.

    python3 -m pytest perfbench -q

The smoke runs start Spark (about a minute each); select the fast tests
alone with ``-k "not smoke"``.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import run  # noqa: E402
import worker  # noqa: E402
import workloads  # noqa: E402


def _stream(workload: str, seed: int, data_seed: int = 1) -> str:
    tables = datagen.make_tables(0.001, data_seed)
    return json.dumps(workloads.build(workload, seed, tables, 4))


@pytest.mark.parametrize("workload", sorted(run.WORKLOADS))
def test_same_seed_same_stream_other_seed_other_stream(workload):
    assert _stream(workload, 7) == _stream(workload, 7)
    assert _stream(workload, 7) != _stream(workload, 8)


def test_dataset_is_seeded():
    a, b, c = (datagen.make_tables(0.001, s) for s in (3, 3, 4))
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])


def test_passes_after_warmup_have_one_mix():
    """Every timed pass holds the same operation classes, so runs that
    stop after whole passes measure the same mix whatever the seed."""
    for workload in run.WORKLOADS:
        passes = json.loads(_stream(workload, 5))[1:]
        mixes = {tuple(sorted(op["tag"] for op in ops)) for ops in passes}
        assert len(mixes) == 1, workload


def test_dialect_warmup_runs_a_python_udf():
    """The smoke run's zero failures then also prove that Spark's Python
    workers can import the package (they run the to_char UDF)."""
    warm = json.loads(_stream("dialect_short", 1))[0]
    assert any("to_char(" in op["text"] for op in warm)


class _FakeDF:
    def __init__(self, rows, columns):
        self.rows, self.columns = rows, columns

    def collect(self):
        return self.rows


class _FakeSpark:
    class catalog:  # noqa: N801 - mirrors SparkSession.catalog
        @staticmethod
        def clearCache():  # noqa: N802 - the PySpark method name
            pass


class _FakeEngine:
    def __init__(self, rows, columns):
        self.df = _FakeDF(rows, columns)

    def execute(self, sql):
        return self.df


def _runner(rows, columns=("v",)):
    r = worker.Runner.__new__(worker.Runner)
    r.expected, r.attempted, r.failed, r.failures = {}, 0, 0, []
    r.tracer, r.spark, r.engine = None, _FakeSpark(), _FakeEngine(rows, list(columns))
    return r


def test_checker_counts_a_wrong_result_as_failed():
    good = {"kind": "sql", "text": "SELECT 3", "tag": "t",
            "expect": {"rows": [["3"]], "ordered": False}}
    wrong = dict(good, expect={"rows": [["4"]], "ordered": False})
    r = _runner([(3,)])
    r.run_op(good)
    assert (r.attempted, r.failed) == (1, 0)
    r.run_op(wrong)
    assert (r.attempted, r.failed) == (2, 1)
    assert "expected" in r.failures[0]["error"]


def test_checker_compares_oracle_results_by_column_name():
    r = _runner([(1, "x"), (2, "y")], columns=("id", "tag"))
    r.expected = {"q": {"columns": ["id", "tag"], "rows": [["1", "x"], ["2", "y"]]}}
    r.run_op({"kind": "sql", "text": "q", "tag": "q", "expect": {"ref": "q"}})
    assert r.failed == 0
    r.expected["q"]["rows"][1][1] = "z"
    r.run_op({"kind": "sql", "text": "q", "tag": "q", "expect": {"ref": "q"}})
    assert r.failed == 1


def test_canon_equates_types_not_values():
    from decimal import Decimal

    from oracle import canon_rows

    assert canon_rows([(Decimal("3.00"), 1.5)], True) == canon_rows([(3, Decimal("1.50"))], True)
    assert canon_rows([(1.25,)], True) != canon_rows([(1.26,)], True)


def test_percentile_is_nearest_rank():
    vals = list(range(1, 21))
    assert worker.percentile(vals, 50) == 10
    assert worker.percentile(vals, 50) == sorted(vals)[len(vals) // 2 - 1]
    assert worker.percentile(vals, 100) == 20


@pytest.mark.parametrize("workload", sorted(run.WORKLOADS))
def test_smoke_run_has_no_failures(workload):
    rec = run.run_once(workload, seed=1, seconds=1, trace=True, sf=0.001)
    res = rec["result"]
    assert res["attempted"] > 0
    assert (res["failed"], rec["failures"]) == (0, [])
    layers = res["layers"]
    assert set(run.metric_units()[1]) <= set(layers)
    assert layers["trace.span_coverage"] >= 0.9
    assert set(run.metric_units()[0]) <= set(res)
