"""Seeded synthetic dataset in the shape of the package's TPC-H-ish fixtures.

The tables have the same names, columns and physical types as the parquet
fixtures the package's queries are written against (see FIXTURES.md and
TESTDATA.md at the repository root): eight TPC-H-style tables plus the
``events``, ``documents`` and ``embeddings`` tables used by the LLM-pipeline
plans.  Row counts scale with ``sf`` the way the fixtures do (lineitem is
6M x sf rows).  One parquet file with a single row group per table, as in
the fixtures, so the catalog's load-time repartition path is exercised.

Everything is drawn from ``numpy.random.default_rng(seed)``: the same
(sf, seed) gives byte-identical tables.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "en", "en", "es", "fr", "zh"]
WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()

EPOCH = dt.datetime(1970, 1, 1)


def _us(d: dt.datetime) -> int:
    return int((d - EPOCH).total_seconds() * 1_000_000)


def _days(rng, n: int, start: dt.datetime, end: dt.datetime) -> np.ndarray:
    """Whole-day timestamps (microseconds) uniform in [start, end]."""
    span = (end - start).days
    return _us(start) + rng.integers(0, span + 1, n) * 86_400_000_000


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, choices: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(choices, dtype=object)[rng.integers(0, len(choices), n)])


def _ts(values: np.ndarray) -> pa.Array:
    return pa.array(values.astype("int64"), type=pa.int64()).cast(pa.timestamp("us"))


def make_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = max(6_000, int(6_000_000 * sf))
    n_events = max(1_000, int(1_000_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vecs = max(500, int(20_000 * sf))

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    pk = np.arange(n_part, dtype="int64")
    adj = np.asarray(PART_ADJ, dtype=object)[rng.integers(0, len(PART_ADJ), n_part)]
    noun = np.asarray(PART_NOUN, dtype=object)[rng.integers(0, len(PART_NOUN), n_part)]
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": adj + " " + noun,
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _ts(_days(rng, n_ord, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1))),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype("int64"),
        "l_partkey": rng.integers(0, n_part, n_line).astype("int64"),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype("int64"),
        "l_linenumber": rng.integers(1, 8, n_line).astype("int32"),
        "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
        "l_extendedprice": _money(rng, n_line, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _ts(_days(rng, n_line, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4))),
    })
    ev_ts = np.sort(_us(dt.datetime(2024, 1, 1)) + rng.integers(0, 30 * 86_400_000_000, n_events))
    t["events"] = pa.table({
        "event_id": np.arange(n_events, dtype="int64"),
        "ts": _ts(ev_ts),
        "user_id": rng.integers(0, max(100, n_events // 66), n_events).astype("int64"),
        "event_type": _pick(rng, EVENT_TYPES, n_events),
        "value": _money(rng, n_events, 0.0, 560.0),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
    })
    texts = []
    for _ in range(n_docs):
        words = np.asarray(WORDS, dtype=object)[rng.integers(0, len(WORDS), rng.integers(8, 90))]
        texts.append(" ".join(words))
    # One document in twenty is a near copy of an earlier one (a word
    # swapped, or the words reordered), so the dedup plans find clusters.
    for i in range(20, n_docs, 20):
        words = texts[int(rng.integers(0, i))].split(" ")
        if i % 40:
            words[int(rng.integers(0, len(words)))] = "dup"
        else:
            rng.shuffle(words)
        texts[i] = " ".join(words)
    t["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype="int64"),
        "text": texts,
        "lang": _pick(rng, LANGS, n_docs),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n_docs)]),
        "n_chars": np.asarray([len(x) for x in texts], dtype="int64"),
    })
    emb = (rng.standard_normal((n_vecs, 64)) * 0.12).astype("float32")
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_vecs, dtype="int64"),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vecs).astype("int32"),
    })
    return t


def write_dataset(out_dir: str, sf: float, seed: int) -> None:
    """Write every table as ``<out_dir>/<name>.parquet`` (one row group each).

    The files are written to a sibling temporary directory that is renamed
    into place, so a reader never sees a half-written dataset."""
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in make_tables(sf, seed).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"), row_group_size=len(table))
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)
