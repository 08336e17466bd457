"""Seeded operation streams for the three workloads.

A stream is a list of *passes*; every pass of a workload has the same mix
of operations, so a run that stops after whole passes measures the same
mix whatever the seed.  An operation is a dict::

    {"kind": "sql" | "plan", "text": <SQL or registry plan name>,
     "tag": <operation class>, "expect": <how its output is checked>}

``expect`` is one of

* ``{"rows": [...], "ordered": bool}`` -- canonical rows, known in advance;
* ``{"duck": <SQL>, "ordered": bool}`` -- rows DuckDB computes over the same
  parquet (filled in by :func:`resolve`, which turns it into ``rows``);
* ``{"ref": <plan name>}`` -- the registry plan's DuckDB oracle result;
* ``None`` -- a write: it must not raise, and the reads after it check the
  table it changed.

Only the SQL text or the plan name reaches the program under test.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import random
from decimal import ROUND_HALF_UP, Decimal

from oracle import canon_rows, duck_rows

TPCH = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "q6_revenue_forecast",
    "q9_product_profit",
    "q13_customer_distribution",
    "q18_large_volume_customer",
    "q21_waiting_supplier",
]

PIPELINE = [
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_substring_spans",
    "similarity_bruteforce_topk",
    "similarity_lsh_topk",
    "similarity_ivf_topk",
    "text_quality_metrics",
]

WORDS = ["alpha", "beta", "gamma", "delta", "omega", "sigma", "kappa", "theta"]
SEGS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
DML_TABLE = "bench_acct"


def _rows(rows, ordered=False):
    return {"rows": canon_rows(rows, ordered), "ordered": ordered}


def _duck(sql, ordered=False):
    return {"duck": sql, "ordered": ordered}


def _date(r: random.Random) -> dt.date:
    return dt.date(1995, 1, 1) + dt.timedelta(days=r.randrange(0, 2400))


def _dec(r: random.Random, lo: int, hi: int) -> Decimal:
    return Decimal(r.randrange(lo * 100, hi * 100)) / 100


# --------------------------------------------------------------------------
# dialect_short: PostgreSQL-dialect statements.  Each shape takes the
# stream's Random and the dataset sizes and returns (sql, expect).

def _series(n):
    return list(range(1, n + 1))


def _s_int_add(r, z):
    a, b = r.randrange(1, 10_000), r.randrange(1, 10_000)
    return f"SELECT {a}::int + {b}::int AS s", _rows([[a + b]])


def _s_numeric_mul(r, z):
    a = _dec(r, 1, 5000)
    return f"SELECT '{a}'::numeric(10,2) * 2 AS v", _rows([[a * 2]])


def _s_bigint_mod(r, z):
    a = r.randrange(10**9, 10**12)
    return f"SELECT CAST({a} AS bigint) % 7 AS m", _rows([[a % 7]])


def _s_date_plus_int(r, z):
    d, n = _date(r), r.randrange(1, 400)
    return f"SELECT '{d}'::date + {n} AS d", _rows([[d + dt.timedelta(days=n)]])


def _s_date_plus_interval(r, z):
    d, n = _date(r), r.randrange(1, 90)
    exp = dt.datetime.combine(d + dt.timedelta(days=n), dt.time())
    return f"SELECT date '{d}' + interval '{n} days' AS t", _rows([[exp]])


def _s_extract_year(r, z):
    d = _date(r)
    return f"SELECT extract(year from date '{d}') AS y", _rows([[d.year]])


def _s_extract_month(r, z):
    d = _date(r)
    return (f"SELECT extract(month from timestamp '{d} 10:20:30') AS m",
            _rows([[d.month]]))


def _s_extract_dow(r, z):
    d = _date(r)
    return f"SELECT extract(dow from date '{d}') AS w", _rows([[(d.weekday() + 1) % 7]])


def _s_date_trunc(r, z):
    d = _date(r)
    exp = dt.datetime(d.year, d.month, 1)
    return f"SELECT date_trunc('month', timestamp '{d} 10:20:30') AS t", _rows([[exp]])


def _s_date_diff(r, z):
    d1, d2 = sorted([_date(r), _date(r)])
    return f"SELECT date '{d2}' - date '{d1}' AS n", _rows([[(d2 - d1).days]])


def _s_date_part(r, z):
    d = _date(r)
    return f"SELECT date_part('day', date '{d}') AS d", _rows([[d.day]])


def _s_ts_plus_hours(r, z):
    d, h = _date(r), r.randrange(1, 40)
    exp = dt.datetime.combine(d, dt.time(8)) + dt.timedelta(hours=h)
    return (f"SELECT timestamp '{d} 08:00:00' + interval '{h} hours' AS t",
            _rows([[exp]]))


def _s_array_ctor(r, z):
    a = [r.randrange(100) for _ in range(3)]
    return f"SELECT ARRAY[{a[0]}, {a[1]}, {a[2]}] AS a", _rows([[a]])


def _s_array_length(r, z):
    a = [r.randrange(100) for _ in range(r.randrange(2, 7))]
    return (f"SELECT array_length(ARRAY[{', '.join(map(str, a))}], 1) AS n",
            _rows([[len(a)]]))


def _s_array_subscript(r, z):
    a = [r.randrange(100) for _ in range(3)]
    return f"SELECT (ARRAY[{a[0]}, {a[1]}, {a[2]}])[2] AS v", _rows([[a[1]]])


def _s_array_to_string(r, z):
    w1, w2 = r.choice(WORDS), r.choice(WORDS)
    return (f"SELECT array_to_string(ARRAY['{w1}', '{w2}'], '-') AS s",
            _rows([[f"{w1}-{w2}"]]))


def _s_any_array(r, z):
    a, b = r.randrange(100), r.randrange(100, 200)
    return f"SELECT {a} = ANY(ARRAY[{b}, {a}]) AS hit", _rows([[True]])


def _s_unnest(r, z):
    a = [r.randrange(1000) for _ in range(4)]
    return (f"SELECT unnest(ARRAY[{', '.join(map(str, a))}]) AS v ORDER BY v",
            _rows([[x] for x in sorted(a)], ordered=True))


def _s_regex_match(r, z):
    n = r.randrange(10, 10_000)
    return f"SELECT 'abc{n}def' ~ '[0-9]+' AS m", _rows([[True]])


def _s_regex_imatch(r, z):
    n = r.randrange(10, 10_000)
    return f"SELECT 'Hello{n}' ~* '^hello' AS m", _rows([[True]])


def _s_regex_not(r, z):
    w = r.choice(WORDS)
    return f"SELECT '{w}' !~ '[0-9]' AS m", _rows([[True]])


def _s_regexp_replace(r, z):
    n, m = r.randrange(1, 999), r.randrange(1, 999)
    return (f"SELECT regexp_replace('a{n}b{m}c', '[0-9]+', '#', 'g') AS s",
            _rows([["a#b#c"]]))


def _s_substring_regex(r, z):
    w, n = r.choice(WORDS), r.randrange(1, 99_999)
    return f"SELECT substring('{w}{n}' from '[0-9]+') AS s", _rows([[str(n)]])


def _s_series_count(r, z):
    n = r.randrange(10, 5000)
    return f"SELECT count(*) AS n FROM generate_series(1, {n})", _rows([[n]])


def _s_series_sum(r, z):
    n = r.randrange(10, 5000)
    return (f"SELECT sum(x) AS s FROM generate_series(1, {n}) AS g(x)",
            _rows([[n * (n + 1) // 2]]))


def _s_string_agg_series(r, z):
    n = r.randrange(3, 30)
    return (f"SELECT string_agg(x::text, ',' ORDER BY x) AS s "
            f"FROM generate_series(1, {n}) AS g(x)",
            _rows([[",".join(map(str, _series(n)))]]))


def _s_series_squares(r, z):
    n = r.randrange(3, 20)
    return (f"SELECT x, x * x AS sq FROM generate_series(1, {n}) AS g(x) ORDER BY x",
            _rows([[x, x * x] for x in _series(n)], ordered=True))


def _s_values_ordered(r, z):
    a, b = r.randrange(0, 500), r.randrange(500, 1000)
    return (f"SELECT * FROM (VALUES ({b}, 'y'), ({a}, 'x')) AS v(id, tag) ORDER BY id",
            _rows([[a, "x"], [b, "y"]], ordered=True))


def _s_values_range(r, z):
    v = [r.randrange(1000) for _ in range(3)]
    return (f"SELECT max(v) - min(v) AS d FROM (VALUES ({v[0]}), ({v[1]}), ({v[2]})) AS t(v)",
            _rows([[max(v) - min(v)]]))


def _s_coalesce(r, z):
    a = r.randrange(1000)
    return f"SELECT coalesce(NULL::int, {a}) AS v", _rows([[a]])


def _s_nullif(r, z):
    a = r.randrange(1000)
    return f"SELECT nullif({a}, {a}) AS v", _rows([[None]])


def _s_greatest_least(r, z):
    v = [r.randrange(1000) for _ in range(3)]
    return (f"SELECT greatest({v[0]}, {v[1]}, {v[2]}) AS g, least({v[0]}, {v[1]}, {v[2]}) AS l",
            _rows([[max(v), min(v)]]))


def _s_case(r, z):
    a, b = r.randrange(1000), r.randrange(1000)
    return (f"SELECT CASE WHEN {a} > {b} THEN 'gt' ELSE 'le' END AS c",
            _rows([["gt" if a > b else "le"]]))


def _s_concat_case(r, z):
    w = r.choice(WORDS)
    return f"SELECT upper('{w}') || lower('ABC') AS s", _rows([[w.upper() + "abc"]])


def _s_length_position(r, z):
    w = r.choice(WORDS)
    return (f"SELECT length('{w}') AS n, position('a' in '{w}') AS p",
            _rows([[len(w), w.find("a") + 1]]))


def _s_lpad(r, z):
    n = r.randrange(1, 99_999)
    return f"SELECT lpad('{n}', 6, '0') AS s", _rows([[str(n).rjust(6, "0")]])


def _s_split_part(r, z):
    w = r.choice(WORDS)
    return f"SELECT split_part('a,b,{w}', ',', 3) AS s", _rows([[w]])


def _s_round_numeric(r, z):
    x = _dec(r, 1, 10_000)
    return (f"SELECT round({x}::numeric, 1) AS v",
            _rows([[x.quantize(Decimal("0.1"), rounding=ROUND_HALF_UP)]]))


def _s_to_char_num(r, z):
    x = _dec(r, 1, 100_000)
    return f"SELECT to_char({x}::numeric, 'FM999990.00') AS s", _rows([[f"{x:.2f}"]])


def _s_to_char_int(r, z):
    n = r.randrange(1, 99_999)
    return f"SELECT to_char({n}, 'FM000000') AS s", _rows([[f"{n:06d}"]])


def _s_to_char_date(r, z):
    d = _date(r)
    return f"SELECT to_char(date '{d}', 'YYYY-MM-DD') AS s", _rows([[d.isoformat()]])


def _s_text_cast(r, z):
    n = r.randrange(1, 99_999)
    return f"SELECT '{n}'::int::text || 'x' AS s", _rows([[f"{n}x"]])


def _s_float_div(r, z):
    a = r.randrange(1, 10_000)
    return f"SELECT {a}::float8 / 4 AS v", _rows([[a / 4]])


def _s_abs_sign(r, z):
    a = r.randrange(1, 10_000)
    return f"SELECT abs(-{a}) AS a, sign(-{a}) AS s", _rows([[a, -1]])


def _s_exists_series(r, z):
    n = r.randrange(10, 1000)
    k = r.randrange(1, n)
    return (f"SELECT EXISTS (SELECT 1 FROM generate_series(1, {n}) AS g(x) WHERE x = {k}) AS e",
            _rows([[True]]))


def _s_bool_aggs(r, z):
    n = r.randrange(10, 1000)
    k = r.randrange(1, 2 * n)
    return (f"SELECT bool_and(x > 0) AS a, bool_or(x > {k}) AS o "
            f"FROM generate_series(1, {n}) AS g(x)", _rows([[True, n > k]]))


def _s_series_group(r, z):
    n = r.randrange(10, 1000)
    exp = [[m, sum(1 for x in _series(n) if x % 3 == m)] for m in range(3)]
    return (f"SELECT x % 3 AS r, count(*) AS n FROM generate_series(1, {n}) AS g(x) "
            f"GROUP BY x % 3 ORDER BY r", _rows(exp, ordered=True))


def _s_array_agg_desc(r, z):
    n = r.randrange(3, 12)
    return (f"SELECT array_agg(x ORDER BY x DESC) AS a FROM generate_series(1, {n}) AS g(x)",
            _rows([[list(range(n, 0, -1))]]))


def _s_between(r, z):
    a = r.randrange(100, 900)
    return (f"SELECT '{a}'::int BETWEEN {a - 5} AND {a + 5} AS b", _rows([[True]]))


def _s_like_ilike(r, z):
    w = r.choice(WORDS)
    return (f"SELECT '{w}' LIKE '{w[0]}%' AS l, '{w}' ILIKE '{w.upper()}' AS il",
            _rows([[True, True]]))


def _s_md5(r, z):
    w = r.choice(WORDS) + str(r.randrange(1000))
    return f"SELECT md5('{w}') AS h", _rows([[hashlib.md5(w.encode()).hexdigest()]])


def _s_trim(r, z):
    w = r.choice(WORDS)
    return f"SELECT trim(both ' ' from '  {w}  ') AS s", _rows([[w]])


def _s_replace(r, z):
    w = r.choice(WORDS)
    return f"SELECT replace('{w}-{w}', '-', '+') AS s", _rows([[f"{w}+{w}"]])


def _s_numeric_add(r, z):
    x = Decimal(r.randrange(1, 10**6)) / 1000
    return f"SELECT {x}::numeric(10,3) + 0.125 AS v", _rows([[x + Decimal("0.125")]])


def _s_nation_region(r, z):
    k = r.randrange(5)
    sql = f"SELECT n_name FROM nation WHERE n_regionkey = {k} ORDER BY n_nationkey"
    return sql, _duck(sql, ordered=True)


def _s_region_join(r, z):
    k = r.randrange(5)
    sql = (f"SELECT r.r_name, count(*) AS n FROM nation n JOIN region r "
           f"ON n.n_regionkey = r.r_regionkey WHERE r.r_regionkey <> {k} GROUP BY r.r_name")
    return sql, _duck(sql)


def _s_nation_string_agg(r, z):
    k = r.randrange(5)
    sql = (f"SELECT string_agg(n_name, ',' ORDER BY n_nationkey) AS s "
           f"FROM nation WHERE n_regionkey = {k}")
    return sql, _duck(sql)


def _s_supplier_filter(r, z):
    k, x = r.randrange(25), r.randrange(0, 8000)
    sql = (f"SELECT s_suppkey, s_name FROM supplier WHERE s_nationkey = {k} "
           f"AND s_acctbal > {x} ORDER BY s_suppkey")
    return sql, _duck(sql, ordered=True)


def _s_orders_month(r, z):
    d = _date(r).replace(day=1)
    sql = (f"SELECT count(*) AS n FROM orders WHERE o_orderdate >= date '{d}' "
           f"AND o_orderdate < date '{d}' + interval '1 month'")
    return sql, _duck(sql)


def _s_orders_by_priority(r, z):
    k = r.randrange(z["customer"])
    sql = (f"SELECT o_orderpriority, count(*) AS n FROM orders WHERE o_custkey = {k} "
           f"GROUP BY o_orderpriority")
    return sql, _duck(sql)


def _s_orders_by_year(r, z):
    k = r.randrange(z["customer"] - 50)
    sql = (f"SELECT extract(year from o_orderdate)::int AS y, count(*) AS n FROM orders "
           f"WHERE o_custkey BETWEEN {k} AND {k + 50} GROUP BY 1")
    return sql, _duck(sql)


def _s_customer_in(r, z):
    ks = [r.randrange(z["customer"]) for _ in range(3)]
    sql = f"SELECT c_name FROM customer WHERE c_custkey IN ({ks[0]}, {ks[1]}, {ks[2]})"
    return sql, _duck(sql)


def _s_customer_segment_max(r, z):
    k = r.randrange(25)
    sql = (f"SELECT c_mktsegment, max(c_acctbal) AS m FROM customer "
           f"WHERE c_nationkey = {k} GROUP BY c_mktsegment")
    return sql, _duck(sql)


def _s_supplier_regex(r, z):
    d = r.randrange(10)
    return (f"SELECT s_name FROM supplier WHERE s_name ~ '{d}{d}$'",
            _duck(f"SELECT s_name FROM supplier WHERE regexp_matches(s_name, '{d}{d}$')"))


def _s_orders_to_char(r, z):
    k = r.randrange(z["orders"])
    return (f"SELECT to_char(o_totalprice::numeric, 'FM9999990.00') AS p "
            f"FROM orders WHERE o_orderkey = {k}",
            _duck(f"SELECT printf('%.2f', o_totalprice) FROM orders WHERE o_orderkey = {k}"))


def _s_orders_limit(r, z):
    k = r.randrange(z["customer"])
    sql = f"SELECT o_orderkey FROM orders WHERE o_custkey = {k} ORDER BY o_orderkey LIMIT 3"
    return sql, _duck(sql, ordered=True)


def _s_nation_subquery(r, z):
    k = r.randrange(20)
    sql = (f"SELECT n.n_name, (SELECT count(*) FROM supplier s "
           f"WHERE s.s_nationkey = n.n_nationkey) AS n FROM nation n "
           f"WHERE n.n_nationkey BETWEEN {k} AND {k + 4}")
    return sql, _duck(sql)


# The distinct shapes by cost class.  Each pass draws a fixed number from
# each class (DIALECT_QUOTA), in seeded order, so the cost mix of a pass,
# and with it the median and the tail, does not depend on the seed.
DISTINCT_SHAPES = {
    "literal": [
        _s_int_add, _s_numeric_mul, _s_bigint_mod, _s_date_plus_int,
        _s_date_plus_interval, _s_extract_year, _s_extract_month, _s_extract_dow,
        _s_date_trunc, _s_date_diff, _s_date_part, _s_ts_plus_hours,
        _s_array_ctor, _s_array_length, _s_array_subscript, _s_array_to_string,
        _s_any_array, _s_unnest, _s_regex_match, _s_regex_imatch, _s_regex_not,
        _s_regexp_replace, _s_substring_regex, _s_series_count, _s_series_sum,
        _s_string_agg_series, _s_series_squares, _s_values_ordered,
        _s_values_range, _s_coalesce, _s_nullif, _s_greatest_least, _s_case,
        _s_concat_case, _s_length_position, _s_lpad, _s_split_part,
        _s_round_numeric, _s_text_cast, _s_float_div, _s_abs_sign,
        _s_exists_series, _s_bool_aggs, _s_series_group, _s_array_agg_desc,
        _s_between, _s_like_ilike, _s_md5, _s_trim, _s_replace, _s_numeric_add,
    ],
    "table": [
        _s_nation_region, _s_region_join, _s_nation_string_agg, _s_supplier_filter,
        _s_orders_month, _s_orders_by_priority, _s_orders_by_year, _s_customer_in,
        _s_customer_segment_max, _s_supplier_regex, _s_orders_limit, _s_nation_subquery,
    ],
    "udf": [_s_to_char_num, _s_to_char_int, _s_to_char_date, _s_orders_to_char],
}
DIALECT_QUOTA = {"literal": 11, "table": 3, "udf": 1}  # per pass, with 15 templates


def _t_nation_point(r, z):
    sql = f"SELECT n_name, n_regionkey FROM nation WHERE n_nationkey = {r.randrange(25)}"
    return sql, _duck(sql)


def _t_supplier_point(r, z):
    sql = f"SELECT s_name, s_acctbal FROM supplier WHERE s_suppkey = {r.randrange(z['supplier'])}"
    return sql, _duck(sql)


def _t_orders_point(r, z):
    sql = (f"SELECT o_orderstatus, o_totalprice, o_orderdate::date AS d "
           f"FROM orders WHERE o_orderkey = {r.randrange(z['orders'])}")
    return sql, _duck(sql)


def _t_arith(r, z):
    a, b, w = r.randrange(1, 1000), r.randrange(1, 1000), r.choice(WORDS)
    return f"SELECT {a}::int * {b} + length('{w}') AS v", _rows([[a * b + len(w)]])


def _t_date_arith(r, z):
    d, n = _date(r), r.randrange(1, 400)
    return (f"SELECT date '{d}' + {n} AS d, extract(year from date '{d}') AS y",
            _rows([[d + dt.timedelta(days=n), d.year]]))


TEMPLATES = [_t_nation_point, _t_supplier_point, _t_orders_point, _t_arith, _t_date_arith]


# Warm-up: every template once, and one shape of each feature family --
# including the first Python UDF, whose worker start would otherwise land
# in the timed window, and the first LIKE/ILIKE, whose one-time cost
# (1.5-3 s on a 4-core host, shared with upper/lower) would otherwise land
# in the timed window of the seeds that draw a case-folding shape.
DIALECT_WARMUP = [_s_to_char_num, _s_series_sum, _s_regex_match, _s_array_ctor,
                  _s_date_plus_interval, _s_extract_year, _s_region_join,
                  _s_orders_by_year, _s_string_agg_series, _s_numeric_mul,
                  _s_like_ilike]


def _dialect(r: random.Random, sizes: dict, n_passes: int) -> list[list[dict]]:
    def op(fn, tag):
        sql, exp = fn(r, sizes)
        return {"kind": "sql", "text": sql, "tag": tag, "expect": exp}

    passes = [[op(t, "template") for t in TEMPLATES] + [op(s, "distinct") for s in DIALECT_WARMUP]]
    queues = {cls: [] for cls in DISTINCT_SHAPES}
    n_templates = sum(DIALECT_QUOTA.values())
    for _ in range(n_passes - 1):
        ops = [op(TEMPLATES[i % len(TEMPLATES)], "template") for i in range(n_templates)]
        for cls, quota in DIALECT_QUOTA.items():
            for _ in range(quota):
                if not queues[cls]:
                    queues[cls] = DISTINCT_SHAPES[cls][:]
                    r.shuffle(queues[cls])
                ops.append(op(queues[cls].pop(), cls))
        r.shuffle(ops)
        passes.append(ops)
    return passes


# --------------------------------------------------------------------------
# dml_mixed: writes interleaved with checked aggregate reads.  The stream
# keeps a model of the table in Python and attaches to every read the
# result the model predicts after the writes before it.

# Writes cost about twice the reads here, so writes dominate the pass and
# the median and the tail fall inside the writes' cost range rather than
# on the gap between reads and writes.
DML_PASS = ["insert_values", "insert_select", "update_key", "update_key", "update_key",
            "update_range", "update_range", "delete_key", "delete_key", "delete_range",
            "select_nation", "select_segments"]


def dml_setup_sql() -> list[str]:
    return [
        f"DROP TABLE IF EXISTS {DML_TABLE}",
        f"CREATE TABLE {DML_TABLE} (id bigint, name text, nation int, "
        f"bal numeric(12,2), seg text) DISTRIBUTED BY (id)",
        f"INSERT INTO {DML_TABLE} SELECT c_custkey, c_name, c_nationkey, "
        f"CAST(c_acctbal AS numeric(12,2)), c_mktsegment FROM customer",
    ]


def _dml(r: random.Random, customer, n_passes: int) -> list[list[dict]]:
    """Every pass starts from the table as loaded from ``customer``: the
    measured process reloads it before each pass."""
    loaded = {
        int(k): [n, int(nk), Decimal(str(b)).quantize(Decimal("0.01")), s]
        for k, n, nk, b, s in customer
    }
    passes = []
    for i in range(n_passes):
        model = {k: v[:] for k, v in loaded.items()}
        if i:
            kinds = DML_PASS[:]
            r.shuffle(kinds)
        else:  # pass 0: each kind once, in a fixed order
            kinds = list(dict.fromkeys(DML_PASS))
        ops = []
        for kind in kinds:
            ids = sorted(model)
            before = len(model)
            exp, affected = None, 1
            if kind == "insert_values":
                new_id = ids[-1] + 1  # ids stay unique: the table has no key
                row = [f"Acct#{new_id}", r.randrange(25), _dec(r, -999, 9999), r.choice(SEGS)]
                sql = (f"INSERT INTO {DML_TABLE} VALUES ({new_id}, '{row[0]}', {row[1]}, "
                       f"{row[2]}, '{row[3]}')")
                model[new_id] = row
            elif kind == "insert_select":
                lo = ids[r.randrange(len(ids) - 20)]
                off = ids[-1] + 1  # every copy lands above the largest id
                sql = (f"INSERT INTO {DML_TABLE} SELECT id + {off}, name, nation, bal, seg "
                       f"FROM {DML_TABLE} WHERE id BETWEEN {lo} AND {lo + 19}")
                copied = [k for k in ids if lo <= k <= lo + 19]
                for k in copied:
                    model[k + off] = model[k][:]
                affected = len(copied)
            elif kind == "update_key":
                k, d = r.choice(ids), _dec(r, 1, 500)
                sql = f"UPDATE {DML_TABLE} SET bal = bal + {d} WHERE id = {k}"
                model[k][2] += d
            elif kind == "update_range":
                lo, s = ids[r.randrange(len(ids) - 50)], r.choice(SEGS)
                sql = f"UPDATE {DML_TABLE} SET seg = '{s}' WHERE id BETWEEN {lo} AND {lo + 49}"
                hit = [k for k in ids if lo <= k <= lo + 49]
                for k in hit:
                    model[k][3] = s
                affected = len(hit)
            elif kind == "delete_key":
                k = r.choice(ids)
                sql = f"DELETE FROM {DML_TABLE} WHERE id = {k}"
                del model[k]
            elif kind == "delete_range":
                lo = ids[r.randrange(len(ids) - 5)]
                sql = f"DELETE FROM {DML_TABLE} WHERE id BETWEEN {lo} AND {lo + 4}"
                for k in ids:
                    if lo <= k <= lo + 4:
                        del model[k]
                affected = before - len(model)
            elif kind == "select_nation":
                n = r.randrange(25)
                sql = (f"SELECT count(*) AS n, sum(bal) AS total, count(DISTINCT seg) AS segs "
                       f"FROM {DML_TABLE} WHERE nation = {n}")
                rows = [v for v in model.values() if v[1] == n]
                exp = _rows([[len(rows), sum(v[2] for v in rows) if rows else None,
                              len({v[3] for v in rows})]])
            else:  # select_segments
                sql = (f"SELECT seg, count(*) AS n, sum(bal) AS total FROM {DML_TABLE} "
                       f"GROUP BY seg ORDER BY seg")
                agg: dict = {}
                for v in model.values():
                    c, t = agg.get(v[3], (0, Decimal(0)))
                    agg[v[3]] = (c + 1, t + v[2])
                exp = _rows([[s, c, t] for s, (c, t) in sorted(agg.items())], ordered=True)
            ops.append({"kind": "sql", "text": sql, "tag": kind, "expect": exp,
                        "affected": affected})
        passes.append(ops)
    return passes


# --------------------------------------------------------------------------

def build(workload: str, seed: int, tables: dict, n_passes: int) -> list[list[dict]]:
    """The first ``n_passes`` passes of ``workload``'s stream for ``seed``.

    Pass 0 starts the untimed warm-up: each distinct operation (for the
    dialect, each template and feature family) once, in a fixed order, so
    that first-execution costs fall outside the timed passes the same way
    for every seed.  ``tables`` maps table names to pyarrow tables of the
    run's dataset."""
    r = random.Random(f"{workload}:{seed}")
    if workload == "tpch_llm":
        canon = ([{"kind": "sql", "text": n, "tag": n, "expect": {"ref": n}} for n in TPCH]
                 + [{"kind": "plan", "text": n, "tag": n, "expect": {"ref": n}}
                    for n in PIPELINE])
        passes = [canon]
        for _ in range(n_passes - 1):
            passes.append([dict(op) for op in canon])
            r.shuffle(passes[-1])
        return passes
    if workload == "dialect_short":
        sizes = {t: tables[t].num_rows for t in ("customer", "supplier", "orders")}
        return _dialect(r, sizes, n_passes)
    if workload == "dml_mixed":
        cust = tables["customer"].select(
            ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]).to_pylist()
        return _dml(r, [tuple(c.values()) for c in cust], n_passes)
    raise ValueError(f"unknown workload {workload!r}")


def resolve(passes: list[list[dict]], con) -> None:
    """Replace every ``duck`` expectation by the rows DuckDB returns."""
    for ops in passes:
        for op in ops:
            exp = op["expect"]
            if exp and "duck" in exp:
                op["expect"] = {"rows": duck_rows(con, exp["duck"], exp["ordered"]),
                                "ordered": exp["ordered"]}
