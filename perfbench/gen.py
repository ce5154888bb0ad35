"""Seeded input generators for the benchmark workloads.

Everything here is plain numpy/pyarrow: inputs are written before the Spark
session exists, so generation never lands in a timed window.  The same seed
always yields byte-identical inputs.

* :func:`write_tables` -- the TPC-H-ish star schema plus ``events`` that
  the reference registry entries read, with the column names, types and
  value domains of the engine's test tables.
* :func:`write_trips_csv` -- the raw NYC-taxi trips CSV (FIXTURES.md
  fixture 1) with single-defect dirty rows and NULL rows whose per-vendor
  counts are returned, so every data-quality statement has a known answer.
* :class:`EventFiles` -- the ``events`` drop-zone files for the streaming
  workload, one parquet file per scheduled drop.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_EPOCH = np.datetime64("1970-01-01T00:00:00", "us")


def _epoch_s(day: str) -> int:
    return int(np.datetime64(day, "s").astype(np.int64))


def _ts_us(start: str, seconds: np.ndarray) -> np.ndarray:
    base = np.datetime64(start, "us")
    return (base + (seconds * 1_000_000).astype("timedelta64[us]")).astype(
        "datetime64[us]"
    )


def _round2(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def _write(table: pa.Table, path: str) -> int:
    pq.write_table(table, path)
    return table.num_rows


# ---------------------------------------------------------------------------
# Star schema + events (registry inputs)
# ---------------------------------------------------------------------------

_SEGMENTS = np.array(
    ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING"]
)
_PRIORITIES = np.array(
    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
)
_PTYPES = np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"])
_ADJ = np.array(["large", "hot", "cold", "small", "new", "blue", "old", "red"])
_NOUN = np.array(["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"])
_EVENT_TYPES = np.array(["signup", "click", "error", "view", "purchase"])


def table_sizes(n_lineitem: int) -> dict:
    """Row counts per table, in the test tables' proportions."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(50, n_lineitem // 40),
        "supplier": max(10, n_lineitem // 600),
        "part": max(50, n_lineitem // 30),
        "orders": max(100, n_lineitem // 4),
        "lineitem": n_lineitem,
        "events": max(100, n_lineitem // 6),
    }


def write_tables(out_dir: str, seed: int, n_lineitem: int) -> dict[str, int]:
    """Write one parquet file per table into ``out_dir``; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = table_sizes(n_lineitem)
    rows: dict[str, int] = {}

    def w(name: str, cols: dict) -> None:
        rows[name] = _write(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    w("region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    w("nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    nc = n["customer"]
    w("customer", {
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
        "c_acctbal": _round2(rng.uniform(-999.99, 9999.99, nc)),
        "c_mktsegment": _SEGMENTS[rng.integers(0, 5, nc)],
    })
    ns = n["supplier"]
    w("supplier", {
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
        "s_acctbal": _round2(rng.uniform(-999.99, 9999.99, ns)),
    })
    npart = n["part"]
    w("part", {
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": [
            f"{a} {b}"
            for a, b in zip(
                _ADJ[rng.integers(0, 8, npart)], _NOUN[rng.integers(0, 8, npart)]
            )
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": _PTYPES[rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart).astype(np.int32)),
        "p_retailprice": _round2(900.0 + (np.arange(npart) % 1000) * 0.1),
    })
    no = n["orders"]
    w("orders", {
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": _round2(rng.uniform(1000.0, 500000.0, no)),
        "o_orderdate": _ts_us(
            "1995-01-01", rng.integers(0, 2405, no) * 86400
        ),
        "o_orderpriority": _PRIORITIES[rng.integers(0, 5, no)],
    })
    nl = n["lineitem"]
    w("lineitem", {
        "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
        "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _round2(rng.uniform(900.0, 105000.0, nl)),
        "l_discount": np.round(rng.integers(0, 11, nl) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, nl)],
        "l_shipdate": _ts_us("1995-01-02", rng.integers(0, 2499, nl) * 86400),
    })
    ne = n["events"]
    w("events", {
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": np.sort(
            _ts_us("2024-01-01", rng.integers(0, 30 * 86400 * 10**6, ne) / 1e6)
        ),
        "user_id": rng.integers(0, 1500, ne).astype(np.int64),
        "event_type": _EVENT_TYPES[rng.integers(0, 5, ne)],
        "value": _round2(rng.exponential(50.0, ne)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    return rows


# ---------------------------------------------------------------------------
# Raw taxi trips CSV (FIXTURES.md fixture 1)
# ---------------------------------------------------------------------------

#: single-defect dirty categories: each matches the reference's OR dirty
#: predicate through exactly one term, so per-category counts are exact.
DIRTY_CATEGORIES = (
    "neg_duration", "long_duration", "neg_tip", "neg_fare", "bad_extra",
    "zero_passenger", "neg_tolls", "neg_surcharge", "neg_mta", "neg_total",
    "ratecode_99", "wrong_year", "wrong_month",
)
#: NULL rows: removed by the conjunctive clean filter, invisible to the OR
#: dirty predicate (three-valued logic).
NULL_CATEGORIES = ("null_fare", "null_tolls", "null_surcharge")
_BAD_EXTRA = np.array([-10.6, 1.5, 2.0, 4.5, -0.5, -1.0, -4.5, 0.3, 0.8, 1.3, 4.8])

TRIPS_HEADER = (
    "VendorID,tpep_pickup_datetime,tpep_dropoff_datetime,passenger_count,"
    "trip_distance,RatecodeID,store_and_fwd_flag,PULocationID,DOLocationID,"
    "payment_type,fare_amount,extra,mta_tax,tip_amount,tolls_amount,"
    "improvement_surcharge,total_amount"
)


def write_trips_csv(path: str, seed: int, n_rows: int) -> dict:
    """Write the raw trips CSV; return the known answers.

    Returns ``{"rows": n, "csv_bytes": b, "vendors": {v: {...}}}`` where each
    vendor entry holds ``total``, per-category counts, ``dirty`` (rows the
    OR dirty predicate matches) and ``removed`` (rows the clean filter
    drops: dirty plus NULL rows).
    """
    rng = np.random.default_rng(seed)
    # dirty rows are ~2% of the table, spread over categories and vendors
    n_bad = {
        (c, v): int(rng.integers(1, max(2, n_rows // 1000)))
        for c in DIRTY_CATEGORIES + NULL_CATEGORIES
        for v in ("1", "2")
    }
    n_special = sum(n_bad.values())
    n_clean = n_rows - n_special
    vendor = np.where(rng.random(n_clean) < 0.45, "1", "2").astype(object)
    kind = np.full(n_clean, "clean", dtype=object)
    for (c, v), k in n_bad.items():
        vendor = np.append(vendor, np.full(k, v, dtype=object))
        kind = np.append(kind, np.full(k, c, dtype=object))
    order = rng.permutation(n_rows)
    vendor, kind = vendor[order], kind[order]

    # clean-domain values for every row, then one defect per special row
    pickup = rng.integers(_epoch_s("2017-11-01"), _epoch_s("2018-01-01"), n_rows)
    duration = rng.integers(60, 7200, n_rows)
    passengers = rng.choice(6, n_rows, p=[0.71, 0.14, 0.05, 0.03, 0.05, 0.02]) + 1
    distance = _round2(rng.uniform(0.1, 30.0, n_rows))
    ratecode = rng.choice(6, n_rows, p=[0.9, 0.04, 0.02, 0.02, 0.01, 0.01]) + 1
    ratecode = ratecode.astype(str).astype(object)
    fwd = np.where(rng.random(n_rows) < 0.01, "Y", "N")
    pu = rng.integers(1, 266, n_rows)
    do = rng.integers(1, 266, n_rows)
    payment = rng.choice(4, n_rows, p=[0.67, 0.31, 0.015, 0.005]) + 1
    fare = _round2(rng.uniform(2.5, 200.0, n_rows))
    extra = np.array([0.0, 0.5, 1.0])[rng.choice(3, n_rows, p=[0.54, 0.3, 0.16])]
    mta = np.where(rng.random(n_rows) < 0.98, 0.5, 0.0)
    tip = _round2(np.minimum(rng.exponential(1.83, n_rows), 40.0))
    tolls = np.where(rng.random(n_rows) < 0.05, 5.76, 0.0)
    surcharge = np.where(rng.random(n_rows) < 0.99, 0.3, 0.0)
    fare_null = np.zeros(n_rows, bool)
    tolls_null = np.zeros(n_rows, bool)
    surcharge_null = np.zeros(n_rows, bool)

    def rows_of(c):
        return kind == c

    m = rows_of("neg_duration")
    duration[m] = -rng.integers(60, 3600, m.sum())
    m = rows_of("long_duration")
    duration[m] = rng.integers(25 * 3600, 48 * 3600, m.sum())
    m = rows_of("neg_tip")
    tip[m] = -_round2(rng.uniform(0.5, 5.0, m.sum()))
    m = rows_of("neg_fare")
    fare[m] = -_round2(rng.uniform(2.5, 50.0, m.sum()))
    m = rows_of("bad_extra")
    extra[m] = _BAD_EXTRA[rng.integers(0, len(_BAD_EXTRA), m.sum())]
    m = rows_of("zero_passenger")
    passengers[m] = 0
    m = rows_of("neg_tolls")
    tolls[m] = -5.76
    m = rows_of("neg_surcharge")
    surcharge[m] = -0.3
    m = rows_of("neg_mta")
    mta[m] = -0.5
    m = rows_of("ratecode_99")
    ratecode[m] = "99"
    m = rows_of("wrong_year")
    pickup[m] = _epoch_s("2018-01-03") + rng.integers(0, 86400, m.sum())
    m = rows_of("wrong_month")
    pickup[m] = _epoch_s("2017-10-02") + rng.integers(0, 86400, m.sum())
    fare_null[rows_of("null_fare")] = True
    tolls_null[rows_of("null_tolls")] = True
    surcharge_null[rows_of("null_surcharge")] = True

    total = _round2(
        np.abs(fare) + np.abs(extra) + np.abs(mta) + np.abs(tip)
        + np.abs(tolls) + np.abs(surcharge)
    )
    m = rows_of("neg_total")
    total[m] = -total[m]

    def fmt_ts(sec: np.ndarray) -> np.ndarray:
        return np.datetime_as_string(
            _EPOCH + (sec * 1_000_000).astype("timedelta64[us]"), unit="s"
        ).astype(object)

    def fmt_num(x: np.ndarray, null: np.ndarray | None = None) -> np.ndarray:
        s = np.char.mod("%.2f", x).astype(object)
        if null is not None:
            s[null] = ""
        return s

    cols = [
        vendor,
        np.char.replace(fmt_ts(pickup).astype(str), "T", " ").astype(object),
        np.char.replace(fmt_ts(pickup + duration).astype(str), "T", " ").astype(object),
        passengers.astype(str).astype(object),
        fmt_num(distance),
        ratecode,
        fwd.astype(object),
        pu.astype(str).astype(object),
        do.astype(str).astype(object),
        payment.astype(str).astype(object),
        fmt_num(fare, fare_null),
        fmt_num(extra),
        fmt_num(mta),
        fmt_num(tip),
        fmt_num(tolls, tolls_null),
        fmt_num(surcharge, surcharge_null),
        fmt_num(total),
    ]
    lines = [",".join(r) for r in zip(*cols)]
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        fh.write(TRIPS_HEADER + "\n")
        fh.write("\n".join(lines))
        fh.write("\n")

    vendors = {}
    for v in ("1", "2"):
        d = {c: n_bad[(c, v)] for c in DIRTY_CATEGORIES + NULL_CATEGORIES}
        d["total"] = int((vendor == v).sum())
        d["dirty"] = sum(n_bad[(c, v)] for c in DIRTY_CATEGORIES)
        d["removed"] = d["dirty"] + sum(n_bad[(c, v)] for c in NULL_CATEGORIES)
        vendors[v] = d
    # the columns of the rows the clean filter keeps, for the analysis
    # statements' expected values
    clean = kind == "clean"
    day = (_EPOCH + pickup.astype("timedelta64[s]")).astype("datetime64[D]")
    return {
        "rows": n_rows,
        "csv_bytes": os.path.getsize(path),
        "vendors": vendors,
        "clean": {
            "month": day[clean].astype("datetime64[M]").astype(int) % 12 + 1,
            "date": day[clean],
            "passengers": passengers[clean],
            "payment": payment[clean].astype(str),
            "fare": fare[clean],
            "extra": extra[clean],
            "tip": tip[clean],
            "speed": distance[clean] / (duration[clean] / 3600),
        },
    }


# ---------------------------------------------------------------------------
# Streaming drop-zone files
# ---------------------------------------------------------------------------


class EventFiles:
    """Seeded ``events`` micro-files for the open-loop stream.

    File ``i`` holds ``rows_per_file`` events whose event times fall in the
    ``i``-th ``span_s`` slice of event time (so no row is ever later than the
    watermark), plus ``dup_per_file`` exact duplicates of rows from the same
    file (same ``event_id`` and ``ts``) for the streaming dedup to drop.
    """

    def __init__(self, seed: int, rows_per_file: int, dup_per_file: int,
                 span_s: int = 600, n_users: int = 2000):
        self.seed = seed
        self.rows_per_file = rows_per_file
        self.dup_per_file = dup_per_file
        self.span_s = span_s
        self.n_users = n_users

    def table(self, i: int) -> pa.Table:
        rng = np.random.default_rng([self.seed, i])
        n = self.rows_per_file
        ids = np.arange(i * n, (i + 1) * n, dtype=np.int64)
        secs = i * self.span_s + np.sort(rng.uniform(0, self.span_s, n))
        ts = _ts_us("2024-01-01", np.round(secs, 6))
        users = rng.integers(0, self.n_users, n).astype(np.int64)
        etype = _EVENT_TYPES[rng.integers(0, 5, n)]
        value = _round2(rng.exponential(50.0, n))
        props = [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]
        dup = rng.choice(n, self.dup_per_file, replace=False)
        take = np.concatenate([np.arange(n), dup])
        return pa.table({
            "event_id": ids[take],
            "ts": ts[take],
            "user_id": users[take],
            "event_type": etype[take],
            "value": value[take],
            "props": [props[j] for j in take],
        })

    def write(self, i: int, path: str) -> int:
        t = self.table(i)
        pq.write_table(t, path)
        return t.num_rows
