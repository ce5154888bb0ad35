"""Output checks: every operation the benchmark times is also verified.

* registry entries: the collected rows against the entry's DuckDB oracle
  (``registry.ORACLES``) evaluated on the same generated parquet files,
  ignoring row and column order;
* taxi statements: against the generator's known per-vendor dirty, removed
  and per-category counts, and the analysis statements against values
  computed from the generator's clean rows;
* stream results: against their batch analogs over the same input files.
"""

from __future__ import annotations

import math
from decimal import Decimal
from typing import Any

import numpy as np


def _norm(v: Any) -> Any:
    if v is None:
        return None
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if isinstance(v, Decimal):
        return float(v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if hasattr(v, "asDict"):
        return _norm(v.asDict())
    return v


def canonical(names, rows) -> tuple[list[str], list[tuple]]:
    """A result set with its columns in name order and its rows sorted, so
    that row and column order do not matter."""
    names = list(names)
    order = sorted(range(len(names)), key=lambda i: names[i])
    rows = sorted((tuple(_norm(r[i]) for i in order) for r in rows), key=repr)
    return sorted(names), rows


def _same(u, v) -> bool:
    if u == v:
        return True
    if not (isinstance(u, float) and isinstance(v, float)):
        return False
    if math.isclose(u, v, rel_tol=1e-9, abs_tol=1e-12):
        return True
    # round(x, k) of a value halfway between two k-digit numbers: Spark
    # rounds the decimal form half-up, DuckDB the binary double, so the two
    # may differ by one unit in the last digit
    for k in range(1, 5):
        if round(u, k) == u and round(v, k) == v:
            return abs(u - v) <= 10.0 ** -k * (1 + 1e-6)
    return False


def same_rows(got: tuple, want: tuple) -> bool:
    """Two :func:`canonical` result sets hold the same values."""
    (gn, gr), (wn, wr) = got, want
    return gn == wn and len(gr) == len(wr) and all(
        len(x) == len(y) and all(_same(u, v) for u, v in zip(x, y))
        for x, y in zip(gr, wr)
    )


def oracle_results(table_dir: str, tables: list[str],
                   oracles: dict[str, str]) -> dict[str, tuple]:
    """Canonical DuckDB oracle result per entry over the generated tables."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_dir}/{t}.parquet')"
        )
    out = {}
    for name, sql in oracles.items():
        cur = con.execute(sql)
        out[name] = canonical([d[0] for d in cur.description], cur.fetchall())
    con.close()
    return out


# ---------------------------------------------------------------------------
# Taxi statements
# ---------------------------------------------------------------------------


def _key(k):
    """Group keys compare as Python ints or strings."""
    return k.item() if isinstance(k, np.generic) else k


def _close(got, want, digits) -> bool:
    """``got`` equals ``want`` rounded to ``digits`` (any rounding mode),
    or to 1e-9 relative when the statement does not round."""
    if got is None:
        return False
    tol = 0.5 * 10.0 ** -digits if digits is not None else 0.0
    return abs(float(got) - float(want)) <= tol + 1e-9 * max(1.0, abs(want))


def _close_map(got: dict, want: dict, digits) -> bool:
    return set(got) == set(want) and all(
        _close(got[k], want[k], digits) for k in want)


def _group_mean(keys, values) -> dict:
    out = {}
    for k in np.unique(keys):
        out[_key(k)] = float(values[keys == k].mean())
    return out


def _at_quantiles(got, values, qs) -> bool:
    """Each approximate percentile is a value whose rank is within 1% of
    its quantile (``percentile_approx``'s default accuracy is 1e-4)."""
    s = np.sort(values)
    n = len(s)
    return got is not None and len(got) == len(qs) and all(
        np.searchsorted(s, v, "left") / n - 0.01 <= q
        <= np.searchsorted(s, v, "right") / n + 0.01
        for v, q in zip(got, qs)
    )


def _tip_segments(tip):
    """The statement's CASE segmentation of ``tip_amount``."""
    return np.select(
        [tip < 5, tip < 10, tip < 15, tip < 20],
        ["[0-5)", "[5-10)", "[10-15)", "[15-20)"], ">=20",
    )


def _per_vendor(rows, col: str) -> dict[str, int]:
    return {r["vendorid"]: r[col] for r in rows}


def taxi_expectations(truth: dict) -> dict:
    """Statement name -> predicate over the collected rows."""
    vs = truth["vendors"]

    def counts(cat: str | None, col: str, key: str | None = None):
        want = {v: (d[key] if key else d[cat]) for v, d in vs.items()}
        want = {v: n for v, n in want.items() if n}
        return lambda rows: _per_vendor(rows, col) == want

    def n_rows(n):
        return lambda rows: len(rows) == n

    def n_cat(*cats):
        return n_rows(sum(d[c] for d in vs.values() for c in cats))

    total = truth["rows"]
    clean_total = total - sum(d["removed"] for d in vs.values())
    # analysis statements: exact values from the generator's clean rows,
    # compared within the statement's rounding
    c = truth["clean"]
    day = c["date"].astype(object)
    holiday = (c["month"] == 12) & np.isin([d.day for d in day], (25, 31))
    holiday_dates = c["date"][holiday].astype(str)

    def by_key(key, col, keys, values, digits):
        want = _group_mean(keys, values)
        return lambda rows: _close_map(
            {_key(r[key]): r[col] for r in rows}, want, digits)

    def scalar(value, digits):
        return lambda rows: len(rows) == 1 and _close(rows[0][0], value, digits)

    def shares(key, count_col, pct_col, keys):
        ks, ns = np.unique(keys, return_counts=True)
        want_n = {_key(k): int(n) for k, n in zip(ks, ns)}
        want_pct = {k: n * 100 / len(keys) for k, n in want_n.items()}

        def ok(rows):
            got_pct = {_key(r[key]): float(r[pct_col]) for r in rows}
            if count_col is not None and {
                _key(r[key]): r[count_col] for r in rows
            } != want_n:
                return False
            return _close_map(got_pct, want_pct, 2)

        return ok

    return {
        "peek": n_rows(3),
        "vendor_counts": lambda rows: {r["vendor"]: r["total"] for r in rows}
        == {v: d["total"] for v, d in vs.items()},
        "vendor_pct": lambda rows: {r["vendorid"]: r["vendor_cnt"] for r in rows}
        == {v: d["total"] for v, d in vs.items()},
        "date_range_by_vendor": n_rows(2),
        "hour_diff_stats": n_rows(2),
        "invalid_duration_trips": n_cat("neg_duration", "long_duration"),
        "negative_tips": n_cat("neg_tip"),
        "negative_fares": n_cat("neg_fare"),
        "negative_fare_counts": counts("neg_fare", "cnt"),
        "nonstandard_extra_distribution": lambda rows: sum(r["cnt"] for r in rows)
        == sum(d["bad_extra"] for d in vs.values()),
        "nonstandard_extra_counts": counts("bad_extra", "cnt"),
        "nonpositive_passengers": n_cat("zero_passenger"),
        "zero_passenger_counts": counts("zero_passenger", "cnt"),
        "negative_toll_counts": counts("neg_tolls", "count_negative_tolls"),
        "negative_surcharge_counts": counts(
            "neg_surcharge", "count_negative_improvement_charge"
        ),
        "negative_mta_sample": n_rows(min(5, sum(d["neg_mta"] for d in vs.values()))),
        "negative_mta_counts": counts("neg_mta", "no_of_records"),
        "negative_total_sample": n_rows(
            min(5, sum(d["neg_total"] for d in vs.values()))
        ),
        "negative_total_counts": counts("neg_total", "cnt"),
        "payment_type_distribution": lambda rows: sum(r["cnt"] for r in rows) == total,
        "store_fwd_distribution": lambda rows: sum(r["cnt"] for r in rows) == total,
        "ratecode_distribution": lambda rows: sum(
            r["cnt"] for r in rows if r["ratecodeid"] == "99"
        ) == sum(d["ratecode_99"] for d in vs.values()),
        "negative_distances": n_rows(0),
        "dirty_row_counts": counts(None, "cnt", "dirty"),
        "removed_row_counts": counts(None, "cnt", "removed"),
        "validate_clean": n_rows(0),
        "clean_vendor_counts": lambda rows: _per_vendor(rows, "cnt")
        == {v: d["total"] - d["removed"] for v, d in vs.items()},
        "avg_fare_by_month": by_key("mnth", "avg", c["month"], c["fare"], 2),
        "passenger_count_pct": shares("level", "number_of_trips",
                                      "pct_number_of_trips", c["passengers"]),
        "payment_type_pct": shares("paymt_type", "paymt_cnt", "pct_paymt_cnt",
                                   c["payment"]),
        "avg_tip": scalar(c["tip"].mean(), 2),
        "tip_percentiles": lambda rows: len(rows) == 1
        and _at_quantiles(rows[0][0], c["tip"], (0.25, 0.5, 0.75)),
        "extra_charge_fraction": scalar((c["extra"] > 0).mean(), 2),
        "corr_passengers_tip": scalar(
            np.corrcoef(c["passengers"], c["tip"])[0, 1], 2),
        "avg_tip_by_passenger_count": by_key(
            "level", "avg_tip_amt", c["passengers"], c["tip"], None),
        "tip_segment_pct": shares("tip_segment", None, "tip_segment_percent",
                                  _tip_segments(c["tip"])),
        "avg_speed_by_month": by_key("mnth", "avg_speed_per_hour", c["month"],
                                     c["speed"], 2),
        "avg_speed_2017": scalar(c["speed"].mean(), 2),
        "avg_speed_holidays": lambda rows: _close_map(
            {str(r["pickup_date"]): r["avg_speed_per_hour"] for r in rows},
            _group_mean(holiday_dates, c["speed"][holiday]), 2),
        # the write and the read-back are checked by row counts too
        "write_clean": lambda rows: rows == clean_total,
        "read_clean": lambda rows: rows == clean_total,
    }
