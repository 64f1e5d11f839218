"""Correctness oracle: DuckDB restates every timed operation's result from
the same generated files, outside the timed section.

Results are compared as ``{(bucket_start_us, group): {column: value}}``.
Counts, max, min and decimal sums must match exactly; double sums and
averages to a relative 1e-9 (the engines add in different orders).
"""

from __future__ import annotations

import decimal
import math
import os

import duckdb

from datagen import US

REL_TOL = 1e-9
#: verb → DuckDB aggregate over ``value``
SQL_VERBS = {
    "max": "max(value)",
    "min": "min(value)",
    "sum": "sum(value)",
    "avg": "avg(value)",
    "count": "count(value)",
}
EXACT_FLOAT = {"max", "min"}


def connect(temp_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect(config={"threads": len(os.sched_getaffinity(0)),
                                 "memory_limit": "1GB", "temp_directory": temp_dir})
    con.execute("SET TimeZone = 'UTC'")  # the files hold UTC instants
    return con


def upper_bound_us(lo: int, hi: int, iv: int, cutoff: str) -> int:
    """Exclusive end of the bucketed region: ``hi`` for strict cutoff; for
    the reference's key-mode cutoff, the end of the trailing bucket its
    do-while loop always emits past ``hi`` (at least two buckets)."""
    if cutoff == "strict":
        return hi
    return lo + max((hi - lo) // iv + 1, 2) * iv


def _keyed(rows, keys) -> tuple[dict, int]:
    """Rows of ``(bucket, group, *values, row_count)`` → the compared
    result, and the input rows it covers."""
    want = {(r[0], r[1]): dict(zip(keys, r[2:-1])) for r in rows}
    return want, sum(r[-1] for r in rows)


def bucketed(con, glob: str, lo: int, hi: int, iv: int, verbs: list[str],
             group: bool, ts_expr: str = "epoch_us(ts)") -> tuple[dict, int]:
    """``{(bucket, group): {verb: value}}`` for ``verbs`` over [lo, hi), and
    the number of input rows in that range."""
    dim = "event_type" if group else "NULL"
    cols = ", ".join(f"{SQL_VERBS[v]} AS {v}" for v in verbs)
    rows = con.execute(
        f"""
        SELECT {lo} + (t - {lo}) // {iv} * {iv} AS b, {dim} AS g, {cols}, count(*)
        FROM (SELECT {ts_expr} AS t, event_type, value
              FROM read_parquet('{glob}')
              WHERE ts >= make_timestamp({lo}) AND ts < make_timestamp({hi}))
        WHERE t >= {lo} AND t < {hi}
        GROUP BY ALL
        """
    ).fetchall()
    return _keyed(rows, verbs)


def rollup_daily(con, globs: list[str], lo: int, iv: int) -> tuple[dict, int]:
    """Coarse rollup from raw events from ``lo`` on: max, min, exact decimal
    sum and count per bucket, and the number of input rows."""
    src = " UNION ALL ".join(f"SELECT ts, value FROM read_parquet('{g}')" for g in globs)
    rows = con.execute(
        f"""
        SELECT {lo} + (epoch_us(ts) - {lo}) // {iv} * {iv} AS b, NULL AS g,
               max(value), min(value), sum(value::DECIMAL(28, 6)), count(value), count(*)
        FROM ({src}) WHERE epoch_us(ts) >= {lo}
        GROUP BY ALL
        """
    ).fetchall()
    return _keyed(rows, ("max", "min", "sum_dec", "count"))


def floor_seconds_expr() -> str:
    """The rowkey layout stores whole seconds: floor ``ts`` to them."""
    return f"epoch_us(ts) // {US} * {US}"


def _same(verb: str, a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, decimal.Decimal) or isinstance(b, decimal.Decimal):
        return decimal.Decimal(a) == decimal.Decimal(b)
    if verb in EXACT_FLOAT or isinstance(a, int) and isinstance(b, int):
        return a == b
    return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=0.0) or a == b


def mismatch(got: dict, want: dict) -> str | None:
    """A one-line description of the first difference, or None."""
    if got.keys() != want.keys():
        extra, missing = got.keys() - want.keys(), want.keys() - got.keys()
        return f"bucket keys differ: {len(extra)} extra, {len(missing)} missing"
    for key, cols in want.items():
        for verb, w in cols.items():
            if not _same(verb, got[key].get(verb), w):
                return f"bucket {key} {verb}: got {got[key].get(verb)!r}, want {w!r}"
    return None
