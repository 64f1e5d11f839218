"""Seeded generator for the benchmark's input files.

Every dataset is a pure function of ``(kind, seed, size)`` and is cached on
disk under that key, so a repeated run with the same seed reads the same
bytes and data generation never falls inside a timed section. Events are
shaped like the ``events`` table of the sf0.1 test data: microsecond
timestamps over the month starting 2024-01-01, five event types, 1500
users, values in cents between 0 and 560. Timestamps are stored as UTC
instants (``isAdjustedToUTC``), the form whose row-group statistics Spark
uses to skip row groups outside a queried range.

Three layouts come out of one row generator:

- **columnar** — ``events.parquet/part-DDD.parquet``, one file per day,
  rows sorted by ``ts`` so row-group statistics prune time ranges;
- **hbase** — the reference's own storage model: a 12-byte binary rowkey
  (8-byte big-endian series id, then big-endian int32 hour-aligned epoch
  seconds), an int32 ``qualifier`` holding the seconds offset into that
  hour, the value and the event type (the series dimension);
- **stream** — arrival files replayed by a file-stream source, one file per
  arrival window, modification times increasing in arrival order.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: 2024-01-01T00:00:00Z, the first instant of every generated month
MONTH_START_S = 1_704_067_200
DAY_S = 86_400
MONTH_DAYS = 30
US = 1_000_000

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
N_USERS = 1500
MAX_VALUE = 560.0
ROW_GROUP_ROWS = 131_072

#: rowkey mask selecting the embedded int32 seconds (bytes 8..11)
ROWKEY_MASK = "000000001111"
#: distinct 8-byte series id per event type (odd multiplier → no collisions)
SERIES_IDS = tuple(((i + 1) * 0x9E3779B97F4A7C15) % 2**64 for i in range(len(EVENT_TYPES)))

#: cache entries kept; older ones are deleted when a new one is written
CACHE_KEEP = 6
#: part of every cache key: bump it when the generator's output changes
DATA_VERSION = 2


def gen_events(rng: np.random.Generator, n: int, t0_us: int, span_us: int) -> dict:
    """``n`` events with timestamps sorted over ``[t0_us, t0_us + span_us)``."""
    # a Poisson arrival process scaled onto the span: n arrivals among n+1
    # gaps, so every offset lands strictly inside it (float64 holds µs exactly)
    cum = np.cumsum(rng.exponential(1.0, size=n + 1))
    off = np.floor(cum[:-1] * (span_us / cum[-1])).astype(np.int64)
    value = np.minimum(np.round(rng.exponential(56.0, size=n) * 100.0) / 100.0, MAX_VALUE)
    return {
        "ts_us": t0_us + off,
        "user_id": rng.integers(1, N_USERS + 1, size=n, dtype=np.int32),
        "type_idx": rng.integers(0, len(EVENT_TYPES), size=n, dtype=np.int8),
        "value": value,
    }


def _type_array(idx: np.ndarray) -> pa.Array:
    return pa.DictionaryArray.from_arrays(pa.array(idx), pa.array(EVENT_TYPES))


def columnar_table(ev: dict, lo: int, hi: int) -> pa.Table:
    return pa.table(
        {
            "ts": pa.array(ev["ts_us"][lo:hi]).cast(pa.timestamp("us", tz="UTC")),
            "user_id": ev["user_id"][lo:hi],
            "event_type": _type_array(ev["type_idx"][lo:hi]),
            "value": ev["value"][lo:hi],
        }
    )


def hbase_table(ev: dict, lo: int, hi: int) -> pa.Table:
    secs = ev["ts_us"][lo:hi] // US
    hour = secs - secs % 3600
    idx = ev["type_idx"][lo:hi]
    key = np.empty((hi - lo, 12), dtype=np.uint8)
    key[:, :8] = np.array(SERIES_IDS, dtype=">u8")[idx].view(np.uint8).reshape(-1, 8)
    key[:, 8:] = hour.astype(">i4").view(np.uint8).reshape(-1, 4)
    rowkey = pa.FixedSizeBinaryArray.from_buffers(
        pa.binary(12), hi - lo, [None, pa.py_buffer(key.tobytes())]
    ).cast(pa.binary())
    return pa.table(
        {
            "rowkey": rowkey,
            "qualifier": (secs - hour).astype(np.int32),
            "value": ev["value"][lo:hi],
            "event_type": _type_array(idx),
        }
    )


def _write(table: pa.Table, path: str) -> None:
    """Dictionary-encode the low-cardinality columns, delta-encode the
    sorted timestamps, store values plain."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    names = table.column_names
    pq.write_table(
        table, path, row_group_size=ROW_GROUP_ROWS,
        use_dictionary=[c for c in names if c not in ("ts", "value")],
        column_encoding={"ts": "DELTA_BINARY_PACKED"} if "ts" in names else None,
    )


def _write_daily(ev: dict, t0_s: int, days: int, out_dir: str, make) -> None:
    edges = np.searchsorted(ev["ts_us"], (t0_s + np.arange(days + 1) * DAY_S) * US)

    def write_day(d: int) -> None:
        _write(make(ev, edges[d], edges[d + 1]), os.path.join(out_dir, f"part-{d:03d}.parquet"))

    # the parquet writer releases the interpreter lock: days write in parallel
    with ThreadPoolExecutor(len(os.sched_getaffinity(0))) as pool:
        list(pool.map(write_day, range(days)))


# -- datasets --------------------------------------------------------------


def build_month(path: str, seed: int, rows: int, with_hbase: bool) -> None:
    """``rows`` events over the month, plus a delta day of ``rows / 30``
    events right after it (the increment a rollup maintainer merges).

    ``columnar/events.parquet``, ``delta/events.parquet`` and, with
    ``with_hbase``, ``hbase/events_hbase.parquet`` holding the same rows.
    """
    rng = np.random.default_rng([seed, rows, 1])
    ev = gen_events(rng, rows, MONTH_START_S * US, MONTH_DAYS * DAY_S * US)
    _write_daily(ev, MONTH_START_S, MONTH_DAYS, os.path.join(path, "columnar", "events.parquet"),
                 columnar_table)
    if with_hbase:
        _write_daily(ev, MONTH_START_S, MONTH_DAYS,
                     os.path.join(path, "hbase", "events_hbase.parquet"), hbase_table)
    delta_start = MONTH_START_S + MONTH_DAYS * DAY_S
    dv = gen_events(rng, max(rows // MONTH_DAYS, 1), delta_start * US, DAY_S * US)
    _write(columnar_table(dv, 0, len(dv["ts_us"])),
           os.path.join(path, "delta", "events.parquet", "part-000.parquet"))


#: arrival window of one stream file
STREAM_FILE_S = 7200


def build_stream(path: str, seed: int, files: int, rows_per_file: int) -> None:
    """``files`` arrival files of ``rows_per_file`` events, each covering
    the next :data:`STREAM_FILE_S` seconds, in ``arrivals/events.parquet``."""
    rng = np.random.default_rng([seed, files, rows_per_file, 2])
    for f in range(files):
        t0 = (MONTH_START_S + f * STREAM_FILE_S) * US
        ev = gen_events(rng, rows_per_file, t0, STREAM_FILE_S * US)
        table = columnar_table(ev, 0, rows_per_file)
        p = os.path.join(path, "arrivals", "events.parquet", f"part-{f:03d}.parquet")
        _write(table, p)
        # the file source orders files by modification time
        os.utime(p, (1_700_000_000 + f, 1_700_000_000 + f))


# -- cache -------------------------------------------------------------------


class DataCache:
    """Datasets on disk under ``root``, keyed by their generator arguments.

    An entry is written by a child interpreter (``python3 datagen.py``),
    waited for before :meth:`get` returns, so the generator's arrays never
    count toward the benchmark's own peak memory and no helper process
    outlives the call. It writes into a temporary directory renamed into
    place once complete, so a run cut short never leaves a half-written
    entry behind a valid name. At most :data:`CACHE_KEEP` entries are kept.
    """

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def get(self, generate, *args) -> str:
        name = "-".join([generate.__name__, f"v{DATA_VERSION}", *map(str, args)])
        path = os.path.join(self.root, name)
        if os.path.isdir(path):
            os.utime(path)
            return path
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        # run() kills and waits for the child if the wait is interrupted
        code = subprocess.run([sys.executable, os.path.abspath(__file__), generate.__name__,
                               tmp, json.dumps(args)]).returncode
        if code != 0:
            raise RuntimeError(f"generating {name} failed with exit code {code}")
        os.rename(tmp, path)
        self._evict()
        return path

    def _evict(self) -> None:
        entries = [os.path.join(self.root, e) for e in os.listdir(self.root)]
        entries.sort(key=os.path.getmtime, reverse=True)
        for stale in entries[CACHE_KEEP:]:
            shutil.rmtree(stale, ignore_errors=True)


if __name__ == "__main__":
    # python3 datagen.py <generator> <path> <JSON list of its other arguments>
    _, generator, out_path, generator_args = sys.argv
    {"build_month": build_month, "build_stream": build_stream}[generator](
        out_path, *json.loads(generator_args))
