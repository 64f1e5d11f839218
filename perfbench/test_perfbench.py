"""Tests of the benchmark itself: generator determinism, the seeded query
mix, the oracle's restated semantics, span bookkeeping, the metric
declarations in ``BENCHMARK.json`` and the ending of every process a run
starts.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq
import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(HERE))

import datagen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402
import tracing  # noqa: E402


def read_dir(path: Path):
    return [pq.read_table(p) for p in sorted(path.glob("*.parquet"))]


def tables_equal(a: Path, b: Path) -> bool:
    ta, tb = read_dir(a), read_dir(b)
    return len(ta) == len(tb) and all(x.equals(y) for x, y in zip(ta, tb))


# -- generator ---------------------------------------------------------------


@pytest.mark.parametrize("sub", ["columnar/events.parquet", "hbase/events_hbase.parquet",
                                 "delta/events.parquet"])
def test_month_is_a_function_of_its_seed(tmp_path, sub):
    for name, seed in (("a", 7), ("b", 7), ("c", 8)):
        datagen.build_month(str(tmp_path / name), seed, 3000, True)
    assert tables_equal(tmp_path / "a" / sub, tmp_path / "b" / sub)
    assert not tables_equal(tmp_path / "a" / sub, tmp_path / "c" / sub)


def test_stream_is_a_function_of_its_seed(tmp_path):
    for name, seed in (("a", 3), ("b", 3), ("c", 4)):
        datagen.build_stream(str(tmp_path / name), seed, 5, 200)
    sub = "arrivals/events.parquet"
    assert tables_equal(tmp_path / "a" / sub, tmp_path / "b" / sub)
    assert not tables_equal(tmp_path / "a" / sub, tmp_path / "c" / sub)
    files = sorted((tmp_path / "a" / sub).glob("*.parquet"))
    assert len(files) == 5
    mtimes = [f.stat().st_mtime for f in files]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == 5


def test_month_shape(tmp_path):
    datagen.build_month(str(tmp_path), 1, 6000, True)
    col = pq.read_table(tmp_path / "columnar" / "events.parquet").to_pydict()
    assert len(col["ts"]) == 6000
    us = np.array([t.timestamp() for t in col["ts"]]) * datagen.US
    lo = datagen.MONTH_START_S * datagen.US
    assert us.min() >= lo and us.max() < lo + datagen.MONTH_DAYS * datagen.DAY_S * datagen.US
    assert np.all(np.diff(us) >= 0)
    assert set(col["event_type"]) == set(datagen.EVENT_TYPES)
    assert 0 <= min(col["value"]) and max(col["value"]) <= datagen.MAX_VALUE


def test_hbase_layout_holds_the_same_rows(tmp_path):
    datagen.build_month(str(tmp_path), 2, 4000, True)
    col = pq.read_table(tmp_path / "columnar" / "events.parquet").to_pydict()
    hb = pq.read_table(tmp_path / "hbase" / "events_hbase.parquet").to_pydict()
    secs = [int(t.timestamp()) for t in col["ts"]]
    mask = datagen.ROWKEY_MASK
    off, length = mask.index("1"), mask.rindex("1") - mask.index("1") + 1
    decoded = [int.from_bytes(k[off:off + length], "big", signed=True) + q
               for k, q in zip(hb["rowkey"], hb["qualifier"])]
    assert decoded == secs
    assert all(len(k) == len(mask) for k in hb["rowkey"])
    assert all(0 <= q < 3600 for q in hb["qualifier"])
    series = {datagen.EVENT_TYPES[i]: sid.to_bytes(8, "big")
              for i, sid in enumerate(datagen.SERIES_IDS)}
    assert all(k[:8] == series[t] for k, t in zip(hb["rowkey"], hb["event_type"]))
    assert hb["value"] == col["value"]


def test_cache_reuses_and_evicts(tmp_path):
    cache = datagen.DataCache(str(tmp_path / "cache"))
    first = cache.get(datagen.build_stream, 1, 2, 10)
    assert cache.get(datagen.build_stream, 1, 2, 10) == first
    for seed in range(2, 3 + datagen.CACHE_KEEP):
        cache.get(datagen.build_stream, seed, 2, 10)
    assert len(os.listdir(tmp_path / "cache")) == datagen.CACHE_KEEP
    assert not os.path.exists(first)


def test_cache_generation_leaves_no_process(tmp_path):
    import run

    before = set(run.descendants(os.getpid()))
    datagen.DataCache(str(tmp_path / "cache")).get(datagen.build_stream, 1, 2, 10)
    assert set(run.descendants(os.getpid())) == before


# -- query mix ---------------------------------------------------------------


def test_query_mix_is_reproducible_and_balanced():
    from workloads import INTERVALS_S, MONTH_END_S, RANGES_S, query_mix

    mix = query_mix(5, 64)
    assert mix == query_mix(5, 64)
    assert mix != query_mix(6, 64)
    assert query_mix(5, 20) == mix[:20]
    for i in range(0, 64, 4):
        four = mix[i:i + 4]
        assert sorted(q["hi"] - q["lo"] for q in four) == sorted(RANGES_S)
        assert sorted(q["iv"] for q in four) == sorted(INTERVALS_S)
        assert sum(q["group"] for q in four) == 1
        assert sum(q["cutoff"] == "taggregator" for q in four) == 1
    for i in range(0, 64, 16):
        sixteen = mix[i:i + 16]
        assert len({(q["hi"] - q["lo"], q["iv"]) for q in sixteen}) == 16
        for flag in (lambda q: q["group"], lambda q: q["cutoff"] == "taggregator"):
            marked = [q for q in sixteen if flag(q)]
            assert sorted(q["hi"] - q["lo"] for q in marked) == sorted(RANGES_S)
            assert sorted(q["iv"] for q in marked) == sorted(INTERVALS_S)
    assert {q["verb"] for q in mix} == {"max", "min", "sum", "avg", "count", "agg"}
    for q in mix:
        upper = oracle.upper_bound_us(q["lo"], q["hi"], q["iv"], q["cutoff"])
        assert datagen.MONTH_START_S <= q["lo"] and upper <= MONTH_END_S


def test_bulk_scan_reports_whole_cycles():
    from workloads import Op, unit_latencies_ms

    ops = [Op(kind, s) for kind, s in zip(["columnar", "rowkey", "rollup"] * 2,
                                           [0.5, 2.0, 2.5, 0.7, 2.1, 2.2])]
    assert unit_latencies_ms("bulk_scan", ops) == pytest.approx([5000.0, 5000.0])
    assert unit_latencies_ms("dashboard", ops[:2]) == pytest.approx([500.0, 2000.0])


# -- oracle ------------------------------------------------------------------


@pytest.mark.parametrize("lo,hi,iv", [(0, 3600, 900), (17, 3600, 900), (0, 100, 900),
                                      (5, 86405, 3600), (1, 2, 60)])
def test_oracle_upper_bound_matches_the_engine(lo, hi, iv):
    from hbase_taggregator_spark.operators.timeseries import TimeseriesQuery

    for cutoff in ("strict", "taggregator"):
        q = TimeseriesQuery(df=None).range(lo, hi).interval(iv).mode(cutoff)
        assert oracle.upper_bound_us(lo * 10**6, hi * 10**6, iv * 10**6, cutoff) == \
            q.upper_bound_us()


def test_mismatch_tolerances():
    want = {(0, None): {"max": 1.5, "sum": 3.0, "count": 2}}
    assert oracle.mismatch({(0, None): {"max": 1.5, "sum": 3.0 + 1e-12, "count": 2}}, want) is None
    assert oracle.mismatch({(0, None): {"max": 1.5 + 1e-12, "sum": 3.0, "count": 2}}, want)
    assert oracle.mismatch({(0, None): {"max": 1.5, "sum": 3.1, "count": 2}}, want)
    assert oracle.mismatch({(0, None): {"max": 1.5, "sum": 3.0, "count": 3}}, want)
    assert oracle.mismatch({}, want)


def test_oracle_buckets_from_files(tmp_path):
    datagen.build_month(str(tmp_path), 4, 5000, False)
    glob = str(tmp_path / "columnar" / "events.parquet" / "*.parquet")
    col = pq.read_table(tmp_path / "columnar" / "events.parquet").to_pydict()
    con = oracle.connect(str(tmp_path))
    lo = (datagen.MONTH_START_S + 1234) * datagen.US
    iv, hi = 3600 * datagen.US, (datagen.MONTH_START_S + 5 * datagen.DAY_S) * datagen.US
    got, rows = oracle.bucketed(con, glob, lo, hi, iv, ["count", "max"], False)
    want: dict = {}
    for t, v in zip(col["ts"], col["value"]):
        us = round(t.timestamp() * 10**6)
        if lo <= us < hi:
            b = want.setdefault((lo + (us - lo) // iv * iv, None), {"count": 0, "max": v})
            b["count"] += 1
            b["max"] = max(b["max"], v)
    assert oracle.mismatch(got, want) is None
    assert rows == sum(b["count"] for b in want.values())


# -- tracing -----------------------------------------------------------------


def test_self_time_subtracts_children():
    tr = tracing.Tracer()
    with tr.span("outer", op=1):
        with tr.span("inner"):
            pass
        with tr.span("inner"):
            pass
    outer = next(s for s in tr.spans if s["name"] == "outer")
    inner = [s for s in tr.spans if s["name"] == "inner"]
    assert all(s["parent"] == outer["id"] and s["op"] == 1 for s in inner)
    self_ms = tr.self_times_ms()
    total = (outer["end"] - outer["start"]) * 1e3
    assert self_ms["outer"] == pytest.approx(total - sum(tr.durations_ms("inner")))
    assert len(tr.durations_ms("inner")) == 2


def test_null_tracer_records_nothing():
    tr = tracing.NullTracer()
    with tr.span("x"):
        pass
    assert not tr.enabled


# -- declarations ------------------------------------------------------------

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def test_benchmark_json_matches_the_runner():
    from workloads import WORKLOADS

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end",
                         "per_layer"}
    assert spec["command"] == ["python3", "perfbench/run.py"]
    assert spec["paths"] == ["perfbench"]
    assert isinstance(spec["run_seconds"], int) and 1 <= spec["run_seconds"] <= 60
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    for w in spec["workloads"]:
        assert set(w) == {"name", "why"} and "\n" not in w["why"] and len(w["why"]) <= 200
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    assert {k: (m["unit"], m["better"]) for k, m in e2e.items()} == metrics.END_TO_END
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in spec["end_to_end"])
    layers = {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]}
    assert layers == {k: v[:2] for k, v in metrics.PER_LAYER.items()}
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]] + list(WORKLOADS)
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    assert all(UNIT.match(m["unit"]) for m in spec["end_to_end"] + spec["per_layer"])
    assert all(m["better"] in ("lower", "higher") for m in spec["end_to_end"] + spec["per_layer"])


def test_result_line_needs_every_metric():
    values = {k: 1.0 for k in metrics.END_TO_END}
    line = metrics.result_line(True, 3, 0, values, metrics.END_TO_END)
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["metrics"]["setup_s"] == {"value": 1.0, "unit": "s"}
    del values["setup_s"]
    with pytest.raises(KeyError):
        metrics.result_line(True, 3, 0, values, metrics.END_TO_END)


def test_tail_percentile_needs_ten_samples_beyond():
    assert metrics.tail_percentile(list(range(50))) is None
    p, v = metrics.tail_percentile(list(range(100)))
    assert p == 90 and 89 <= v <= 90
    assert metrics.tail_percentile(list(range(1000)))[0] == 99


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path / "BENCHMARK.json")
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "dashboard", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


def test_end_descendants_ends_orphans_too():
    # the shell exits at once, orphaning two sleeps below the subreaper
    script = (
        "import subprocess, run\n"
        "run.become_subreaper()\n"
        "subprocess.run(['sh', '-c', 'sleep 60 & sleep 60 &'], check=True)\n"
        "assert len(run.descendants(run.os.getpid())) == 2\n"
        "run.end_descendants(grace_s=0.2)\n"
        "print(run.descendants(run.os.getpid()), run.reap())\n"
    )
    p = subprocess.run([sys.executable, "-c", script], cwd=HERE, capture_output=True, text=True,
                       timeout=60)
    assert p.returncode == 0, p.stderr
    assert p.stdout.split() == ["[]", "False"]
