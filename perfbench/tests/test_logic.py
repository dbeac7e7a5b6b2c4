"""The benchmark's own logic, without Spark:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import math
import os

import numpy as np
import pyarrow.parquet as pq
import pytest

import clickstream
import gen
import metrics
import stats

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
BASE_MS = 1_700_000_000_000


def _files(d):
    return {f: open(os.path.join(d, f), "rb").read() for f in sorted(os.listdir(d))}


def _write_live(d, seed, start_ms, backlog=5_000, rate=2_000.0, seconds=3,
                interval_ms=250):
    plan = gen.live_plan(seed, backlog, rate, seconds, interval_ms)
    late_ts0 = BASE_MS - gen.LATE_LAG_MS
    for k in range(plan["n_files"]):
        gen.write_atomic(gen.live_file(plan, k, start_ms, backlog, late_ts0),
                         os.path.join(d, f"live-{k:05d}.parquet"))
    return plan


def test_same_seed_gives_byte_identical_files(tmp_path):
    for run in ("a", "b"):
        d = tmp_path / run
        d.mkdir()
        gen.write_backlog(str(d), 7, 5_000, 2_000.0, BASE_MS, 4)
        _write_live(str(d), 7, BASE_MS + 10_000)
        gen.write_atomic(gen.documents(7, 300), str(d / "documents.parquet"))
    assert _files(tmp_path / "a") == _files(tmp_path / "b")
    other = tmp_path / "c"
    other.mkdir()
    gen.write_backlog(str(other), 8, 5_000, 2_000.0, BASE_MS, 4)
    assert _files(other)["backlog-0000.parquet"] != _files(tmp_path / "a")["backlog-0000.parquet"]


def test_same_seed_tables_identical():
    a, b = gen.tables(3, 0.001), gen.tables(3, 0.001)
    assert all(a[t].equals(b[t]) for t in a)
    assert a["lineitem"].num_rows == 6_000 and a["documents"].num_rows == 50


def test_timestamps_rise_strictly_across_files(tmp_path):
    gen.write_backlog(str(tmp_path), 1, 20_000, 2_000.0, BASE_MS, 8)
    _write_live(str(tmp_path), 1, BASE_MS + 20_000)
    prev_max = None
    names = sorted(f for f in os.listdir(tmp_path) if f.startswith("backlog"))
    names += sorted(f for f in os.listdir(tmp_path) if f.startswith("live"))
    assert len(names) == 8 + 12
    for name in names:
        t = pq.read_table(tmp_path / name).to_pandas()
        on_time = t[t.userid < gen.FLUSH_USER].eventtimestamp
        if prev_max is not None:
            assert on_time.min() > prev_max, name
        assert on_time.is_monotonic_increasing
        prev_max = on_time.max()


def test_injected_late_count_is_exact(tmp_path):
    plan = _write_live(str(tmp_path), 5, BASE_MS + 20_000, seconds=4)
    tables = [pq.read_table(tmp_path / f).to_pandas() for f in sorted(os.listdir(tmp_path))]
    late = np.concatenate([t[t.userid >= gen.LATE_USER_BASE].userid.values for t in tables])
    on_time = sum(int((t.userid < gen.FLUSH_USER).sum()) for t in tables)
    assert on_time == 8_000
    assert late.size == on_time // gen.LATE_EVERY == plan["late_file"].size
    # one reserved user per late event, so no two merge into one session
    assert np.unique(late).size == late.size
    late_ts = np.concatenate([t[t.userid >= gen.LATE_USER_BASE].eventtimestamp.values
                              for t in tables])
    assert (late_ts + clickstream.GAP_MS < BASE_MS).all()


def test_backlog_and_live_are_one_user_sequence():
    whole = gen.session_events(9, 12_000)
    head = gen.session_events(9, 10_000)
    assert (whole["userid"][:10_000] == head["userid"]).all()
    assert (whole["event_type"][:10_000] == head["event_type"]).all()


@pytest.mark.parametrize("n,p", [(85, 88), (1000, 99), (20, 50), (200, 95)])
def test_tail_percentile_keeps_ten_samples_beyond(n, p):
    assert stats.tail_percentile(n) == p
    assert n - math.ceil(p / 100 * n) >= stats.TAIL_SAMPLES
    if p < 99:
        assert n - math.ceil((p + 1) / 100 * n) < stats.TAIL_SAMPLES


def test_tail_percentile_none_below_eleven_samples():
    assert stats.tail_percentile(10) is None
    assert stats.tail_percentile(7) is None


def test_percentile_nearest_rank():
    xs = list(range(1, 101))
    assert stats.percentile(xs, 50) == 50
    assert stats.percentile(xs, 99) == 99
    assert stats.percentile([3.0], 50) == 3.0


def test_latency_arithmetic_on_synthetic_trace():
    # (arrival_ms, eventTime header = windowEndTime = last event + gap)
    records = [
        (10_500.0, 9_000),   # ended before the live phase: excluded
        (12_300.0, 11_000),  # 1300 ms
        (12_300.0, 11_800),  # 500 ms
        (13_900.0, 12_000),  # 1900 ms
        (20_000.0, 16_000),  # ended after the last live event: excluded
    ]
    lat = stats.sink_latencies_ms(records, since_ms=10_000, until_ms=15_000)
    assert lat == [1300.0, 500.0, 1900.0]
    assert stats.percentile(lat, 50) == 1300.0


def test_span_self_time():
    spans = [
        {"id": "r", "parent": None, "start": 0.0, "end": 10.0},
        {"id": "a", "parent": "r", "start": 1.0, "end": 4.0},
        {"id": "b", "parent": "r", "start": 3.0, "end": 6.0},   # overlaps a
        {"id": "c", "parent": "r", "start": 9.0, "end": 12.0},  # sticks out
        {"id": "d", "parent": "a", "start": 2.0, "end": 3.0},
    ]
    st = stats.self_times(spans)
    assert st["r"] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st["a"] == pytest.approx(2.0)
    assert st["b"] == pytest.approx(3.0)
    assert st["d"] == pytest.approx(1.0)


def test_spread_is_iqr_over_median():
    assert stats.spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]) == pytest.approx(
        (8.25 - 2.75) / 5.5)


def test_benchmark_json_matches_metric_registry():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {w["name"] for w in bench["workloads"]} == set(metrics.PER_LAYER)
    e2e = {m["name"]: (m["unit"], m["better"]) for m in bench["end_to_end"]}
    assert e2e == metrics.E2E
    layers = {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]}
    assert layers == {k: v for names in metrics.PER_LAYER.values() for k, v in names.items()}


def test_layer_report_zeroes_other_workloads_only():
    own = {k: 1.5 for k in metrics.PER_LAYER["corpus"]}
    out = metrics.layer_report("corpus", own)
    assert out["ingest.pairs_ms_p50"] == {"value": 1.5, "unit": "ms"}
    assert out["live.state.rows_max"]["value"] == 0
    with pytest.raises(KeyError):
        metrics.layer_report("corpus", {})
