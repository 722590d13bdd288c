"""Unit tests of the benchmark's pure helpers (no Spark session)."""

import json
import os

import pytest

from band import representatives, seats, writes_files
from spans import (Tracer, covered, parse_metric, self_times, stage_diff,
                   tail_percentile)


def test_tail_percentile_needs_ten_samples_beyond():
    values = [float(i) for i in range(1, 101)]  # 1..100
    value, pct, n = tail_percentile(values)
    assert (pct, n) == (90, 100)
    assert value == 90.0
    assert sum(v > value for v in values) >= 10


def test_tail_percentile_small_samples():
    value, pct, n = tail_percentile([3.0, 1.0, 2.0])
    assert (value, pct, n) == (3.0, 100, 3)
    # 20 samples: p50 is the highest with ten beyond it
    value, pct, n = tail_percentile([float(i) for i in range(20)])
    assert (pct, n) == (50, 20)
    assert value == 9.0
    with pytest.raises(ValueError):
        tail_percentile([])


def test_covered_merges_overlaps():
    assert covered([(0, 2), (1, 3), (5, 6)]) == 4
    assert covered([]) == 0


def test_self_time_subtracts_children_once():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 3.0, "end": 5.0},  # overlaps 1
        {"id": 3, "parent": 1, "start": 1.0, "end": 2.0},
    ]
    own = self_times(spans)
    assert own[0] == pytest.approx(6.0)
    assert own[1] == pytest.approx(2.0)
    assert own[2] == pytest.approx(2.0)
    assert own[3] == pytest.approx(1.0)


def test_tracer_nests_and_writes(tmp_path):
    tracer = Tracer(True)
    with tracer.span("pass"):
        with tracer.span("operation", query="q") as op:
            op.set(jobs=3)
    assert [s["parent"] for s in tracer.spans] == [None, 0]
    assert tracer.spans[1]["jobs"] == 3
    path = tmp_path / "t.jsonl"
    tracer.write(str(path))
    assert len(path.read_text().splitlines()) == 2
    off = Tracer(False)
    with off.span("pass") as s:
        s.set(jobs=1)
    assert off.spans == []


def _stage(stage_id, status="COMPLETE", tasks=4, run_ms=1000, cpu_ns=5e8,
           **kw):
    st = {"stage_id": stage_id, "status": status, "tasks": tasks,
          "run_ms": run_ms, "cpu_ns": cpu_ns, "input_bytes": 0,
          "shuffle_read_bytes": 0, "shuffle_write_bytes": 0, "spill_bytes": 0}
    st.update(kw)
    return st


def test_stage_diff_counts_only_new_run_stages():
    stages = [
        _stage(3, tasks=2, run_ms=500, cpu_ns=1e8, shuffle_read_bytes=100),
        _stage(2, status="SKIPPED"),
        _stage(1, shuffle_write_bytes=100),
        _stage(1, tasks=1),  # a retried attempt counts too
        _stage(0),  # older than the mark
    ]
    d = stage_diff(stages, last_seen=0)
    assert d["stages"] == 3
    assert d["tasks"] == 7
    assert d["exec_run_s"] == pytest.approx(2.5)
    assert d["exec_cpu_s"] == pytest.approx(1.1)
    assert d["shuffle_read_bytes"] == d["shuffle_write_bytes"] == 100
    assert stage_diff(stages, last_seen=3)["stages"] == 0


def test_parse_metric_forms():
    assert parse_metric("60,000") == 60000
    assert parse_metric(
        "total (min, med, max (stageId: taskId))\n1.5 KiB (0.0 B, 0.5 KiB, "
        "1.0 KiB (stage 1.0: task 3))") == 1536
    assert parse_metric(None) == 0
    assert parse_metric("n/a") == 0


def test_seats_one_each_then_by_size():
    assert seats({"a": 100, "b": 50, "c": 3, "d": 1}, 8) == {
        "a": 4, "b": 2, "c": 1, "d": 1}
    assert sum(seats({"a": 7, "b": 5, "c": 1}, 6).values()) == 6
    with pytest.raises(ValueError):
        seats({"a": 1, "b": 1}, 1)


def test_representatives_take_stratum_medians_per_group():
    ordered = [f"a{i}" for i in range(9)] + ["b0", "b1", "b2"]
    group = {n: n[0] for n in ordered}
    # a: 3 seats over strata a0-a2, a3-a5, a6-a8; b: one seat, b0-b2
    assert representatives(ordered, group, 4) == ["a1", "a4", "a7", "b1"]
    assert representatives(ordered, group, 12) == ordered


def test_writes_files_follows_calls_into_the_package():
    from etl_verkada_spark.registry import build_registry

    registry = build_registry()
    # a direct write; a write in a helper it calls; a streaming sink;
    # no write at all
    assert writes_files(registry["join_bucketed"].fn)
    assert writes_files(registry["scan_csv_land"].fn)
    assert writes_files(registry["stream_dedup"].fn)
    assert not writes_files(registry["topk"].fn)
    assert not writes_files(registry["flagship_flat"].fn)


def test_benchmark_json_names_every_emitted_layer_metric():
    import run
    import workloads

    layers = workloads.summarize_layers([workloads.empty_layers()], 4)
    emitted = set(layers) | set(run.RUN_LAYERS)
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"] for m in bench["per_layer"]} == emitted
    assert {w["name"] for w in bench["workloads"]} == set(workloads.WORKLOADS)
    assert set(run.datagen.WORKLOADS) == set(workloads.WORKLOADS)
