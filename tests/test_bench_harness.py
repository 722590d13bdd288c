"""Regression pins for the bench harness: the interleaved pair timer,
per-pair error isolation, the sf1 results file and the stdout line —
round 9 lost an entire 90-minute sf1 section to one infeasible oracle;
these tests keep the fixes honest. No Spark session needed."""

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


def _pair(spark_min, duck_min=None, spark_spread=1.1, duck_spread=1.1):
    def side(m, spread):
        return {"min": m, "med": m, "n": 3, "spread": spread}

    return {
        "spark": side(spark_min, spark_spread),
        "duckdb": side(duck_min, duck_spread) if duck_min else None,
        "errors": {},
    }


def _write_results(path, rows, tail=""):
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
        f.write(tail)


def test_sf1_progress_reconstruction(tmp_path):
    """A results file cut mid-run (the child died while writing a line)
    still yields every pair that finished: the section has ONE build
    path, clean exit or not."""
    p = tmp_path / "results.jsonl"
    rows = [
        {"run_id": "r1", "host_start": {"load1": 0.5}},
        {"floor_s_subprocess": 0.03},
        {"free_disk_gb_at_start": 79.1},
        {"q": "q1", "cold": False, **_pair(0.53, 0.1)},
        {"q": "q2", "cold": False, **_pair(1.0, spark_spread=2.5)},
        {"q": "bad", "cold": False, "spark": None, "duckdb": None,
         "errors": {"duckdb": "boom", "spark": "bang"}},
        {"q": "graph_pagerank", "cold": True, **_pair(11.4, 6.8)},
        {"q": "q9", "skipped": "deadline"},
    ]
    _write_results(p, rows, tail='{"q": "q3", "cold": false, "spa')
    out = bench._sf1_section(str(p), "r1", "sf1 subprocess rc=-9: killed")
    # floor subtracted before the ratio
    assert out["ratio_floor_adjusted"]["q1"] == round(0.5 / 0.1, 2)
    # q2 has no duck pair -> no ratio, but its spread flags it unstable
    assert "q2" not in out["ratio_floor_adjusted"]
    assert "q2" in out["unstable"]
    assert "q3" not in out["queries"]
    assert out["cold_sec"]["graph_pagerank"] == 11.4
    assert out["cold_duckdb_sec"]["graph_pagerank"] == 6.8
    assert "graph_pagerank" not in out["queries"]
    assert out["errors"]["duckdb:bad"] == "boom"
    assert out["errors"]["spark:bad"] == "bang"
    assert out["errors"]["section"].startswith("sf1 subprocess rc=-9")
    assert out["deadline_skipped"] == ["q9"]
    assert out["free_disk_gb_at_start"] == 79.1
    assert out["host_start"] == {"load1": 0.5}


def test_sf1_section_excludes_twin_pairs_from_ratio_maps(tmp_path):
    p = tmp_path / "results.jsonl"
    twin = bench.SF1_TWIN_EXCLUDED[0]
    _write_results(p, [
        {"run_id": "r1"},
        {"floor_s_subprocess": 0.0},
        {"q": twin, "cold": False, **_pair(4.0, 2.0)},
        {"q": "ts_ewma", "cold": False, **_pair(3.0)},
    ])
    out = bench._sf1_section(str(p), "r1")
    assert twin not in out["ratio_floor_adjusted"]
    assert twin not in out["ratio"]
    assert out["twin_ratio"] == {twin: 2.0}
    assert out["spark_only"] == {"ts_ewma": 3.0}
    assert "errors" not in json.loads(
        bench.compact_stdout_line(1.0, 0.1, {}, 0.0, {}, out, "/tmp/x.json")
    )["sf1"]


def test_sf1_progress_missing_file_degrades(tmp_path):
    out = bench._sf1_section(str(tmp_path / "absent.jsonl"), "r1", "err msg")
    assert out == {"error": "err msg"}


def test_duckdb_budget_interrupts_runaway():
    """A DuckDB query slower than its budget is interrupted and lands
    in the pair's errors (never a section hang); the Spark side of the
    same pair is still timed."""
    import duckdb

    con = duckdb.connect()
    # ~10^10-row cross join: far beyond the 0.3 s budget
    sql = ("SELECT COUNT(*) FROM range(100000) a, range(100000) b "
           "WHERE (a.range*b.range) % 7 = 3")
    t0 = time.perf_counter()
    out = bench.time_pair(
        lambda: None, lambda: con.execute(sql).fetchall(), con.interrupt,
        n_runs=2, duck_budget_s=0.3,
    )
    assert time.perf_counter() - t0 < 30
    assert out["duckdb"] is None
    assert "Interrupt" in out["errors"]["duckdb"]
    assert out["spark"]["n"] == 2


def test_pair_timer_interleaves_spark_and_duckdb():
    """One warm-up per engine, then Spark and DuckDB alternate run by
    run, so both windows see the same host state."""
    calls = []
    out = bench.time_pair(
        lambda: calls.append("S"), lambda: calls.append("D"), n_runs=3,
    )
    assert calls == ["S", "D"] * 4
    assert out["spark"]["n"] == out["duckdb"]["n"] == 3
    assert out["errors"] == {}
    # cold timing: no warm-up, one run each; a Spark-only row
    calls.clear()
    bench.time_pair(lambda: calls.append("S"), lambda: calls.append("D"),
                    n_runs=1, warm=False)
    assert calls == ["S", "D"]
    solo = bench.time_pair(lambda: None, n_runs=2)
    assert solo["duckdb"] is None and solo["spark"]["n"] == 2


def test_pair_timer_stops_a_side_alone(monkeypatch):
    """A side past SLOW_RUN_CUTOFF_S after two runs stops repeating
    while the other engine finishes its rounds; a side failing after a
    timed run keeps its window and names the error."""
    monkeypatch.setattr(bench, "SLOW_RUN_CUTOFF_S", -1.0)
    calls = []
    out = bench.time_pair(
        lambda: calls.append("S"), lambda: calls.append("D"), n_runs=4,
    )
    assert calls.count("S") == calls.count("D") == 3  # warm-up + 2
    monkeypatch.setattr(bench, "SLOW_RUN_CUTOFF_S", 10.0)
    n = {"D": 0}

    def duck():
        n["D"] += 1
        if n["D"] > 2:
            raise RuntimeError("lost the connection")

    out = bench.time_pair(lambda: None, duck, n_runs=4)
    assert out["spark"]["n"] == 4
    assert out["duckdb"]["n"] == 1
    assert "lost the connection" in out["duckdb"]["stopped"]
    assert out["errors"] == {}


def test_failing_pair_lands_in_errors_and_others_are_timed():
    """One failing query (either engine) is recorded under errors and
    the run goes on: the pairs after it are still timed on both."""

    def boom():
        raise ValueError("no such column")

    fakes = {
        "q1": (lambda: None, lambda: None),
        "bad_spark": (boom, lambda: None),
        "bad_duck": (lambda: None, boom),
        "q2": (lambda: None, lambda: None),
    }
    pairs = {n: bench.time_pair(s, d, n_runs=2) for n, (s, d) in fakes.items()}
    sec = bench._tabulate(pairs, 0.0)
    assert set(sec["queries"]) == {"q1", "bad_duck", "q2"}
    assert set(sec["duckdb"]) == {"q1", "bad_spark", "q2"}
    assert sec["errors"] == {
        "spark:bad_spark": "ValueError: no such column",
        "duckdb:bad_duck": "ValueError: no such column",
    }


def test_duck_spill_cap_follows_free_disk(monkeypatch):
    """DuckDB may spill into at most half the free space of its temp
    filesystem (a fixed 40 GB cap exceeded a 20 GB-free disk)."""
    monkeypatch.setattr(bench, "_free_bytes", lambda path="/tmp": 20 * 1024**3)
    con = bench._duck_connect()
    cap = con.execute(
        "SELECT current_setting('max_temp_directory_size')"
    ).fetchone()[0]
    assert cap == "10.0 GiB"


def test_repo_mirror_only_for_headline_sf_runs_with_sf1():
    """ADVICE defect 1: a smoke run at another sf, or a run whose sf1
    section measured nothing, must not overwrite BENCH_FULL.json."""
    sf1 = {"ratio_floor_adjusted": {"q": 1.2}}
    assert bench._mirrors_to_repo(bench.HEADLINE_SF, sf1)
    assert not bench._mirrors_to_repo("0.01", sf1)
    assert not bench._mirrors_to_repo(bench.HEADLINE_SF, None)
    assert not bench._mirrors_to_repo(
        bench.HEADLINE_SF, {"skipped": "insufficient_disk"}
    )


def test_stdout_metric_names_interleaved_pairs():
    rec = json.loads(bench.compact_stdout_line(
        1.0, 0.1, {"q": 1.0}, 0.02, {"q": 0.5}, None, "/tmp/x.json",
    ))
    assert rec["metric"].endswith("interleaved with DuckDB per pair")
    assert "n_errors" not in rec


def test_infeasible_oracle_pairs_stay_off_sf1():
    """The prefixfilter pair op must NOT ride sf1 on any tier: the
    round-10 run measured the perturbed-corpus tau>=0.5 join at 136 s
    Spark with the equal-work DuckDB twin past its budget — the row
    prices pair materialization (~2.5M qualifying pairs), not the
    blocking strategy, and its cost starves the rest of the section's
    deadline. The brute-force correctness oracle must likewise never
    ride sf1 (the round-9 total-loss cause). Perturbed-replica
    synthesis itself stays on — other pair ops depend on it for honest
    rows."""
    assert "llm_dedup_prefixfilter" not in bench.SF1_QUERIES
    assert "llm_dedup_prefixfilter" not in bench.SF1_SPARK_ONLY
    assert "llm_dedup_prefixfilter" not in bench.SF1_COLD_QUERIES
    # perturbed-replica synthesis is on (and cache-invalidating)
    assert bench.SF1_PERTURB_STRIDE == 10
    assert bench.SF1_GEN_VERSION >= 5


def test_sf1_order_is_degradation_aware():
    """The deadline drops the list tail first, so never-paired (r8-r10)
    queries must precede the heavy tail."""
    order = {q: i for i, q in enumerate(bench.SF1_QUERIES)}
    fresh = ["ts_mad_anomaly", "llm_winnowing", "agg_gini"]
    heavy = ["llm_dedup_substring", "stream_mv_refresh",
             "graph_triangle_count"]
    assert max(order[q] for q in fresh) < min(order[q] for q in heavy)


def test_stdout_line_budget_worst_case():
    """The final stdout line must fit the driver's tail capture with
    every current query in both sets, every sf0.1 pair failing on both
    engines, and the host blob."""
    timings = {q: 1.234 for q in bench.HEADLINE}
    duck = {q: 0.123 for q in bench.HEADLINE}
    errors = {
        f"{side}:{q}": "Py4JJavaError: " + "x" * 200
        for q in bench.HEADLINE
        for side in ("spark", "duckdb")
    }
    sf1 = {
        "ratio_floor_adjusted": {q: 12.345 for q in bench.SF1_QUERIES},
        "unstable": ["a", "b", "c"],
        "free_disk_gb_at_start": 79.1,
        "errors": [1],
        "spark_only": {q: 1.23 for q in bench.SF1_SPARK_ONLY},
        "cold_sec": {"scd2_build": 1.76, "graph_pagerank": 11.43},
        "deadline_skipped": list(bench.SF1_QUERIES),
    }
    host = {"load1": [12.3, 14.5], "mem_gb": [14.1, 13.2]}
    line = bench.compact_stdout_line(
        12.3, 0.1, timings, 0.027, duck, sf1, "/tmp/x.json",
        floor_1row_s=0.025, host=host, errors=errors,
    )
    assert len(line) < bench.STDOUT_LINE_BUDGET
    rec = json.loads(line)
    assert rec["n_errors"] == 2 * len(bench.HEADLINE)


def test_sf1_progress_rejects_stale_run_id(tmp_path):
    """If the child died before stamping THIS run's id, a leftover
    results file from an earlier run must not be published as this
    run's measurements."""
    p = tmp_path / "results.jsonl"
    _write_results(p, [
        {"run_id": "oldrun"},
        {"floor_s_subprocess": 0.0},
        {"q": "q1", "cold": False, **_pair(0.5, 0.1)},
    ])
    out = bench._sf1_section(str(p), "newrun", "child died early")
    assert out.get("stale_progress_rejected") is True
    assert out["error"] == "child died early"
    assert "ratio_floor_adjusted" not in out
    # matching id still builds the section
    ok = bench._sf1_section(str(p), "oldrun")
    assert "q1" in ok["ratio_floor_adjusted"]


def test_stdout_line_carries_deadline_skip_count():
    timings = {"q1": 1.0}
    duck = {"q1": 0.5}
    sf1 = {
        "ratio_floor_adjusted": {"q1": 2.0},
        "deadline_skipped": ["spark:q2", "duckdb:q3"],
    }
    line = bench.compact_stdout_line(
        1.0, 0.1, timings, 0.02, duck, sf1, "/tmp/x.json"
    )
    rec = json.loads(line)
    assert rec["sf1"]["n_deadline_skipped"] == 2


def test_duckdb_budget_timer_is_cleared_when_query_finishes():
    """The done-flag guard: a budget expiring after the final fetchall
    must not fire an interrupt onto the shared connection."""
    import duckdb

    con = duckdb.connect()
    out = bench.time_pair(
        lambda: None, lambda: con.execute("SELECT 1").fetchall(),
        con.interrupt, n_runs=2, duck_budget_s=0.2,
    )
    assert out["duckdb"]["n"] == 2
    time.sleep(0.4)  # past the budget; guarded timer must be a no-op
    assert con.execute("SELECT 41 + 1").fetchone()[0] == 42


def test_stdout_line_carries_host_telemetry_and_named_errors():
    """r12 verdict items 1-2: the compact line must carry the host
    blob (loadavg, memory) and every error BY NAME — sf1 errors with
    their exception class — an anonymous n_errors or a record with no
    contention telemetry is the r12 adjudication failure."""
    timings = {"q1": 1.0, "flagship_flat": 0.9}
    duck = {"q1": 0.5, "flagship_flat": 0.3}
    sf1 = {
        "ratio_floor_adjusted": {"q1": 2.0},
        "queries": {"q1": 1.0},
        "duckdb": {"q1": 0.5},
        "errors": {"duckdb:bad": "InterruptException: INTERRUPT"},
        "deadline_skipped": ["spark:q2"],
        "host_start": {"load1": 0.5},
        "host_end": {"load1": 21.0},
    }
    host = {
        "load1": [0.2, 21.5],
        "mem_gb": [124.8, 118.5],
    }
    line = bench.compact_stdout_line(
        1.9, 0.1, timings, 0.02, duck, sf1, "/tmp/x.json", host=host,
        errors={"spark:q2": "AnalysisException: boom"},
    )
    rec = json.loads(line)
    assert rec["n_errors"] == 1 and rec["errors"] == ["spark:q2"]
    assert rec["host"]["mem_gb"] == [124.8, 118.5]
    assert rec["host"]["load1"] == [0.2, 21.5]
    assert rec["sf1"]["errors"] == {
        "duckdb:bad": "InterruptException: INTERRUPT"
    }
    assert rec["sf1"]["skipped_q"] == ["spark:q2"]
    assert rec["sf1"]["load1"] == [0.5, 21.0]


def test_floor_bound_names_trim_to_truncated_ratio_map():
    """A 40-name floor_bound list must not squeeze the worst-N ratio
    map out of the line (the r13 run-1 lesson): once the ratio map is
    truncated, floor_bound keeps the full count but only the names
    still present in the map."""
    n = 60
    sf1 = {
        "ratio_floor_adjusted": {f"q{i:02d}": 2.1 + i for i in range(n)},
        "queries": {f"q{i:02d}": 0.9 for i in range(n)},
        "duckdb": {f"q{i:02d}": 0.01 for i in range(n)},
    }
    timings = {f"q{i:02d}": 0.9 for i in range(n)}
    duck = {f"q{i:02d}": 0.01 for i in range(n)}
    line = bench.compact_stdout_line(
        9.9, 0.1, timings, 0.02, duck, sf1, "/tmp/x.json"
    )
    assert len(line) < bench.STDOUT_LINE_BUDGET
    rec = json.loads(line)
    s1 = rec["sf1"]
    # the 60-query fixture is sized to force truncation — assert it
    # actually happened so the trim path is exercised, never skipped
    # (ADVICE r13: the old conditional made this test vacuous if a
    # budget change stopped the fixture from truncating)
    assert s1.get("ratio_truncated") is True
    assert s1["n_floor_bound"] == n
    assert set(s1["floor_bound"]) <= set(s1["ratio"])


def test_headline_pairs_are_registered_with_oracles():
    """Every sf0.1 benched pair must be a registered query WITH an
    oracle (a ratio needs a denominator), and the list must be
    duplicate-free — the r14 rotation grew it 94 -> 152, so this is
    now pinned instead of assumed."""
    from etl_verkada_spark.registry import build_registry

    reg = build_registry()
    assert len(bench.HEADLINE) == len(set(bench.HEADLINE))
    missing = [n for n in bench.HEADLINE if n not in reg]
    assert not missing, missing
    no_oracle = [n for n in bench.HEADLINE if reg[n].oracle is None]
    assert not no_oracle, no_oracle


def test_sf1_pairs_are_registered():
    from etl_verkada_spark.registry import build_registry

    reg = build_registry()
    for lst in (bench.SF1_QUERIES, bench.SF1_SPARK_ONLY,
                bench.SF1_COLD_QUERIES):
        assert len(lst) == len(set(lst))
        missing = [n for n in lst if n not in reg]
        assert not missing, missing


def test_weak_set_report_tags_and_thresholds():
    """tools/weak_set.py is the per-round adjudication lens: >2x
    floor-adjusted rows, floor-band suppression, annotation/unstable
    tags — pin its classification so the report stays trustworthy."""
    sys.path.insert(
        0,
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "tools",
        ),
    )
    import weak_set

    queries = {
        "hot": 2.0,        # 2.0-0.1 / 0.5 = 3.8x, not floor-bound
        "floor": 1.0,      # >2x but spark<=1.5 and duck<=0.25
        "fine": 0.6,       # 1.0x
        "annotated_hot": 3.0,
    }
    duck = {"hot": 0.5, "floor": 0.2, "fine": 0.5, "annotated_hot": 1.0}
    rows = weak_set.weak_rows(
        queries, duck, 0.1,
        annotations={"annotated_hot": "note"},
        unstable=["hot"],
    )
    by_name = {r[0]: r for r in rows}
    assert "fine" not in by_name
    assert "floor-bound" in by_name["floor"][4]
    assert "floor-bound" not in by_name["hot"][4]
    assert "unstable" in by_name["hot"][4]
    assert "annotated" in by_name["annotated_hot"][4]
    # sorted worst-first by ratio (floor: (1.0-0.1)/0.2 = 4.5x tops
    # hot's 3.8x — suppression is a TAG, not an ordering change)
    assert rows[0][0] == "floor"
    assert rows[1][0] == "hot"


def test_stream_topk_twin_equals_one_shot_oracle():
    """The sf1 matched-work twin (two chunk-pair prunes + semilattice
    merge) must produce the IDENTICAL leaderboard as the one-shot
    ranking oracle — the semilattice property the streaming fold
    relies on, asserted on real data so the bench denominator swap
    (r15) can never change the measured answer."""
    import duckdb

    from etl_verkada_spark.streaming.upsert import (
        ORACLE_STREAM_TOPK,
        SF1_TWIN_STREAM_TOPK,
    )

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        "'/root/testdata/sf0.01/events.parquet'"
    )
    suffix = " ORDER BY event_type, rnk"
    a = con.execute(ORACLE_STREAM_TOPK + suffix).df()
    b = con.execute(SF1_TWIN_STREAM_TOPK + suffix).df()
    assert a.equals(b)
    assert len(a) > 0


def test_driver_heap_default_is_half_the_host_capped_at_16g():
    """The default driver heap fits the host: half of physical memory,
    never more than 16g."""
    from etl_verkada_spark.session import _default_driver_memory

    gib = 1 << 30
    assert _default_driver_memory(15 * gib) == "7680m"
    assert _default_driver_memory(125 * gib) == "16384m"
    assert _default_driver_memory(32 * gib) == "16384m"


def test_shuffle_partitions_follow_cpu_knob(monkeypatch):
    """The driver benches at lower SPARK_GRAFT_CPUS to measure scaling;
    shuffle partitions must track the knob (one wave per stage) rather
    than stay pinned at the 32 of the primary bench host (r15)."""
    from etl_verkada_spark.session import _local_shuffle_partitions

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "8")
    monkeypatch.delenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", raising=False)
    assert _local_shuffle_partitions() == "8"
    # cluster override wins (SCALE.md: ~2-4x total executor cores)
    monkeypatch.setenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", "4096")
    assert _local_shuffle_partitions() == "4096"
