"""The floor band: the pool ``queries_small`` samples its queries from.

The pool is computed from the package's registry. A registered query is
a candidate when

* it has an oracle (a DuckDB SQL to check its output against),
* it is not one of the ROADMAP's 13 weak rows, whose time is executor
  work rather than plan building and job orchestration, and
* its code writes no files: the land-then-read scans, the bucketed join,
  the SCD2 and streaming replays write to fixed ``/tmp`` paths or start
  streaming sinks, and a run may write only inside its checkout.

A candidate is in the band when its warm latency at sf0.01, as measured
in ``floor_band.json``, is at most ``BAND_MAX_S`` (the ROADMAP's bound on
Spark time for the floor band). The table also orders the band by cost:
``queries_small`` runs the :func:`representatives` of the band, a fixed
set that spreads over its families and its range of cost. A query the
table does not list is not in the band; re-measure the table after
adding queries:

    python3 perfbench/band.py

measures every candidate at sf0.01 (three rounds over all of them, the
first a warm-up; about 8 minutes on a 4-core host) and rewrites
``floor_band.json``.
"""

from __future__ import annotations

import inspect
import json
import os
import sys
import types

HERE = os.path.dirname(os.path.abspath(__file__))
TABLE = os.path.join(HERE, "floor_band.json")
BAND_MAX_S = 1.5

#: ROADMAP's real weak rows: over 2x DuckDB at sf0.1 outside the floor band
WEAK_ROWS = frozenset({
    "agg_percentile", "agg_approx_percentile", "graph_jaccard",
    "graph_label_propagation", "ts_lttb", "llm_dedup_prefixfilter",
    "graph_bfs_levels", "llm_bpe_train", "llm_dedup_substring",
    "llm_boilerplate_coverage", "llm_dedup_containment",
    "llm_eval_ngram_recall", "dedup_lastwins",
})
#: DataFrame attributes that start a file or streaming write
WRITE_NAMES = frozenset({
    "write", "writeStream", "writeTo", "bucketBy", "saveAsTable",
    "insertInto",
})


def _codes(code: types.CodeType):
    yield code
    for const in code.co_consts:
        if isinstance(const, types.CodeType):
            yield from _codes(const)


def writes_files(fn, _seen=None) -> bool:
    """True when ``fn``, or a function of the package it calls by a
    global name (followed transitively), touches a DataFrame write
    attribute."""
    seen = set() if _seen is None else _seen
    fn = inspect.unwrap(fn)
    if not isinstance(fn, types.FunctionType) or fn.__code__ in seen:
        return False
    seen.add(fn.__code__)
    for code in _codes(fn.__code__):
        if WRITE_NAMES.intersection(code.co_names):
            return True
        for name in code.co_names:
            callee = fn.__globals__.get(name)
            if (isinstance(callee, types.FunctionType)
                    and callee.__module__.startswith("etl_verkada_spark.")
                    and writes_files(callee, seen)):
                return True
    return False


def candidates(registry: dict) -> list[str]:
    """Registered queries with an oracle, not weak, writing no files."""
    return [name for name, spec in registry.items()
            if spec.oracle is not None and name not in WEAK_ROWS
            and not writes_files(spec.fn)]


def load_table(path: str = TABLE) -> dict:
    with open(path) as f:
        return json.load(f)


def floor_band(registry: dict, table: dict) -> list[str]:
    """Candidates the table puts at or under ``BAND_MAX_S``, cheapest
    first (ties by name)."""
    cost = {n: q["latency_s"] for n, q in table["queries"].items()}
    band = [n for n in candidates(registry)
            if n in cost and cost[n] <= BAND_MAX_S]
    return sorted(band, key=lambda n: (cost[n], n))


def seats(sizes: dict[str, int], k: int) -> dict[str, int]:
    """Split ``k`` seats among groups of ``sizes``: one each, the rest in
    proportion to size (largest remainder, ties by name)."""
    if not len(sizes) <= k <= sum(sizes.values()):
        raise ValueError(f"cannot seat {k} among {sizes}")
    rest, total = k - len(sizes), sum(sizes.values())
    quota = {g: rest * n / total for g, n in sizes.items()}
    out = {g: 1 + int(q) for g, q in quota.items()}
    by_remainder = sorted(sizes, key=lambda g: (int(quota[g]) - quota[g], g))
    for g in by_remainder[:k - sum(out.values())]:
        out[g] += 1
    return out


def representatives(ordered: list[str], group: dict[str, str], k: int) -> list[str]:
    """``k`` items that stand for ``ordered`` (cheapest first): each group
    gets its :func:`seats`, and a group with ``s`` seats splits its own
    items, in order, into ``s`` consecutive strata and gives the median
    item of each."""
    members: dict[str, list[str]] = {}
    for item in ordered:
        members.setdefault(group[item], []).append(item)
    picks = []
    for g, n in sorted(seats({g: len(m) for g, m in members.items()}, k).items()):
        items = members[g]
        bounds = [round(i * len(items) / n) for i in range(n + 1)]
        picks += [items[(lo + hi - 1) // 2] for lo, hi in zip(bounds, bounds[1:])]
    return picks


def measure(sf: float = 0.01, seed: int = 0) -> dict:
    """Warm latency, jobs and build share of every candidate at ``sf``."""
    import shutil
    import statistics
    import time

    import datagen
    import run as R

    work = os.path.join(HERE, ".work")
    shutil.rmtree(work, ignore_errors=True)
    R._env(work, R.host.nproc())
    sf_dir = os.path.join(work, "data")
    datagen.write_tables(sf_dir, sf, seed)
    spark, registry, _stub, _times = R.cold_setup("perfbench-band")
    import workloads as W

    run = W.Run(work, seed, R.host.nproc(), False, spark, registry)
    names = candidates(registry)
    reps = {name: [] for name in names}
    try:
        run.finish_setup()
        # whole rounds over every candidate, as a run's passes are: the
        # first round warms the JIT up and is not kept
        for _ in range(3):
            for name in names:
                fn = registry[name].fn
                m0 = run.probe.mark()
                t0 = time.perf_counter()
                df = fn(spark, sf_dir)
                t1 = time.perf_counter()
                build_jobs = run.probe.jobs_since(m0)
                t2 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                t3 = time.perf_counter()
                jobs = run.probe.jobs_since(m0)
                W.release(df)
                run.leaked()
                reps[name].append({"build_s": t1 - t0,
                                   "latency_s": t1 - t0 + t3 - t2,
                                   "jobs": jobs, "build_jobs": build_jobs})
    finally:
        run.close()
        shutil.rmtree(work, ignore_errors=True)
    out = {}
    for name, runs in reps.items():
        lat = statistics.mean(r["latency_s"] for r in runs[1:])
        build = statistics.mean(r["build_s"] for r in runs[1:])
        out[name] = {"family": W.family(registry[name].fn),
                     "latency_s": round(lat, 4),
                     "build_share": round(build / lat, 3),
                     "jobs": runs[-1]["jobs"],
                     "build_jobs": runs[-1]["build_jobs"]}
    return {"sf": sf, "nproc": R.host.nproc(), "max_latency_s": BAND_MAX_S,
            "queries": out}


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(HERE))
    table = measure()
    with open(TABLE, "w") as f:
        json.dump(table, f, indent=1, sort_keys=True)
        f.write("\n")
