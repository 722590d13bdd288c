"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload queries_small --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. The run generates
its inputs from ``--seed``, starts the package's Spark session, checks
every operation's output against DuckDB (untimed), then measures whole passes for at least ``--seconds`` (and at least the
workload's minimum number of passes), prints each metric as
``name value unit`` and ends with one JSON object. ``--trace 0`` reports the end-to-end
metrics, ``--trace 1`` the per-layer metrics and the tracing overhead.

Everything the run writes stays under ``perfbench/.work`` and is
removed when it ends, except the span file of a traced run.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import statistics
import sys
import time

import datagen
import host

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
#: per-layer metrics the run itself adds to the workload's layer counters
RUN_LAYERS = (
    "session.import_s", "session.start_s", "session.registry_s",
    "checkpoints.persisted_left", "compare.mismatches", "trace.overhead_s",
)


def _env(work: str, nproc: int) -> None:
    """Pin every temp and spill location of Spark, its JVM, the Python
    workers and DuckDB inside ``work``, and size Spark to the host."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark_local")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    # A fixed 1 GB driver heap, whatever the caller's environment says.
    # At the session's 16 GB default the heap grows with GC timing: over
    # ten seeds etl_connector's peak_rss_mb spread 0.24 (0.06-0.07 at
    # 1 GB) and resident memory rose from about 2.2 to 3-4 GB.
    os.environ["SPARK_DRIVER_MEMORY"] = "1g"
    # -XX:-UsePerfData: the JVMs' perf-counter files go to /tmp whatever
    # java.io.tmpdir says (the launcher JVM of spark-submit included)
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" '
        f"--conf spark.sql.warehouse.dir={work}/warehouse pyspark-shell"
    )


def cold_setup(app_name: str, inputs: dict | None = None):
    """Set-up from a process that has imported no package module to the
    point where the first operation can run: import the session, registry
    and source modules, start the session (launching the JVM), build the
    registry (importing every family module), register the REST sources
    and, when ``inputs`` hold an inventory, start the HTTP stub serving it.

    Returns ``(spark, registry, stub, times)``; ``stub`` is
    ``(server, port, stats)`` or None.
    """
    t0 = time.perf_counter()
    from etl_verkada_spark.registry import build_registry
    from etl_verkada_spark.session import get_spark
    from etl_verkada_spark.sources import rest

    t1 = time.perf_counter()
    spark = get_spark(app_name)
    t2 = time.perf_counter()
    registry = build_registry()
    t3 = time.perf_counter()
    rest.register(spark)
    stub = None
    if inputs and "inventory" in inputs:
        from etl_verkada_spark.sources.http_stub import make_server

        inv = inputs["inventory"]
        stub = make_server(inv["items"], api_key=datagen.API_KEY, acl=inv["acl"])
    t4 = time.perf_counter()
    times = {"import_s": t1 - t0, "start_s": t2 - t1, "registry_s": t3 - t2,
             "sources_s": t4 - t3, "total_s": t4 - t0}
    return spark, registry, stub, times


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    if importlib.util.find_spec("etl_verkada_spark") is None:
        print("perfbench: the package is not importable here", file=sys.stderr)
        return 2
    if args.workload not in datagen.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"have {list(datagen.WORKLOADS)}", file=sys.stderr)
        return 2

    nproc = host.nproc()
    shutil.rmtree(WORK, ignore_errors=True)
    _env(WORK, nproc)
    info = {"nproc": nproc, "free_disk_gb": round(host.free_disk_gb(ROOT), 1)}
    run = None
    t_start = time.perf_counter()
    try:
        with host.PeakRss() as rss:
            t0 = time.perf_counter()
            inputs = datagen.inputs(args.workload, WORK, args.seed)
            info["inputs"] = {k: v for k, v in inputs.items() if k != "inventory"}
            info["inputs_s"] = time.perf_counter() - t0

            # setup_s: nothing of the package is imported before this
            spark, registry, stub, setup = cold_setup("perfbench", inputs)
            import workloads as W
            from spans import tail_percentile

            run = W.Run(WORK, args.seed, nproc, bool(args.trace),
                        spark, registry, stub)
            run.finish_setup()
            import duckdb
            import pyspark
            info["versions"] = {"spark": spark.version,
                                "pyspark": pyspark.__version__,
                                "duckdb": duckdb.__version__}

            wl = W.WORKLOADS[args.workload](run, inputs)
            info["sample"] = getattr(wl, "names", None)
            t0 = time.perf_counter()
            info["setup_phase_s"] = t0 - t_start
            result = W.Result()
            wl.check(run, result)
            info["check_s"] = time.perf_counter() - t0
            info["check_by_op"] = getattr(wl, "check_s", None)
            def one_pass(layers):
                return wl.one_pass(run, result, layers)

            W.measure(run, result, one_pass, args.seconds, wl.min_passes,
                      traced=False)
            if args.trace:
                # traced passes after the untraced window; they run a
                # little warmer, so the overhead reads low, even negative
                W.measure(run, result, one_pass, args.seconds / 2, 1,
                          traced=True)
            info["window_s"] = time.perf_counter() - t0 - info["check_s"]
    finally:
        if run is not None:
            run.close()
        shutil.rmtree(WORK, ignore_errors=True)
    info["run_s"] = time.perf_counter() - t_start
    info["setup"] = setup

    median = statistics.median
    failed = sum(result.failures.values())
    if not result.latencies or not result.duck_s:
        print(f"perfbench: no operation succeeded: {result.mismatches}",
              file=sys.stderr)
        return 1
    metrics: dict[str, tuple[float, str]] = {}
    if args.trace:
        layers = W.summarize_layers(result.layer_passes, nproc)
        for k in ("import_s", "start_s", "registry_s"):
            layers[f"session.{k}"] = setup[k]
        layers["checkpoints.persisted_left"] = run.leaks
        layers["compare.mismatches"] = len(result.mismatches)
        layers["trace.overhead_s"] = (
            median(result.traced_walls) - median(result.pass_walls))
        for k, v in sorted(layers.items()):
            metrics[k] = (v, _unit(k))
        os.makedirs(os.path.join(HERE, ".traces"), exist_ok=True)
        run.tracer.write(os.path.join(
            HERE, ".traces", f"{args.workload}-{args.seed}.jsonl"))
    else:
        tail, pct, n = tail_percentile(result.latencies)
        info["latency_tail"] = {"percentile": pct, "samples": n}
        metrics = {
            "setup_s": (setup["total_s"], "s"),
            "wall_s": (median(result.pass_walls), "s"),
            "latency_p50_s": (median(result.latencies), "s"),
            "latency_tail_s": (tail, "s"),
            "duckdb_ratio": (result.spark_s / result.duck_s, "x"),
            "peak_rss_mb": (rss.peak_mb, "MB"),
        }
    info["failed_frac"] = failed / max(result.attempted, 1)
    info["failed_ops"] = result.failures
    info["mismatches"] = result.mismatches
    info["load1"] = result.loads
    info["pass_walls"] = result.pass_walls + result.traced_walls

    for name, (value, unit) in metrics.items():
        print(f"{name} {value:.6g} {unit}")
    if not args.trace:
        print(f"latency_tail_s is p{pct} of {n} samples")
    print(f"failed_frac {info['failed_frac']:.6g} "
          f"({failed} of {result.attempted}; {result.failures or 'none'})")
    print("info " + json.dumps(info, default=str))
    print(json.dumps({
        "correct": not result.mismatches and failed == 0,
        "attempted": result.attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def _unit(name: str) -> str:
    if name.endswith("rows_per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes") or name.endswith("bytes_written"):
        return "B"
    if name.endswith("_frac") or name.endswith("write_amp"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
