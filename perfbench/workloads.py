"""The benchmark's workloads and the set-up they share.

A workload runs in one process against one Spark session, as a closed
loop with one client: every operation starts after the previous one
returned. Each run has three phases:

1. ``check`` (untimed): every operation once, with its output checked
   against the DuckDB oracle, which also warms the JIT up;
2. the measured window: whole passes over the workload until the
   window is used up and ``min_passes`` have run, tracing off;
3. with ``--trace 1``, a second window of traced passes; its per-layer
   counts come from the Spark status store, read between calls.
"""

from __future__ import annotations

import itertools
import os
import random
import statistics
import time

import duckdb
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from etl_verkada_spark.catalog import TABLES
from etl_verkada_spark.checkpoints import release
from etl_verkada_spark.compare import compare_frames
from etl_verkada_spark.fixtures import LEASE_SCHEMA
from etl_verkada_spark.pipeline.features import build_features, prepare_leases
from etl_verkada_spark.sinks.rest import upsert_to_rest
from etl_verkada_spark.sources import auth
from etl_verkada_spark.streaming.upsert import foreach_batch_merge

import band
import datagen
from host import load1
from probe import Probe
from spans import Tracer, self_times

FAMILIES = ("operators", "llm", "streaming", "pipeline", "functions")
FAMILY_FIELDS = (
    "build_s", "build_jobs", "action_s", "jobs", "tasks", "exec_run_s",
    "exec_cpu_s", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes", "exchanges", "python_nodes",
)


def family(fn) -> str:
    return fn.__module__.split(".")[1]


class Run:
    """Session, registry, HTTP stub, DuckDB connection and tracer of one
    run. ``stub`` is ``(server, port, stats)`` or None."""

    def __init__(self, work: str, seed: int, nproc: int, trace: bool,
                 spark, registry: dict, stub=None):
        self.work, self.seed, self.nproc = work, seed, nproc
        self.tracer = Tracer(trace)
        self.spark, self.registry, self.stub = spark, registry, stub
        self.duck = None
        self.probe = None
        self.duck_spent = 0.0
        self.leaks = 0

    def finish_setup(self) -> None:
        self.spark.sparkContext.setLogLevel("ERROR")
        self.probe = Probe(self.spark)
        self.duck = duckdb.connect()
        self.duck.execute(f"SET threads={self.nproc}")
        self.duck.execute(f"SET temp_directory='{self.work}/duckdb_tmp'")

    def close(self) -> None:
        """Stop the stub, DuckDB, the session and the JVM, and wait for the
        JVM to exit (the Python workers are its children and end with it)."""
        if self.stub is not None:
            self.stub[0].shutdown()
            self.stub[0].server_close()
        if self.duck is not None:
            self.duck.close()
        from pyspark import SparkContext

        self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)

    def duck_time(self, sql: str, repeats: int) -> float:
        """Fastest of ``repeats`` runs of ``sql``. Oracle runs take
        milliseconds, where scheduler noise is additive, so the minimum
        is the steady estimate of their cost. All of their wall time is
        added to ``duck_spent``, which pass walls leave out."""
        times = []
        for _ in range(repeats):
            t0 = time.perf_counter()
            self.duck.execute(sql).arrow()
            times.append(time.perf_counter() - t0)
        self.duck_spent += sum(times)
        return min(times)

    def leaked(self) -> bool:
        """True when persisted RDDs outlived the operation; counts the
        leak and frees them."""
        if self.probe.persisted_rdds() == 0:
            return False
        self.leaks += 1
        self.probe.unpersist_all()
        return True


class Result:
    """What the measured windows produced."""

    def __init__(self):
        self.latencies: list[float] = []
        self.pass_walls: list[float] = []
        self.traced_walls: list[float] = []
        self.spark_s = 0.0
        self.duck_s = 0.0
        self.attempted = 0
        self.failures: dict[str, int] = {}
        self.mismatches: dict[str, str] = {}
        self.loads: list[float] = []
        self.layer_passes: list[dict] = []

    def fail(self, name: str) -> None:
        self.failures[name] = self.failures.get(name, 0) + 1


def empty_layers() -> dict:
    layers = {f"{fam}.{k}": 0.0 for fam in FAMILIES for k in FAMILY_FIELDS}
    layers.update({
        "catalog.scan_rows": 0, "catalog.scan_bytes": 0,
        "sources.scan_s": 0.0, "sources.pages": 0, "sources.rows": 0,
        "sinks.write_s": 0.0, "sinks.requests": 0, "sinks.failed": 0,
        "sinks.max_in_flight": 0, "streaming.merge_s": 0.0,
        "streaming.bytes_written": 0, "streaming.batch_bytes": 0.0,
        "duckdb.wall_s": 0.0, "harness.self_s": 0.0,
    })
    return layers


def add_probe(layers: dict, fam: str, build_s: float, action_s: float,
              build_jobs: int, stats: dict) -> None:
    layers[f"{fam}.build_s"] += build_s
    layers[f"{fam}.action_s"] += action_s
    layers[f"{fam}.build_jobs"] += build_jobs
    for k in FAMILY_FIELDS[3:]:
        layers[f"{fam}.{k}"] += stats[k]
    layers["catalog.scan_rows"] += stats["scan_rows"]
    layers["catalog.scan_bytes"] += stats["scan_bytes"]


def measure(run: Run, result: Result, one_pass, seconds: float,
            min_passes: int, traced: bool) -> None:
    """Whole passes until ``seconds`` are used and at least
    ``min_passes`` have run."""
    run.tracer.enabled = traced
    deadline = time.perf_counter() + seconds
    for n in itertools.count(1):
        result.loads.append(load1())
        layers = empty_layers()
        with run.tracer.span("pass", traced=traced) as span:
            t0, duck0 = time.perf_counter(), run.duck_spent
            one_pass(layers if traced else None)
            wall = time.perf_counter() - t0 - (run.duck_spent - duck0)
        (result.traced_walls if traced else result.pass_walls).append(wall)
        if traced:
            layers["harness.self_s"] = _harness_self(run.tracer, span.record)
            result.layer_passes.append(layers)
        if n >= min_passes and time.perf_counter() >= deadline:
            break
    result.loads.append(load1())


def _harness_self(tracer: Tracer, pass_record: dict) -> float:
    """Self time of the pass span and its operation spans: the time the
    harness itself spends between calls into the program (probe reads
    included)."""
    ids = {pass_record["id"]}
    for s in tracer.spans:
        if s["parent"] == pass_record["id"] and s["name"] == "operation":
            ids.add(s["id"])
    sub = [s for s in tracer.spans if s["id"] in ids or s["parent"] in ids]
    own = self_times(sub)
    return sum(own[i] for i in ids)


# ---------------------------------------------------------------------------
# queries_small
# ---------------------------------------------------------------------------

class QueriesWorkload:
    """The representatives of the floor band (``band.py``): a fixed set
    of queries over the band's families and range of cost. The seed
    orders every pass."""

    sample_size = 10
    #: three passes give 30 latency samples, so the tail is p66
    min_passes = 3

    def __init__(self, run: Run, inputs: dict):
        self.sf_dir = inputs["sf_dir"]
        self.rng = random.Random(run.seed)
        pool = band.floor_band(run.registry, band.load_table())
        fams = {name: family(run.registry[name].fn) for name in pool}
        self.names = band.representatives(pool, fams, self.sample_size)
        for t in TABLES:
            run.duck.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{self.sf_dir}/{t}.parquet')"
            )

    def check(self, run: Run, result: Result) -> None:
        """Every query once: output vs its oracle (rows-only without one)."""
        self.check_s = {}
        for name in self.names:
            t_check = time.perf_counter()
            spec = run.registry[name]
            df = None
            try:
                df = spec.fn(run.spark, self.sf_dir)
                got = df.toPandas()
                if spec.oracle is None:
                    problems = [] if len(got.columns) else ["no columns"]
                else:
                    problems = compare_frames(got, run.duck.execute(spec.oracle).df())
            except Exception as e:  # noqa: BLE001 - recorded as a mismatch
                problems = [f"{type(e).__name__}: {str(e)[:200]}"]
            release(df)
            if run.leaked():
                problems.append("persisted RDDs left behind")
            if problems:
                result.mismatches[name] = "; ".join(problems)[:300]
            self.check_s[name] = round(time.perf_counter() - t_check, 2)

    def one_pass(self, run: Run, result: Result, layers: dict | None) -> None:
        order = list(self.names)
        self.rng.shuffle(order)
        for name in order:
            self.operation(run, result, name, layers)

    def operation(self, run: Run, result: Result, name: str,
                  layers: dict | None) -> None:
        spec = run.registry[name]
        fam = family(spec.fn)
        probe = run.probe if layers is not None else None
        result.attempted += 1
        failed = name in result.mismatches
        with run.tracer.span("operation", query=name, family=fam) as op:
            m0 = probe.mark() if probe else None
            df = None
            try:
                with run.tracer.span("build"):
                    t0 = time.perf_counter()
                    df = spec.fn(run.spark, self.sf_dir)
                    t1 = time.perf_counter()
                m1 = probe.mark() if probe else None
                with run.tracer.span("action"):
                    t2 = time.perf_counter()
                    df.write.format("noop").mode("overwrite").save()
                    t3 = time.perf_counter()
            except Exception:  # noqa: BLE001 - counted as a failed operation
                failed = True
            else:
                if probe:
                    stats = probe.since(m1)
                    build_jobs = probe.jobs_since(m0) - stats["jobs"]
                    add_probe(layers, fam, t1 - t0, t3 - t2, build_jobs, stats)
                    op.set(build_s=t1 - t0, action_s=t3 - t2,
                           build_jobs=build_jobs, **stats)
            release(df)
            if run.leaked():
                failed = True
            if not failed:
                result.latencies.append((t1 - t0) + (t3 - t2))
                result.spark_s += (t1 - t0) + (t3 - t2)
            if spec.oracle is not None and not failed:
                with run.tracer.span("duckdb"):
                    duck_s = run.duck_time(spec.oracle, repeats=5)
                result.duck_s += duck_s
                if layers is not None:
                    layers["duckdb.wall_s"] += duck_s
        if failed:
            result.fail(name)


# ---------------------------------------------------------------------------
# etl_connector
# ---------------------------------------------------------------------------

CAMERA_DDL = (
    "camera_id string, name string, model string, site string, "
    "site_id string, status string, location_angle double, "
    "location_lat double, location_lon double, page_idx int"
)

#: DuckDB form of the pass's features step: last-wins cameras, the ACL
#: gate, the lease join, the sink action and the Feature JSON, one row
#: per camera.
ORACLE_FEATURES = """
WITH cams AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY camera_id ORDER BY page_idx DESC) rn
    FROM inv_items) WHERE rn = 1
), lw AS (
  SELECT source_id, arg_max(id, ord) AS lease_id FROM inv_leases
  WHERE layer = {layer} AND source_id IS NOT NULL GROUP BY source_id
), gated AS (
  SELECT c.*, (c.site_id IN (SELECT acl_id FROM inv_acl WHERE kind = 'site')
            OR c.camera_id IN (SELECT acl_id FROM inv_acl WHERE kind = 'camera'))
         AS streamable
  FROM cams c
)
SELECT g.camera_id AS id,
  CASE WHEN NOT g.streamable THEN 'skip'
       WHEN lw.lease_id IS NOT NULL THEN 'patch' ELSE 'post' END AS action,
  lw.lease_id,
  to_json(struct_pack(
    type := 'Feature',
    properties := struct_pack(
      type := 'b-m-p-s-p-loc', how := 'm-g', callsign := g.name,
      course := g.location_angle,
      sensor := struct_pack(range := 50, azimuth := g.location_angle,
                            type := 'Verkada', model := g.model),
      remarks := concat_ws(',', g.site, g.status),
      video := CASE WHEN g.streamable THEN struct_pack(
                 url := 'https://stream.example/hls/' || g.camera_id) END),
    geometry := struct_pack(type := 'Point',
                            coordinates := [g.location_lon, g.location_lat])
  )) AS payload_json
FROM gated g LEFT JOIN lw ON g.camera_id = lw.source_id
"""


class EtlWorkload:
    #: a pass takes 4-7 s on a 4-core VM; three always outlast the window,
    #: so the pass count does not flip between runs
    min_passes = 3

    def __init__(self, run: Run, inputs: dict):
        self.inv = inv = inputs["inventory"]
        _server, port, self.stats = run.stub
        self.base = f"http://127.0.0.1:{port}"
        run.duck.register("inv_items", pa.Table.from_pylist(inv["items"]))
        run.duck.register("inv_leases", pa.Table.from_pylist(
            inv["leases"], schema=pa.schema([
                ("id", pa.string()), ("layer", pa.int64()),
                ("source_id", pa.string()), ("ord", pa.int32())])))
        acl = [("site", s) for s in inv["acl"]["accessibleSites"]]
        acl += [("camera", c) for c in inv["acl"]["accessibleCameras"]]
        run.duck.register("inv_acl", pa.table({
            "kind": [k for k, _ in acl], "acl_id": [a for _, a in acl]}))
        self.oracle = ORACLE_FEATURES.format(layer=inv["layer_id"])
        routed = run.duck.execute(self.oracle).df()
        self.expect = {
            "patch": int((routed["action"] == "patch").sum()),
            "post": int((routed["action"] == "post").sum()),
        }
        self.expect["keys"] = self.expect["patch"] + self.expect["post"]
        # from pandas through Arrow: a local relation, so reading the
        # lease list costs no Python worker round trip per pass
        self.leases = run.spark.createDataFrame(
            pd.DataFrame(inv["leases"]).astype({"ord": "int32"}), LEASE_SCHEMA)
        self.state = os.path.join(run.work, "etl_state")
        self.batch = 0

    def check(self, run: Run, result: Result) -> None:
        try:
            problems = self.run_pass(run, None)[2]
        except Exception as e:  # noqa: BLE001 - recorded as a mismatch
            problems = [f"{type(e).__name__}: {str(e)[:200]}"]
        if problems:
            result.mismatches["etl_pass"] = "; ".join(problems)

    def one_pass(self, run: Run, result: Result, layers: dict | None) -> None:
        result.attempted += 1
        try:
            latency, duck_s, problems = self.run_pass(run, layers)
        except Exception as e:  # noqa: BLE001 - counted as a failed operation
            latency, duck_s = None, 0.0
            problems = [f"{type(e).__name__}: {str(e)[:200]}"]
        if problems:
            result.fail("etl_pass")
            result.mismatches.setdefault("etl_pass", "; ".join(problems))
            return
        result.latencies.append(latency)
        result.spark_s += self.features_s
        result.duck_s += duck_s
        if layers is not None:
            layers["duckdb.wall_s"] += duck_s

    def _step(self, run, layers, fam, name, build, action):
        """Build then materialize one step, probed when ``layers``."""
        probe = run.probe if layers is not None else None
        with run.tracer.span(name) as span:
            m0 = probe.mark() if probe else None
            t0 = time.perf_counter()
            df = build()
            t1 = time.perf_counter()
            m1 = probe.mark() if probe else None
            t2 = time.perf_counter()
            out = action(df)
            t3 = time.perf_counter()
            if probe:
                stats = probe.since(m1)
                build_jobs = probe.jobs_since(m0) - stats["jobs"]
                if fam:
                    add_probe(layers, fam, t1 - t0, t3 - t2, build_jobs, stats)
                span.set(build_s=t1 - t0, action_s=t3 - t2, **stats)
        return out, (t1 - t0) + (t3 - t2)

    def run_pass(self, run: Run, layers: dict | None):
        spark, inv, problems = run.spark, self.inv, []
        with self.stats.lock:
            self.stats.requests.clear()
            self.stats.max_in_flight = 0
        with run.tracer.span("operation", query="etl_pass"):
            # scan: token exchange + parallel paged read, materialized once
            # because the sink and the merge both consume it
            def scan():
                token = auth.exchange_token(self.base, datagen.API_KEY)
                return (spark.read.format("paged_rest")
                        .option("url", f"{self.base}/items")
                        .option("schema_ddl", CAMERA_DDL)
                        .option("limit", datagen.PAGE_SIZE)
                        .option("auth_token", token).load())

            cams, scan_s = self._step(
                run, layers, None, "scan", scan,
                lambda df: df.localCheckpoint(eager=True))

            def features():
                acl = auth.acl_dataframe(
                    spark, auth.fetch_stream_token(self.base, datagen.API_KEY))
                feats = build_features(cams, self.leases, acl, inv["layer_id"])
                # build_features drops lease_id, which the sink's PATCH
                # route needs: rejoin the build side it was derived from
                build = prepare_leases(self.leases, inv["layer_id"])
                return feats.join(
                    build, feats["id"] == build["source_id"], "left"
                ).select(
                    "id", "action", "lease_id",
                    F.to_json(F.struct("type", "properties", "geometry"))
                    .alias("payload_json"))

            feats, features_s = self._step(
                run, layers, "pipeline", "features", features,
                lambda df: df.localCheckpoint(eager=True))
            self.features_s = features_s
            with run.tracer.span("duckdb"):
                # one oracle per pass, right after a Spark step: more
                # repeats to find the JVM's quiet moments
                duck_s = run.duck_time(self.oracle, repeats=15)

            # one sink partition (the routed features fit in one) with
            # nproc requests in flight: partitions x max_in_flight = nproc
            _, write_s = self._step(
                run, layers, None, "sink", lambda: feats,
                lambda df: upsert_to_rest(
                    df, f"{self.base}/lease", max_in_flight=run.nproc,
                    max_partitions=1))
            with self.stats.lock:
                sent = [m for m, p in self.stats.requests if p.startswith("/lease")]
                pages = sum(p.startswith("/items") for _, p in self.stats.requests)
                max_in_flight = self.stats.max_in_flight
            got = {"patch": sent.count("PATCH"), "post": sent.count("POST")}
            for k in ("patch", "post"):
                if got[k] != self.expect[k]:
                    problems.append(f"sink {k} {got[k]} != {self.expect[k]}")

            self.batch += 1
            batch = feats.filter(F.col("action") != "skip").select(
                F.col("id").alias("camera_id"),
                F.coalesce("lease_id", F.concat(F.lit("new-"), "id")).alias("lease_id"),
                F.lit(self.batch).alias("run_idx"))
            merge = foreach_batch_merge(self.state, ["camera_id"], ["run_idx"])
            t_merge = time.time()
            _, merge_s = self._step(run, layers, "streaming", "merge",
                                    lambda: batch,
                                    lambda df: merge(df, self.batch))
            written = _bytes_since(self.state, t_merge)
            if layers is not None:
                # the batch's own size: its rows as one parquet file
                batch_bytes = _parquet_bytes(batch.toPandas())

            rows, readback_s = self._step(
                run, layers, None, "readback",
                lambda: spark.read.parquet(self.state), lambda df: df.count())
            if rows != self.expect["keys"]:
                problems.append(f"state rows {rows} != {self.expect['keys']}")
            release(cams)
            release(feats)
            if run.leaked():
                problems.append("persisted RDDs left behind")
        if layers is not None:
            n_items = len(inv["items"])
            layers.update({
                "sources.scan_s": scan_s, "sources.pages": pages,
                "sources.rows": n_items,
                "sinks.write_s": write_s, "sinks.requests": len(sent),
                "sinks.failed": max(0, self.expect["keys"] - len(sent)),
                "sinks.max_in_flight": max_in_flight,
                "streaming.merge_s": merge_s, "streaming.bytes_written": written,
                "streaming.batch_bytes": batch_bytes,
            })
        latency = scan_s + features_s + write_s + merge_s + readback_s
        return latency, duck_s, problems


def _bytes_since(path: str, since: float) -> int:
    """Bytes in parquet data files under ``path`` written at or after
    ``since``."""
    written = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.endswith(".parquet"):
                continue
            st = os.stat(os.path.join(root, f))
            if st.st_mtime >= since - 1:
                written += st.st_size
    return written


def _parquet_bytes(pdf: pd.DataFrame) -> int:
    """Size of ``pdf`` written as one snappy parquet file, Spark's default."""
    sink = pa.BufferOutputStream()
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), sink,
                   compression="snappy")
    return sink.getvalue().size


WORKLOADS = {"queries_small": QueriesWorkload, "etl_connector": EtlWorkload}


def summarize_layers(passes: list[dict], nproc: int) -> dict:
    """Median over traced passes of each layer counter, plus the ratios."""
    keys = passes[0].keys()
    out = {k: statistics.median(p[k] for p in passes) for k in keys}
    for fam in FAMILIES:
        action = out[f"{fam}.action_s"]
        out[f"{fam}.busy_frac"] = (
            out[f"{fam}.exec_run_s"] / (action * nproc) if action else 0.0)
        out[f"{fam}.exec_wait_s"] = (
            out[f"{fam}.exec_run_s"] - out[f"{fam}.exec_cpu_s"])
    out["sources.rows_per_s"] = (
        out["sources.rows"] / out["sources.scan_s"] if out["sources.scan_s"] else 0.0)
    req = out["sinks.requests"]
    out["sinks.ok_frac"] = (req - out["sinks.failed"]) / req if req else 1.0
    out["streaming.write_amp"] = (
        out["streaming.bytes_written"] / out["streaming.batch_bytes"]
        if out["streaming.batch_bytes"] else 0.0)
    for k in ("sources.rows", "streaming.batch_bytes"):
        out.pop(k)
    return out
