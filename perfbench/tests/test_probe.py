"""Pins what the status-store probe reads for one small query.

Starts a real local Spark session (about 15 s on a 4-core host).
"""

import pytest

import datagen
import run
from probe import Probe


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("work"))
    run._env(work, 2)
    from etl_verkada_spark.session import get_spark

    session = get_spark("perfbench-tests")
    yield session
    session.stop()


def test_probe_pins_job_and_stage_counts_of_topk(spark, tmp_path):
    from etl_verkada_spark.registry import build_registry

    sf_dir = str(tmp_path / "sf")
    datagen.write_tables(sf_dir, 0.001, seed=5)
    fn = build_registry()["topk"].fn
    probe = Probe(spark)
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()  # warm

    m0 = probe.mark()
    df = fn(spark, sf_dir)
    m1 = probe.mark()
    df.write.format("noop").mode("overwrite").save()
    action = probe.since(m1)
    build_jobs = probe.jobs_since(m0) - action["jobs"]

    # spark.read.parquet infers the schema with one job at build time;
    # the top-k runs as one job of one stage, one task per input split
    assert build_jobs == 1
    assert (action["jobs"], action["stages"]) == (1, 1)
    assert action["tasks"] >= 1
    assert action["scans"] == 1
    assert action["scan_rows"] == datagen.table_rows(0.001)["orders"]
    assert action["scan_bytes"] > 0
    assert action["exchanges"] == 0
    assert probe.persisted_rdds() == 0
