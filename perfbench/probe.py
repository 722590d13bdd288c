"""Status-store probe: what Spark did between two calls.

Reads the in-process ``AppStatusStore`` (jobs, stages) and the SQL
status store (executions, plan graphs, scan metrics) through py4j; the
UI stays disabled. Spark 4.1 signatures that work:

* ``jobsList(None)`` and ``stageList(None, False, False, double[0], None)``
  (no one-argument form; a null quantiles array throws an NPE). Both
  lists come newest first, so a diff reads only the head.
* Stage ``inputBytes`` is 0 for many parquet scans, so scan rows and
  bytes come from the scan nodes' SQL metrics instead.

Every read first drains the listener bus, so the store has seen every
event of the work that just returned.
"""

from __future__ import annotations

from spans import parse_metric, stage_diff

#: plan-node name parts that mark a crossing into Python workers
#: (ArrowEvalPython, BatchEvalPython, MapInPandas, FlatMapGroupsInPandas,
#: MapInArrow, ...)
PYTHON_NODES = ("Python", "Pandas", "InArrow")


class Probe:
    def __init__(self, spark):
        self.spark = spark
        self.jsc = spark.sparkContext._jsc.sc()
        self.store = self.jsc.statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        jvm = spark.sparkContext._jvm
        self._quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)

    def _drain(self) -> None:
        self.jsc.listenerBus().waitUntilEmpty()

    def mark(self) -> dict:
        """Cheap position marker: newest job, stage and SQL execution."""
        self._drain()
        jobs = self.store.jobsList(None)
        stages = self.store.stageList(None, False, False, self._quantiles, None)
        return {
            "job": jobs.apply(0).jobId() if jobs.size() else -1,
            "stage": stages.apply(0).stageId() if stages.size() else -1,
            "executions": self.sql_store.executionsCount(),
        }

    def jobs_since(self, mark: dict) -> int:
        self._drain()
        jobs = self.store.jobsList(None)
        n = 0
        while n < jobs.size() and jobs.apply(n).jobId() > mark["job"]:
            n += 1
        return n

    def since(self, mark: dict) -> dict:
        """Jobs, stage totals, plan-shape counts and scan metrics of all
        work started after ``mark``."""
        self._drain()
        out = {"jobs": self.jobs_since(mark)}
        stages = self.store.stageList(None, False, False, self._quantiles, None)
        new = []
        for i in range(stages.size()):
            sd = stages.apply(i)
            if sd.stageId() <= mark["stage"]:
                break
            new.append({
                "stage_id": sd.stageId(),
                "status": str(sd.status()),
                "tasks": sd.numCompleteTasks(),
                "run_ms": sd.executorRunTime(),
                "cpu_ns": sd.executorCpuTime(),
                "input_bytes": sd.inputBytes(),
                "shuffle_read_bytes": sd.shuffleReadBytes(),
                "shuffle_write_bytes": sd.shuffleWriteBytes(),
                "spill_bytes": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
            })
        out.update(stage_diff(new, mark["stage"]))
        out.update(self._plans_since(mark["executions"]))
        return out

    def _plans_since(self, first_execution: int) -> dict:
        out = {"exchanges": 0, "python_nodes": 0, "scans": 0,
               "scan_rows": 0, "scan_bytes": 0}
        count = self.sql_store.executionsCount()
        if count <= first_execution:
            return out
        execs = self.sql_store.executionsList(first_execution,
                                              count - first_execution)
        for i in range(execs.size()):
            eid = execs.apply(i).executionId()
            nodes = self.sql_store.planGraph(eid).allNodes()
            values = None
            for j in range(nodes.size()):
                node = nodes.apply(j)
                name = node.name()
                if "Exchange" in name and not name.startswith("Reused"):
                    out["exchanges"] += 1
                if any(part in name for part in PYTHON_NODES):
                    out["python_nodes"] += 1
                # table scans; checkpoint reads show as "Scan ExistingRDD"
                if not name.startswith("Scan ") or "ExistingRDD" in name:
                    continue
                out["scans"] += 1
                if values is None:
                    values = self.sql_store.executionMetrics(eid)
                metrics = node.metrics()
                for k in range(metrics.size()):
                    m = metrics.apply(k)
                    field = {"number of output rows": "scan_rows",
                             "size of files read": "scan_bytes"}.get(m.name())
                    if field is None:
                        continue
                    opt = values.get(m.accumulatorId())
                    if opt.isDefined():
                        out[field] += int(parse_metric(opt.get()))
        return out

    def persisted_rdds(self) -> int:
        return self.jsc.getPersistentRDDs().size()

    def unpersist_all(self) -> None:
        """Free every persisted RDD (after a leak has been counted), so
        one leaking operation is not blamed on the next."""
        rdds = self.jsc.getPersistentRDDs()
        it = rdds.values().iterator()
        while it.hasNext():
            it.next().unpersist(False)
