"""Spark-side facts for a traced run, read from the JVM after the work.

Job and stage metrics come from the application status store, which
Spark keeps with the UI disabled. The store is read as JSON in one py4j
call per list (Jackson with the Scala module, the same writer Spark's
REST API uses) rather than one call per field. Compilation counts come
from ``CodegenMetrics``.
"""

from __future__ import annotations

import json


class SparkProbe:
    def __init__(self, spark, meter):
        self.spark = spark
        self.meter = meter
        jvm = spark._jvm
        self._sc = spark.sparkContext._jsc.sc()
        self._codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala,
                               "DefaultScalaModule$")
        self._mapper.registerModule(scala_module.__getattr__("MODULE$"))

    def _internal(self):
        return self.meter.internal()

    def codegen_compiles(self) -> int:
        with self._internal():
            return int(self._codegen.METRIC_COMPILATION_TIME().getCount())

    def next_job_id(self) -> int:
        """The id the next submitted job will get."""
        with self._internal():
            return int(self._sc.dagScheduler().nextJobId())

    def _settle(self) -> None:
        # listener events reach the status store asynchronously
        self._sc.listenerBus().waitUntilEmpty()

    def jobs_since(self, first_job_id: int, group_prefix: str | None = None) -> list[dict]:
        with self._internal():
            self._settle()
            raw = self._mapper.writeValueAsString(self._sc.statusStore().jobsList(None))
        jobs = [j for j in json.loads(raw) if j["jobId"] >= first_job_id]
        if group_prefix is not None:
            jobs = [j for j in jobs if (j.get("jobGroup") or "").startswith(group_prefix)]
        return jobs

    def stage_totals(self, jobs: list[dict]) -> dict[str, float]:
        """Sums over the stages the given jobs ran (skipped stages,
        whose work an earlier job already did, are left out)."""
        wanted = {s for j in jobs for s in j["stageIds"]}
        totals = {
            "jobs": len(jobs), "stages": 0, "tasks": 0, "run_s": 0.0,
            "cpu_s": 0.0, "gc_s": 0.0, "shuffle_bytes": 0, "spill_bytes": 0,
            "output_bytes": 0,
        }
        if not wanted:
            return totals
        with self._internal():
            store = self._sc.statusStore()
            gw = self.spark.sparkContext._gateway
            empty_list = gw.jvm.java.util.ArrayList()
            no_quantiles = gw.new_array(gw.jvm.double, 0)
            raw = self._mapper.writeValueAsString(
                store.stageList(None, False, False, no_quantiles, empty_list)
            )
        for s in json.loads(raw):
            if s["stageId"] not in wanted or s["status"] == "SKIPPED":
                continue
            totals["stages"] += 1
            totals["tasks"] += s["numCompleteTasks"]
            totals["run_s"] += s["executorRunTime"] / 1e3
            totals["cpu_s"] += s["executorCpuTime"] / 1e9
            totals["gc_s"] += s["jvmGcTime"] / 1e3
            totals["shuffle_bytes"] += s["shuffleWriteBytes"]
            totals["spill_bytes"] += s["memoryBytesSpilled"] + s["diskBytesSpilled"]
            totals["output_bytes"] += s["outputBytes"]
        return totals


class BatchCounter:
    """Counts streaming micro-batches through a StreamingQueryListener."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        counter = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                counter.batches += 1

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.batches = 0
        self.spark = spark
        self.listener = _Listener()
        spark.streams.addListener(self.listener)

    def close(self) -> None:
        self.spark.streams.removeListener(self.listener)
