"""Counters read from the Spark JVM through py4j, from outside the engine:
the DAG scheduler's job counter, the status store's stage rows, the
metrics of the physical plan that actually ran, and the persisted-RDD
registry.

Everything here is read after a call returns, never inside its timer.
"""

from __future__ import annotations

from collections import Counter

# plan-node metric name -> per-layer counter it feeds
PYTHON_METRICS = {
    "pythonTotalTime": "python_ms",
    "pythonBootTime": "python_boot_ms",
    "pythonDataSent": "python_bytes",
    "pythonDataReceived": "python_bytes",
}
SCAN_METRICS = {"filesSize": "scan_bytes", "numFiles": "files_read"}


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


class SparkCounters:
    def __init__(self, spark) -> None:
        self.spark = spark
        self.jsc = spark.sparkContext._jsc
        self.ssc = self.jsc.sc()
        self.store = self.ssc.statusStore()
        gw = spark.sparkContext._gateway
        self._quantiles = gw.new_array(gw.jvm.double, 2)
        self._quantiles[0] = 0.5
        self._quantiles[1] = 1.0
        self._no_status = gw.jvm.java.util.ArrayList()

    # -- jobs and caches -------------------------------------------------

    def next_job_id(self) -> int:
        return int(self.ssc.dagScheduler().nextJobId())

    def persistent_rdds(self) -> set[int]:
        return {int(k) for k in self.jsc.getPersistentRDDs().keySet()}

    def cached_bytes(self, rdd_ids: set[int]) -> int:
        return sum(
            int(info.memSize()) + int(info.diskSize())
            for info in self.ssc.getRDDStorageInfo()
            if int(info.id()) in rdd_ids
        )

    def release(self) -> None:
        """Drop the SQL cache, then unpersist every RDD still registered
        (``localCheckpoint`` blocks included), waiting for the blocks."""
        self.spark.catalog.clearCache()
        for rdd in list(self.jsc.getPersistentRDDs().values()):
            rdd.unpersist(True)

    # -- status store ----------------------------------------------------

    def stage_totals(self, job_lo: int, job_hi: int) -> Counter:
        """Sum the stage rows of jobs ``[job_lo, job_hi)``; stages shared
        by several jobs count once, skipped stages not at all."""
        self.ssc.listenerBus().waitUntilEmpty(30_000)
        stage_ids: set[int] = set()
        for j in range(job_lo, job_hi):
            stage_ids.update(int(s) for s in _seq(self.store.job(j).stageIds()))
        out: Counter = Counter()
        for sid in sorted(stage_ids):
            for st in _seq(
                self.store.stageData(sid, False, self._no_status, True, self._quantiles)
            ):
                if st.status().toString() not in ("COMPLETE", "FAILED"):
                    continue
                out["stages"] += 1
                out["tasks"] += int(st.numTasks())
                out["executor_cpu_s"] += int(st.executorCpuTime()) / 1e9
                out["gc_s"] += int(st.jvmGcTime()) / 1e3
                out["shuffle_read_bytes"] += int(st.shuffleReadBytes())
                out["shuffle_write_bytes"] += int(st.shuffleWriteBytes())
                out["spill_bytes"] += int(st.memoryBytesSpilled()) + int(
                    st.diskBytesSpilled()
                )
                dist = st.taskMetricsDistributions()
                if int(st.numTasks()) >= 2 and dist.isDefined():
                    med, top = _seq(dist.get().executorRunTime())
                    out["task_med_ms"] += float(med)
                    out["task_max_ms"] += float(top)
        out["jobs"] = job_hi - job_lo
        return out

    # -- physical plan ---------------------------------------------------

    def plan_totals(self, dfs) -> Counter:
        """Python-worker and scan metrics of the executed plans of ``dfs``,
        descending into adaptive stages and into the cached plans behind
        in-memory scans. Each plan node counts once."""
        out: Counter = Counter()
        seen: set[int] = set()
        stack = [df._jdf.queryExecution().executedPlan() for df in dfs]
        while stack:
            node = stack.pop()
            nid = int(node.id())
            if nid in seen:
                continue
            seen.add(nid)
            cls = node.getClass().getSimpleName()
            metrics = node.metrics()
            wanted = SCAN_METRICS if cls == "FileSourceScanExec" else (
                PYTHON_METRICS if metrics.contains("pythonTotalTime") else {}
            )
            for name, key in wanted.items():
                m = metrics.get(name)
                if m.isDefined():
                    out[key] += int(m.get().value())
            if cls == "AdaptiveSparkPlanExec":
                stack.append(node.executedPlan())
            elif cls.endswith("QueryStageExec"):
                stack.append(node.plan())
            else:
                if cls == "InMemoryTableScanExec":
                    stack.append(node.relation().cachedPlan())
                stack.extend(_seq(node.children()))
                stack.extend(_seq(node.subqueries()))
        return out
