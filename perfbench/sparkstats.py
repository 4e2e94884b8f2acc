"""Spark-side counters, read directly from the JVM.

Read here rather than through ``plans/metrics.py`` so that a change to the
program's own harvester cannot change what the benchmark reports:

- stage totals (executor run time, shuffle bytes, spill, stage count) from
  the live ``AppStatusStore``, summed over the stages an op added;
- whole-stage-codegen compiles from ``CodegenMetrics``: the count is
  exact, the time is count x the histogram's mean, which Codahale keeps
  over a sampling reservoir, so it is approximate;
- rows crossing the Python/Arrow boundary, from the ``numOutputRows`` of
  the pandas/Arrow nodes of every SQL execution an op ran.
"""

from __future__ import annotations

_ARROW_NODES = ("MapInPandas", "MapInArrow", "ArrowEvalPython", "FlatMapGroupsInPandas",
                "FlatMapCoGroupsInPandas", "AggregateInPandas", "WindowInPandas")


class StageCounter:
    """Sums status-store stage metrics over stages newer than the last read."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        gw = spark.sparkContext._gateway
        self._args = (
            gw.jvm.java.util.ArrayList(), False, False,
            gw.new_array(gw.jvm.double, 0), gw.jvm.java.util.ArrayList(),
        )
        self._seen = -1
        self.read()

    def _drain(self) -> None:
        # stage metrics arrive through the listener bus asynchronously
        self._sc.listenerBus().waitUntilEmpty()

    def _stages(self):
        return self._sc.statusStore().stageList(*self._args)

    def read(self) -> dict:
        """Totals over the stages completed since the previous read."""
        self._drain()
        stages = self._stages()
        tot = {"stages": 0, "executor_run_s": 0.0, "shuffle_bytes": 0, "spill_bytes": 0}
        newest = self._seen
        for i in range(stages.size()):
            s = stages.apply(i)
            sid = s.stageId()
            if sid <= self._seen:
                break  # the store lists stages newest first
            newest = max(newest, sid)
            tot["stages"] += 1
            tot["executor_run_s"] += s.executorRunTime() / 1000.0
            tot["shuffle_bytes"] += s.shuffleWriteBytes() + s.shuffleReadBytes()
            tot["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        self._seen = newest
        return tot


class CodegenCounter:
    """Whole-stage-codegen compiles since the previous read."""

    def __init__(self, spark):
        jvm = spark.sparkContext._jvm
        self._hist = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        self._count = self._hist.getCount()

    def read(self) -> dict:
        count = self._hist.getCount()
        compiles = count - self._count
        self._count = count
        mean_ms = self._hist.getSnapshot().getMean() if compiles else 0.0
        return {"codegen_compiles": compiles, "codegen_s": compiles * mean_ms / 1000.0}


class ArrowRowCounter:
    """Rows out of pandas/Arrow nodes in SQL executions since the last read.

    Read from the SQL status store rather than one DataFrame's plan, so the
    rows of intermediates an operator materializes eagerly (checkpointed
    shingle sets, codebooks) count too."""

    def __init__(self, spark):
        self._store = spark._jsparkSession.sharedState().statusStore()
        self._seen = -1
        self.read()

    def read(self) -> dict:
        execs = self._store.executionsList()
        rows, newest = 0, self._seen
        for i in range(execs.size() - 1, -1, -1):
            eid = execs.apply(i).executionId()
            if eid <= self._seen:
                break  # the store lists executions by ascending id
            newest = max(newest, eid)
            values = self._store.executionMetrics(eid)
            nodes = self._store.planGraph(eid).allNodes()
            for j in range(nodes.size()):
                node = nodes.apply(j)
                if node.name() not in _ARROW_NODES:
                    continue
                metrics = node.metrics()
                for k in range(metrics.size()):
                    m = metrics.apply(k)
                    value = values.get(m.accumulatorId())
                    if m.name() == "number of output rows" and value.isDefined():
                        rows += int(value.get().replace(",", ""))
        self._seen = newest
        return {"arrow_rows": rows}


class SparkCounters:
    """All counters above, read together right after an op (after the
    listener bus has drained, so the op's last events are in)."""

    def __init__(self, spark):
        self._parts = [StageCounter(spark), CodegenCounter(spark), ArrowRowCounter(spark)]

    def read(self) -> dict:
        out = {}
        for part in self._parts:
            out.update(part.read())
        return out
