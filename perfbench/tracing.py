"""Spans around the benchmark's calls into ``pprl_spark`` layers.

A :class:`Tracer` wraps every call a workload makes into one layer of
the engine. With tracing off it only runs the call, so the untraced
pass is the plain user chain. With tracing on it:

- tags the call's Spark jobs: ``setJobDescription("<workload>/<layer>")``
  plus a job group unique to the call;
- materializes the layer's output with an eager ``localCheckpoint()``
  (never ``count()``: a count lets Catalyst prune columns, and so
  aggregates, that the real consumer reads);
- waits for the listener bus and reads Spark's status store for the
  call's stages: executor CPU, GC, shuffle write bytes and records and
  spill, plus the call's job count.

Spans stay in memory; :func:`layer_table` folds them into per-layer
totals per pass.
"""

from __future__ import annotations

import time
from collections import defaultdict

from pyspark.sql import DataFrame

# status-store StageData getter -> (span key, scale to the reported unit)
STAGE_FIELDS = {
    "executorCpuTime": ("exec_cpu_s", 1e-9),
    "jvmGcTime": ("gc_s", 1e-3),
    "shuffleWriteBytes": ("shuffle_write_mb", 1 / 2**20),
    "shuffleWriteRecords": ("shuffle_records", 1),
    "memoryBytesSpilled": ("spill_mb", 1 / 2**20),
}
# layers whose pair-join strategy goes to the context record
JOIN_LAYERS = ("candidates", "incremental")


class Tracer:
    """Runs layer calls, and with ``enabled`` records one span per call."""

    def __init__(self, spark, workload: str, enabled: bool):
        self.sc = spark.sparkContext
        self.workload = workload
        self.enabled = enabled
        self.spans: list[dict] = []
        self.context: dict = {}
        self.pass_id = 0
        self._seq = 0

    def call(self, layer: str, fn, boundary: bool = False, rows_in=()):
        """Run ``fn()`` as one call into ``layer`` and return its result.

        ``boundary=True`` marks a point where the plain chain itself
        materializes (the output is reused), so the result is
        checkpointed whether or not tracing is on. With tracing on every
        DataFrame result is checkpointed, and after the span closes the
        span gets the output's row count and the summed row counts of the
        (materialized) input frames ``rows_in``. The time spent on that
        bookkeeping and on reading the status store is kept apart
        (``trace_s``), so a traced pass can be compared with its spans.
        """
        if not self.enabled:
            out = fn()
            if boundary and isinstance(out, DataFrame):
                out = out.localCheckpoint()
            return out
        self._seq += 1
        group = f"{self.workload}/{layer}/{self._seq}"
        self.sc.setJobGroup(group, f"{self.workload}/{layer}")
        t0 = time.perf_counter()
        try:
            out = fn()
            if isinstance(out, DataFrame):
                plan_src, out = out, out.localCheckpoint()
            else:
                plan_src = None
            t1 = time.perf_counter()
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        span = {"layer": layer, "pass": self.pass_id, "start": t0, "end": t1,
                "wall_s": t1 - t0}
        span.update(self._harvest(group))
        if plan_src is not None:
            if layer in JOIN_LAYERS:
                self.context.setdefault(f"{layer}_join", join_shape(plan_src))
            span["rows_out"] = out.count()
        if rows_in:
            span["rows_in"] = sum(df.count() for df in rows_in)
        span["trace_s"] = time.perf_counter() - t1
        self.spans.append(span)
        return out

    def last(self, layer: str) -> dict:
        """The latest span of ``layer`` (tracing on)."""
        return next(s for s in reversed(self.spans) if s["layer"] == layer)

    def _harvest(self, group: str) -> dict:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        no_quantiles = self.sc._gateway.new_array(self.sc._jvm.double, 0)
        tracker = self.sc.statusTracker()
        out: dict = defaultdict(float)
        job_ids = tracker.getJobIdsForGroup(group)
        out["spark_jobs"] = len(job_ids)
        for job_id in job_ids:
            info = tracker.getJobInfo(job_id)
            if info is None:
                continue
            for stage_id in info.stageIds:
                rows = store.stageData(
                    stage_id, False, self.sc._jvm.java.util.ArrayList(), False,
                    no_quantiles,
                ).iterator()
                while rows.hasNext():
                    stage = rows.next()
                    if str(stage.status()) == "SKIPPED":
                        continue
                    for getter, (key, scale) in STAGE_FIELDS.items():
                        out[key] += getattr(stage, getter)() * scale
        return dict(out)


def join_shape(df: DataFrame) -> str:
    """Pair-join strategy in ``df``'s executed plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    shapes = [s for s in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")
              if s in plan]
    return "+".join(shapes) or "none"


def layer_table(spans: list[dict]) -> dict[int, dict[str, dict]]:
    """pass id -> layer -> summed span fields (a layer called several
    times in one pass, e.g. once per party, adds up)."""
    table: dict = defaultdict(lambda: defaultdict(lambda: defaultdict(float)))
    for span in spans:
        row = table[span["pass"]][span["layer"]]
        for key, value in span.items():
            if key not in ("layer", "pass", "start", "end"):
                row[key] += value
    return table
