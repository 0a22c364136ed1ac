"""Tracing for the per-layer run: job groups, read spans and stage totals.

Tracing is done only from the benchmark's side of the package boundary:

* every Spark job is tagged with a job group naming the pass, the query and
  the phase (``build``, ``read`` nested in build, ``exec``; ``apply`` and
  ``read`` for the CDC loop), so the status store attributes jobs and stages;
* ``sources.readers.read_table`` is wrapped, in the readers module and in
  every module that imported it by name, to time each call and tag its jobs;
* after the run the stage totals are read from the Spark UI's REST API,
  the same pattern as ``tools/scaling_curve.py:_stage_totals``.

The untraced run never builds a :class:`Tracer`; the UI stays off there.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import sys
import threading
import time
import urllib.request
from collections import defaultdict

#: Raised so the status store keeps every job and stage of a run: eviction
#: past the cap silently shrinks the totals (tools/scaling_curve.py).
UI_CONF = {
    "spark.ui.enabled": "true",
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
    "spark.ui.retainedTasks": "1000000",
}


class Tracer:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        # per thread, like Spark's job group: foreachBatch runs on its own thread
        self._local = threading.local()
        #: (group, seconds) of every read_table call
        self.reads: list[tuple[str, float]] = []
        self._unpatch: list[tuple[object, object]] = []

    @property
    def group_name(self) -> str | None:
        return getattr(self._local, "name", None)

    @contextlib.contextmanager
    def group(self, name: str):
        """Tag every job this thread starts inside the block with job group
        ``name``."""
        outer = self.group_name
        self._local.name = name
        self.sc.setJobGroup(name, name)
        try:
            yield
        finally:
            self._local.name = outer
            if outer is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            else:
                self.sc.setJobGroup(outer, outer)

    def patch_read_table(self) -> None:
        from projet_data_infrastructure_spark.sources import readers

        original = readers.read_table
        tracer = self

        def read_table(spark, sf_dir, name):
            outer = tracer.group_name or "untagged"
            t0 = time.perf_counter()
            with tracer.group(f"{outer}:read"):
                df = original(spark, sf_dir, name)
            tracer.reads.append((outer, time.perf_counter() - t0))
            return df

        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith("projet_data_infrastructure_spark") \
                    and getattr(mod, "read_table", None) is original:
                self._unpatch.append((mod, original))
                mod.read_table = read_table

    def unpatch(self) -> None:
        for mod, original in self._unpatch:
            mod.read_table = original
        self._unpatch.clear()

    # ------------------------------------------------------------------
    # Status store over REST
    # ------------------------------------------------------------------

    def _get(self, path: str):
        url = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}/{path}"
        with urllib.request.urlopen(url, timeout=30) as r:
            return json.load(r)

    def stage_totals(self, groups: set[str]) -> dict[str, dict[str, float]]:
        """Per job group: jobs, stages, tasks and summed stage metrics."""
        st = self.sc.statusTracker()
        want = {j for g in groups for j in st.getJobIdsForGroup(g)}
        jobs = []
        for _ in range(100):  # the listener bus is asynchronous: wait for it
            jobs = [j for j in self._get("jobs") if j.get("status") != "RUNNING"]
            if want <= {j["jobId"] for j in jobs}:
                break
            time.sleep(0.1)
        stages = {s["stageId"]: s for s in self._get("stages?status=complete")}
        out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for j in jobs:
            g = j.get("jobGroup")
            if g not in groups:
                continue
            t = out[g]
            t["jobs"] += 1
            for sid in j.get("stageIds", []):
                s = stages.get(sid)
                if s is None:  # skipped stage: its output was reused
                    continue
                t["stages"] += 1
                t["tasks"] += s.get("numTasks", 0)
                t["executor_run_s"] += s.get("executorRunTime", 0) / 1e3
                t["gc_s"] += s.get("jvmGcTime", 0) / 1e3
                t["shuffle_read_mb"] += s.get("shuffleReadBytes", 0) / 1e6
                t["shuffle_write_mb"] += s.get("shuffleWriteBytes", 0) / 1e6
                t["spill_mb"] += (s.get("memoryBytesSpilled", 0)
                                  + s.get("diskBytesSpilled", 0)) / 1e6
                if s.get("numTasks", 0) > 1:
                    t.setdefault("_skews", [])
                    t["_skews"].append(self._task_skew(s))
        for t in out.values():
            skews = t.pop("_skews", None)
            t["task_skew"] = statistics.median(skews) if skews else 1.0
        return out

    def _task_skew(self, stage) -> float:
        """Slowest task over the median task, by executor run time."""
        summ = self._get(
            f"stages/{stage['stageId']}/{stage['attemptId']}/taskSummary?quantiles=0.5,1.0")
        med, top = summ["executorRunTime"]
        return top / med if med > 0 else 1.0
