"""Reads Spark's status store: every retained job and stage, as JSON.

One py4j call serialises the whole list on the JVM side, so a read costs
milliseconds instead of one round trip per field.  The store keeps the
last ``spark.ui.retainedJobs``/``retainedStages`` entries (1000 each by
default), so the benchmark reads it after every query.
"""

from __future__ import annotations

import json


class StatusStore:
    def __init__(self, spark) -> None:
        jvm = spark._jvm
        self._store = spark._jsparkSession.sparkContext().statusStore()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = jvm.java.lang.Class.forName(
            "com.fasterxml.jackson.module.scala.DefaultScalaModule$")
        self._mapper.registerModule(scala.getField("MODULE$").get(None))
        self._stage_args = [
            getattr(self._store, f"stageList$default${i}")() for i in (4, 5)
        ]
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}

    def refresh(self) -> None:
        """Add every finished job and completed stage not seen before."""
        for j in json.loads(self._mapper.writeValueAsString(self._store.jobsList(None))):
            if j["completionTime"] is not None and j["jobId"] not in self.jobs:
                self.jobs[j["jobId"]] = j
        stages = self._store.stageList(None, False, False, *self._stage_args)
        for s in json.loads(self._mapper.writeValueAsString(stages)):
            if s["status"] == "COMPLETE":
                self.stages.setdefault(s["stageId"], s)

    def jobs_between(self, t0: float, t1: float) -> list[dict]:
        """Jobs submitted in the wall-clock window [t0, t1] (seconds)."""
        a, b = t0 * 1000 - 1, t1 * 1000 + 1
        return [j for j in self.jobs.values() if a <= j["submissionTime"] <= b]

    def stages_of(self, jobs: list[dict]) -> list[dict]:
        ids = {i for j in jobs for i in j["stageIds"]}
        return [self.stages[i] for i in sorted(ids) if i in self.stages]
