"""Spans around the benchmark's own library calls, and Spark's view of them.

A span times one call the benchmark makes into the library. With
tracing on, every span also tags the Spark jobs launched inside it with
a job group (``SparkContext.setJobGroup``), so after the traced region
the benchmark can read Spark's status stores over py4j and attribute
jobs, stages and executor time to the call that caused them:

* ``AppStatusStore.jobsList`` / ``stageList`` (the 5-argument form),
  serialized to JSON inside the JVM by Spark's own Jackson mapper, so a
  whole store costs one py4j round trip;
* ``SQLAppStatusStore`` plan graphs and operator metrics (rows through
  the Python operators);
* ``QueryExecution.tracker().phases()`` (analysis, optimisation and
  planning time).

Spans are kept in memory and written out as JSON lines when the run
ends. With tracing off a span is two ``perf_counter`` calls.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

PYTHON_NODES = (
    "ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
    "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas", "AggregateInPandas",
    "WindowInPandas", "PythonMapInArrow", "ArrowWindowPython",
    "ArrowAggregatePython",
)


class Tracer:
    def __init__(self, spark, run_id: str, enabled: bool):
        self.spark = spark
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._seq = 0

    @contextmanager
    def span(self, name: str):
        """Time the enclosed call; with tracing on, tag its jobs."""
        rec = {"name": name, "run_id": self.run_id,
               "parent": self._stack[-1].get("id") if self._stack else None}
        if self.enabled:
            self._seq += 1
            rec["id"] = f"{self.run_id}/{self._seq}"
            self.sc.setJobGroup(rec["id"], name, False)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self.enabled:
                self.spans.append(rec)
                if self._stack:
                    self.sc.setJobGroup(self._stack[-1]["id"], self._stack[-1]["name"], False)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for rec in self.spans:
                fh.write(json.dumps(rec, sort_keys=True) + "\n")


class SparkStores:
    """Read-only access to the driver's status stores."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        scala = jvm.com.fasterxml.jackson.module.scala
        module = getattr(getattr(scala, "DefaultScalaModule$"), "MODULE$")
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper().registerModule(module)
        self._store = self.sc._jsc.sc().statusStore()
        self._no_quantiles = self.sc._gateway.new_array(jvm.double, 0)

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def jobs(self) -> list[dict]:
        return self._json(self._store.jobsList(None))

    def stages(self) -> list[dict]:
        # stageList(statuses, details, withSummaries, unsortedQuantiles,
        # taskStatus): null statuses = every stage the store retains
        return self._json(
            self._store.stageList(None, False, False, self._no_quantiles, None)
        )

    def sql_metrics(self, job_ids: set) -> dict:
        """Operator metrics of the SQL executions that ran any of
        ``job_ids``: rows out of Python operators, and file bytes listed
        by scans (a file scanned twice counts twice)."""
        sql = self.spark._jsparkSession.sharedState().statusStore()
        execs = sql.executionsList()
        out = {"python_rows": 0, "scan_bytes": 0}
        for i in range(execs.size()):
            ex = execs.apply(i)
            if not job_ids.intersection(self._json(ex.jobs().keySet())):
                continue
            values = sql.executionMetrics(ex.executionId())
            nodes = sql.planGraph(ex.executionId()).allNodes()
            for k in range(nodes.size()):
                node = nodes.apply(k)
                name = node.name()
                if name in PYTHON_NODES:
                    key, wanted = "python_rows", "number of output rows"
                elif name.startswith("Scan "):
                    key, wanted = "scan_bytes", "size of files read"
                else:
                    continue
                metrics = node.metrics()
                for m in range(metrics.size()):
                    metric = metrics.apply(m)
                    if metric.name() == wanted:
                        value = values.get(metric.accumulatorId())
                        if value.isDefined():
                            out[key] += _parse_metric(str(value.get()))
        return out

    @staticmethod
    def plan_seconds(df) -> float:
        """Analysis + optimisation + planning time of ``df``'s query,
        re-planned after the pass.

        An action plans a copy of the query in its own QueryExecution,
        which Python cannot reach afterwards. This forces the physical
        plan of ``df``'s own QueryExecution instead, in the now warm
        session, and reads its phase tracker: a re-plan of the final
        DataFrame, not the planning the pass did, and nothing of the
        queries that eager calls inside the library planned.
        """
        jdf = df._jdf if hasattr(df, "_jdf") else df.inner._jdf
        qe = jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        it = phases.iterator()
        total_ms = 0
        while it.hasNext():
            total_ms += it.next()._2().durationMs()
        return total_ms / 1000.0


_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def _parse_metric(text: str) -> int:
    """A SQL metric as the store renders it: ``"1,234"`` or, for sizes,
    ``"total (min, med, max ...)\n12.3 MiB (...)"``; the total is
    returned (sizes in bytes, rounded as rendered)."""
    line = text.strip().splitlines()[-1] if "\n" in text else text.strip()
    first = line.split(" (")[0].replace(",", "").split()
    if len(first) == 2:
        return int(float(first[0]) * _SIZE_UNITS[first[1]])
    return int(float(first[0]))


def attribute(job_owner: dict, jobs: list[dict], stages: list[dict]) -> dict:
    """Totals over the stages of the jobs in ``job_owner`` (job id ->
    owning span id), plus each owner's job ids and executor CPU.

    Skipped stages (a reused shuffle) are listed by their job but never
    ran, so they count nowhere.
    """
    span_jobs: dict[str, list[int]] = {}
    stage_owner: dict[int, str] = {}
    for job in jobs:
        owner = job_owner.get(job["jobId"])
        if owner is not None:
            span_jobs.setdefault(owner, []).append(job["jobId"])
            for sid in job["stageIds"]:
                stage_owner.setdefault(sid, owner)
    out = {"job_owner": job_owner, "span_jobs": span_jobs, "jobs": len(job_owner),
           "stages": 0, "tasks": 0, "exec_run_s": 0.0, "exec_cpu_s": 0.0,
           "shuffle_w_bytes": 0, "shuffle_r_bytes": 0, "spill_bytes": 0,
           "span_cpu": {}}
    for st in stages:
        owner = stage_owner.get(st["stageId"])
        if owner is None or st["status"] != "COMPLETE":
            continue
        out["stages"] += 1
        out["tasks"] += st["numTasks"]
        out["exec_run_s"] += st["executorRunTime"] / 1e3
        cpu = st["executorCpuTime"] / 1e9
        out["exec_cpu_s"] += cpu
        out["span_cpu"][owner] = out["span_cpu"].get(owner, 0.0) + cpu
        out["shuffle_w_bytes"] += st["shuffleWriteBytes"]
        out["shuffle_r_bytes"] += st["shuffleReadBytes"]
        out["spill_bytes"] += st["memoryBytesSpilled"] + st["diskBytesSpilled"]
    return out


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident memory of the driver Python process plus the JVM and
    every process under it (the Python workers), in MB."""
    parents: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as fh:
                    parents[int(name)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
    tree, frontier = {jvm_pid}, [jvm_pid]
    while frontier:
        pid = frontier.pop()
        for child, parent in parents.items():
            if parent == pid and child not in tree:
                tree.add(child)
                frontier.append(child)
    total_kb = 0
    for pid in tree | {os.getpid()}:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0
