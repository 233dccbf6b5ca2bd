"""Per-iteration Spark figures from the public status surfaces.

Each timed call runs under its own job group. ``statusTracker`` gives
the failed-task count that decides whether a call failed; the REST
status API of the Spark driver UI gives the rest (stages, task times, CPU,
GC, shuffle, spill and the SQL metrics of the Python node).
"""

from __future__ import annotations

import json
import re
import statistics
import time
import urllib.request

_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0 ** 2, "GiB": 1024.0 ** 3,
    "TiB": 1024.0 ** 4,
}
_NUM_UNIT = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")


def parse_metric(value: str) -> float:
    """A SQL metric display string as a number in base units
    (seconds, bytes or a count). Multi-task metrics read
    ``total (min, med, max ...)\\n<total> (<min>, ...)``; the total
    is taken."""
    if "\n" in value:
        value = value.split("\n", 1)[1]
    m = _NUM_UNIT.match(value)
    if m is None:
        raise ValueError(f"unparsed SQL metric {value!r}")
    num = float(m.group(1).replace(",", ""))
    return num * _UNITS.get(m.group(2), 1.0)


def failed_tasks(sc, group: str) -> int:
    """Failed task attempts over every job of ``group``."""
    st = sc.statusTracker()
    n = 0
    for jid in st.getJobIdsForGroup(group):
        job = st.getJobInfo(jid)
        if job is None:
            continue
        for sid in job.stageIds:
            stage = st.getStageInfo(sid)
            if stage is not None:
                n += stage.numFailedTasks
    return n


class RestStatus:
    """Thin reader over ``/api/v1/applications/<app>``."""

    def __init__(self, sc) -> None:
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def group_jobs(self, group: str, timeout_s: float = 10.0) -> list[dict]:
        """Jobs of ``group`` once the status store has seen them end
        (the listener bus is asynchronous to the action returning)."""
        deadline = time.monotonic() + timeout_s
        while True:
            jobs = [j for j in self.get("/jobs") if j.get("jobGroup") == group]
            if jobs and all(j["status"] in ("SUCCEEDED", "FAILED")
                            for j in jobs):
                return jobs
            if time.monotonic() > deadline:
                return jobs
            time.sleep(0.02)

    def iteration(self, group: str) -> dict[str, float]:
        """Job, stage and task figures of one job group."""
        jobs = self.group_jobs(group)
        if not jobs:
            raise RuntimeError(f"the status API lists no job of {group}")
        stage_ids = {sid for j in jobs for sid in j["stageIds"]}
        stages = [s for s in self.get("/stages")
                  if s["stageId"] in stage_ids
                  and s["status"] in ("COMPLETE", "FAILED")]
        heavy = max(stages, key=lambda s: s["executorRunTime"], default=None)
        skew = 1.0
        if heavy is not None and heavy["numTasks"] > 1:
            q = self.get(f"/stages/{heavy['stageId']}/{heavy['attemptId']}"
                         "/taskSummary?quantiles=0.5,1.0")
            med, top = q["executorRunTime"]
            skew = top / max(med, 1.0)
        return {
            "jobs": len(jobs),
            "stages": len({s["stageId"] for s in stages}),
            "tasks": sum(s["numCompleteTasks"] + s["numFailedTasks"]
                         for s in stages),
            "failed_tasks": sum(s["numFailedTasks"] for s in stages),
            "stage_retries": sum(1 for s in stages if s["attemptId"] > 0),
            "executor_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
            "gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
            "shuffle_mb": sum(s["shuffleWriteBytes"] for s in stages) / 2**20,
            "spill_mb": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"]
                            for s in stages) / 2**20,
            "task_skew": skew,
        }

    def python_node(self, group: str, names: tuple[str, ...]) -> dict[str, float]:
        """SQL metrics ``names`` of the Python map node(s) run by
        ``group``, summed over the nodes. Raises when ``group`` ran no
        Python map node or a node lacks one of ``names``."""
        job_ids = {j["jobId"] for j in self.group_jobs(group)}
        out = dict.fromkeys(names, 0.0)
        n_nodes = 0
        for e in self.get("/sql?details=true&planDescription=false"
                          "&offset=0&length=1000"):
            if not job_ids & set(e.get("successJobIds", []) + e.get("failedJobIds", [])):
                continue
            for node in e["nodes"]:
                if not node["nodeName"].startswith(("MapInArrow", "MapInPandas")):
                    continue
                n_nodes += 1
                found = {m["name"]: m["value"] for m in node["metrics"]}
                missing = [n for n in names if n not in found]
                if missing:
                    raise RuntimeError(f"{node['nodeName']} of {group} has no "
                                       f"SQL metric {missing}")
                for n in names:
                    out[n] += parse_metric(found[n])
        if not n_nodes:
            raise RuntimeError(f"no Python map node in the SQL executions of {group}")
        return out


def medians(rows: list[dict[str, float]]) -> dict[str, float]:
    """Per-key median across iterations (job and stage counts
    alternate between iterations, so no single one is exact)."""
    keys = rows[0].keys() if rows else ()
    return {k: float(statistics.median(r[k] for r in rows)) for k in keys}
