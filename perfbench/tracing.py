"""Per-layer tracing: spans around each layer call, engine metrics from the
Spark UI REST API per job group, and process-tree CPU and memory.

Every Spark job of a traced run carries a job group: the layer whose span
launched it, or ``setup``, ``warmup`` or ``untimed`` outside spans. Shuffle bytes are
summed per group from the stage list and cross-checked against the
executor-level totals, which the status store keeps on a separate path
(executor summaries are never evicted; stage history is, so the UI
retention limits are raised for traced runs).
"""

from __future__ import annotations

import json
import os
import time
import urllib.request

MB = 1024 * 1024
CLK = os.sysconf("SC_CLK_TCK")
UI_CONF = {
    "spark.ui.enabled": "true",
    "spark.ui.port": "0",
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
    "spark.sql.ui.retainedExecutions": "100000",
}


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        out.extend(kids.get(p, []))
        todo.extend(kids.get(p, []))
    return out


def cpu_s(pid: int, children: bool = False) -> float:
    try:
        with open(f"/proc/{pid}/stat") as f:
            v = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0.0
    ticks = int(v[11]) + int(v[12]) + ((int(v[13]) + int(v[14])) if children else 0)
    return ticks / CLK


def _hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(jvm: int) -> float:
    """Peak resident set of the JVM plus each of its Python workers, summed
    over the processes alive now (kernel high-water marks, not samples)."""
    return _hwm_mb(jvm) + sum(_hwm_mb(p) for p in descendants(jvm))


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jvm = jvm_pid(spark)
        self.spans: list[dict] = []
        self.group("setup")

    def group(self, name: str) -> None:
        self.sc.setJobGroup(name, name)

    def cpu(self) -> tuple[float, float]:
        """(JVM CPU seconds, CPU seconds of the JVM's descendant processes,
        i.e. the Python daemon and workers, including reaped children)."""
        return cpu_s(self.jvm, False), sum(cpu_s(p, True) for p in descendants(self.jvm))

    def span(self, name: str, fn):
        """Run ``fn`` under job group ``name``; record wall and CPU."""
        self.group(name)
        c0, t0 = self.cpu(), time.perf_counter()
        try:
            out = fn()
        finally:
            t1, c1 = time.perf_counter(), self.cpu()
            self.group("untimed")
        self.spans.append(
            {"name": name, "wall_s": t1 - t0, "jvm_cpu_s": c1[0] - c0[0], "python_cpu_s": c1[1] - c0[1]}
        )
        return out

    def _get(self, path: str):
        url = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}/{path}"
        with urllib.request.urlopen(url, timeout=30) as r:
            return json.loads(r.read())

    def engine_metrics(self) -> tuple[dict[str, dict], dict]:
        """Per job group: shuffle MB, spill MB, GC s, stage count and task
        skew (max / median task run time of the group's longest stage);
        plus the accounting cross-check against executor totals."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        group_of: dict[int, str] = {}
        for job in sorted(self._get("jobs"), key=lambda j: j["jobId"]):
            for sid in job["stageIds"]:
                group_of.setdefault(sid, job.get("jobGroup") or "(none)")
        groups: dict[str, dict] = {}
        longest: dict[str, tuple[float, dict]] = {}
        tot_w = tot_r = 0
        for st in self._get("stages"):
            if st["status"] == "SKIPPED":
                continue
            g = groups.setdefault(
                group_of.get(st["stageId"], "(none)"),
                {"shuffle_write_mb": 0.0, "shuffle_read_mb": 0.0, "spill_mb": 0.0, "gc_s": 0.0, "stages": 0},
            )
            g["shuffle_write_mb"] += st["shuffleWriteBytes"] / MB
            g["shuffle_read_mb"] += st["shuffleReadBytes"] / MB
            g["spill_mb"] += st["diskBytesSpilled"] / MB
            g["gc_s"] += st["jvmGcTime"] / 1000
            g["stages"] += 1
            tot_w += st["shuffleWriteBytes"]
            tot_r += st["shuffleReadBytes"]
            name = group_of.get(st["stageId"], "(none)")
            if name not in longest or st["executorRunTime"] > longest[name][0]:
                longest[name] = (st["executorRunTime"], st)
        for name, (_, st) in longest.items():
            q = self._get(f"stages/{st['stageId']}/{st['attemptId']}/taskSummary?quantiles=0.5,1.0")
            med, mx = q["executorRunTime"]
            groups[name]["task_skew"] = mx / max(med, 1.0)
        ex = self._get("allexecutors")
        acct = {
            "stage_shuffle_write_bytes": tot_w,
            "executor_shuffle_write_bytes": sum(e["totalShuffleWrite"] for e in ex),
            "stage_shuffle_read_bytes": tot_r,
            "executor_shuffle_read_bytes": sum(e["totalShuffleRead"] for e in ex),
        }
        acct["ok"] = (
            acct["stage_shuffle_write_bytes"] == acct["executor_shuffle_write_bytes"]
            and acct["stage_shuffle_read_bytes"] == acct["executor_shuffle_read_bytes"]
            and all(v >= 0 for g in groups.values() for v in g.values())
        )
        return groups, acct

