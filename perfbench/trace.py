"""Per-layer spans for the traced benchmark run, plus process memory.

A span wraps ONE call into a layer's public function from the
benchmark's own code. Inside it the Spark job group is set to a unique
id, so afterwards ``statusTracker()`` lists exactly the jobs (and
through them the stages) that the call ran. Shuffle-write and spill
bytes are not in the status tracker; they come from the UI REST API,
which is switched on only for traced runs. Spans are kept in memory
and turned into metrics once, after the last layer ran.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
import urllib.request

# physical-plan node names that cross into a Python worker
PYTHON_NODES = {
    "ArrowEvalPython",
    "BatchEvalPython",
    "MapInPandas",
    "MapInArrow",
    "PythonMapInArrow",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
    "AggregateInPandas",
    "WindowInPandas",
    "ArrowEvalPythonUDTF",
    "BatchEvalPythonUDTF",
}

def python_nodes(df) -> int:
    """Python-evaluation nodes in ``df``'s physical plan. Cached inputs
    (InMemoryTableScan) are leaves here, so a layer that reads a
    persisted frame is not charged for the nodes that built it."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.inputPlan()
    count, todo = 0, [plan]
    while todo:
        node = todo.pop()
        count += node.nodeName() in PYTHON_NODES
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return count


def files_under(path: str) -> int:
    """Data files a stage commit left on disk (bookkeeping files and
    checksums excluded)."""
    return sum(
        1
        for _, _, names in os.walk(path)
        for n in names
        if not n.startswith((".", "_"))
    )


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []

    @contextlib.contextmanager
    def span(self, layer: str):
        """Time one layer call; the body may set ``rec["rows_out"]`` and
        any extra per-layer metric on the yielded record."""
        group = f"perfbench-{len(self.spans)}-{layer}"
        rec: dict = {"layer": layer, "rows_out": 0}
        self.sc.setJobGroup(group, layer)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stage_ids = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            stage_ids.update(info.stageIds if info else ())
        # a skipped stage (its shuffle output reused) ran no task
        ran = []
        for s in sorted(stage_ids):
            info = tracker.getStageInfo(s)
            if info is not None and info.numCompletedTasks > 0:
                ran.append(s)
        rec.update(jobs=len(jobs), stage_ids=ran, stages=len(ran))
        self.spans.append(rec)

    def _rest_stages(self) -> dict[int, dict]:
        """stageId -> summed attempt metrics from the UI REST API. The
        status store is fed by an asynchronous listener, so wait until
        every stage a span saw has reached a final state."""
        url = self.sc.uiWebUrl
        if not url:
            return {}
        want = {s for sp in self.spans for s in sp["stage_ids"]}
        api = f"{url}/api/v1/applications/{self.sc.applicationId}/stages"
        out: dict[int, dict] = {}
        for _ in range(100):
            with urllib.request.urlopen(api, timeout=30) as resp:
                rows = json.load(resp)
            out = {}
            done = set()
            for r in rows:
                agg = out.setdefault(r["stageId"], {"shuffle": 0, "spill": 0})
                agg["shuffle"] += r.get("shuffleWriteBytes", 0)
                agg["spill"] += r.get("diskBytesSpilled", 0)
                if r.get("status") in ("COMPLETE", "SKIPPED", "FAILED"):
                    done.add(r["stageId"])
            if want <= done:
                break
            time.sleep(0.1)
        return out

    def metrics(self) -> dict[str, float]:
        """Spans -> ``<layer>.<field>`` metrics. A layer called more than
        once adds up its spans (the verify layer runs once per
        checkpointed stage)."""
        rest = self._rest_stages()
        out: dict[str, float] = {}
        for sp in self.spans:
            ids = sp.pop("stage_ids")
            sp["shuffle_write_mb"] = sum(rest.get(s, {}).get("shuffle", 0) for s in ids) / 2**20
            sp["spill_mb"] = sum(rest.get(s, {}).get("spill", 0) for s in ids) / 2**20
            layer = sp.pop("layer")
            for k, v in sp.items():
                out[f"{layer}.{k}"] = out.get(f"{layer}.{k}", 0) + v
        return out


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def _descendants(root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="utf-8") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def peak_rss_mb(root: int) -> float:
    """Sum of peak resident set (VmHWM) over the driver JVM and every
    process under it -- the PySpark daemon and its Python workers."""
    total = 0
    for pid in _descendants(root):
        try:
            with open(f"/proc/{pid}/status", encoding="utf-8") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
    return total / 1024
