"""Read Spark's own event log (uncompressed, non-rolling JSON lines).

Every job carries the ``gmx:<op>`` description the benchmark set around the
call that launched it, and its submission time places it inside one of the
benchmark's spans, so task metrics, SQL metric updates and the final
(adaptive) physical plans can all be attributed to one call.
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict

JOIN_NODES = (
    "SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
    "BroadcastNestedLoopJoin", "CartesianProduct",
)
PY_TIME = "time to run Python workers"
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"


class Job:
    def __init__(self, job_id: int, desc: str, submit_ms: int, exec_id: int | None) -> None:
        self.job_id, self.desc, self.submit_ms, self.exec_id = job_id, desc, submit_ms, exec_id
        self.cpu_ns = 0
        self.gc_ms = 0
        self.spill_bytes = 0
        self.shuffle_write_bytes = 0
        self.acc: dict[str, int] = defaultdict(int)  # task accumulables summed by name
        self.stage_task_ms: dict[int, list[int]] = defaultdict(list)


class EventLog:
    def __init__(self) -> None:
        self.jobs: list[Job] = []
        self.plans: dict[int, dict] = {}     # SQL execution id -> final plan tree
        self.accum: dict[int, int] = defaultdict(int)  # accumulator id -> value


def find_log(directory: str) -> str:
    names = [n for n in os.listdir(directory) if not n.endswith(".inprogress")]
    if len(names) != 1:
        raise RuntimeError(f"expected one finished event log in {directory}, found {names}")
    return os.path.join(directory, names[0])


def _int(v) -> int | None:
    try:
        return int(v)
    except (TypeError, ValueError):
        return None


def parse(path: str) -> EventLog:
    log = EventLog()
    stage_job: dict[int, Job] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                job = Job(ev["Job ID"], props.get("spark.job.description") or "",
                          ev.get("Submission Time", 0), _int(props.get("spark.sql.execution.id")))
                log.jobs.append(job)
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, job)
            elif kind == "SparkListenerTaskEnd":
                job = stage_job.get(ev["Stage ID"])
                m = ev.get("Task Metrics") or {}
                for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                    upd = _int(acc.get("Update"))
                    if upd is None:
                        continue
                    log.accum[acc["ID"]] += upd
                    if job is not None and acc.get("Name"):
                        job.acc[acc["Name"]] += upd
                if job is None:
                    continue
                job.stage_task_ms[ev["Stage ID"]].append(m.get("Executor Run Time", 0))
                job.cpu_ns += m.get("Executor CPU Time", 0)
                job.gc_ms += m.get("JVM GC Time", 0)
                job.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                wr = m.get("Shuffle Write Metrics") or {}
                job.shuffle_write_bytes += wr.get("Shuffle Bytes Written", 0)
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                for aid, val in ev.get("accumUpdates", []):
                    log.accum[aid] += _int(val) or 0
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                log.plans[int(ev["executionId"])] = ev["sparkPlanInfo"]
    return log


def task_skew(jobs: list[Job]) -> float:
    """max/median task time of the stage with the most task time."""

    stages = [ms for j in jobs for ms in j.stage_task_ms.values() if ms]
    if not stages:
        return 0.0
    heavy = max(stages, key=sum)
    med = statistics.median(heavy)
    return max(heavy) / med if med > 0 else 1.0


def _walk(node: dict, ancestors: list[dict]):
    yield node, ancestors
    for child in node.get("children", []):
        yield from _walk(child, ancestors + [node])


def _scans(node: dict, tables: tuple[str, ...]) -> bool:
    text = node.get("simpleString", "")
    return node.get("nodeName", "").startswith("Scan") and any(f".{t}[" in text or f".{t} " in text
                                                              for t in tables)


def index_side_exchanges(plan: dict, tables: tuple[str, ...]) -> int:
    """Exchanges between a scan of a bucketed index table and the first
    join above it that keys on ``cell`` (the join the bucketing is for).
    Zero means the index side reads straight from bucket metadata."""

    count = 0
    for node, ancestors in _walk(plan, []):
        if not _scans(node, tables):
            continue
        between = 0
        for anc in reversed(ancestors):
            name = anc.get("nodeName", "")
            if name.startswith("Exchange"):
                between += 1
            if name in JOIN_NODES:
                if "cell#" in anc.get("simpleString", ""):
                    count += between
                break
    return count


def knn_candidate_rows(plans: list[dict], accum: dict[int, int]) -> int:
    """Rows out of kNN's candidate joins: the probe joins keyed on ``cell``
    and the exact cross-join fallback (each metric counted once, even when
    a cached plan shows up under several executions)."""

    ids = set()
    for plan in plans:
        for node, _ in _walk(plan, []):
            name, text = node.get("nodeName"), node.get("simpleString", "")
            if (name in JOIN_NODES and "cell#" in text) or name in (
                "BroadcastNestedLoopJoin", "CartesianProduct"
            ):
                ids.update(m["accumulatorId"] for m in node.get("metrics", [])
                           if m.get("name") == "number of output rows")
    return sum(accum.get(i, 0) for i in ids)
