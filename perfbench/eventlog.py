"""Per-layer numbers from Spark's own event log (uncompressed JSON lines).

The benchmark sets one job group per operation, so every job, stage and
task in the log is attributed to the operation that caused it. Times in the
log are epoch milliseconds from the same host clock the harness reads.

Self-test on a small captured log: ``python3 perfbench/eventlog.py``."""

from __future__ import annotations

import glob
import json
import os
import statistics
from dataclasses import dataclass, field

# SQL metrics of the Arrow/pandas Python nodes (millisecond timings, bytes).
# A task reports one value per Python node of its stage. Each node's run and
# start times lie inside the task's run time, but the nodes of one task run
# side by side, so a task counts the largest of them. "time to initialize
# Python workers" is not used: it can exceed the whole task (4.7 s in a
# 0.86 s task of the captured log).
PY_RUN = "time to run Python workers"
PY_START = "time to start Python workers"
PY_SENT = "data sent to Python workers"


@dataclass
class GroupStats:
    """Everything the log says about the jobs of one job group."""
    jobs: int = 0
    stages: set = field(default_factory=set)
    tasks: int = 0
    first_submit_ms: float | None = None
    intervals: list = field(default_factory=list)   # task (launch, finish) ms
    run_ms: float = 0.0
    cpu_ns: float = 0.0
    gc_ms: float = 0.0
    shuffle_write_b: float = 0.0
    shuffle_read_b: float = 0.0
    fetch_wait_ms: float = 0.0
    spill_b: float = 0.0
    py_run_ms: float = 0.0
    py_start_ms: float = 0.0
    py_sent_b: float = 0.0
    task_run_ms: list = field(default_factory=list)   # (run, py run, py start) per task
    stage_task_records: dict = field(default_factory=dict)  # stage -> [records read]


def read_events(log_dir: str) -> list[dict]:
    """All events of every application logged under ``log_dir``."""
    files = sorted(p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
                   if os.path.isfile(p) and not os.path.basename(p).startswith((".", "appstatus")))
    events = []
    for path in files:
        with open(path) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def by_group(events: list[dict]) -> dict[str, GroupStats]:
    """Aggregate jobs, stages and task metrics per job group."""
    groups: dict[str, GroupStats] = {}
    stage_group: dict[int, str] = {}
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            name = (e.get("Properties") or {}).get("spark.jobGroup.id")
            if name is None:
                continue
            g = groups.setdefault(name, GroupStats())
            g.jobs += 1
            sub = e["Submission Time"]
            g.first_submit_ms = sub if g.first_submit_ms is None else min(g.first_submit_ms, sub)
            for sid in e["Stage IDs"]:
                stage_group[sid] = name
        elif kind == "SparkListenerTaskEnd":
            name = stage_group.get(e["Stage ID"])
            if name is None:
                continue
            g = groups[name]
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            g.tasks += 1
            g.stages.add(e["Stage ID"])
            g.intervals.append((info["Launch Time"], info["Finish Time"]))
            g.run_ms += m.get("Executor Run Time", 0)
            g.cpu_ns += m.get("Executor CPU Time", 0)
            g.gc_ms += m.get("JVM GC Time", 0)
            g.spill_b += m.get("Disk Bytes Spilled", 0)
            sw, sr = m.get("Shuffle Write Metrics", {}), m.get("Shuffle Read Metrics", {})
            g.shuffle_write_b += sw.get("Shuffle Bytes Written", 0)
            g.shuffle_read_b += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            g.fetch_wait_ms += sr.get("Fetch Wait Time", 0)
            records = (sr.get("Total Records Read", 0)
                       + m.get("Input Metrics", {}).get("Records Read", 0))
            g.stage_task_records.setdefault(e["Stage ID"], []).append(records)
            py = {PY_RUN: 0.0, PY_START: 0.0, PY_SENT: 0.0}
            for acc in info.get("Accumulables", []):
                upd, name = acc.get("Update"), acc.get("Name")
                if name not in py or not str(upd).isdigit():
                    continue
                py[name] = py[name] + float(upd) if name == PY_SENT else max(py[name], float(upd))
            g.py_run_ms += py[PY_RUN]
            g.py_start_ms += py[PY_START]
            g.py_sent_b += py[PY_SENT]
            g.task_run_ms.append((m.get("Executor Run Time", 0), py[PY_RUN], py[PY_START]))
    return groups


def busy_ms(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def skew_ratio(g: GroupStats) -> float:
    """Max over median records read per task, in the group's stage that
    read the most records across at least two tasks (1.0 when none)."""
    stages = [r for r in g.stage_task_records.values() if len(r) >= 2 and sum(r) > 0]
    if not stages:
        return 1.0
    recs = max(stages, key=sum)
    med = statistics.median(recs)
    return max(recs) / med if med > 0 else float(max(recs))


def _self_test() -> None:
    here = os.path.dirname(os.path.abspath(__file__))
    groups = by_group(read_events(os.path.join(here, "testdata", "eventlog")))
    hb, wkb = groups["hex_bin"], groups["pip_join_wkb"]
    assert (hb.jobs, sorted(hb.stages), hb.tasks) == (2, [11, 13], 2)
    assert (wkb.jobs, sorted(wkb.stages), wkb.tasks) == (2, [14, 15], 7)
    assert hb.shuffle_write_b > 0 and hb.shuffle_read_b == hb.shuffle_write_b
    assert wkb.py_run_ms > 0 and wkb.py_sent_b > 0 and hb.py_run_ms == 0
    assert groups["pip_join_wkb"].py_start_ms > 0
    # the Python-worker times nest inside each task's run time
    for g in groups.values():
        for run, py_run, py_start in g.task_run_ms:
            assert py_run <= run and py_start <= run, (run, py_run, py_start)
    assert set(groups) == {"hex_bin", "pip_join_wkb"}, set(groups)
    lo = min(a for a, _ in hb.intervals)
    hi = max(b for _, b in hb.intervals)
    assert 0 < busy_ms(hb.intervals, lo, hi) <= hi - lo
    assert busy_ms([(0, 10), (5, 20), (30, 40)], 0, 35) == 25
    print("eventlog self-test ok")


if __name__ == "__main__":
    _self_test()
