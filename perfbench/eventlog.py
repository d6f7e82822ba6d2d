"""Spark event-log parser: per-op ``spark.*`` and ``streaming.*`` metrics.

Reads an uncompressed, non-rolling Spark 4.1 event log (one JSON object
per line) and attributes work to the benchmark's ops by time: a job
belongs to the op window that contains its submission time, a stage and
its tasks belong to the job that listed the stage, a SQL execution's
driver-side metrics belong to the window that contains its start, and a
streaming progress record belongs to the window that contains its
trigger time.  Job groups are not used, because Structured Streaming
runs micro-batch jobs under the stream's run id rather than the caller's
group.

Bytes scanned come from the file scans' "size of files read" SQL metric,
not from the tasks' input metrics: parquet's vectored reads run off the
task thread, so Hadoop's per-thread byte counts, and with them the task
input metrics, see little more than the footers.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from datetime import datetime

_PROGRESS = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent"
_SQL = "org.apache.spark.sql.execution.ui."
_SCAN_BYTES = "size of files read"


@dataclass
class Job:
    job_id: int
    submit_ms: int
    end_ms: int | None = None
    stage_ids: list[int] = field(default_factory=list)


@dataclass
class StageTotals:
    completed: bool = False
    tasks: int = 0
    failed_tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    input_records: int = 0
    output_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


@dataclass
class Progress:
    run_id: str
    trigger_ms: int
    duration_ms: int
    state_rows: int


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    stages: dict[int, StageTotals] = field(default_factory=dict)
    progress: list[Progress] = field(default_factory=list)
    sql_start_ms: dict[int, int] = field(default_factory=dict)  # execution id -> start
    scan_bytes: dict[int, int] = field(default_factory=dict)  # execution id -> bytes
    scan_accums: set[int] = field(default_factory=set)  # "size of files read" ids


def _iso_ms(ts: str) -> int:
    return int(datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp() * 1000)


def _scan_accums(node: dict, out: set[int]) -> None:
    """Collect the accumulator ids of every file scan's bytes metric."""
    for m in node.get("metrics", []):
        if m["name"] == _SCAN_BYTES:
            out.add(m["accumulatorId"])
    for child in node.get("children", []):
        _scan_accums(child, out)


def parse(lines) -> EventLog:
    """Fold event-log lines (an iterable of JSON strings) into an EventLog."""
    log = EventLog()
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            job = Job(ev["Job ID"], ev["Submission Time"], stage_ids=list(ev.get("Stage IDs", [])))
            log.jobs[job.job_id] = job
        elif kind == "SparkListenerJobEnd":
            job = log.jobs.get(ev["Job ID"])
            if job is not None:
                job.end_ms = ev["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            log.stages.setdefault(ev["Stage Info"]["Stage ID"], StageTotals()).completed = True
        elif kind == "SparkListenerTaskEnd":
            st = log.stages.setdefault(ev["Stage ID"], StageTotals())
            st.tasks += 1
            if ev["Task Info"].get("Failed") or ev["Task End Reason"].get("Reason") != "Success":
                st.failed_tasks += 1
            m = ev.get("Task Metrics") or {}
            st.run_ms += m.get("Executor Run Time", 0)
            st.cpu_ns += m.get("Executor CPU Time", 0)
            st.gc_ms += m.get("JVM GC Time", 0)
            st.input_records += m.get("Input Metrics", {}).get("Records Read", 0)
            st.output_bytes += m.get("Output Metrics", {}).get("Bytes Written", 0)
            sr = m.get("Shuffle Read Metrics", {})
            st.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            st.shuffle_write_bytes += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            st.spill_bytes += m.get("Disk Bytes Spilled", 0)
        elif kind == _SQL + "SparkListenerSQLExecutionStart":
            log.sql_start_ms[ev["executionId"]] = ev["time"]
            _scan_accums(ev["sparkPlanInfo"], log.scan_accums)
        elif kind == _SQL + "SparkListenerSQLAdaptiveExecutionUpdate":
            _scan_accums(ev["sparkPlanInfo"], log.scan_accums)
        elif kind == _SQL + "SparkListenerDriverAccumUpdates":
            n = sum(v for acc, v in ev["accumUpdates"] if acc in log.scan_accums)
            log.scan_bytes[ev["executionId"]] = log.scan_bytes.get(ev["executionId"], 0) + n
        elif kind == _PROGRESS:
            p = ev["progress"]
            log.progress.append(
                Progress(
                    run_id=p["runId"],
                    trigger_ms=_iso_ms(p["timestamp"]),
                    duration_ms=p.get("durationMs", {}).get("triggerExecution", 0),
                    state_rows=sum(op.get("numRowsTotal", 0) for op in p.get("stateOperators", [])),
                )
            )
    return log


def read(path: str) -> EventLog:
    with open(path, encoding="utf-8") as fh:
        return parse(fh)


def _union_ms(intervals: list[tuple[int, int]]) -> int:
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _window_of(t_ms: float, windows: list[tuple[float, float]]) -> int | None:
    for i, (s, e) in enumerate(windows):
        if s <= t_ms <= e:
            return i
    return None


def summarize(log: EventLog, windows: list[tuple[float, float]]) -> dict[str, float]:
    """Totals over the op windows (epoch milliseconds, non-overlapping).

    ``job_busy_s`` is the union of job intervals inside each window,
    clipped to it; ``driver_gap_s`` is the windows' wall time minus that.
    """
    stage_owner: dict[int, int] = {}
    busy: dict[int, list[tuple[int, int]]] = {}
    jobs = 0
    for job in log.jobs.values():
        w = _window_of(job.submit_ms, windows)
        if w is None:
            continue
        jobs += 1
        end = job.end_ms if job.end_ms is not None else job.submit_ms
        busy.setdefault(w, []).append((job.submit_ms, min(end, int(windows[w][1]) + 1)))
        for sid in job.stage_ids:
            stage_owner.setdefault(sid, w)
    out = dict.fromkeys(
        (
            "stages tasks failed_tasks input_records output_bytes shuffle_read_bytes "
            "shuffle_write_bytes spill_bytes"
        ).split(),
        0,
    )
    run_ms = cpu_ns = gc_ms = 0
    for sid, st in log.stages.items():
        if sid not in stage_owner:
            continue
        out["stages"] += st.completed
        out["tasks"] += st.tasks
        out["failed_tasks"] += st.failed_tasks
        run_ms += st.run_ms
        cpu_ns += st.cpu_ns
        gc_ms += st.gc_ms
        for k in ("input_records", "output_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
            out[k] += getattr(st, k)
    out["scan_bytes"] = sum(
        n for ex, n in log.scan_bytes.items() if _window_of(log.sql_start_ms.get(ex, -1), windows) is not None
    )
    wall_ms = sum(e - s for s, e in windows)
    busy_ms = sum(_union_ms(v) for v in busy.values())
    out.update(
        jobs=jobs,
        job_busy_s=busy_ms / 1000,
        driver_gap_s=max(wall_ms - busy_ms, 0) / 1000,
        exec_run_s=run_ms / 1000,
        exec_cpu_s=cpu_ns / 1e9,
        gc_s=gc_ms / 1000,
        cpu_ratio=(cpu_ns / 1e6) / run_ms if run_ms else 0.0,
        parallelism=run_ms / busy_ms if busy_ms else 0.0,
    )
    last_state: dict[str, int] = {}
    batches = batch_ms = 0
    for p in log.progress:
        if _window_of(p.trigger_ms, windows) is None:
            continue
        batches += 1
        batch_ms += p.duration_ms
        last_state[p.run_id] = p.state_rows
    out.update(
        batches=batches,
        batch_s=batch_ms / 1000,
        state_rows=sum(last_state.values()),
    )
    return out
