"""Traced-run support: spans, Spark event-log attribution and the
per-layer metrics.

Everything is measured from outside the engine:

- query spans come from the benchmark's own timers around the
  query-function call (``plan``) and the sink call (``exec``);
- job, stage and task figures come from Spark's uncompressed event log,
  which the traced run enables on its own session. Driver-thread jobs are
  attributed to a query through the ``setJobDescription`` label the
  benchmark sets; streaming jobs run on their own threads without it and
  are attributed through their ``sql.streaming.queryId`` local property,
  mapped to the query that started them by a ``StreamingQueryListener``;
- micro-batch phases come from that listener's progress events.

Spans are kept in memory and written out when the run ends. Every span of
a run carries the run id; a span's self time is its duration minus the
part of it that its children cover.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import uuid
from collections import defaultdict
from dataclasses import dataclass, field

from workloads import LAYERS

LABEL_PREFIX = "perfbench"

MODULE_METRICS = (
    "plan_s",
    "exec_s",
    "in_jobs_s",
    "driver_gap_s",
    "jobs",
    "stages",
    "tasks",
    "task_run_s",
    "task_cpu_s",
    "gc_s",
    "core_busy_frac",
    "input_mb",
    "shuffle_write_mb",
    "shuffle_read_mb",
    "spill_mb",
    "failed_tasks",
)
STREAMING_METRICS = (
    "batches",
    "empty_batches",
    "useful_batch_frac",
    "add_batch_ms",
    "query_planning_ms",
    "wal_commit_ms",
    "commit_offsets_ms",
    "state_commit_ms",
    "state_rows",
    "state_mem_mb",
)
OTHER_METRICS = (
    "llm.udf_to_python_mb",
    "llm.udf_from_python_mb",
    "mr.records_mapped",
    "mr.pairs_shuffled",
    "mr.output_mb",
    "llm.cache.persisted_rdds",
    "llm.cache.resident_mb",
    "llm.cache.disk_mb",
    "session.start_s",
    "session.warmup_s",
    "trace.overhead_s",
    "trace.consistency_failures",
)

PER_LAYER_NAMES = (
    tuple(f"{m}.{k}" for m in LAYERS for k in MODULE_METRICS)
    + tuple(f"streaming.{k}" for k in STREAMING_METRICS)
    + OTHER_METRICS
)

_MB = 1e6


def label(pass_no: int, step: str) -> str:
    return f"{LABEL_PREFIX}|{pass_no}|{step}"


def parse_label(desc: str | None):
    if not desc or not desc.startswith(LABEL_PREFIX + "|"):
        return None
    _, p, step = desc.split("|", 2)
    return int(p), step


@dataclass
class Sample:
    """One timed step: wall-clock anchors are epoch seconds."""

    pass_no: int
    layer: str
    step: str
    start: float
    plan_s: float
    exec_s: float
    wall_s: float
    ok: bool
    plan_end: float = 0.0
    end: float = 0.0
    jobs: list = field(default_factory=list)


class StreamTracker:
    """Maps streaming query ids and run ids to the benchmark step that
    started them, and keeps each query's progress events."""

    def __init__(self):
        self.current = None  # (pass_no, step) being run by the driver thread
        self.owner: dict[str, tuple[int, str]] = {}
        self.progress: list[tuple[tuple[int, str], dict]] = []
        self._lock = threading.Lock()

    def listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        tracker = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                with tracker._lock:
                    if tracker.current is not None:
                        tracker.owner[str(event.id)] = tracker.current
                        tracker.owner[str(event.runId)] = tracker.current

            def onQueryProgress(self, event):
                p = event.progress
                state = [
                    (s.numRowsTotal, s.commitTimeMs, s.memoryUsedBytes)
                    for s in (p.stateOperators or [])
                ]
                rec = {
                    "query": p.name,
                    "run_id": str(p.runId),
                    "batch": p.batchId,
                    "rows": p.numInputRows,
                    "duration_ms": dict(p.durationMs or {}),
                    "state": state,
                }
                with tracker._lock:
                    owner = tracker.owner.get(str(p.runId))
                    tracker.progress.append((owner, rec))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        return _Listener()


def event_log_conf(log_dir: str) -> list[str]:
    os.makedirs(log_dir, exist_ok=True)
    return [
        "--conf", "spark.eventLog.enabled=true",
        "--conf", f"spark.eventLog.dir=file://{os.path.abspath(log_dir)}",
        "--conf", "spark.eventLog.compress=false",
        "--conf", "spark.eventLog.rolling.enabled=false",
    ]


def read_event_log(log_dir: str):
    """Jobs, stages per job and task records from the one log in
    ``log_dir``."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {len(paths)}")
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    stages_done: dict[int, int] = defaultdict(int)
    wanted = ('"SparkListenerJobStart"', '"SparkListenerJobEnd"', '"SparkListenerTaskEnd"',
              '"SparkListenerStageCompleted"')
    with open(paths[0], encoding="utf-8") as fh:
        for line in fh:
            if not any(w in line[:60] for w in wanted):
                continue
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jid = ev["Job ID"]
                jobs[jid] = {
                    "id": jid,
                    "start": ev["Submission Time"] / 1000.0,
                    "end": None,
                    "label": parse_label(props.get("spark.job.description")),
                    "stream_id": props.get("sql.streaming.queryId"),
                }
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = jid
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                if sid in stage_job:
                    stages_done[stage_job[sid]] += 1
            else:
                tm = ev.get("Task Metrics") or {}
                sr = tm.get("Shuffle Read Metrics") or {}
                sw = tm.get("Shuffle Write Metrics") or {}
                im = tm.get("Input Metrics") or {}
                acc = {}
                for a in (ev.get("Task Info") or {}).get("Accumulables", []):
                    name = a.get("Name")
                    if name in ("data sent to Python workers", "data returned from Python workers"):
                        acc[name] = acc.get(name, 0) + int(a.get("Update") or 0)
                tasks.append(
                    {
                        "job": stage_job.get(ev["Stage ID"]),
                        "ok": (ev.get("Task End Reason") or {}).get("Reason") == "Success",
                        "run_ms": tm.get("Executor Run Time", 0),
                        "cpu_ns": tm.get("Executor CPU Time", 0),
                        "gc_ms": tm.get("JVM GC Time", 0),
                        "input_b": im.get("Bytes Read", 0),
                        "records_in": im.get("Records Read", 0),
                        "sw_b": sw.get("Shuffle Bytes Written", 0),
                        "sw_rec": sw.get("Shuffle Records Written", 0),
                        "sr_b": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                        "spill_b": tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0),
                        "py_to": acc.get("data sent to Python workers", 0),
                        "py_from": acc.get("data returned from Python workers", 0),
                    }
                )
    for jid, n in stages_done.items():
        jobs[jid]["stages"] = n
    return jobs, tasks


def _union(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def attribute(samples: list[Sample], jobs: dict, tracker: StreamTracker) -> None:
    by_step: dict[tuple[int, str], list] = defaultdict(list)
    for j in jobs.values():
        if j["end"] is None:
            continue
        owner = j["label"] or tracker.owner.get(j["stream_id"] or "")
        if owner is not None:
            by_step[owner].append(j)
    for s in samples:
        s.jobs = by_step.get((s.pass_no, s.step), [])


def consistency(samples: list[Sample], jobs: dict) -> tuple[list[dict], list[str]]:
    """Per-sample accounting and the list of broken sums.

    ``in_jobs_s`` is the union of the sample's own job spans inside its
    window; ``driver_gap_s`` is the part of the window no job of any kind
    covers. Their sum equals the wall time exactly when every job that ran
    during the window is attributed to the sample."""
    all_spans = [(j["start"], j["end"]) for j in jobs.values() if j["end"] is not None]
    rows, broken = [], []
    for s in samples:
        lo, hi = s.start, s.start + s.wall_s
        in_jobs = _union([(j["start"], j["end"]) for j in s.jobs], lo, hi)
        gap = s.wall_s - _union(all_spans, lo, hi)
        rows.append({"pass": s.pass_no, "step": s.step, "wall_s": s.wall_s, "plan_s": s.plan_s,
                     "exec_s": s.exec_s, "in_jobs_s": in_jobs, "driver_gap_s": gap,
                     "jobs": len(s.jobs)})
        if abs(s.plan_s + s.exec_s - s.wall_s) > 0.05 * s.wall_s:
            broken.append(f"pass {s.pass_no} {s.step}: plan_s + exec_s = "
                          f"{s.plan_s + s.exec_s:.4f} vs wall {s.wall_s:.4f}")
        if abs(in_jobs + gap - s.wall_s) > 0.002:
            broken.append(f"pass {s.pass_no} {s.step}: in_jobs_s + driver_gap_s = "
                          f"{in_jobs + gap:.4f} vs wall {s.wall_s:.4f} "
                          "(job time not attributed to the query)")
    return rows, broken


def module_metrics(layer: str, samples: list[Sample], rows: list[dict], tasks: list[dict],
                   n_passes: int, cores: int) -> tuple[dict[str, float], dict[str, float]]:
    """The per-module metric set for ``layer``, per timed pass, and the
    layer's Python-boundary and record counts, also per timed pass."""
    job_ids = {j["id"] for s in samples for j in s.jobs}
    my_tasks = [t for t in tasks if t["job"] in job_ids]
    n = max(n_passes, 1)
    m = {
        "plan_s": sum(r["plan_s"] for r in rows) / n,
        "exec_s": sum(r["exec_s"] for r in rows) / n,
        "in_jobs_s": sum(r["in_jobs_s"] for r in rows) / n,
        "driver_gap_s": sum(r["driver_gap_s"] for r in rows) / n,
        "jobs": len(job_ids) / n,
        "stages": sum(j.get("stages", 0) for s in samples for j in s.jobs) / n,
        "tasks": len(my_tasks) / n,
        "task_run_s": sum(t["run_ms"] for t in my_tasks) / 1000.0 / n,
        "task_cpu_s": sum(t["cpu_ns"] for t in my_tasks) / 1e9 / n,
        "gc_s": sum(t["gc_ms"] for t in my_tasks) / 1000.0 / n,
        "input_mb": sum(t["input_b"] for t in my_tasks) / _MB / n,
        "shuffle_write_mb": sum(t["sw_b"] for t in my_tasks) / _MB / n,
        "shuffle_read_mb": sum(t["sr_b"] for t in my_tasks) / _MB / n,
        "spill_mb": sum(t["spill_b"] for t in my_tasks) / _MB / n,
        "failed_tasks": sum(1 for t in my_tasks if not t["ok"]) / n,
    }
    m["core_busy_frac"] = m["task_run_s"] / (m["in_jobs_s"] * cores) if m["in_jobs_s"] else 0.0
    counts = {
        "udf_to_python_mb": sum(t["py_to"] for t in my_tasks) / _MB / n,
        "udf_from_python_mb": sum(t["py_from"] for t in my_tasks) / _MB / n,
        "records_read": sum(t["records_in"] for t in my_tasks) / n,
        "shuffle_records": sum(t["sw_rec"] for t in my_tasks) / n,
    }
    return {f"{layer}.{k}": m[k] for k in MODULE_METRICS}, counts


def streaming_metrics(tracker: StreamTracker, timed_passes: set[int], n_passes: int) -> dict[str, float]:
    recs = [r for owner, r in tracker.progress if owner is not None and owner[0] in timed_passes]
    n = max(n_passes, 1)
    batches = len(recs)
    empty = sum(1 for r in recs if not r["rows"])
    last_state: dict[str, list] = {}
    for r in recs:  # progress events arrive in batch order per run
        last_state[r["run_id"]] = r["state"]

    def dur(key):
        return sum(r["duration_ms"].get(key, 0) for r in recs) / n

    return {
        "streaming.batches": batches / n,
        "streaming.empty_batches": empty / n,
        "streaming.useful_batch_frac": (batches - empty) / batches if batches else 0.0,
        "streaming.add_batch_ms": dur("addBatch"),
        "streaming.query_planning_ms": dur("queryPlanning"),
        "streaming.wal_commit_ms": dur("walCommit"),
        "streaming.commit_offsets_ms": dur("commitOffsets"),
        "streaming.state_commit_ms": sum(s[1] or 0 for r in recs for s in r["state"]) / n,
        "streaming.state_rows": sum(s[0] or 0 for st in last_state.values() for s in st) / n,
        "streaming.state_mem_mb": sum(s[2] or 0 for st in last_state.values() for s in st) / _MB / n,
    }


def build_spans(run_start: float, run_end: float, passes: list[tuple[int, float, float]],
                samples: list[Sample]) -> list[dict]:
    """pass -> query -> plan/exec -> job spans, one run id for all."""
    run_id = uuid.uuid4().hex
    spans: list[dict] = []

    def add(name, kind, start, end, parent, **attrs):
        sid = len(spans)
        spans.append({"id": sid, "parent": parent, "run_id": run_id, "name": name,
                      "kind": kind, "start": start, "end": end, **attrs})
        return sid

    root = add("run", "run", run_start, run_end, None)
    pass_span = {p: add(f"pass {p}", "pass", s, e, root) for p, s, e in passes}
    for s in samples:
        q = add(s.step, "query", s.start, s.start + s.wall_s, pass_span.get(s.pass_no, root),
                pass_no=s.pass_no)
        plan = add("plan", "plan", s.start, s.plan_end, q)
        ex = add("exec", "exec", s.plan_end, s.end, q)
        for j in s.jobs:
            add(f"job {j['id']}", "job", j["start"], j["end"], plan if j["start"] < s.plan_end else ex,
                job_id=j["id"])
    children = defaultdict(list)
    for sp in spans:
        if sp["parent"] is not None:
            children[sp["parent"]].append((sp["start"], sp["end"]))
    for sp in spans:
        dur = sp["end"] - sp["start"]
        sp["self_s"] = dur - _union(children[sp["id"]], sp["start"], sp["end"])
    return spans
