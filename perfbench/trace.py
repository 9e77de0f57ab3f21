"""Tracing for the benchmark's traced run (``--trace 1``).

Three sources, all read from the benchmark's side of the API:

- wrappers around the engine's public ``catalog`` functions, rebound in
  every loaded engine module, that count calls and time spent;
- Spark's own records: job groups named per pass, operation and phase
  (``statusTracker`` reads them back), the uncompressed event log, and a
  ``StreamingQueryListener`` for micro-batch progress;
- sizes of the ``llm.dedup`` module-global caches after each operation.

``parse_event_log`` is a pure function over the log's JSON lines, so it can
be tested on a tiny generated log.
"""

from __future__ import annotations

import json
import sys
import threading
import time
from collections import defaultdict
from collections.abc import Iterable

#: Python UDF SQL metrics (ms and bytes) as they appear in task accumulables
PY_BOOT = "time to start Python workers"
PY_INIT = "time to initialize Python workers"
PY_RUN = "time to run Python workers"
PY_SENT = "data sent to Python workers"
PY_RECEIVED = "data returned from Python workers"

JOB_COUNTERS = (
    "jobs", "stages", "tasks", "task_retries", "executor_cpu_s", "gc_s",
    "shuffle_write_mb", "spill_mb", "input_mb", "python_boot_s",
    "python_init_s", "python_run_s", "python_data_mb", "plan_s",
)

LLM_CACHES = ("_SHINGLE_CACHE", "_CAPPED_INDEX_CACHE", "_CANDIDATE_FRAME_CACHE", "_PAIRS_CACHE")


def group_name(pass_idx: int, op: str, phase: str) -> str:
    return f"perfbench:{pass_idx}:{phase}:{op}"


def parse_group(group: str | None) -> tuple[int, str, str] | None:
    if not group or not group.startswith("perfbench:"):
        return None
    _, pass_idx, phase, op = group.split(":", 3)
    return int(pass_idx), op, phase


def parse_event_log(lines: Iterable[str]) -> dict[int, dict]:
    """Per-job totals from a Spark JSON event log.

    Returns ``{job_id: {"group", "stream_query", "counters": {...}}}``.
    Counters: jobs (1), stages completed, tasks ended, task retries
    (attempt > 0), executor CPU and GC seconds, shuffle-write, disk-spill
    and input megabytes (10^6 bytes), the Python worker boot/init/run
    seconds and bytes exchanged, and plan_s: for each SQL execution whose
    first job is this job, the time from the execution's start to it.
    """
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    exec_start: dict[int, int] = {}
    exec_first_job: dict[int, tuple[int, int]] = {}
    for line in lines:
        e = json.loads(line)
        kind = e.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jid = e["Job ID"]
            jobs[jid] = {
                "group": props.get("spark.jobGroup.id"),
                "stream_query": props.get("sql.streaming.queryId"),
                "counters": dict.fromkeys(JOB_COUNTERS, 0.0) | {"jobs": 1.0},
            }
            for sid in e.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
            eid = props.get("spark.sql.execution.id")
            if eid is not None:
                eid = int(eid)
                first = exec_first_job.get(eid)
                if first is None or e["Submission Time"] < first[1]:
                    exec_first_job[eid] = (jid, e["Submission Time"])
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            exec_start[e["executionId"]] = e["time"]
        elif kind == "SparkListenerStageCompleted":
            jid = stage_job.get(e["Stage Info"]["Stage ID"])
            if jid in jobs:
                jobs[jid]["counters"]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            jid = stage_job.get(e["Stage ID"])
            if jid not in jobs:
                continue
            c = jobs[jid]["counters"]
            info = e.get("Task Info") or {}
            c["tasks"] += 1
            if info.get("Attempt", 0) > 0 or info.get("Speculative"):
                c["task_retries"] += 1
            m = e.get("Task Metrics") or {}
            c["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            c["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            c["shuffle_write_mb"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / 1e6
            c["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 1e6
            c["input_mb"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0) / 1e6
            for acc in info.get("Accumulables", []):
                name, upd = acc.get("Name"), acc.get("Update")
                if not isinstance(upd, (int, float)) and not (isinstance(upd, str) and upd.isdigit()):
                    continue
                upd = float(upd)
                if name == PY_BOOT:
                    c["python_boot_s"] += upd / 1e3
                elif name == PY_INIT:
                    c["python_init_s"] += upd / 1e3
                elif name == PY_RUN:
                    c["python_run_s"] += upd / 1e3
                elif name in (PY_SENT, PY_RECEIVED):
                    c["python_data_mb"] += upd / 1e6
    for eid, (jid, submitted) in exec_first_job.items():
        if eid in exec_start:
            jobs[jid]["counters"]["plan_s"] += max(0, submitted - exec_start[eid]) / 1e3
    return jobs


def _streaming_listener_class():
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def __init__(self, tracer: Tracer):
            self.tracer = tracer

        def onQueryStarted(self, event):
            self.tracer._stream_started(str(event.id))

        def onQueryProgress(self, event):
            self.tracer._stream_progress(event.progress)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            self.tracer._stream_terminated(str(event.id))

    return _Listener


class Tracer:
    """Collects the per-layer records of one traced run.

    ``enable``/``disable`` switch the wrappers, the listener and job-group
    tagging, so a run can interleave traced and untraced executions; the
    event log itself is session-wide and stays on.
    """

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.enabled = False
        self.current: tuple[int, str] | None = None
        #: (pass, op) -> {"table_calls", "table_s", "footer_row_count_calls", "build_jobs"}
        self.calls: dict[tuple[int, str], dict] = defaultdict(lambda: defaultdict(float))
        self.stream_owner: dict[str, tuple[int, str] | None] = {}
        self.stream_done: set[str] = set()
        #: (pass, op) -> list of progress dicts
        self.progress: dict[tuple[int, str], list[dict]] = defaultdict(list)
        self.cache_entries = 0
        self.persisted_mb = 0.0
        self._lock = threading.Condition()
        self._originals: dict[str, object] = {}
        self._listener = None

    # -- switching ---------------------------------------------------
    def enable(self) -> None:
        from data_ingestion_poc_spark import catalog

        if self.enabled:
            return
        for name in ("table", "footer_row_count"):
            orig = getattr(catalog, name)
            self._originals[name] = orig
            _rebind(orig, self._wrap(orig, name))
        if self._listener is None:
            self._listener = _streaming_listener_class()(self)
        self.spark.streams.addListener(self._listener)
        self.enabled = True

    def disable(self) -> None:
        from data_ingestion_poc_spark import catalog

        if not self.enabled:
            return
        for name, orig in self._originals.items():
            _rebind(getattr(catalog, name), orig)
        self.spark.streams.removeListener(self._listener)
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.enabled = False

    def _wrap(self, fn, counter: str):
        def traced(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                if self.current is not None:
                    rec = self.calls[self.current]
                    rec[f"{counter}_calls"] += 1
                    rec[f"{counter}_s"] += time.perf_counter() - t0

        traced.__wrapped__ = fn
        return traced

    # -- per-operation hooks ----------------------------------------
    def phase(self, pass_idx: int, op: str, phase: str) -> None:
        if not self.enabled:
            return
        self.current = (pass_idx, op)
        self.sc.setJobGroup(group_name(pass_idx, op, phase), op)

    def op_done(self, pass_idx: int, op: str) -> None:
        """Record job-group counts and cache sizes once an operation ends,
        and wait (bounded) until its streaming queries reported termination."""
        if not self.enabled:
            return
        tracker = self.sc.statusTracker()
        rec = self.calls[(pass_idx, op)]
        rec["build_jobs"] += len(tracker.getJobIdsForGroup(group_name(pass_idx, op, "build")))
        with self._lock:
            self._lock.wait_for(
                lambda: all(q in self.stream_done for q, o in self.stream_owner.items()
                            if o == (pass_idx, op)),
                timeout=10.0,
            )
        dedup = sys.modules.get("data_ingestion_poc_spark.llm.dedup")
        if dedup is not None:
            self.cache_entries = max(
                self.cache_entries, sum(len(getattr(dedup, n, {})) for n in LLM_CACHES))
        self.current = None

    def pass_done(self) -> None:
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        mb = sum(i.memSize() + i.diskSize() for i in infos) / 1e6
        self.persisted_mb = max(self.persisted_mb, mb)

    # -- listener callbacks (py4j callback thread) ------------------
    def _stream_started(self, qid: str) -> None:
        with self._lock:
            self.stream_owner[qid] = self.current

    def _stream_progress(self, p) -> None:
        ops = p.stateOperators or []
        rec = {
            "durations": dict(p.durationMs or {}),
            "input_rows": int(p.numInputRows or 0),
            "state_rows": sum(int(o.numRowsTotal or 0) for o in ops),
            "state_bytes": sum(int(o.memoryUsedBytes or 0) for o in ops),
        }
        with self._lock:
            owner = self.stream_owner.get(str(p.id))
            if owner is not None:
                self.progress[owner].append(rec)

    def _stream_terminated(self, qid: str) -> None:
        with self._lock:
            self.stream_done.add(qid)
            self._lock.notify_all()


def _rebind(old, new) -> None:
    """Point every engine-module global that refers to ``old`` at ``new``
    (covers ``from ..catalog import footer_row_count`` style imports)."""
    for mod in list(sys.modules.values()):
        if mod is None or not getattr(mod, "__name__", "").startswith("data_ingestion_poc_spark"):
            continue
        for key, val in list(vars(mod).items()):
            if val is old:
                setattr(mod, key, new)


def attribute_jobs(jobs: dict[int, dict], stream_owner: dict) -> dict[tuple[int, str, str], dict]:
    """Sum per-job counters by (pass, op, phase). Streaming micro-batch
    jobs carry the stream's query id instead of a job group; they count
    under phase "stream" of the operation that started the stream."""
    out: dict[tuple[int, str, str], dict] = defaultdict(lambda: dict.fromkeys(JOB_COUNTERS, 0.0))
    for job in jobs.values():
        key = parse_group(job["group"])
        owner = stream_owner.get(job["stream_query"])
        if key is None and owner is not None:
            key = (owner[0], owner[1], "stream")
        if key is None:
            continue
        acc = out[key]
        for k, v in job["counters"].items():
            acc[k] += v
    return out
