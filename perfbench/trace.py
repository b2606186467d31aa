"""Traced-run tooling: Spark event-log reader keyed by job tag, a
streaming-progress listener and wrappers that time calls into a layer.

Everything here observes the engine from outside: the benchmark tags the
Spark jobs its own calls start and wraps public methods in its own
process; no engine file is edited."""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

TAG_PREFIX = "bench."
TAGS_PROPERTY = "spark.job.tags"
# a streaming query runs its jobs in a job group named after its run id
GROUP_PROPERTY = "spark.jobGroup.id"


def read_events(path: str):
    """Yield the JSON events of an event log: one file, or a directory
    (Spark 4's rolling ``eventlog_v2_*`` layout) whose files are read in
    name order. A torn last line of a live log is skipped."""
    if os.path.isdir(path):
        files = []
        for root, _dirs, names in os.walk(path):
            files += [os.path.join(root, n) for n in names if not n.startswith(".")]
        files.sort()
    else:
        files = [path]
    for f in files:
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                try:
                    yield json.loads(line)
                except json.JSONDecodeError:
                    continue


def tag_name(label: str, level: int = 0) -> str:
    return f"{TAG_PREFIX}{level}.{label}"


def _label(props: dict | None, groups: dict[str, str]) -> str | None:
    """The innermost benchmark tag of a job: tags carry a nesting level,
    so a checkpoint job inside a wrapped kernel call (level 1) is charged
    to the kernel, not to the workload call around it (level 0). Untagged
    jobs of a streaming query are labelled through ``groups`` (run id ->
    label)."""
    props = props or {}
    best = None
    for tag in props.get(TAGS_PROPERTY, "").split(","):
        if tag.startswith(TAG_PREFIX):
            level, _, label = tag[len(TAG_PREFIX):].partition(".")
            if best is None or int(level) > best[0]:
                best = (int(level), label)
    if best is not None:
        return best[1]
    return groups.get(props.get(GROUP_PROPERTY, ""))


def summarize(events, groups: dict[str, str] | None = None) -> dict[str, dict[str, float]]:
    """Sum Spark work per benchmark label: jobs, stages run, tasks,
    executor run/CPU ms, shuffle bytes written/read, spill bytes."""
    groups = groups or {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    stage_label: dict[int, str] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            label = _label(ev.get("Properties"), groups)
            if label is not None:
                out[label]["jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            label = _label(ev.get("Properties"), groups)
            if label is not None:
                stage_label[ev["Stage Info"]["Stage ID"]] = label
                out[label]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            label = stage_label.get(ev.get("Stage ID"))
            if label is None:
                continue
            m = ev.get("Task Metrics") or {}
            acc = out[label]
            acc["tasks"] += 1
            acc["executor_run_ms"] += m.get("Executor Run Time", 0)
            acc["executor_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
            acc["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            rd = m.get("Shuffle Read Metrics") or {}
            acc["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return {k: dict(v) for k, v in out.items()}


@contextmanager
def job_tag(spark, label: str, level: int = 0):
    """Tag every Spark job started on this thread with ``label`` at
    ``level``. Never start a streaming query under a tag: the query
    thread inherits it and PySpark 4.1's listener then fails to decode
    the query-started event."""
    sc = spark.sparkContext
    tag = tag_name(label, level)
    sc.addJobTag(tag)
    try:
        yield
    finally:
        sc.removeJobTag(tag)


class CallTimer:
    """Counts and times calls to wrapped methods, per name. Calls may come
    from any thread (a streaming query's foreachBatch runs on its own)."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self._lock = threading.Lock()
        # while set, wrapped calls also tag the jobs they start (level 1)
        self.tag_label: str | None = None
        self.calls: dict[str, int] = defaultdict(int)
        self.ms: dict[str, float] = defaultdict(float)

    def record(self, name: str, ms: float) -> None:
        with self._lock:
            self.calls[name] += 1
            self.ms[name] += ms

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a wrapper that times each call."""
        orig = getattr(owner, attr)

        def timed(*args, **kwargs):
            label = self.tag_label
            t0 = time.perf_counter()
            try:
                if label is None:
                    return orig(*args, **kwargs)
                with job_tag(self.spark, label, level=1):
                    return orig(*args, **kwargs)
            finally:
                self.record(name, (time.perf_counter() - t0) * 1e3)

        setattr(owner, attr, timed)

    def reset(self) -> None:
        with self._lock:
            self.calls.clear()
            self.ms.clear()


class ProgressListener(StreamingQueryListener):
    """Keeps every micro-batch progress report, keyed by query id, and
    the run id of each query (its job group)."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.progress: dict[str, list[dict]] = defaultdict(list)
        self.run_ids: dict[str, str] = {}
        self.terminated: set[str] = set()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        state = p.stateOperators[0] if p.stateOperators else None
        row = {
            "batch_id": p.batchId,
            "num_input_rows": p.numInputRows,
            "duration_ms": dict(p.durationMs),
            "state_rows_total": state.numRowsTotal if state else 0,
            "state_memory_bytes": state.memoryUsedBytes if state else 0,
            "state_commit_ms": state.commitTimeMs if state else 0,
        }
        with self._lock:
            self.progress[str(p.id)].append(row)
            self.run_ids[str(p.id)] = str(p.runId)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._lock:
            self.terminated.add(str(event.id))

    def batches(self, query_id: str) -> list[dict]:
        with self._lock:
            return list(self.progress.get(str(query_id), []))

    def wait_terminated_new(self, known: set[str], timeout_s: float = 30.0) -> str:
        """Id of the one query terminated that is not in ``known``, once its
        termination event (posted after its last progress) has arrived."""
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            with self._lock:
                new = self.terminated - known
            if new:
                (qid,) = new
                return qid
            time.sleep(0.01)
        raise TimeoutError("no query termination event")

    def wait_terminated(self, query_id: str, timeout_s: float = 30.0) -> None:
        """Progress events arrive asynchronously; the terminated event is
        posted after the last progress event, so waiting for it means the
        listener has seen every batch."""
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            with self._lock:
                if str(query_id) in self.terminated:
                    return
            time.sleep(0.01)
        raise TimeoutError(f"no termination event for query {query_id}")
