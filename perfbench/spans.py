"""Spans, Spark job attribution and stream progress for the benchmark.

Every op the benchmark runs is timed by ``Tracer.op`` and split into
named phases by ``Tracer.span``. With tracing on, each phase also sets
the Spark local property ``smse.bench.op=<workload>:<op>:<phase>``; jobs
inherit it (stream and ``foreachBatch`` jobs included), so the event log
can be folded back onto ops and phases by ``read_event_log``. Call-site
strings cannot do this: they do not name the package's modules, and
schema-inference jobs carry none.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import Counter, defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field
from datetime import datetime

PROP = "smse.bench.op"


@dataclass
class Op:
    op_id: str  # "<kind>#<n>"
    start_epoch: float
    wall_s: float = 0.0
    phases: dict[str, float] = field(default_factory=dict)

    @property
    def kind(self) -> str:
        return self.op_id.split("#", 1)[0]


class Tracer:
    def __init__(self, workload: str, enabled: bool):
        self.workload = workload
        self.enabled = enabled
        self.sc = None  # set once the session exists
        self.ops: list[Op] = []
        self._cur: Op | None = None

    @contextmanager
    def op(self, op_id: str):
        rec = Op(op_id, time.time())
        self._cur = rec
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec.wall_s = time.perf_counter() - t0
            self._cur = None
            self.ops.append(rec)

    @contextmanager
    def span(self, phase: str):
        """A named phase of the current op; tags its Spark jobs when on."""
        rec = self._cur
        if self.enabled and self.sc is not None:
            self.sc.setLocalProperty(PROP, f"{self.workload}:{rec.op_id}:{phase}")
        t0 = time.perf_counter()
        try:
            yield
        finally:
            rec.phases[phase] = rec.phases.get(phase, 0.0) + time.perf_counter() - t0
            if self.enabled and self.sc is not None:
                self.sc.setLocalProperty(PROP, None)

    def of_kind(self, *kinds: str) -> list[Op]:
        return [o for o in self.ops if o.kind in kinds]


def _task_fold(acc: Counter, m: dict) -> None:
    acc["tasks"] += 1
    acc["run_ms"] += m.get("Executor Run Time", 0)
    acc["cpu_ns"] += m.get("Executor CPU Time", 0)
    acc["gc_ms"] += m.get("JVM GC Time", 0)
    acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    sr = m.get("Shuffle Read Metrics") or {}
    acc["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    acc["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    acc["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    acc["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)


def event_files(log_dir: str) -> list[str]:
    """The ``events_<n>_<app>`` files of the rolling ``eventlog_v2_*``
    directory under ``log_dir``, in roll order. Compressed logs are
    refused: the benchmark turns compression off because no zstd decoder
    is assumed on the Python side."""
    dirs = glob.glob(os.path.join(log_dir, "eventlog_v2_*"))
    if len(dirs) != 1:
        raise ValueError(f"expected one eventlog_v2_* directory in {log_dir}, found {len(dirs)}")
    files = [f for f in os.listdir(dirs[0]) if f.startswith("events_")]
    if any(f.endswith((".zstd", ".lz4", ".snappy", ".lzf")) for f in files):
        raise ValueError("compressed event log; run with spark.eventLog.compress=false")
    files.sort(key=lambda f: int(f.split("_")[1]))
    return [os.path.join(dirs[0], f) for f in files]


def read_event_log(log_dir: str) -> dict[str, Counter]:
    """Fold a Spark event log into per-tag counters.

    The tag is the ``smse.bench.op`` property of the job or stage.
    Per tag: ``jobs``, ``stages`` (stages actually submitted, so skipped
    stages do not count), and the task-metric sums ``tasks``, ``run_ms``,
    ``cpu_ns``, ``gc_ms``, ``spill_bytes``, ``shuffle_read_bytes``,
    ``shuffle_write_bytes``, ``input_bytes`` and ``output_bytes``.
    Untagged work is folded under the empty tag."""
    out: dict[str, Counter] = defaultdict(Counter)
    stage_tag: dict[int, str] = {}
    for path in event_files(log_dir):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    out[(ev.get("Properties") or {}).get(PROP, "")]["jobs"] += 1
                elif kind == "SparkListenerStageSubmitted":
                    tag = (ev.get("Properties") or {}).get(PROP, "")
                    stage_tag[ev["Stage Info"]["Stage ID"]] = tag
                    out[tag]["stages"] += 1
                elif kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
                    _task_fold(out[stage_tag.get(ev["Stage ID"], "")], ev["Task Metrics"])
    return dict(out)


def fold_ops(tags: dict[str, Counter], workload: str, ops: list[Op], phases: tuple[str, ...] | None = None) -> Counter:
    """Sum the counters of ``ops`` (restricted to ``phases`` if given)."""
    ids = {o.op_id for o in ops}
    acc: Counter = Counter()
    for tag, c in tags.items():
        wl, _, rest = tag.partition(":")
        op_id, _, phase = rest.rpartition(":")
        if wl == workload and op_id in ids and (phases is None or phase in phases):
            acc.update(c)
    return acc


class ProgressLog:
    """Collects ``StreamingQueryProgress`` of every micro-batch that read
    rows: (trigger epoch seconds, durationMs dict)."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        log = self.batches = []

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                if p.numInputRows > 0:
                    ts = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
                    log.append((ts, dict(p.durationMs)))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _Listener()

    def wait_for(self, n: int, timeout_s: float = 20.0) -> None:
        """Progress events arrive asynchronously; wait until ``n`` have."""
        deadline = time.monotonic() + timeout_s
        while len(self.batches) < n and time.monotonic() < deadline:
            time.sleep(0.05)
