"""Tracing for the benchmark's per-layer run.

Spans are timed from outside the engine, around the public call into each
layer, and kept in memory until the run ends:

- ``Tracer.span`` records one span (name, start, end, parent, step) and
  tags the Spark jobs submitted inside it with a job group, so that their
  executor work can be attributed to the layer and the step.
- ``TracedTable`` delegates to a table layout and times its ``upsert``;
  ``instrument`` wraps the other public calls (``read_partitions``,
  ``compact``, ``catalog.sync_external_table``, ``readers.load_table``).
- ``ProgressListener`` keeps the ``StreamingQueryProgress`` of every trigger.
- ``spark_layers`` reads every job and stage of the run back from Spark's
  status store at the end of the run, attributes the jobs to the timed
  steps and takes per-step medians of jobs, tasks, task time, shuffle bytes
  and output bytes.

With tracing off, ``Tracer(enabled=False)`` records nothing and wraps
nothing; the listener is still used, because trigger start times come from
the engine's own progress reports.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import functools
import json
import os
import statistics
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener

_GROUP = "perfbench"
_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    step: int


@dataclass
class Tracer:
    """In-memory span recorder. ``step`` is the id shared by all spans of
    the current step (-1 outside timed steps)."""

    spark: object
    enabled: bool
    step: int = -1
    spans: list[Span] = field(default_factory=list)
    _stack: threading.local = field(default_factory=threading.local)

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._stack.__dict__.setdefault("names", [])
        parent = stack[-1] if stack else None
        jsc = self.spark.sparkContext._jsc
        saved = [jsc.getLocalProperty(p) for p in _PROPS]
        jsc.setJobGroup(f"{_GROUP}|{self.step}|{name}", name, False)
        stack.append(name)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            stack.pop()
            for prop, value in zip(_PROPS, saved):
                jsc.setLocalProperty(prop, value)
            self.spans.append(Span(name, start, end, parent, self.step))

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def timed(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return timed

    def per_step(self, name: str) -> dict[int, float]:
        """Total seconds spent in spans called ``name``, per step."""
        out: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s.name == name and s.step >= 0:
                out[s.step] += s.end - s.start
        return out

    def calls(self, name: str) -> list[float]:
        """Duration of every timed-step span called ``name``."""
        return [s.end - s.start for s in self.spans if s.name == name and s.step >= 0]

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus the time its child spans cover."""
        child: dict[tuple, float] = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child[(s.step, s.parent)] += s.end - s.start
        total: dict[tuple, float] = defaultdict(float)
        for s in self.spans:
            total[(s.step, s.name)] += s.end - s.start
        out: dict[str, float] = defaultdict(float)
        for (step, name), secs in total.items():
            if step >= 0:
                out[name] += secs - child[(step, name)]
        return dict(out)

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                {
                    **extra,
                    "self_s": self.self_times(),
                    "spans": [s.__dict__ for s in self.spans],
                },
                f,
            )


class TracedTable:
    """Delegates every attribute to ``table``; times ``upsert``."""

    def __init__(self, table, tracer: Tracer, name: str) -> None:
        self._table = table
        self._tracer = tracer
        self._name = name

    def upsert(self, batch) -> None:
        with self._tracer.span(self._name):
            self._table.upsert(batch)

    def __getattr__(self, attr):
        return getattr(self._table, attr)


@contextlib.contextmanager
def instrument(tracer: Tracer, tables=()):
    """Wrap the layers' public calls for the duration of the block.

    Module attributes are patched where the engine resolves them at call
    time: the table layouts call ``catalog.sync_external_table`` through the
    module, and ``queries.base`` holds its own reference to
    ``readers.load_table``."""
    if not tracer.enabled:
        yield
        return
    from aws_glue_streaming_etl_with_apache_hudi_spark import catalog
    from aws_glue_streaming_etl_with_apache_hudi_spark.queries import base
    from aws_glue_streaming_etl_with_apache_hudi_spark.sources import readers

    patched = [
        (catalog, "sync_external_table", "catalog.sync"),
        (readers, "load_table", "sources.load_table"),
        (base, "load_table", "sources.load_table"),
    ]
    for table in tables:
        for method, name in (
            ("read_partitions", "operators.upsert.read_partitions"),
            ("compact", "operators.mor.compact"),
        ):
            if hasattr(table, method):
                patched.append((table, method, name))
    saved = []
    for owner, attr, name in patched:
        saved.append((owner, attr, owner.__dict__.get(attr)))
        setattr(owner, attr, tracer.wrap(name, getattr(owner, attr)))
    try:
        yield
    finally:
        for owner, attr, old in reversed(saved):
            if old is None:
                delattr(owner, attr)  # an instance attribute shadowing a method
            else:
                setattr(owner, attr, old)


class ProgressListener(StreamingQueryListener):
    """Keeps the progress report of every trigger that read input."""

    def __init__(self) -> None:
        self.progress: dict[int, dict] = {}
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:  # noqa: N802 (Spark API)
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        if not p.numInputRows:
            return
        start = dt.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00"))
        with self._lock:
            self.progress[(str(p.id), p.batchId)] = {
                "start": start.timestamp(),
                "rows": p.numInputRows,
                "duration_ms": dict(p.durationMs or {}),
            }

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def wait_for(self, query_id: str, batch_ids: list[int], timeout_s: float = 30.0) -> list[dict]:
        """The reports of ``batch_ids`` of one query, in order. They arrive
        asynchronously, so wait until all are in."""
        deadline = time.monotonic() + timeout_s
        while True:
            with self._lock:
                missing = [b for b in batch_ids if (query_id, b) not in self.progress]
                if not missing:
                    return [self.progress[(query_id, b)] for b in batch_ids]
            if time.monotonic() > deadline:
                raise TimeoutError(f"no progress report for batches {missing}")
            time.sleep(0.05)


def read_jobs(spark) -> list[dict]:
    """Every job of the session, from Spark's status store (the live record
    the Spark UI reads, kept whether or not tracing is on): submission time
    (epoch s), the step and span of its job group (-1 and "" when it ran
    outside any span), and its stages' completed tasks, task run time,
    shuffle bytes written and output bytes written. A stage shared by
    several jobs runs in the first of them and counts there."""
    sc = spark.sparkContext
    core = sc._jsc.sc()
    core.listenerBus().waitUntilEmpty()  # the store is fed asynchronously
    store = core.statusStore()
    as_java = sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    stages: dict[int, list[tuple]] = defaultdict(list)  # one entry per attempt
    for s in as_java(store.stageList(None, False, False, no_quantiles, None)):
        stages[s.stageId()].append(
            (s.numCompleteTasks(), s.executorRunTime() / 1000.0, s.shuffleWriteBytes(), s.outputBytes())
        )
    jobs = []
    counted: set[int] = set()
    for j in sorted(as_java(store.jobsList(None)), key=lambda j: j.jobId()):
        group = j.jobGroup().get() if j.jobGroup().isDefined() else ""
        step, span = -1, ""
        if group.startswith(_GROUP + "|"):
            _, s, span = group.split("|", 2)
            step = int(s)
        job = {
            "time": j.submissionTime().get().getTime() / 1000.0 if j.submissionTime().isDefined() else 0.0,
            "step": step,
            "span": span,
            "tasks": 0,
            "task_s": 0.0,
            "shuffle_bytes": 0,
            "bytes_written": 0,
        }
        for sid in as_java(j.stageIds()):
            if sid in counted:
                continue
            counted.add(sid)
            for tasks, task_s, shuffle, written in stages.get(sid, ()):
                job["tasks"] += tasks
                job["task_s"] += task_s
                job["shuffle_bytes"] += shuffle
                job["bytes_written"] += written
        jobs.append(job)
    return jobs


def spark_layers(
    spark,
    windows: list[tuple[float, float]],
    input_bytes: list[int],
    writers: dict[str, set[str]],
) -> dict[str, float]:
    """Per-step medians of the Spark work under each timed step. A job
    belongs to the step named in its job group, or, when it ran outside any
    span, to the step whose wall-clock window holds its submission.
    ``writers`` names, per table layout, the spans whose output bytes are
    that layout's writes; with ``input_bytes`` (per step) they give its write
    amplification."""
    keys = ("jobs", "tasks", "task_s", "shuffle_bytes")
    per_step = [dict.fromkeys(keys, 0) for _ in windows]
    written = {layout: [0] * len(windows) for layout in writers}
    for job in read_jobs(spark):
        step = job["step"]
        if step < 0:
            step = next(
                (i for i, (lo, hi) in enumerate(windows) if lo - 0.002 <= job["time"] <= hi),
                -1,
            )
        if not 0 <= step < len(windows):
            continue
        acc = per_step[step]
        acc["jobs"] += 1
        for k in keys[1:]:
            acc[k] += job[k]
        for layout, spans in writers.items():
            if job["span"] in spans:
                written[layout][step] += job["bytes_written"]

    def med(values) -> float:
        return statistics.median(values) if values else 0.0

    out = {
        "spark.jobs": med([s["jobs"] for s in per_step]),
        "spark.tasks": med([s["tasks"] for s in per_step]),
        "spark.task_s": med([s["task_s"] for s in per_step]),
        "spark.shuffle_bytes": med([s["shuffle_bytes"] for s in per_step]),
    }
    for layout, per in written.items():
        out[f"storage.{layout}.bytes_written"] = med(per)
        out[f"storage.{layout}.write_amp"] = med([w / b for w, b in zip(per, input_bytes)])
    return out
