"""Outside-in tracing: spans around public calls, joined to Spark's event log.

A :class:`Tracer` records one span per call the benchmark makes into the
program (name, start, end, parent). When tracing is on, entering a span
sets the Spark job group to the span id, so every job the call submits
from the calling thread carries it in ``SparkListenerJobStart``
properties. Jobs submitted from threads the program starts itself (the
searcher's concurrent cache warm-up) carry no group; they are given to
the innermost span open at their submission time.

Spans stay in memory and are written when the run ends. The event log
is the single uncompressed JSON-lines file Spark writes with
``spark.eventLog.enabled`` and rolling off; :func:`parse_event_log`
reads it with the standard library only, after the SparkContext has
stopped.

:meth:`Tracer.paused` runs a call untraced inside a traced run: no span,
no job group, and Spark's event-log listener detached, so the traced run
can alternate traced and untraced calls and measure what tracing costs
in the same phase of the run.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from pathlib import Path

COUNTERS = ("jobs", "tasks", "max_post_shuffle_partitions", "shuffle_bytes", "gc_ms")


def event_log_conf(log_dir: Path) -> dict[str, str]:
    """Session config that writes a plain-JSON event log into log_dir."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir.resolve().as_uri(),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


@dataclass
class Span:
    id: str
    name: str
    start: float
    end: float | None = None
    parent: str | None = None

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    """Span recorder. ``sc`` is the SparkContext whose job group each
    span sets; with ``sc=None`` spans are timed but no group is set
    (the untraced run uses the same code path at negligible cost)."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._paused = False

    @contextmanager
    def span(self, name: str):
        if self._paused:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(
            id=f"{name}#{len(self.spans)}",
            name=name,
            start=time.time(),
            parent=parent.id if parent else None,
        )
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, s: Span | None) -> None:
        if self.sc is None:
            return
        if s is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(s.id, s.name)

    @contextmanager
    def paused(self):
        """Run the block as an untraced run would: no spans, no job
        group, and the event-log listener detached from Spark's listener
        bus (detaching drains the events already queued, so every event
        of the calls before the block is logged)."""
        sc = self.sc
        jsc = sc._jsc.sc() if sc is not None else None
        logger = jsc.eventLogger().get() if jsc is not None else None
        if logger is not None:
            jsc.removeSparkListener(logger)
        self._paused, self.sc = True, None
        try:
            yield
        finally:
            self._paused, self.sc = False, sc
            if logger is not None:
                jsc.listenerBus().addToEventLogQueue(logger)

    def write(self, path: Path) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")


# -- event log ------------------------------------------------------------
@dataclass
class Job:
    id: int
    submit_ms: int
    group: str | None
    stage_ids: list[int]
    span: str | None = None


@dataclass
class Stage:
    id: int
    num_tasks: int = 0
    post_shuffle: bool = False
    tasks: int = 0
    shuffle_bytes: int = 0
    gc_ms: int = 0


def event_log_file(log_dir: Path) -> Path:
    """The one event-log file (``local-<ts>``) event_log_conf makes."""
    files = [p for p in log_dir.iterdir() if p.is_file() and p.name.startswith("local-")]
    if len(files) != 1:
        raise FileNotFoundError(f"expected one event log in {log_dir}, found {len(files)}")
    return files[0]


def parse_event_log(log_dir: Path) -> tuple[dict[int, Job], dict[int, Stage]]:
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    with open(event_log_file(log_dir)) as fh:
        for line in fh:
            if not line.strip():
                continue
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = Job(
                    id=ev["Job ID"],
                    submit_ms=ev.get("Submission Time", 0),
                    group=props.get("spark.jobGroup.id"),
                    stage_ids=list(ev.get("Stage IDs", [])),
                )
                for info in ev.get("Stage Infos", []):
                    st = stages.setdefault(info["Stage ID"], Stage(info["Stage ID"]))
                    st.num_tasks = info.get("Number of Tasks", 0)
                    st.post_shuffle = bool(info.get("Parent IDs"))
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                st = stages.setdefault(info["Stage ID"], Stage(info["Stage ID"]))
                st.num_tasks = info.get("Number of Tasks", st.num_tasks)
                st.post_shuffle = bool(info.get("Parent IDs")) or st.post_shuffle
            elif kind == "SparkListenerTaskEnd":
                st = stages.setdefault(ev["Stage ID"], Stage(ev["Stage ID"]))
                st.tasks += 1
                m = ev.get("Task Metrics") or {}
                st.gc_ms += m.get("JVM GC Time", 0)
                st.shuffle_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
    return jobs, stages


def attribute(spans: list[Span], jobs: dict[int, Job]) -> None:
    """Set ``job.span``: the span whose id is the job's group, else the
    innermost span open at the job's submission time."""
    ids = {s.id for s in spans}
    for job in jobs.values():
        if job.group in ids:
            job.span = job.group
            continue
        t = job.submit_ms / 1000.0
        best: Span | None = None
        for s in spans:
            if s.end is not None and s.start <= t <= s.end:
                if best is None or s.start >= best.start:
                    best = s
        job.span = best.id if best else None


def span_counters(
    spans: list[Span], jobs: dict[int, Job], stages: dict[int, Stage]
) -> dict[str, dict[str, int]]:
    """Per span id: the five COUNTERS over the jobs attributed to the
    span or any of its descendants. Each stage counts once, under the
    job that ran it."""
    parent = {s.id: s.parent for s in spans}
    out = {s.id: dict.fromkeys(COUNTERS, 0) for s in spans}
    # a stage listed by several jobs ran in the first of them; later
    # jobs list it as skipped (its shuffle output is reused)
    owner: dict[int, int] = {}
    for job in sorted(jobs.values(), key=lambda j: j.id):
        for stage_id in job.stage_ids:
            owner.setdefault(stage_id, job.id)
    for job in jobs.values():
        sid = job.span
        while sid is not None:
            c = out[sid]
            c["jobs"] += 1
            for stage_id in job.stage_ids:
                st = stages.get(stage_id)
                if st is None or st.tasks == 0 or owner[stage_id] != job.id:
                    continue
                c["tasks"] += st.tasks
                c["shuffle_bytes"] += st.shuffle_bytes
                c["gc_ms"] += st.gc_ms
                if st.post_shuffle:
                    c["max_post_shuffle_partitions"] = max(
                        c["max_post_shuffle_partitions"], st.num_tasks
                    )
            sid = parent[sid]
    return out
