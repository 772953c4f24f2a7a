"""Spans around the program's public functions, and the Spark event log.

The benchmark never edits the program.  For a traced run it replaces the
public functions below, on the modules their callers look them up on, with
wrappers that record a span (name, start, end, parent, run id) and restores
them afterwards.  Spans live in memory and are written out at the end.

Job-level Spark metrics come from the event log the traced session writes
(``spark.eventLog.enabled``).  Jobs are grouped by the description the
program sets on its emit jobs (``emit:<file>``); jobs without one are
grouped by the span they were submitted in.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import threading
import time
from dataclasses import asdict, dataclass, field

#: (module, attribute) -> span name.  Each attribute is where the caller
#: looks the function up at call time.
WRAPPED = {
    ("planet_dump_ng_spark.pipeline", "split_dump_file"): "sources.split_dump_file",
    ("planet_dump_ng_spark.pipeline", "load_copy_tables"): "pipeline.load_copy_tables",
    ("planet_dump_ng_spark.staging", "stage_table"): "staging.stage_table",
    ("planet_dump_ng_spark.pipeline", "build_planet"): "assembly.build_planet",
    ("planet_dump_ng_spark.pipeline", "write_outputs"): "pipeline.write_outputs",
    ("planet_dump_ng_spark.sinks.xml_sink", "write_xml_file"): "xml_sink.write_xml_file",
    ("planet_dump_ng_spark.sinks.pbf_sink", "write_pbf_file"): "pbf_sink.write_pbf_file",
    ("planet_dump_ng_spark.llm_pipeline", "curate"): "llm_pipeline.curate",
}
#: span name -> position of the ``out_path`` argument, recorded as the
#: span's ``file`` attribute (the pipeline passes it positionally)
OUT_PATH_ARG = {"xml_sink.write_xml_file": 1, "pbf_sink.write_pbf_file": 3}


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float = 0.0
    parent: int | None = None
    run: str = ""
    id: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans.  A span's parent is the innermost open span of the
    same thread; work started on a pool thread hangs under the innermost
    open span of the thread that started the run (which is blocked in the
    call that owns the pool)."""

    def __init__(self):
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self.root: Span | None = None
        self.run = ""
        self._main: list[Span] = []

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str, **attrs) -> Span:
        stack = self._stack()
        parent = stack[-1] if stack else (self._main[-1] if self._main else None)
        with self._lock:
            span = Span(
                name, time.time(), parent=parent.id if parent else None,
                run=self.run, id=len(self.spans) + 1, attrs=attrs,
            )
            self.spans.append(span)
        stack.append(span)
        return span

    def close(self, span: Span) -> None:
        span.end = time.time()
        self._stack().remove(span)

    def start_run(self, run: str) -> Span:
        self.run = run
        self._main = self._stack()
        self.root = self.open("run")
        return self.root

    def end_run(self) -> None:
        self.close(self.root)
        self.root = None
        self._main = []

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


def _wrap(tracer: Tracer, name: str, fn, on_return=None):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        attrs = {}
        if name in OUT_PATH_ARG:
            path = kwargs.get("out_path") or args[OUT_PATH_ARG[name]]
            attrs["file"] = os.path.basename(path)
        span = tracer.open(name, **attrs)
        try:
            result = fn(*args, **kwargs)
        finally:
            tracer.close(span)
        if on_return is not None:
            on_return(result)
        return result

    return traced


class Patched:
    """Context manager for one traced job: opens the job's root span
    ``run`` and installs the tracing wrappers.  ``hooks`` maps a span name
    to a callback run on the wrapped call's result, after its span has
    closed."""

    def __init__(self, tracer: Tracer, run: str, hooks: dict | None = None):
        self.tracer = tracer
        self.run = run
        self.hooks = hooks or {}
        self._saved: list[tuple[object, str, object]] = []

    def __enter__(self) -> "Patched":
        import importlib

        for (mod_name, attr), name in WRAPPED.items():
            mod = importlib.import_module(mod_name)
            fn = getattr(mod, attr)
            self._saved.append((mod, attr, fn))
            setattr(mod, attr, _wrap(self.tracer, name, fn, self.hooks.get(name)))
        self.tracer.start_run(self.run)
        return self

    def __exit__(self, *exc) -> None:
        self.tracer.end_run()
        for mod, attr, fn in reversed(self._saved):
            setattr(mod, attr, fn)
        self._saved.clear()


def self_times(spans: list[Span]) -> dict[str, float]:
    """Summed self time per span name: a span's duration minus the part of
    its interval that its child spans cover."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        covered = _union([(max(c.start, s.start), min(c.end, s.end))
                          for c in kids.get(s.id, [])])
        out[s.name] = out.get(s.name, 0.0) + s.dur - covered
    return out


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# -- Spark event log ---------------------------------------------------------


@dataclass
class Job:
    id: int
    submit: float  # epoch seconds
    end: float = 0.0
    description: str | None = None
    stages: list[int] = field(default_factory=list)


@dataclass
class GroupMetrics:
    tasks: int = 0
    executor_run_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0


def read_event_log(log_dir: str) -> tuple[dict[int, Job], dict[int, GroupMetrics]]:
    """Jobs by id, and task metrics summed per stage id, from the event
    log under ``log_dir`` (a single file, or the rolled ``events_<n>_*``
    files of an ``eventlog_v2_*`` directory)."""
    jobs: dict[int, Job] = {}
    stages: dict[int, GroupMetrics] = {}
    paths = [p for p in glob.glob(os.path.join(log_dir, "**"), recursive=True)
             if os.path.isfile(p) and not os.path.basename(p).startswith("appstatus")]
    for path in sorted(paths, key=_roll_index):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = Job(
                        ev["Job ID"], ev["Submission Time"] / 1000,
                        description=props.get("spark.job.description"),
                        stages=list(ev.get("Stage IDs", [])),
                    )
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000
                elif kind == "SparkListenerTaskEnd":
                    tm = ev.get("Task Metrics") or {}
                    g = stages.setdefault(ev["Stage ID"], GroupMetrics())
                    g.tasks += 1
                    g.executor_run_s += tm.get("Executor Run Time", 0) / 1000
                    g.gc_s += tm.get("JVM GC Time", 0) / 1000
                    sw = tm.get("Shuffle Write Metrics") or {}
                    g.shuffle_write_mb += sw.get("Shuffle Bytes Written", 0) / 1e6
                    g.spill_mb += (
                        tm.get("Memory Bytes Spilled", 0)
                        + tm.get("Disk Bytes Spilled", 0)
                    ) / 1e6
    return jobs, stages


def _roll_index(path: str) -> int:
    parts = os.path.basename(path).split("_")
    return int(parts[1]) if parts[0] == "events" and parts[1].isdigit() else 0


def group_jobs(
    jobs: dict[int, Job],
    stage_metrics: dict[int, GroupMetrics],
    windows: list[tuple[str, float, float]],
    label,
) -> dict[str, GroupMetrics]:
    """Sum stage metrics per job group.  A job with an ``emit:<file>``
    description belongs to ``label(file)``; any other job to the first
    (name, start, end) window its submission falls in.  Jobs outside every
    window are left out.  Each stage counts once, for its first job."""
    out: dict[str, GroupMetrics] = {}
    seen: set[int] = set()
    for job in sorted(jobs.values(), key=lambda j: j.id):
        group = None
        if job.description and job.description.startswith("emit:"):
            group = label(job.description[len("emit:"):])
        else:
            for name, start, end in windows:
                if start <= job.submit <= end:
                    group = name
                    break
        if group is None:
            continue
        acc = out.setdefault(group, GroupMetrics())
        for sid in job.stages:
            if sid in seen or sid not in stage_metrics:
                continue
            seen.add(sid)
            m = stage_metrics[sid]
            acc.tasks += m.tasks
            acc.executor_run_s += m.executor_run_s
            acc.gc_s += m.gc_s
            acc.shuffle_write_mb += m.shuffle_write_mb
            acc.spill_mb += m.spill_mb
    return out


def job_union_s(jobs: dict[int, Job], start: float, end: float, pred) -> float:
    """Wall seconds covered by the jobs submitted in [start, end] that
    satisfy ``pred``."""
    return _union([
        (j.submit, j.end) for j in jobs.values()
        if start <= j.submit <= end and j.end and pred(j)
    ])
