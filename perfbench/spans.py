"""Span recording for the benchmark's traced run.

Spans are recorded only from the benchmark's own code, around calls
into the program's public entry points and around the objects those
entry points accept (importer, exporter, tracer).  Each span sets a
Spark job group of its own, so the jobs it launches are counted with
``statusTracker().getJobIdsForGroup`` and the Spark event log can be
split by span afterwards.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    parent: int | None
    pass_index: int
    group: str
    end: float = 0.0
    jobs: int = 0
    counts: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Recorder:
    """Keeps spans in memory; ``dump`` writes them out at the end.

    With ``spark`` unset (the plain run) a span is only a timer and no
    job group is set, so plain runs pay no tracing cost beyond two
    clock reads."""

    def __init__(self, spark=None):
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.pass_index = 0

    @contextlib.contextmanager
    def span(self, name: str, **counts):
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        group = f"pb-{sid}"
        sp = Span(sid, name, 0.0, parent.id if parent else None, self.pass_index, group)
        sp.counts.update(counts)
        self.spans.append(sp)
        self._stack.append(sp)
        sc = self.spark.sparkContext if self.spark is not None else None
        if sc is not None:
            sc.setJobGroup(group, name)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if sc is not None:
                sp.jobs = len(sc.statusTracker().getJobIdsForGroup(group))
                if parent is not None:
                    sc.setJobGroup(parent.group, parent.name)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)

    def children(self, sp: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == sp.id]

    def self_time(self, sp: Span) -> float:
        return sp.dur - sum(c.dur for c in self.children(sp))

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(
                    json.dumps(
                        {
                            "id": s.id,
                            "name": s.name,
                            "parent": s.parent,
                            "pass": s.pass_index,
                            "start": s.start,
                            "end": s.end,
                            "jobs": s.jobs,
                            **s.counts,
                        }
                    )
                    + "\n"
                )


def plan_time(rec: Recorder, df) -> None:
    """Time Catalyst (analysis, optimisation, physical planning) for
    ``df`` ahead of its action, in the traced run only."""
    if rec.spark is None:
        return
    with rec.span("spark.catalyst"):
        df._jdf.queryExecution().executedPlan()


class _Forwarding:
    """Forwards every attribute to the wrapped object, so checks that
    read private state (``_root``) or optional hooks (``invalidate``)
    see exactly what they would see unwrapped."""

    def __init__(self, inner, rec: Recorder):
        object.__setattr__(self, "_inner", inner)
        object.__setattr__(self, "_rec", rec)

    def __getattr__(self, name):
        return getattr(self._inner, name)

    def __setattr__(self, name, value):
        setattr(self._inner, name, value)


class TimedImporter(_Forwarding):
    def import_table(self, name):
        with self._rec.span("sources.import"):
            return self._inner.import_table(name)


class TimedExporter(_Forwarding):
    def export_table(self, name, df):
        plan_time(self._rec, df)
        with self._rec.span("sources.export"):
            self._inner.export_table(name, df)


class TimedTracer(_Forwarding):
    def materialize(self, uid, df, level="STATEMENT"):
        with self._rec.span("lineage.materialize"):
            return self._inner.materialize(uid, df, level=level)

    def record_mapping(self, src, tgt, *, kind, pairs):
        with self._rec.span("lineage.record_mapping"):
            return self._inner.record_mapping(src, tgt, kind=kind, pairs=pairs)

    def write_manifest(self):
        with self._rec.span("lineage.manifest"):
            return self._inner.write_manifest()


# ---------------------------------------------------------------------------
# Spark event log

_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    spill_mb: float = 0.0
    python_mb: float = 0.0


def parse_event_log(log_dir: str) -> dict[str, GroupStats]:
    """Aggregate task metrics of every job by the job group that
    launched it.  Expects one uncompressed, non-rolling log file."""
    stage_group: dict[int, str | None] = {}
    out: dict[str, GroupStats] = {}
    mb = 1024.0 * 1024.0
    files = sorted(os.listdir(log_dir))
    for fname in files:
        with open(os.path.join(log_dir, fname)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    st = out.setdefault(group, GroupStats())
                    st.jobs += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    out.setdefault(stage_group.get(sid), GroupStats()).stages += 1
                elif kind == "SparkListenerTaskEnd":
                    st = out.setdefault(stage_group.get(ev.get("Stage ID")), GroupStats())
                    st.tasks += 1
                    if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                        st.failed_tasks += 1
                    m = ev.get("Task Metrics") or {}
                    st.executor_run_s += m.get("Executor Run Time", 0) / 1e3
                    st.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
                    st.gc_s += m.get("JVM GC Time", 0) / 1e3
                    sw = m.get("Shuffle Write Metrics") or {}
                    st.shuffle_write_mb += sw.get("Shuffle Bytes Written", 0) / mb
                    sr = m.get("Shuffle Read Metrics") or {}
                    st.shuffle_read_mb += (
                        sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    ) / mb
                    st.spill_mb += (
                        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    ) / mb
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                        if acc.get("Name") in (_PY_SENT, _PY_RECV):
                            st.python_mb += float(acc.get("Update") or 0) / mb
    return out


def event_log_conf(conf_dir: str, log_dir: str) -> None:
    """Write a ``spark-defaults.conf`` that turns the event log on,
    uncompressed and not rolling; point ``SPARK_CONF_DIR`` at it before
    the session starts."""
    os.makedirs(conf_dir, exist_ok=True)
    os.makedirs(log_dir, exist_ok=True)
    base = os.environ.get("SPARK_CONF_DIR") or os.path.join(
        os.environ.get("SPARK_HOME", ""), "conf"
    )
    base_file = os.path.join(base, "spark-defaults.conf")
    with open(os.path.join(conf_dir, "spark-defaults.conf"), "w") as f:
        if os.path.isfile(base_file):  # keep the site's own defaults
            with open(base_file) as b:
                f.write(b.read() + "\n")
        f.write("spark.eventLog.enabled true\n")
        f.write(f"spark.eventLog.dir file://{os.path.abspath(log_dir)}\n")
        f.write("spark.eventLog.compress false\n")
        f.write("spark.eventLog.rolling.enabled false\n")
