"""The traced run's instruments, all attached from outside the program.

- **Spans.** Every measured call runs in its own Spark job group, so jobs,
  stages and task metrics can be attributed to it afterwards from the
  uncompressed event log (``spark.eventLog.compress=false``).
- **py4j calls.** The gateway client's ``send_command`` is wrapped with a
  counter; a span records how many JVM round-trips its call made.
- **Python time.** ``spark.sql.pyspark.udf.profiler=perf`` profiles every
  Python UDF; a span collects the cProfile stats its actions produced.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    group: str
    t0: float = 0.0
    t1: float = 0.0
    py4j_calls: int = 0
    profile: list = field(default_factory=list)  # pstats.Stats objects

    @property
    def wall(self) -> float:
        return self.t1 - self.t0


class Tracer:
    """Job groups, py4j counts and UDF profiles per named span.

    Inactive tracers (the untraced run) only time the call.
    """

    def __init__(self, spark, active: bool) -> None:
        self.spark = spark
        self.active = active
        self.spans: list[Span] = []
        self.calls = 0
        self._seq = 0
        self._stack: list[Span] = []
        if active:
            client = spark.sparkContext._gateway._gateway_client
            inner = client.send_command

            def counted(*args, **kwargs):
                self.calls += 1
                return inner(*args, **kwargs)

            client.send_command = counted

    def profiling(self, on: bool) -> None:
        if self.active and on:
            self.spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        elif self.active:
            self.spark.conf.unset("spark.sql.pyspark.udf.profiler")

    @contextmanager
    def span(self, name: str):
        """Time a call; when tracing, give it its own job group.  A span
        opened inside another gets the group ``<parent>/<name>``; only
        outermost spans collect UDF profiles."""
        self._seq += 1
        parent = self._stack[-1] if self._stack else None
        group = f"{parent.group}/{name}" if parent else f"pb{self._seq:05d}-{name}"
        sp = Span(name=name, group=group)
        sc = self.spark.sparkContext
        if self.active:
            if parent is None:
                self.spark._profiler_collector.clear_perf_profiles()
            sc.setJobGroup(sp.group, name)
            c0 = self.calls
        self._stack.append(sp)
        sp.t0 = time.monotonic()
        try:
            yield sp
        finally:
            sp.t1 = time.monotonic()
            self._stack.pop()
            if self.active:
                sp.py4j_calls = self.calls - c0
                sc.setJobGroup(parent.group if parent else "pb-untraced", "")
                if parent is None:
                    sp.profile = list(
                        self.spark._profiler_collector._perf_profile_results.values()
                    )
                self.spans.append(sp)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def children(self, parent: Span, prefix: str) -> list[Span]:
        return [s for s in self.spans
                if s.group.startswith(parent.group + "/") and s.name.startswith(prefix)]


# ------------------------------------------------------------ profiles


def profile_seconds(stats_list, *, matches=None) -> float:
    """Total profiled time, or the cumulative time of functions whose
    ``file:function`` label contains one of ``matches``."""
    total = 0.0
    for st in stats_list:
        if matches is None:
            total += st.total_tt
            continue
        for (fname, _line, func), (_cc, _nc, _tt, ct, _callers) in st.stats.items():
            label = f"{fname}:{func}"
            if any(m in label for m in matches):
                total += ct
    return total


def arrow_wait_seconds(stats_list) -> float:
    """Time inside PySpark's Arrow stream reader not spent converting to
    pandas: the worker waiting for, and decoding, batches from the JVM.
    The serializers nest, so the outermost (largest) entry of each counts."""
    total = 0.0
    for st in stats_list:
        load = [ct for (f, _l, fn), (_c, _n, _t, ct, _) in st.stats.items()
                if f.endswith("serializers.py") and fn == "load_stream"]
        conv = [ct for (f, _l, fn), (_c, _n, _t, ct, _) in st.stats.items()
                if f.endswith("serializers.py") and fn == "arrow_to_pandas"]
        total += max(load, default=0.0) - max(conv, default=0.0)
    return total


AC_BUILD = ("aho_corasick.py:build", "aho_corasick.py:add")


# ------------------------------------------------------------ event log


@dataclass
class GroupStats:
    jobs: int = 0
    stages: set = field(default_factory=set)
    tasks: int = 0
    retries: int = 0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    gc_s: float = 0.0
    scheduler_delay_s: float = 0.0
    task_s: dict = field(default_factory=lambda: defaultdict(list))  # stage -> durations
    job_windows: list = field(default_factory=list)  # (submit_ms, complete_ms)

    @property
    def task_skew(self) -> float:
        """Largest max/median task time over the stages with 2+ tasks."""
        skews = [max(d) / statistics.median(d) for d in self.task_s.values()
                 if len(d) > 1 and statistics.median(d) > 0]
        return max(skews, default=0.0)

    @property
    def longest_job_s(self) -> float:
        return max(((b - a) / 1000.0 for a, b in self.job_windows), default=0.0)

    def job_covered_s(self) -> float:
        """Wall time covered by at least one job of the group."""
        covered, end = 0.0, None
        for a, b in sorted(self.job_windows):
            if end is None or a > end:
                covered += b - a
                end = b
            elif b > end:
                covered += b - end
                end = b
        return covered / 1000.0


def read_event_log(events_dir: str) -> dict[str, GroupStats]:
    """Job-group → aggregated job, stage and task metrics."""
    groups: dict[str, GroupStats] = defaultdict(GroupStats)
    job_group: dict[int, str] = {}
    stage_group: dict[int, str] = {}
    submit: dict[int, int] = {}
    for path in sorted(glob.glob(os.path.join(events_dir, "*"))):
        if os.path.isdir(path):
            continue
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    grp = props.get("spark.jobGroup.id") or "pb-untraced"
                    jid = ev["Job ID"]
                    job_group[jid] = grp
                    submit[jid] = ev.get("Submission Time", 0)
                    g = groups[grp]
                    g.jobs += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = grp
                elif kind == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    if jid in job_group:
                        groups[job_group[jid]].job_windows.append(
                            (submit.get(jid, 0), ev.get("Completion Time", 0))
                        )
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    if sid in stage_group and ev["Stage Info"].get("Number of Tasks", 0):
                        groups[stage_group[sid]].stages.add(sid)
                elif kind == "SparkListenerTaskEnd":
                    grp = stage_group.get(ev.get("Stage ID"))
                    if grp is None:
                        continue
                    g = groups[grp]
                    info = ev.get("Task Info", {})
                    m = ev.get("Task Metrics") or {}
                    g.tasks += 1
                    if info.get("Attempt", 0) > 0 or info.get("Failed"):
                        g.retries += 1
                    dur = info.get("Finish Time", 0) - info.get("Launch Time", 0)
                    g.task_s[ev.get("Stage ID")].append(dur / 1000.0)
                    sw = m.get("Shuffle Write Metrics", {})
                    g.shuffle_bytes += sw.get("Shuffle Bytes Written", 0)
                    g.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    g.gc_s += m.get("JVM GC Time", 0) / 1000.0
                    delay = dur - m.get("Executor Run Time", 0) - m.get(
                        "Executor Deserialize Time", 0
                    ) - m.get("Result Serialization Time", 0) - info.get("Getting Result Time", 0)
                    g.scheduler_delay_s += max(delay, 0) / 1000.0
    return groups


def subtree(groups: dict[str, GroupStats], span: Span) -> GroupStats:
    """Stats of a span's own group and every group nested under it."""
    return merge([g for name, g in groups.items()
                  if name == span.group or name.startswith(span.group + "/")])


def merge(stats: list[GroupStats]) -> GroupStats:
    out = GroupStats()
    for g in stats:
        out.jobs += g.jobs
        out.stages |= g.stages
        out.tasks += g.tasks
        out.retries += g.retries
        out.shuffle_bytes += g.shuffle_bytes
        out.spill_bytes += g.spill_bytes
        out.gc_s += g.gc_s
        out.scheduler_delay_s += g.scheduler_delay_s
        for sid, durations in g.task_s.items():
            out.task_s[sid] += durations
        out.job_windows += g.job_windows
    return out
