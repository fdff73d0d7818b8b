"""Spans and counters recorded from outside the engine.

``Tracer.install`` wraps the public entry points of each engine layer
(the attribute a caller looks up, including modules that bound a name
by value at import) and ``Tracer.uninstall`` puts the originals back.
Nothing is wrapped in an untraced run.

Spans are thread-aware: each thread keeps its own stack, and a span
opened on a thread with an empty stack (the engine's ``run_all`` runs
customer and item on pool threads) takes the harness's current root
span as its parent. A layer's self time is its spans' durations minus
the part of each interval that child spans cover.

Spark jobs are attributed by job group: while a span is open its
thread's ``spark.jobGroup.id`` local property names the span's layer
path, root first (the engine sets job descriptions, never groups), so
every job lands on exactly one path however the threads interleave. A
layer's job count includes the jobs of the layers nested in it.

The tracer's own cost (opening and closing spans, the job and file
counting around them) is timed where it is spent, in ``overhead_s``.
"""

from __future__ import annotations

import os
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

GROUP_PREFIX = "perfbench:"


@dataclass
class Span:
    layer: str
    start: float
    end: float = 0.0
    path: str = ""  # the layers from the root span down to this one
    children: list["Span"] = field(default_factory=list)

    def self_time(self) -> float:
        """Duration minus the union of the children's intervals."""
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in sorted(
            (max(c.start, self.start), min(c.end, self.end)) for c in self.children
        ):
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (self.end - self.start) - covered


class SparkCounters:
    """Exact job, stage and task counts from ``statusTracker``.

    The status store retains only the newest 1000 jobs, so a count is
    never a list length: jobs are the difference in the *max* job id,
    and stages and tasks are read job by job as new ids appear, which
    ``poll`` does after every operation (well under 1000 jobs each)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.groups: set[str] = set()
        self.seen_stages: set[int] = set()
        self.stages = self.tasks = self.failed_tasks = 0
        self.last_job = self.max_job_id()

    def _ids(self, group: str | None) -> list[int]:
        return list(self.tracker.getJobIdsForGroup(group))

    def max_job_id(self) -> int:
        """Over ungrouped jobs and every group a span has opened."""
        ids = self._ids(None)
        for g in list(self.groups):
            ids += self._ids(g)
        return max(ids, default=-1)

    def group_jobs(self, group: str) -> set[int]:
        return set(self._ids(group))

    def mark(self) -> int:
        """Skip past every job so far without accounting it."""
        self.last_job = max(self.last_job, self.max_job_id())
        return self.last_job

    def poll(self) -> int:
        """Account every job since the last poll or mark; returns the
        new max id."""
        top = self.max_job_id()
        for job_id in range(self.last_job + 1, top + 1):
            info = self.tracker.getJobInfo(job_id)
            for stage_id in info.stageIds if info is not None else ():
                if stage_id in self.seen_stages:
                    continue
                st = self.tracker.getStageInfo(stage_id)
                if st is None or st.numCompletedTasks == 0:
                    continue  # skipped: its output was reused
                self.seen_stages.add(stage_id)
                self.stages += 1
                self.tasks += st.numCompletedTasks
                self.failed_tasks += st.numFailedTasks
        self.last_job = max(self.last_job, top)
        return top


def reset_peak_rss(pid: int) -> None:
    """Reset a process's VmHWM to its current resident set."""
    with open(f"/proc/{pid}/clear_refs", "w") as f:
        f.write("5")


def peak_rss_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.local = threading.local()
        self.lock = threading.Lock()
        self.root: Span | None = None
        self.spans: list[Span] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.jobs: dict[str, set[int]] = defaultdict(set)  # by layer path
        self.counters = SparkCounters(spark)
        self.root_layers: set[str] = set()
        self.op_jobs: list[tuple[str, int]] = []  # (root layer, jobs) per operation
        self._root_job = 0
        self.overhead_s = 0.0  # time spent in the tracer's own code
        self._patches: list[tuple[object, str, object]] = []

    # -- spans -------------------------------------------------------------
    def _stack(self) -> list[Span]:
        if not hasattr(self.local, "stack"):
            self.local.stack = []
        return self.local.stack

    def _spent(self, since: float) -> None:
        with self.lock:
            self.overhead_s += time.perf_counter() - since

    def open(self, layer: str) -> Span:
        t0 = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else self.root
        path = f"{parent.path}/{layer}" if parent is not None else layer
        span = Span(layer, time.perf_counter(), path=path)
        group = GROUP_PREFIX + path
        with self.lock:
            if parent is not None:
                parent.children.append(span)
            self.spans.append(span)
            self.counters.groups.add(group)
        stack.append(span)
        self.sc.setLocalProperty("spark.jobGroup.id", group)
        self._spent(t0)
        return span

    def close(self, span: Span) -> None:
        span.end = t0 = time.perf_counter()
        stack = self._stack()
        stack.pop()
        outer = GROUP_PREFIX + stack[-1].path if stack else None
        self.sc.setLocalProperty("spark.jobGroup.id", outer)
        ids = self.counters.group_jobs(GROUP_PREFIX + span.path)
        with self.lock:
            self.jobs[span.path] |= ids
        self._spent(t0)

    def begin_root(self, layer: str) -> Span:
        """A harness-level span (one timed operation) on this thread."""
        self.root_layers.add(layer)
        self._root_job = self.counters.mark()
        self.root = self.open(layer)
        return self.root

    def end_root(self) -> None:
        self.close(self.root)
        self.op_jobs.append((self.root.layer, self.counters.poll() - self._root_job))
        self.root = None

    # -- patching ----------------------------------------------------------
    def _patch(self, owner, name: str, layer: str, after=None) -> None:
        orig = getattr(owner, name)
        tracer = self

        def wrapper(*args, **kwargs):
            span = tracer.open(layer)
            try:
                out = orig(*args, **kwargs)
            finally:
                tracer.close(span)
            if after is not None:
                t0 = time.perf_counter()
                after(tracer, args, out)
                tracer._spent(t0)
            return out

        wrapper.__wrapped__ = orig
        self._patches.append((owner, name, orig))
        setattr(owner, name, wrapper)

    def install(self) -> None:
        from end_to_end_etl_using_snowflake_spark.functions import (
            scripting,
            snowflake_sql,
            sqldialect,
        )
        from end_to_end_etl_using_snowflake_spark.operators.dml import ParquetTable
        from end_to_end_etl_using_snowflake_spark.pipelines import entities
        from end_to_end_etl_using_snowflake_spark.plans.catalog import ManagedTable
        from end_to_end_etl_using_snowflake_spark.sources import pipe
        from end_to_end_etl_using_snowflake_spark.streaming.changelog import Changelog
        from end_to_end_etl_using_snowflake_spark.streaming.tasks import TaskDag

        p = self._patch
        p(pipe.Pipe, "refresh", "sources.refresh", after=_after_refresh)
        p(pipe, "copy_into", "sources.copy_into")
        p(TaskDag, "run_cycle", "tasks.run_cycle", after=_after_run_cycle)
        p(Changelog, "stream_has_data", "changelog.gate")
        for name in ("stream_read", "stream_commit"):
            p(Changelog, name, "changelog.read")
        for name in ("record", "record_linked", "bump"):
            p(Changelog, name, "changelog.record", after=_count("changelog.versions"))
        for name in ("dedup_latest", "merge_dataframes", "fill_identity"):
            p(entities.M, name, "merge.plan")
        for name in ("append", "overwrite", "overwrite_partitions", "truncate"):
            self._patch_write(ManagedTable, name)
        p(ManagedTable, "read_partitions", "catalog.read")
        p(ParquetTable, "column_max", "dml.footer")
        for mod in (sqldialect, snowflake_sql, scripting):
            p(mod, "lower_select", "sqldialect.lower", after=_count("sqldialect.lower_calls"))

    def _patch_write(self, cls, name: str) -> None:
        """A catalog write, counting the new parquet files (by inode, so
        a changelog version hardlinked to the table counts once)."""
        orig = getattr(cls, name)
        tracer = self

        def wrapper(table, *args, **kwargs):
            t0 = time.perf_counter()
            before = _parquet_inodes(table)
            tracer._spent(t0)
            span = tracer.open("catalog.write")
            try:
                return orig(table, *args, **kwargs)
            finally:
                tracer.close(span)
                t0 = time.perf_counter()
                new = {k: v for k, v in _parquet_inodes(table).items() if k not in before}
                with tracer.lock:
                    tracer.counts["catalog.files_written"] += len(new)
                    tracer.counts["catalog.bytes_written"] += sum(new.values())
                tracer._spent(t0)

        self._patches.append((cls, name, orig))
        setattr(cls, name, wrapper)

    def uninstall(self) -> None:
        for owner, name, orig in reversed(self._patches):
            setattr(owner, name, orig)
        self._patches.clear()

    # -- results -----------------------------------------------------------
    def layer_jobs(self, layer: str) -> int:
        """Jobs run inside ``layer``'s spans, nested layers included."""
        return sum(len(ids) for path, ids in self.jobs.items() if layer in path.split("/"))

    def path_jobs(self, prefix: str) -> int:
        """Jobs run inside the spans at layer path ``prefix``, nested
        layers included."""
        return sum(
            len(ids) for path, ids in self.jobs.items()
            if path == prefix or path.startswith(prefix + "/")
        )

    def self_times(self) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s.layer] += s.self_time()
        return out


def _parquet_inodes(table) -> dict[tuple[int, int], int]:
    out = {}
    for root in (table.storage.path, table.changelog.log_path):
        for r, _dirs, files in os.walk(root):
            for f in files:
                if f.endswith(".parquet"):
                    st = os.stat(os.path.join(r, f))
                    out[(st.st_dev, st.st_ino)] = st.st_size
    return out


def _count(key: str):
    def after(tracer: Tracer, args, out) -> None:
        with tracer.lock:
            tracer.counts[key] += 1

    return after


def _after_refresh(tracer: Tracer, args, n_files) -> None:
    pipe = args[0]
    rows = 0
    if n_files:
        changelog = pipe.stage_table.changelog
        rows = changelog._read_meta()["rows"][str(changelog.version)]
    with tracer.lock:
        tracer.counts["sources.files_loaded"] += n_files
        tracer.counts["sources.rows_loaded"] += rows


_TASK_KINDS = (
    ("_raw_tsk", "tasks.raw_tsk_s"),
    ("dim_", "tasks.dim_tsk_s"),
    ("fact_", "tasks.fact_tsk_s"),
    ("truncate_", "tasks.truncate_tsk_s"),
)


def _after_run_cycle(tracer: Tracer, args, runs) -> None:
    with tracer.lock:
        for r in runs:
            if r.state == "SKIPPED":
                tracer.counts["tasks.skipped"] += 1
            if r.completed_time is None:
                continue
            for marker, key in _TASK_KINDS:
                if marker in r.task_name:
                    dur = (r.completed_time - r.scheduled_time).total_seconds()
                    tracer.counts[key] += dur
                    break
