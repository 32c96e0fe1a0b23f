"""Outside-in tracing for the traced run.

Spans are recorded around calls into the engine's public layer
boundaries by patching them from here, so the program itself is
unchanged. Spark work is read back per operation from the status
stores after the operation ends (job groups through ``statusTracker``,
per-stage metrics through ``statusStore().lastStageAttempt``, Python
worker SQL metrics through the SQL status store); that collection runs
between operations and is excluded from the pass wall time.
"""
from __future__ import annotations

import functools
import os
import re
import time
from contextlib import contextmanager


class Span:
    __slots__ = ("name", "start", "end", "parent", "op", "error")

    def __init__(self, name: str, start: float, parent: int | None, op: int | None):
        self.name = name
        self.start = start
        self.end: float | None = None
        self.parent = parent
        self.op = op
        self.error: str | None = None

    @property
    def duration(self) -> float:
        return (self.end or self.start) - self.start

    def as_dict(self, idx: int) -> dict:
        return {
            "id": idx, "name": self.name, "start": self.start, "end": self.end,
            "parent": self.parent, "op": self.op, "error": self.error,
        }


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []
        self.op: int | None = None
        self.consumed: list = []  # DataFrames returned by Stream.consume_spark

    # -- spans -------------------------------------------------------------
    def open(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), parent, self.op))
        idx = len(self.spans) - 1
        self._stack.append(idx)
        return idx

    def close(self, idx: int, error: BaseException | None = None) -> None:
        span = self.spans[idx]
        span.end = time.perf_counter()
        if error is not None:
            span.error = type(error).__name__
        if idx in self._stack:
            del self._stack[self._stack.index(idx):]

    @contextmanager
    def span(self, name: str):
        idx = self.open(name)
        try:
            yield
        except BaseException as e:
            self.close(idx, e)
            raise
        self.close(idx)

    # -- patching ------------------------------------------------------------
    def _set(self, owner, attr: str, value) -> None:
        self._patches.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, value)

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        orig = owner.__dict__[attr]
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with tracer.span(name):
                out = orig(*args, **kwargs)
            if after is not None:
                after(out)
            return out

        self._set(owner, attr, traced)

    def wrap_cm(self, owner, attr: str, name: str) -> None:
        orig = owner.__dict__[attr]
        tracer = self

        @functools.wraps(orig)
        @contextmanager
        def traced(*args, **kwargs):
            with tracer.span(name):
                with orig(*args, **kwargs) as value:
                    yield value

        self._set(owner, attr, traced)

    def wrap_enter_exit(self, owner, name: str) -> None:
        enter, exit_ = owner.__dict__["__enter__"], owner.__dict__["__exit__"]
        tracer = self

        def traced_enter(obj):
            out = enter(obj)
            obj._perfbench_span = tracer.open(name)
            return out

        def traced_exit(obj, exc_type, exc, tb):
            idx = obj.__dict__.pop("_perfbench_span", None)
            try:
                return exit_(obj, exc_type, exc, tb)
            finally:
                if idx is not None:
                    tracer.close(idx, exc)

        self._set(owner, "__enter__", traced_enter)
        self._set(owner, "__exit__", traced_exit)

    def install(self) -> None:
        from patterns_devkit_spark.catalog.backends import JsonFileBackend
        from patterns_devkit_spark.graph.runner import GraphRunner
        from patterns_devkit_spark.node.node import Engine, NodeContext, Stream, Table

        for method in ("append", "upsert", "flush", "delete_where", "update_where", "compact", "read_spark"):
            self.wrap(Table, method, f"node.{method}")
        for method in ("create_branch", "merge_branch"):
            self.wrap(Engine, method, f"node.{method}")
        self.wrap_enter_exit(NodeContext, "node.context")
        for method in ("mutate", "load", "save"):
            self.wrap(JsonFileBackend, method, f"catalog.{method}")
        self.wrap_cm(JsonFileBackend, "transaction", "catalog.transaction")
        self.wrap(Stream, "consume_spark", "stream.consume_spark", after=self._stash)
        self.wrap(GraphRunner, "run_all", "graph.run_all")

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def _stash(self, df) -> None:
        if df is not None:
            self.consumed.append(df)

    def dump(self) -> list[dict]:
        return [s.as_dict(i) for i, s in enumerate(self.spans)]


# -- Spark status-store readers ----------------------------------------------

_PY_METRICS = {
    "time to run Python workers": "arrow.python_run_s",
    "time to start Python workers": "arrow.python_boot_s",
    "time to initialize Python workers": "arrow.python_init_s",
    "data sent to Python workers": "arrow.bytes_to_python",
    "data returned from Python workers": "arrow.bytes_from_python",
}
_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_PLAN_METRIC = re.compile(r"SQLPlanMetric\(([^,]+),(\d+),(\w+)\)")
_VALUE = re.compile(r"([0-9.]+) (B|KiB|MiB|GiB|TiB|ms|s|m|h)\b")


def parse_sql_metric(text: str) -> float:
    """SQL metric strings are either one value ('280 ms') or a total
    followed by a per-task breakdown on the next line."""
    line = text.strip().splitlines()[-1]
    m = _VALUE.match(line)
    return float(m.group(1)) * _UNITS[m.group(2)] if m else 0.0


class SparkReader:
    """Reads what Spark did for one operation's job groups. Each stage
    and each SQL execution is counted once, by the first operation that
    sees it."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self._stages_seen: set[int] = set()
        self._exec_seen = self.sql_store.executionsCount()

    def drain(self) -> None:
        self.jsc.listenerBus().waitUntilEmpty()

    def job_ids(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def jobs(self, group: str) -> dict:
        out = {
            "spark.jobs": 0, "spark.stages": 0, "spark.tasks": 0, "spark.failed_tasks": 0,
            "spark.executor_run_s": 0.0, "spark.executor_cpu_s": 0.0, "spark.gc_s": 0.0,
            "spark.input_bytes": 0, "spark.shuffle_read_bytes": 0,
            "spark.shuffle_write_bytes": 0, "spark.spill_bytes": 0, "spark.disk_spill_bytes": 0,
            "spark.peak_exec_mem_bytes": 0, "intervals": [],
        }
        for job_id in self.job_ids(group):
            job = self.store.job(job_id)
            out["spark.jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                out["intervals"].append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
            for stage_id in self.sc.statusTracker().getJobInfo(job_id).stageIds:
                if stage_id in self._stages_seen:
                    continue
                stage = self.store.lastStageAttempt(stage_id)
                if stage.status().toString() not in ("COMPLETE", "FAILED"):
                    continue
                self._stages_seen.add(stage_id)
                out["spark.stages"] += 1
                out["spark.tasks"] += stage.numTasks()
                out["spark.failed_tasks"] += stage.numFailedTasks()
                out["spark.executor_run_s"] += stage.executorRunTime() / 1e3
                out["spark.executor_cpu_s"] += stage.executorCpuTime() / 1e9
                out["spark.gc_s"] += stage.jvmGcTime() / 1e3
                out["spark.input_bytes"] += stage.inputBytes()
                out["spark.shuffle_read_bytes"] += stage.shuffleReadBytes()
                out["spark.shuffle_write_bytes"] += stage.shuffleWriteBytes()
                out["spark.spill_bytes"] += stage.memoryBytesSpilled() + stage.diskBytesSpilled()
                out["spark.disk_spill_bytes"] += stage.diskBytesSpilled()
                out["spark.peak_exec_mem_bytes"] = max(
                    out["spark.peak_exec_mem_bytes"], stage.peakExecutionMemory()
                )
        return out

    def python_metrics(self) -> dict:
        """Python-worker metrics of every SQL execution started since the
        previous call."""
        out = dict.fromkeys(_PY_METRICS.values(), 0.0)
        count = self.sql_store.executionsCount()
        if count <= self._exec_seen:
            return out
        execs = self.sql_store.executionsList(self._exec_seen, count - self._exec_seen)
        self._exec_seen = count
        for i in range(execs.size()):
            ex = execs.apply(i)
            wanted = [
                (int(acc), _PY_METRICS[name])
                for name, acc, _ in _PLAN_METRIC.findall(ex.metrics().toString())
                if name in _PY_METRICS
            ]
            if not wanted:
                continue
            values = self.sql_store.executionMetrics(ex.executionId())
            for acc, key in wanted:
                v = values.get(acc)
                if v.isDefined():
                    out[key] += parse_sql_metric(v.get())
        return out


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span], lo: float, hi: float) -> dict[str, float]:
    """Per-layer self time of the spans inside [lo, hi]: each span's
    duration minus the union of the intervals its direct children cover,
    summed by layer (the name before the first dot)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None and s.end is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out: dict[str, float] = {}
    for i, s in enumerate(spans):
        if s.end is None or s.start < lo or s.end > hi:
            continue
        covered = union_length(children.get(i, []), s.start, s.end)
        layer = s.name.split(".", 1)[0]
        out[layer] = out.get(layer, 0.0) + s.duration - covered
    return out


def data_files(tables_dir: str) -> dict[tuple[int, int], int]:
    """{(dev, inode): size} of the data files under a warehouse's tables
    directory; hidden and marker files are skipped."""
    out: dict[tuple[int, int], int] = {}
    for dirpath, _, files in os.walk(tables_dir):
        for name in files:
            if name.startswith((".", "_")):
                continue
            st = os.lstat(os.path.join(dirpath, name))
            out[(st.st_dev, st.st_ino)] = st.st_size
    return out
