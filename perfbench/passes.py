"""A timed pass: one client running a fixed sequence of operations in a
closed loop (each operation starts when the previous one returned).

Untraced, a pass only times its operations; the whole pass runs in one
Spark job group so its Spark totals can be read back afterwards. Traced,
every operation gets its own job group and a root span, and what each
operation did is collected right after it ends; collection time is
excluded from the pass wall time.
"""
from __future__ import annotations

import os
import sys
import time
import traceback
from contextlib import contextmanager, nullcontext

from . import tracing as tr


class Op:
    __slots__ = ("kind", "index", "group", "t0", "t1", "w0", "w1", "failed", "stats")

    def __init__(self, kind: str, index: int, group: str):
        self.kind = kind
        self.index = index
        self.group = group
        self.failed = False
        self.stats: dict = {}

    @property
    def latency(self) -> float:
        return self.t1 - self.t0


class Pass:
    def __init__(self, spark, label: str, tracer: tr.Tracer | None = None):
        self.spark = spark
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.group = f"perfbench-{label}"
        self.reader = tr.SparkReader(spark)
        self.ops: list[Op] = []
        self.freshness: list[float] = []
        self.collect_s = 0.0
        self.warehouse: str | None = None
        self._files: dict = {}
        self._t_start: float | None = None
        self.wall: float | None = None
        self.storage_amp: float | None = None

    @property
    def traced(self) -> bool:
        return self.tracer is not None

    def watch(self, warehouse: str) -> None:
        """Track data files and the catalog document of this warehouse."""
        self.warehouse = warehouse
        if self.traced:
            self._files = tr.data_files(os.path.join(warehouse, "tables"))

    def begin(self) -> None:
        if not self.traced:
            self.sc.setJobGroup(self.group, self.group)
        self._t_start = time.perf_counter()

    def end(self) -> None:
        self.wall = time.perf_counter() - self._t_start - self.collect_s
        self.sc.setJobGroup("perfbench-untimed", "perfbench-untimed")

    @contextmanager
    def op(self, kind: str):
        """Run one operation. A raising operation is logged, counted as
        failed, and the pass goes on."""
        op = Op(kind, len(self.ops), f"{self.group}-op{len(self.ops)}")
        span = None
        if self.traced:
            self.sc.setJobGroup(op.group, kind)
            self.tracer.op = op.index
            span = self.tracer.open(f"op.{kind}")
        op.t0, op.w0 = time.perf_counter(), time.time()
        try:
            yield op
        except Exception:
            traceback.print_exc(file=sys.stderr)
            op.failed = True
        finally:
            op.t1, op.w1 = time.perf_counter(), time.time()
            if self.traced:
                self.tracer.close(span)
                self.tracer.op = None
                self._collect(op)
            self.ops.append(op)

    def span(self, name: str):
        return self.tracer.span(name) if self.traced else nullcontext()

    @contextmanager
    def construct(self, op: Op):
        """Plan construction of a query: its eager jobs get a job group of
        their own."""
        if not self.traced:
            yield
            return
        self.sc.setJobGroup(f"{op.group}-construct", op.kind)
        try:
            with self.tracer.span("queries.construct"):
                yield
        finally:
            self.sc.setJobGroup(op.group, op.kind)

    # -- traced collection ----------------------------------------------------
    def _collect(self, op: Op) -> None:
        t0 = time.perf_counter()
        self.reader.drain()
        construct = self.reader.jobs(f"{op.group}-construct")
        run = self.reader.jobs(op.group)
        stats = {k: construct[k] + run[k] for k in run if k not in ("intervals", "spark.peak_exec_mem_bytes")}
        stats["spark.peak_exec_mem_bytes"] = max(
            construct["spark.peak_exec_mem_bytes"], run["spark.peak_exec_mem_bytes"]
        )
        stats["queries.construct_jobs"] = construct["spark.jobs"]
        covered = tr.union_length(construct["intervals"] + run["intervals"], op.w0, op.w1)
        stats["driver.gap_s"] = max(0.0, (op.w1 - op.w0) - covered)
        stats.update(self.reader.python_metrics())
        if self.warehouse is not None:
            files = tr.data_files(os.path.join(self.warehouse, "tables"))
            new = [size for key, size in files.items() if key not in self._files]
            self._files = files
            stats["node.files_written"] = len(new)
            stats["node.bytes_written"] = sum(new)
            doc = os.path.join(self.warehouse, "catalog.json")
            stats["catalog.doc_bytes"] = os.path.getsize(doc) if os.path.exists(doc) else 0
        rows = 0
        if self.tracer.consumed:
            self.sc.setJobGroup("perfbench-trace", "perfbench-trace")
            rows = sum(df.count() for df in self.tracer.consumed)
            self.tracer.consumed.clear()
        stats["stream.rows_consumed"] = rows
        op.stats = stats
        self.collect_s += time.perf_counter() - t0

    def spark_totals(self) -> dict:
        """Spark totals of a whole untraced pass, read after it ended."""
        self.reader.drain()
        return self.reader.jobs(self.group)
