"""Per-layer metrics of one traced pass, named by the engine's modules."""
from __future__ import annotations

from . import harness as hz
from .tracing import self_times

# per-operation stats summed over the pass: name -> unit
SUMMED = {
    "queries.construct_jobs": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.input_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.failed_tasks": "count",
    "driver.gap_s": "s",
    "arrow.python_run_s": "s",
    "arrow.python_boot_s": "s",
    "arrow.python_init_s": "s",
    "arrow.bytes_to_python": "bytes",
    "arrow.bytes_from_python": "bytes",
    "node.files_written": "count",
    "node.bytes_written": "bytes",
    "stream.rows_consumed": "count",
}

# node.<metric>: the operation kinds it times
NODE_OPS = {
    "node.append_s": ("append",),
    "node.upsert_s": ("upsert",),
    "node.delete_s": ("delete",),
    "node.update_s": ("update",),
    "node.compact_s": ("compact",),
    "node.branch_s": ("branch",),
    "node.merge_branch_s": ("merge_branch",),
    "node.read_s": ("read",),
}

SELF_LAYERS = ("queries", "node", "catalog", "graph", "stream")


def _slope(xs: list[float], ys: list[float]) -> float:
    """Least-squares slope of ys over xs (0 with fewer than two points)."""
    n = len(xs)
    if n < 2:
        return 0.0
    mx, my = sum(xs) / n, sum(ys) / n
    var = sum((x - mx) ** 2 for x in xs)
    return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / var if var else 0.0


def per_layer(rec, tracer, session_start_s: float, untraced_wall_s: float) -> dict:
    lo, hi = rec.ops[0].t0, rec.ops[-1].t1
    spans = [s for s in tracer.spans if s.end is not None and lo <= s.start and s.end <= hi]

    def named(name: str) -> list:
        return [s for s in spans if s.name == name]

    def total(name: str) -> float:
        return sum(s.duration for s in named(name))

    def under(span, ancestor: str) -> bool:
        p = span.parent
        while p is not None:
            if tracer.spans[p].name == ancestor:
                return True
            p = tracer.spans[p].parent
        return False

    m: dict[str, tuple[float, str]] = {"session.start_s": (session_start_s, "s")}
    m["queries.construct_s"] = (total("queries.construct"), "s")
    for key, unit in SUMMED.items():
        m[key] = (sum(op.stats.get(key, 0) for op in rec.ops), unit)
    m["spark.peak_exec_mem_bytes"] = (max(op.stats.get("spark.peak_exec_mem_bytes", 0) for op in rec.ops), "bytes")

    # node: time in the outermost node-layer spans of each operation
    node_time: dict[int, float] = {}
    for s in spans:
        if s.name.startswith("node.") and (s.parent is None or not tracer.spans[s.parent].name.startswith("node.")):
            node_time[s.op] = node_time.get(s.op, 0.0) + s.duration
    for key, kinds in NODE_OPS.items():
        samples = [node_time.get(op.index, 0.0) for op in rec.ops if op.kind in kinds]
        m[key] = (hz.median(samples) if samples else 0.0, "s")
    appends = [op for op in rec.ops if op.kind == "append"]
    files = sum(op.stats.get("node.files_written", 0) for op in appends)
    m["node.files_per_append"] = (files / len(appends) if appends else 0.0, "count")

    commits = [s.duration for s in named("catalog.transaction")]
    m["catalog.commits"] = (len(named("catalog.save")), "count")
    m["catalog.commit_p50_s"] = (hz.p50(commits) if commits else 0.0, "s")
    m["catalog.commit_tail_s"] = (hz.tail(commits)[0] if commits else 0.0, "s")
    m["catalog.load_s"] = (total("catalog.load"), "s")
    m["catalog.conflicts"] = (
        sum(1 for s in spans if s.name.startswith("catalog.") and s.error == "ConcurrentWriteError"),
        "count",
    )
    docs = [(op.index, op.stats["catalog.doc_bytes"]) for op in rec.ops if "catalog.doc_bytes" in op.stats]
    m["catalog.doc_bytes"] = (docs[-1][1] if docs else 0, "bytes")
    m["catalog.doc_bytes_per_op"] = (_slope([i for i, _ in docs], [b for _, b in docs]), "B/op")

    runs = named("graph.run_all")
    graph_nodes = [s for s in named("node.context") if under(s, "graph.run_all")]
    node_s = sum(s.duration for s in graph_nodes)
    m["graph.node_runs"] = (len(graph_nodes), "count")
    m["graph.node_s"] = (node_s, "s")
    m["graph.overhead_s"] = (sum(s.duration for s in runs) - node_s, "s")
    m["stream.consume_s"] = (total("stream.consume_spark"), "s")

    selfs = self_times(tracer.spans, lo, hi)
    for layer in SELF_LAYERS:
        m[f"{layer}.self_s"] = (selfs.get(layer, 0.0), "s")
    m["trace.spans"] = (len(spans), "count")
    m["trace.collect_s"] = (rec.collect_s, "s")
    m["trace.wall_s"] = (rec.wall, "s")
    m["trace.overhead_s"] = (rec.wall - untraced_wall_s, "s")
    return m
