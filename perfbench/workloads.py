"""The benchmark's two workloads. Each takes its inputs from the seed,
runs whole passes through a ``Pass`` recorder, and checks its own
outputs after the timed part.

- ``query_mix``: registry queries on the fixtures, each operation a
  cache clear, plan construction and a noop-sink write.
- ``lakehouse``: on a fresh warehouse, small record-list appends into a
  source table, each followed by GraphRunner.run_all over a
  stream-consuming stats node and a SQL top-N node; then the Table SDK
  write path on the orders table (append, upserts, stacked
  deletion-vector deletes, update, compaction, branch fork and merge),
  with a full read after every write.
"""
from __future__ import annotations

import os
import random
import re
import time

from . import harness as hz
from .passes import Pass

GRAPH_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "graph_ingest")


def _noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    name = ""
    PASS_SECONDS = 10.0  # nominal length of one pass on 4 cores

    def __init__(self, seed: int, fixtures: str, run_dir: str):
        self.seed = seed
        self.fixtures = fixtures
        self.warehouses = os.path.join(run_dir, "warehouses")

    def passes(self, seconds: float) -> int:
        """Timed passes for a run of `seconds`: fixed per run length, so
        the host's speed never changes how many passes are taken."""
        return max(1, round(seconds / self.PASS_SECONDS))

    def warm_up(self, spark) -> None:
        """Untimed: run the workload's code paths once."""

    def run_pass(self, rec: Pass) -> None:
        raise NotImplementedError

    def ingest_rows(self) -> int:
        """User rows one pass ingests."""
        raise NotImplementedError

    def check(self, rec: Pass) -> list[str]:
        """Untimed correctness check of a pass's outputs: one line per
        wrong output."""
        raise NotImplementedError

    def storage_amp(self, rec: Pass) -> float:
        raise NotImplementedError


# =====================================================================
# query_mix
# =====================================================================

# A cheap query where per-job overhead dominates (q18), a six-table join
# over lineitem (q05), eager plan-construction jobs (q123) and the Arrow
# boundary into pandas UDFs (q264).
QUERY_SLICE = [
    "q18_topk",
    "q05_region_volume",
    "q123_pagerank",
    "q264_ivfpq_ann",
]


class QueryMix(Workload):
    name = "query_mix"
    PASS_SECONDS = 7.0

    def __init__(self, seed, fixtures, run_dir):
        super().__init__(seed, fixtures, run_dir)
        from patterns_devkit_spark.queries import ORACLES, QUERIES

        self.queries, self.oracles = QUERIES, ORACLES
        self.order = list(QUERY_SLICE)
        random.Random(seed).shuffle(self.order)
        self.outputs: dict = {}

    def warm_up(self, spark) -> None:
        # the warm-up pass also produces the outputs the check compares
        for name in self.order:
            spark.catalog.clearCache()
            self.outputs[name] = self.queries[name](spark, self.fixtures).toPandas()

    def run_pass(self, rec: Pass) -> None:
        spark = rec.spark
        rec.begin()
        for name in self.order:
            with rec.op(name) as op:
                spark.catalog.clearCache()
                with rec.construct(op):
                    df = self.queries[name](spark, self.fixtures)
                _noop_write(df)
            rec.freshness.append(op.latency)
        rec.end()

    def ingest_rows(self) -> int:
        """Rows of the fixture tables the pass's queries read (the tables
        each query's oracle SQL names)."""
        rows = {t: hz.fixture_rows(self.fixtures, t) for t in hz.FIXTURE_TABLES}
        total = 0
        for name in self.order:
            sql = self.oracles[name]
            total += sum(n for t, n in rows.items() if re.search(rf"\b{t}\b", sql))
        return total

    def check(self, rec: Pass) -> list[str]:
        problems = []
        oracles = hz.OracleCache(self.fixtures)
        for name in self.order:
            why = hz.frames_differ(self.outputs[name], oracles.answer(name, self.oracles[name]))
            if why:
                problems.append(f"{name}: {why}")
        return problems

    def storage_amp(self, rec: Pass) -> float:
        """No warehouse here: bytes that shuffles and spills wrote to local
        disk per byte of fixture input read."""
        t = rec.spark_totals()
        return (t["spark.shuffle_write_bytes"] + t["spark.disk_spill_bytes"]) / t["spark.input_bytes"]


# =====================================================================
# lakehouse: graph ingest, then the SDK lifecycle, on one warehouse
# =====================================================================

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_NEG_OFFSET = 1_000_000_000  # merge-on-read inserts: keys that collide with nothing


class StaleOutput(RuntimeError):
    """run_all returned without the outputs reflecting the last batch."""


def make_batches(rng: random.Random, n_batches: int, first_id: int = 1) -> list[list[dict]]:
    """Record lists of 20-200 events, sizes evenly spaced and shuffled so
    every seed appends the same number of rows; user ids are skewed (a
    few users own most events)."""
    sizes = [20 + 180 * i // max(1, n_batches - 1) for i in range(n_batches)]
    rng.shuffle(sizes)
    batches, next_id = [], first_id
    for size in sizes:
        batch = []
        for _ in range(size):
            batch.append(
                {
                    "event_id": next_id,
                    "user_id": min(int(rng.paretovariate(1.2)), 500),
                    "event_type": rng.choice(EVENT_TYPES),
                    "value": round(rng.random() * 100.0, 2),
                }
            )
            next_id += 1
        batches.append(batch)
    return batches


def _mod(rng: random.Random) -> tuple[int, int]:
    """A ~1% key slice `o_orderkey % m = r`; r >= 1 never matches the
    negative keys the upserts insert."""
    m = rng.randint(90, 110)
    return m, rng.randint(1, m - 1)


def _where(m_r: tuple[int, int]) -> str:
    return f"o_orderkey % {m_r[0]} = {m_r[1]}"


class Lakehouse(Workload):
    name = "lakehouse"
    PASS_SECONDS = 16.0
    BATCHES = 3
    DELETES = 2
    ORDER_KEYS = 40_000  # the lifecycle's table: orders with o_orderkey below this
    WARM_UP_KEYS = 3000

    def __init__(self, seed, fixtures, run_dir):
        super().__init__(seed, fixtures, run_dir)
        rng = random.Random(seed)
        self.batches = make_batches(rng, self.BATCHES)
        self.p = {
            "upsert_update": _mod(rng),
            "upsert_insert": _mod(rng),
            "deletes": [_mod(rng) for _ in range(self.DELETES)],
            "update": _mod(rng),
            "mor_update": _mod(rng),
            "mor_insert": _mod(rng),
            "branch_update": _mod(rng),
            "branch_delete": _mod(rng),
        }
        self._engines: dict[int, object] = {}

    def _read(self, rec: Pass, eng, table: str):
        from patterns_devkit_spark import Table

        with rec.op("read") as op:
            with eng.node_context("r", inputs={"in": table}):
                with rec.span("node.read"):
                    _noop_write(Table("in", "r").read_spark())
        return op

    def _ingest(self, rec: Pass, eng, batches: list[list[dict]]) -> None:
        """Each batch: an append from outside the graph, run_all, a full
        read of the raw table."""
        from patterns_devkit_spark import Table
        from patterns_devkit_spark.graph.runner import GraphRunner

        runner = GraphRunner(eng, GRAPH_DIR)
        for i, batch in enumerate(batches):
            with rec.op("append") as append:
                with eng.node_context("feed", outputs={"raw": "events_raw"}):
                    Table("raw", "w").append(batch)
            with rec.op("run_all") as run:
                ran = runner.run_all()
                cursor = eng.catalog.get_cursor("ustats01", "events_raw", "event_id")
                if cursor != batch[-1]["event_id"] or "top00001" not in ran:
                    raise StaleOutput(f"batch {i}: cursor {cursor}, ran {ran}")
            rec.freshness.append(append.latency + run.latency)
            self._read(rec, eng, "events_raw")

    def _lifecycle(self, rec: Pass, eng, limit: int, deletes: int, reads: bool) -> None:
        """The orders table through append, upserts, deletion-vector
        deletes and update, compaction, and a branch merged back, each
        write followed by a full read."""
        from pyspark.sql import functions as F

        from patterns_devkit_spark import Table
        from patterns_devkit_spark.queries import t as fixture

        p = self.p
        o = fixture(rec.spark, self.fixtures, "orders").select(
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
        ).filter(f"o_orderkey < {limit}")
        k = F.col("o_orderkey")

        def read(table: str, write_op) -> None:
            if reads:
                rec.freshness.append(write_op.latency + self._read(rec, eng, table).latency)

        def write(kind: str, fn, table: str = "orders_t") -> None:
            with rec.op(kind) as op:
                with eng.node_context("w", outputs={"out": table}):
                    fn(Table("out", "w"))
            read(table, op)

        def base(t):
            t.init(unique_on=["o_orderkey"])
            t.append(o.coalesce(4))

        def upsert(update, insert, status, ins_status, offset):
            batch = o.filter(_where(update)).withColumn("o_orderstatus", F.lit(status)).unionByName(
                o.filter(f"{_where(insert)} AND o_orderkey > 0").select(
                    (-k - F.lit(offset)).alias("o_orderkey"), "o_custkey",
                    F.lit(ins_status).alias("o_orderstatus"), "o_totalprice",
                )
            )
            return lambda t: t.upsert(batch)

        def mor_upsert(t):
            t.init(merge_on_read=True)
            upsert(p["mor_update"], p["mor_insert"], "M", "I", _NEG_OFFSET)(t)

        write("append", base)
        write("upsert", upsert(p["upsert_update"], p["upsert_insert"], "U", "N", 0))
        for d in p["deletes"][:deletes]:
            write("delete", lambda t, d=d: t.delete_where(_where(d), vectorized=True))
        write("update", lambda t: t.update_where({"o_orderstatus": "'V'"}, _where(p["update"]), vectorized=True))
        write("upsert", mor_upsert)
        write("compact", lambda t: t.compact())
        with rec.op("branch") as op:
            branch = eng.create_branch("orders_t", "fix")
        read(branch, op)
        write(
            "update",
            lambda t: t.update_where({"o_orderstatus": "'B'"}, _where(p["branch_update"]), vectorized=True),
            branch,
        )
        write("delete", lambda t: t.delete_where(_where(p["branch_delete"]), vectorized=True), branch)
        with rec.op("merge_branch") as op:
            eng.merge_branch("orders_t", "fix")
        read("orders_t", op)

    def warm_up(self, spark) -> None:
        rec = Pass(spark, "warmup")
        eng = hz.new_engine(spark, self.warehouses)
        self._ingest(rec, eng, make_batches(random.Random(-1 - self.seed), self.BATCHES))
        self._lifecycle(rec, eng, self.WARM_UP_KEYS, deletes=1, reads=False)
        self._read(rec, eng, "orders_t")

    def run_pass(self, rec: Pass) -> None:
        eng = hz.new_engine(rec.spark, self.warehouses)
        self._engines[id(rec)] = eng
        rec.watch(eng.catalog.root)
        rec.begin()
        self._ingest(rec, eng, self.batches)
        self._lifecycle(rec, eng, self.ORDER_KEYS, deletes=self.DELETES, reads=True)
        rec.end()

    def expected_sql(self) -> str:
        """The orders table's final state in closed form over the fixture."""
        p = self.p

        def upsert(prev, update, insert, status, ins_status, offset):
            batch = (
                f"SELECT o_orderkey, o_custkey, '{status}' AS o_orderstatus, o_totalprice "
                f"FROM base WHERE {_where(update)} UNION ALL "
                f"SELECT -o_orderkey - {offset}, o_custkey, '{ins_status}', o_totalprice "
                f"FROM base WHERE {_where(insert)} AND o_orderkey > 0"
            )
            return (
                f"SELECT * FROM {prev} WHERE o_orderkey NOT IN (SELECT o_orderkey FROM ({batch})) "
                f"UNION ALL {batch}"
            )

        deletes = " AND ".join(f"NOT ({_where(d)})" for d in p["deletes"])
        return f"""
        WITH base AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders
                      WHERE o_orderkey < {self.ORDER_KEYS}),
        s1 AS ({upsert('base', p['upsert_update'], p['upsert_insert'], 'U', 'N', 0)}),
        s2 AS (SELECT * FROM s1 WHERE {deletes}),
        s3 AS (SELECT o_orderkey, o_custkey,
                      CASE WHEN {_where(p['update'])} THEN 'V' ELSE o_orderstatus END AS o_orderstatus,
                      o_totalprice FROM s2),
        s4 AS ({upsert('s3', p['mor_update'], p['mor_insert'], 'M', 'I', _NEG_OFFSET)}),
        s5 AS (SELECT o_orderkey, o_custkey,
                      CASE WHEN {_where(p['branch_update'])} THEN 'B' ELSE o_orderstatus END AS o_orderstatus,
                      o_totalprice FROM s4 WHERE NOT ({_where(p['branch_delete'])}))
        SELECT * FROM s5
        """

    def ingest_rows(self) -> int:
        """Appended events plus the orders rows in the append and upsert
        batches."""
        p = self.p
        slices = [
            "true",
            _where(p["upsert_update"]),
            f"{_where(p['upsert_insert'])} AND o_orderkey > 0",
            _where(p["mor_update"]),
            f"{_where(p['mor_insert'])} AND o_orderkey > 0",
        ]
        con = hz.duckdb_views(self.fixtures)
        sql = "SELECT " + " + ".join(
            f"(SELECT count(*) FROM orders WHERE o_orderkey < {self.ORDER_KEYS} AND {c})" for c in slices
        )
        return int(con.sql(sql).fetchone()[0]) + sum(len(b) for b in self.batches)

    def _tables(self, rec: Pass) -> dict:
        from patterns_devkit_spark import Table

        eng = self._engines[id(rec)]
        ports = {"raw": "events_raw", "stats": "user_stats", "top": "top_users", "orders": "orders_t"}
        with eng.node_context("check", inputs=ports):
            return {port: Table(port, "r").read_spark() for port in ports}

    def check(self, rec: Pass) -> list[str]:
        import pandas as pd

        tables = self._tables(rec)
        problems = []
        ev = pd.DataFrame([r for b in self.batches for r in b])
        want = ev.groupby("user_id").agg(
            n_events=("event_id", "size"),
            n_purchases=("event_type", lambda s: int((s == "purchase").sum())),
            total_value=("value", "sum"),
            last_event=("event_id", "max"),
        ).reset_index()
        stats = tables["stats"].toPandas()
        # total_value is rounded to 6 places at every merge
        why = hz.frames_differ(stats, want, atol=1e-3)
        if why:
            problems.append(f"user_stats: {why}")
        top = stats.sort_values(["total_value", "user_id"], ascending=[False, True]).head(10)
        why = hz.frames_differ(tables["top"].toPandas(), top)
        if why:
            problems.append(f"top_users: {why}")
        if rec.traced:
            consumed = sum(op.stats.get("stream.rows_consumed", 0) for op in rec.ops)
            if consumed != len(ev):
                problems.append(f"stream consumed {consumed} rows of {len(ev)} appended")

        got = tables["orders"].toPandas()  # noqa: F841 (read by DuckDB below)
        con = hz.duckdb_views(self.fixtures)
        con.sql(f"CREATE TEMP VIEW want AS {self.expected_sql()}")
        missing, extra = con.sql(
            "SELECT (SELECT count(*) FROM (FROM want EXCEPT ALL FROM got)),"
            " (SELECT count(*) FROM (FROM got EXCEPT ALL FROM want))"
        ).fetchone()
        if missing or extra:
            problems.append(f"orders_t final state: {missing} expected rows missing, {extra} unexpected rows")
        return problems

    def storage_amp(self, rec: Pass) -> float:
        """Warehouse bytes over the bytes of every table's live contents
        written once, each as a single parquet file."""
        out = os.path.join(self.warehouses, f"compact-{time.monotonic_ns()}")
        for name, df in self._tables(rec).items():
            df.coalesce(1).write.parquet(os.path.join(out, name))
        return hz.disk_bytes(rec.warehouse) / hz.disk_bytes(out)


WORKLOADS = {w.name: w for w in (QueryMix, Lakehouse)}
