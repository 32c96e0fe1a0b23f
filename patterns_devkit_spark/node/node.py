"""The node SDK: Table / TableVersion / Stream / State / Parameter /
Connection / respond_to_request.

This implements, on Spark, the execution semantics the reference
specifies in docstring-stub form (reference: patterns/node/node.py —
the 554-line SDK contract; every semantic below cites its lines).
Architecture is Spark-first (SURVEY.md §1-§4): rows-in/rows-out at the
SDK boundary, columnar Parquet + Catalyst underneath.

Key mappings:
- Table.append/upsert are BUFFERED (node.py:305-307,329-331): records
  accumulate driver-side and flush as ONE Spark job (amortized write).
- upsert = anti-join rewrite into a new version + atomic pointer flip
  (no Delta in this environment); see Table.flush.
- Streams are ordered, checkpointed cursors with exactly-once-per-
  record consumption (node.py:18-81); the cursor filter is a plain
  predicate on the ordering column, so Parquet min/max + partition
  pruning make incremental slices cheap at scale.
- State is a per-node KV dict persisted in the catalog
  (node.py:417-505).
"""
from __future__ import annotations

import contextvars
import datetime as dt
import os
import re
import time
from typing import Any, Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from ..catalog.catalog import Catalog, ConcurrentWriteError, _parse_as_of
from .ids import encode_base32, encode_base32_col
from .schema import (
    apply_schema_hints,
    conform_to_schema,
    merge_schemas,
    records_to_dataframe,
    schema_dict_to_struct,
)

_MISSING = object()

_current_context: contextvars.ContextVar["NodeContext | None"] = contextvars.ContextVar(
    "patterns_node_context", default=None
)


def _ctx() -> "NodeContext":
    ctx = _current_context.get()
    if ctx is None:
        raise RuntimeError(
            "no active NodeContext — SDK objects (Table/State/Parameter) must be "
            "used inside a node execution (Engine.node_context(...) or the graph runner)"
        )
    return ctx


class Connection(dict):
    """Credentials bundle for an external system (node.py:508-510)."""

    connection_type: str | None = None

    def __init__(self, connection_type: str | None = None, **kwargs: Any):
        super().__init__(**kwargs)
        if connection_type is not None:
            self.connection_type = connection_type


class Parameter:
    """Typed node input (node.py:513-542). Supported types: str, int,
    float, bool, datetime, date, list, Connection; no default ⇒
    required (missing value is a graph compile error, upload.py:78-81).

    Instantiating returns the RESOLVED VALUE (cast), as in the
    reference where ``p = Parameter("x", type=int)`` yields the value.
    """

    TYPES = (str, int, float, bool, dt.datetime, dt.date, list, Connection)

    def __new__(cls, name: str, description: str | None = None, type: type = str, default: Any = _MISSING):
        ctx = _current_context.get()
        raw = _MISSING
        if ctx is not None and name in ctx.parameters:
            raw = ctx.parameters[name]
        if raw is _MISSING:
            if default is _MISSING:
                raise ValueError(f"Parameter {name!r} has no default or value")
            return default
        if type is Connection and isinstance(raw, str) and ctx is not None:
            # a string-valued Connection parameter names a stored secret
            # (reference: `patterns create secret`, create.py:210-226)
            secret = ctx.engine.get_secret(raw)
            if secret is None:
                raise ValueError(f"no secret named {raw!r} for Connection parameter {name!r}")
            return Connection(**secret)
        return _cast_parameter(raw, type)


def _cast_parameter(value: Any, typ: type) -> Any:
    if typ is dt.datetime:
        if isinstance(value, dt.datetime):
            return value
        return dt.datetime.fromisoformat(str(value))
    if typ is dt.date:
        if isinstance(value, dt.datetime):
            return value.date()
        if isinstance(value, dt.date):
            return value
        return dt.date.fromisoformat(str(value))
    if typ is bool and isinstance(value, str):
        return value.strip().lower() in ("1", "true", "t", "yes", "y")
    if typ is Connection:
        return Connection(**value) if isinstance(value, dict) else value
    if typ is list and not isinstance(value, list):
        return list(value)
    try:
        return typ(value)
    except (TypeError, ValueError) as e:
        raise ValueError(f"cannot cast parameter value {value!r} to {typ.__name__}") from e


def _mor_budget(mor: object) -> int:
    """DV mask budget from an init(merge_on_read=...) declaration: an
    integer declaration IS the budget; bool/None take the default.
    isinstance check matters — `1 in (True, None, False)` is True."""
    if isinstance(mor, int) and not isinstance(mor, bool):
        return int(mor)
    return 100_000


def _split_top_commas(sql: str) -> list[str]:
    """Split on commas at paren/bracket/quote depth 0 (expression
    lists: SET clauses, INSERT VALUES tuples)."""
    parts, depth, in_str, buf = [], 0, None, []
    for ch in sql:
        if in_str:
            if ch == in_str:
                in_str = None
        elif ch in ("'", '"'):
            in_str = ch
        elif ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append("".join(buf))
            buf = []
            continue
        buf.append(ch)
    if buf:
        parts.append("".join(buf))
    return parts


def _find_top_level(sql: str, kw: str, start: int = 0) -> int:
    """Index of the first case-insensitive whole-word occurrence of
    ``kw`` at paren/quote depth 0, or -1 — how MERGE INTO is carved
    into USING/ON/WHEN sections without tripping on a subquery's own
    JOIN ... ON or nested WHENs inside CASE expressions (those sit
    inside parens)."""
    low = sql.lower()
    kw = kw.lower()
    depth, in_str = 0, None
    i, n = start, len(sql)
    while i < n:
        ch = sql[i]
        if in_str:
            if ch == in_str:
                in_str = None
        elif ch in ("'", '"'):
            in_str = ch
        elif ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        elif depth == 0 and low.startswith(kw, i):
            j = i + len(kw)
            before_ok = i == 0 or not (low[i - 1].isalnum() or low[i - 1] == "_")
            after_ok = j >= n or not (low[j].isalnum() or low[j] == "_")
            if before_ok and after_ok:
                return i
        i += 1
    return -1


def _parse_set_clause(set_sql: str) -> dict[str, str]:
    """Split an UPDATE's SET clause into {column: expression},
    paren/quote-aware so expressions may contain commas
    (`SET v = concat(a, b), n = n + 1`)."""
    parts = _split_top_commas(set_sql)
    out: dict[str, str] = {}
    for p in parts:
        col, _, expr = p.partition("=")
        col = col.strip().strip("`")
        if not col or not expr.strip():
            raise ValueError(f"malformed SET assignment: {p!r}")
        out[col] = expr.strip()
    return out


class BranchMergeConflict(ValueError):
    """merge_branch found keys changed on BOTH main and the branch
    since the fork point; nothing was applied. Resolve with
    on_conflict='branch_wins' or 'main_wins' (engine extension —
    the Nessie-style branch workflow's three-way-merge guard)."""


class CheckConstraintViolation(ValueError):
    """A write batch failed a declared CHECK constraint; nothing was
    written and the active version is unchanged (engine extension —
    the write-side counterpart of the q120 constraint AUDIT). The
    rejected records are discarded from the write buffer: correct and
    re-append them (buffered flush clears before validating, so a
    later flush never re-raises for a batch already reported)."""


def _stats_col_max(stats: dict, col: str):
    """Max of `col` across a version's per-file stats (skipping.py
    shape) — the write-time high-water mark, free once the stats walk
    has run, because versions are written sorted on the ordering
    column (_sorted_for_write)."""
    mx = None
    for entry in stats.values():
        info = (entry.get("cols") or {}).get(col)
        if not info or info.get("absent"):
            continue
        v = info.get("max")
        if v is not None and (mx is None or v > mx):
            mx = v
    return mx


class TableVersion:
    """A specific version of a Table — an actual dataset that may or may
    not have data yet (node.py:84-114). Physically one Parquet dir."""

    def __init__(self, engine: "Engine", table_name: str, version_id: str):
        self._engine = engine
        self.table_name = table_name
        self.version_id = version_id

    @property
    def name(self) -> str:
        return f"{self.table_name}__{self.version_id}"

    @property
    def storage(self) -> str:
        """Physical location (the reference exposes a dcp Storage object,
        node.py:96-99; ours is the Parquet directory path)."""
        return self._engine.catalog.version_dir(self.table_name, self.version_id)

    @property
    def exists(self) -> bool:
        return self._engine.catalog.version_has_data(self.table_name, self.version_id)

    @property
    def record_count(self) -> int | None:
        cached = self._engine.catalog.get_record_count(self.table_name, self.version_id)
        if cached is not None:
            return cached
        if not self.exists:
            return None
        # as_dataframe, not a raw dir read: a manifest version's files
        # may live in other versions' directories (node/manifest.py)
        n = self.as_dataframe().count()
        self._engine.catalog.set_record_count(self.table_name, self.version_id, n)
        return n

    @property
    def schema(self) -> T.StructType | None:
        ddl = (self._engine.catalog.table_meta(self.table_name) or {}).get("schema_ddl")
        if ddl:
            return T.StructType.fromDDL(ddl)
        if not self.exists:
            return None
        return self.as_dataframe().schema

    @property
    def sql_name(self) -> str:
        """Quoted name resolvable in SQL — a temp view pinned to this
        version (node.py:240-246 maps fully-qualified DB names to this).
        Internal bookkeeping columns (table meta ``hidden_columns``,
        e.g. the materialized-view support/non-null counters) are
        projected OUT: SQL consumers see the declared contract."""
        view = f"{self.table_name}__{self.version_id}"
        df = _drop_hidden(self._engine, self.table_name, self.as_dataframe())
        df.createOrReplaceTempView(view)
        return f"`{view}`"

    def as_dataframe(self) -> DataFrame:
        """Read pinned to the catalog's merged schema: a version dir may
        hold appended files with EVOLVED schemas, and a bare parquet
        read would sample one file's schema nondeterministically.
        Explicit schema also skips footer merging at scale. Files are
        read with PHYSICAL column names and projected to the LOGICAL
        schema (node/evolution.py column mapping) — zero-copy ALTER.

        Manifest versions whose refs point OUTSIDE the version's own
        directory (reference-mode carries, node/manifest.py) resolve
        through the grouped-by-source-directory file read instead of a
        directory scan."""
        from . import manifest

        cat = self._engine.catalog
        dvs = cat.get_deletion_vectors(self.table_name, self.version_id)
        if dvs:
            # deletion-vector mask: ONLY files carrying mask entries
            # pay the row-provenance read + broadcast anti-join; clean
            # files scan meta-free (masks concentrate on few files, so
            # the overhead tracks the masked subset, not the table —
            # measured 4.5x -> ~1.3x on a 1%-masked sf0.1 read)
            refs = manifest.version_refs(cat, self.table_name, self.version_id)
            masked_refs = [r for r in refs if r in dvs]
            clean_refs = [r for r in refs if r not in dvs]
            masked = _dv_filter(
                self._engine,
                _read_version_files(
                    self._engine, self.table_name, self.version_id, masked_refs, with_meta=True
                ),
                dvs,
            )
            if not clean_refs:
                return masked
            clean = _read_version_files(
                self._engine, self.table_name, self.version_id, clean_refs
            )
            return clean.unionByName(masked)
        if manifest.has_external_refs(cat, self.table_name, self.version_id):
            return _read_version_files(
                self._engine,
                self.table_name,
                self.version_id,
                manifest.version_refs(cat, self.table_name, self.version_id),
            )
        from . import evolution

        meta = cat.table_meta(self.table_name) or {}
        ddl = meta.get("schema_ddl")
        reader = self._engine.spark.read
        if ddl:
            try:
                struct = T.StructType.fromDDL(ddl)
                df = reader.schema(evolution.physical_struct(meta, struct)).parquet(self.storage)
                if evolution.has_mapping(meta):
                    df = evolution.logical_projection(df, meta, struct)
                return df
            except Exception:
                pass
        df = reader.option("mergeSchema", "true").parquet(self.storage)
        if ddl and evolution.has_mapping(meta):
            try:
                df = evolution.logical_projection(df, meta, T.StructType.fromDDL(ddl))
            except Exception:
                pass
        return df


def _drop_hidden(engine: "Engine", table: str, df: DataFrame | None) -> DataFrame | None:
    """Project out the table's declared ``hidden_columns`` (internal
    bookkeeping a store carries but its READ contract excludes — the
    materialized-view support/non-null counters are the instance).
    Applied at the USER-FACING read boundaries only (read/read_spark/
    SQL views); engine write paths (upsert/compact/rewrite) keep the
    full physical row, or a maintenance op would silently destroy the
    bookkeeping."""
    if df is None:
        return None
    hid = (engine.catalog.table_meta(table) or {}).get("hidden_columns") or []
    drop = [c for c in hid if c in df.columns]
    return df.drop(*drop) if drop else df


def _read_version_files(
    engine: "Engine", table: str, version: str, keys: list[str], with_meta: bool = False
) -> DataFrame:
    """Read an explicit file subset of a table version — manifest refs
    and/or legacy version-relative keys — grouped by SOURCE version
    directory so each group's ``basePath`` keeps hive partition columns
    resolving, then unioned. Schema is pinned to the catalog's merged
    DDL (physical names; logical projection applied once at the end),
    so groups from different source versions union positionally clean.
    This is the read half of the manifest contract (node/manifest.py):
    at object-storage scale a version IS a file list, never a
    directory."""
    from . import evolution, manifest

    cat = engine.catalog
    meta = cat.table_meta(table) or {}
    ddl = meta.get("schema_ddl")
    struct = None
    if ddl:
        try:
            struct = T.StructType.fromDDL(ddl)
        except Exception:
            struct = None
    groups: dict[str, list[str]] = {}
    for key in keys:
        if manifest.is_ref(key):
            t, v = manifest.ref_source(key)
            base = cat.version_dir(t, v)
        else:
            base = cat.version_dir(table, version)
        groups.setdefault(base, []).append(manifest.resolve(cat, table, version, key))
    dfs = []
    for base, paths in groups.items():
        reader = engine.spark.read.option("basePath", base)
        if struct is not None:
            reader = reader.schema(evolution.physical_struct(meta, struct))
        else:
            reader = reader.option("mergeSchema", "true")
        g = reader.parquet(*paths)
        if with_meta:
            g = _with_row_meta(g)
        dfs.append(g)
    if not dfs:
        empty_struct = T.StructType(list((struct or T.StructType([])).fields))
        if with_meta:
            empty_struct = empty_struct.add("__dv_ref", T.StringType()).add(
                "__dv_idx", T.LongType()
            )
        return engine.spark.createDataFrame([], empty_struct)
    df = dfs[0]
    for other in dfs[1:]:
        df = df.unionByName(other, allowMissingColumns=True)
    if struct is not None and evolution.has_mapping(meta):
        df = evolution.logical_projection(
            df, meta, struct, extra=("__dv_ref", "__dv_idx") if with_meta else ()
        )
    return df


def _with_row_meta(df: DataFrame) -> DataFrame:
    """Attach row provenance from the parquet scan: the file's manifest
    ref (path tail after tables/) and the row's position in the file
    (_metadata.row_index) — the coordinate system deletion vectors are
    keyed in. Must be selected straight off the file source, before
    any projection hides the hidden _metadata column."""
    return df.select(
        "*",
        F.regexp_extract(F.col("_metadata.file_path"), ".*/tables/(.*)$", 1).alias("__dv_ref"),
        F.col("_metadata.row_index").alias("__dv_idx"),
    )


def _ref_idx_local_df(spark: SparkSession, pairs: list[tuple[str, int]]) -> DataFrame:
    """Local (file ref, row index) pairs as a DataFrame via the
    pandas/Arrow path: createDataFrame over a Python list pays a
    pickled-row conversion plus per-ROW type verification on the
    driver (~60 ms per few-thousand-row mask, and the DV read/feed
    paths build several per call) — the Arrow path converts the whole
    column buffer at once (guide §6). Types are exact (string, int64),
    so no Arrow coercion ambiguity exists."""
    pdf = pd.DataFrame(
        {
            "__dv_ref": pd.Series([r for r, _ in pairs], dtype=object),
            "__dv_idx": pd.Series([int(i) for _, i in pairs], dtype="int64"),
        }
    )
    return spark.createDataFrame(pdf, "__dv_ref string, __dv_idx long")


def _dv_pairs_df(engine: "Engine", dvs: dict[str, list[int]]) -> DataFrame:
    pairs = [(ref, int(i)) for ref, idxs in dvs.items() for i in idxs]
    return _ref_idx_local_df(engine.spark, pairs)


def _dv_filter(engine: "Engine", df_with_meta: DataFrame, dvs: dict[str, list[int]]) -> DataFrame:
    """Mask deleted rows: broadcast anti-join on (file ref, row index).
    The DV table is row-count-bounded (the DV write path falls back to
    a rewrite past its threshold), so this is a broadcast hash probe
    on the scan — never a shuffle of the data side."""
    return (
        df_with_meta.join(F.broadcast(_dv_pairs_df(engine, dvs)), ["__dv_ref", "__dv_idx"], "left_anti")
        .drop("__dv_ref", "__dv_idx")
    )


def _dv_by_rel(dvs: dict[str, list[int]]) -> dict[str, set[int]]:
    """Deletion-vector map keyed by version-independent relpath (mask
    keys mix version-relative names and tables-root refs)."""
    from . import manifest as _mf

    out: dict[str, set[int]] = {}
    for ref, idxs in dvs.items():
        rel = _mf.ref_relpath(ref) if _mf.is_ref(ref) else ref
        out.setdefault(rel, set()).update(int(i) for i in idxs)
    return out


def _dv_window_meta(
    engine: "Engine",
    table: str,
    vid_a: str,
    vid_b: str,
    refs_a: list[str] | None = None,
    refs_b: list[str] | None = None,
) -> dict | None:
    """Metadata-only classification of the version window a→b. Returns
    None when the window is NOT deletion-vector lineage (a file of
    version_a was rewritten/compacted away, a relpath collision makes
    containment ambiguous, the schema evolved, or version_a is no
    longer retained) — callers must fall back to an exact recompute.
    Otherwise returns the change coordinates, all O(metadata):

    - gone_pairs: (ref-of-a, row_index) old images masked inside the
      window (new DV entries on version_a's files);
    - new_refs / carried_refs_b: version_b's refs split by whether the
      file already belonged to version_a;
    - cols: the (shared) logical column list.

    ``refs_a`` overrides version_a's CURRENT manifest with the file
    list captured at an earlier instant (materialized views store it
    per refresh): files appended IN PLACE to version_a afterwards then
    classify as new files, and a truncate() — which REPLACES the
    manifest in place — breaks containment and forces the recompute."""
    from . import manifest as _mf

    cat = engine.catalog
    if vid_a not in ((cat.table_meta(table) or {}).get("versions") or []):
        return None
    manifest_a = cat.get_manifest(table, vid_a)
    if refs_b is None:
        refs_b = cat.get_manifest(table, vid_b)
    if manifest_a is None or refs_b is None:
        return None
    if refs_a is None:
        refs_a = manifest_a

    def rel(r: str) -> str:
        return _mf.ref_relpath(r) if _mf.is_ref(r) else r

    rels_a = {rel(r): r for r in refs_a}
    rels_b = {rel(r): r for r in refs_b}
    if len(rels_a) != len(refs_a) or len(rels_b) != len(refs_b):
        return None  # relpath collision: be conservative
    if not set(rels_a) <= set(rels_b):
        return None  # a file of version_a was rewritten/compacted away
    # a captured refs_a must still be contained in version_a's CURRENT
    # manifest — truncate() replaces it in place (the one destructive
    # same-version mutation) and then nothing below holds
    if refs_a is not manifest_a and not set(rels_a) <= {rel(r) for r in manifest_a}:
        return None
    a_probe = TableVersion(engine, table, vid_a)
    b_probe = TableVersion(engine, table, vid_b)
    if not a_probe.exists or not b_probe.exists:
        return None
    a_cols = a_probe.as_dataframe().columns
    b_cols = b_probe.as_dataframe().columns
    if a_cols != b_cols:
        return None  # schema evolved inside the window: exact recompute

    dva = _dv_by_rel(engine.catalog.get_deletion_vectors(table, vid_a))
    dvb = _dv_by_rel(engine.catalog.get_deletion_vectors(table, vid_b))
    gone_pairs = [
        (rels_a[rel_], i)
        for rel_, idxs in dvb.items()
        if rel_ in rels_a
        for i in sorted(idxs - dva.get(rel_, set()))
    ]
    return {
        "gone_pairs": gone_pairs,
        "new_refs": [r for rel_, r in rels_b.items() if rel_ not in rels_a],
        "carried_refs_b": [r for rel_, r in rels_b.items() if rel_ in rels_a],
        "cols": b_cols,
    }


def _carry_deletion_vectors(
    catalog, src_table: str, src_vid: str, dst_table: str, dst_vid: str,
    src_refs: list[str], carried: list[str],
) -> None:
    """Zero-copy paths that CARRY a DV'd version's files (clone,
    restore) must carry the mask with them or the carried files would
    resurrect deleted rows. carry() preserves order, so zip gives the
    old-ref -> new-ref remap (identity in reference mode)."""
    dvs = catalog.get_deletion_vectors(src_table, src_vid)
    if not dvs:
        return
    remap = dict(zip(src_refs, carried))
    out: dict[str, list[int]] = {}
    for ref, idxs in dvs.items():
        out.setdefault(remap.get(ref, ref), []).extend(idxs)
    catalog.set_deletion_vectors(dst_table, dst_vid, out)


def as_of_dataframe(engine: "Engine", table: str, ref: str, ts: float) -> DataFrame | None:
    """Content-exact AS-OF read: resolve_version's publish log picks
    the version that was ACTIVE at ``ts``; the manifest commit stamps
    (catalog.manifest_stamps) then pick the files that had landed by
    then — in-place appends are the one write that mutates a published
    version, and this is what makes a timestamp read of an append-only
    table return exactly the rows visible at that instant. Falls back
    to the full version for legacy/unstamped manifests; returns None
    for an unresolvable instant (pre-creation, or GC'd history)."""
    cat = engine.catalog
    vid = cat.resolve_version(table, ref)
    if vid is None:
        return None
    refs = cat.get_manifest(table, vid)
    stamps = cat.manifest_stamps(table, vid)
    if refs is None or not stamps:
        tv = TableVersion(engine, table, vid)
        return tv.as_dataframe() if tv.exists else None
    subset = [r for r in refs if stamps.get(r, 0.0) <= ts]
    if len(subset) == len(refs):
        tv = TableVersion(engine, table, vid)
        return tv.as_dataframe() if tv.exists else None
    if not subset:
        meta = cat.table_meta(table) or {}
        ddl = meta.get("schema_ddl")
        struct = T.StructType.fromDDL(ddl) if ddl else T.StructType([])
        return engine.spark.createDataFrame([], struct)
    dvs = cat.get_deletion_vectors(table, vid)
    if dvs:
        # the version carries a deletion-vector mask: the stamped
        # subset read must apply it too (DVs are fixed at version
        # creation — later in-place appends only ADD unmasked files —
        # so the mask restricted to the subset is exact at any
        # instant). Split scan: only masked files pay the provenance
        # read + anti-join.
        masked_refs = [r for r in subset if r in dvs]
        clean_refs = [r for r in subset if r not in dvs]
        sub = {r: idxs for r, idxs in dvs.items() if r in set(masked_refs)}
        parts = []
        if masked_refs:
            m = _read_version_files(engine, table, vid, masked_refs, with_meta=True)
            parts.append(_dv_filter(engine, m, sub))
        if clean_refs:
            parts.append(_read_version_files(engine, table, vid, clean_refs))
        return parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])
    return _read_version_files(engine, table, vid, subset)


class Table:
    """Stable reference across versions of a stored table
    (node.py:117-139). Read ops hit the active TableVersion; write ops
    buffer and flush as Spark jobs."""

    def __init__(
        self,
        name: str,
        mode: str = "r",
        description: str | None = None,
        schema: Any = None,
        required: bool = True,
    ):
        ctx = _current_context.get()
        self.port_name = name
        self.mode = mode.lower()
        if self.mode not in ("r", "w"):
            raise ValueError(f"invalid table mode {mode!r} (use 'r' or 'w')")
        self.description = description
        self.required = required
        self._declared_schema = schema
        self._buffer: list[Any] = []
        self._buffered_rows = 0
        # resolve port -> store through the node's bindings (edit.py:101-126);
        # an unbound port means every op is a safe no-op (node.py:232-238)
        if ctx is None:
            raise RuntimeError("Table must be created inside a node execution context")
        self._ctx = ctx
        bindings = ctx.inputs if self.mode == "r" else ctx.outputs
        self.store_name = bindings.get(name)
        self._engine = ctx.engine
        ctx.register_table(self)
        if self.is_connected and schema is not None:
            self.init(schema=schema)

    # -- connection / metadata -----------------------------------------
    @property
    def is_connected(self) -> bool:
        """False when the port has no bound store; then all methods are
        no-ops returning dummy objects (node.py:232-238)."""
        return self.store_name is not None

    @property
    def exists(self) -> bool:
        if not self.is_connected:
            return False
        v = self._engine.catalog.get_active_version(self.store_name)
        return v is not None and self._engine.catalog.version_has_data(self.store_name, v)

    @property
    def schema(self) -> T.StructType | None:
        if not self.is_connected:
            return None
        av = self.get_active_version()
        return av.schema if av else None

    @property
    def record_count(self) -> int | None:
        if not self.is_connected:
            return None
        av = self.get_active_version()
        return av.record_count if av else None

    def _stat_cols(self, meta: dict) -> list[str]:
        """Columns the write path harvests per-file min/max for:
        declared stat_columns, else every column a predicate is likely
        to prune on (orderings, partition/cluster keys, unique keys)."""
        declared = meta.get("stat_columns")
        if declared:
            return list(declared)
        cols: list[str] = []
        for key in ("strictly_monotonic_ordering", "created_ordering"):
            v = meta.get(key)
            if v:
                cols.append(v)
        for key in ("partition_by", "cluster_by", "unique_on"):
            cols.extend(meta.get(key) or [])
        seen: set[str] = set()
        return [c for c in cols if not (c in seen or seen.add(c))]

    def _track_write_stats(self, storage: str, meta: dict, version: str) -> None:
        """One footer-only walk per write: per-file min/max stats into
        the catalog (the data-skipping index read_pruned plans from)
        plus the ordering high-water mark. At cluster scale this walk
        is incremental (new files only); locally a full rewalk is
        O(files) metadata reads."""
        from . import skipping

        cols = self._stat_cols(meta)
        bloom_cols = meta.get("bloom_columns") or []
        ob = meta.get("strictly_monotonic_ordering") or meta.get("created_ordering")
        if not cols and not bloom_cols:
            return
        try:
            stats = skipping.collect_file_stats(storage, cols or bloom_cols)
        except Exception:
            return  # stats unavailable: order_max()/read_pruned fall back
        if bloom_cols:
            # declared-only data pass: Bloom bitmaps ride the same stats
            # entries, so prune() consults them with zero extra plumbing
            try:
                blooms = skipping.collect_file_blooms(storage, bloom_cols)
                for rel, cols_map in blooms.items():
                    entry = stats.setdefault(rel, {"rows": None, "cols": {}})
                    for col, hx in cols_map.items():
                        entry["cols"].setdefault(col, {})["bloom"] = hx
            except Exception:
                pass  # bloom unavailable: bounds-only pruning still works
        self._engine.catalog.set_file_stats(self.store_name, version, stats)
        if ob:
            mx = _stats_col_max(stats, ob)
            # never LOWER a version's hwm: the walk covers only the
            # version's own directory, and carried (reference-mode)
            # files may hold the real max — appends only raise it
            prior = self._engine.catalog.get_order_hwm(self.store_name, version)
            if prior is not None:
                try:
                    mx = prior if mx is None or prior > mx else mx
                except TypeError:
                    pass
            if mx is not None:
                self._engine.catalog.set_order_hwm(self.store_name, version, mx)

    def order_max(self):
        """Max value of the declared ordering column in the active
        version, from the write-time footer-stats high-water mark
        (catalog order_hwms) — NO scan job. Falls back to one
        aggregate scan if the version predates tracking."""
        if not self.is_connected:
            return None
        av = self.get_active_version()
        if av is None:
            return None
        hwm = self._engine.catalog.get_order_hwm(self.store_name, av.version_id)
        if hwm is not None:
            return hwm
        meta = self._engine.catalog.table_meta(self.store_name) or {}
        ob = meta.get("strictly_monotonic_ordering") or meta.get("created_ordering")
        if not ob:
            return None
        df = av.as_dataframe()
        return df.agg(F.max(ob)).collect()[0][0] if df is not None else None

    @property
    def sql_name(self) -> str | None:
        """Fully qualified, quoted SQL name of the active version, for
        interpolating into read_sql / SQL nodes (node.py:240-246)."""
        if not self.is_connected:
            return None
        av = self.get_active_version()
        if av is None or not av.exists:
            # pin an empty view with the declared schema if any
            view = f"{self.store_name}__empty"
            ddl_schema = self.schema or T.StructType([])
            self._engine.spark.createDataFrame([], ddl_schema).createOrReplaceTempView(view)
            return f"`{view}`"
        return av.sql_name

    def __str__(self) -> str:  # str(table) interpolates like sql_name (node.py:176-181)
        return self.sql_name or ""

    # -- version lifecycle ----------------------------------------------
    def get_active_version(self) -> TableVersion | None:
        if not self.is_connected:
            return None
        vid = self._engine.catalog.get_active_version(self.store_name)
        return TableVersion(self._engine, self.store_name, vid) if vid else None

    def has_active_version(self) -> bool:
        return self.get_active_version() is not None

    def get_version(self, version_id: str) -> TableVersion | None:
        """A specific (possibly inactive) TableVersion, by version id,
        tag name, or 'latest'. Inactive versions stay readable until
        garbage collected — the reference's retention contract
        (node.py:399-405: 'old data is kept ... and is accessible
        until garbage collected'); tagged versions are GC-exempt."""
        if not self.is_connected:
            return None
        vid = self._engine.catalog.resolve_version(self.store_name, version_id)
        if vid is None:
            raise KeyError(f"unknown version {version_id!r} of table {self.store_name!r}")
        return TableVersion(self._engine, self.store_name, vid)

    def tag(self, tag: str, version: str | None = None) -> str:
        """Pin a named, GC-exempt tag on a version (default: the
        active version) — the Iceberg-style audit/rollback anchor.
        Returns the pinned version id. Read it back with
        read_spark(version=tag) or ``{{ store@tag }}`` in SQL; a
        writable branch is clone_from (zero-copy manifest fork)."""
        catalog = self._engine.catalog
        vid = version or catalog.get_active_version(self.store_name)
        if vid is None:
            raise ValueError(f"table {self.store_name!r} has no version to tag")
        catalog.set_tag(self.store_name, tag, vid)
        return vid

    def drop_tag(self, tag: str) -> None:
        self._engine.catalog.drop_tag(self.store_name, tag)

    def tags(self) -> dict[str, str]:
        """tag -> version_id for this table."""
        return self._engine.catalog.tags(self.store_name)

    def list_versions(self) -> list[dict]:
        """All retained versions, oldest first: {version_id, is_active,
        has_data, record_count}. The time-travel index over the
        'many TableVersions' model (node.py:84-114)."""
        if not self.is_connected:
            return []
        catalog = self._engine.catalog
        meta = catalog.table_meta(self.store_name) or {}
        active = meta.get("active_version")
        by_version: dict[str, list[str]] = {}
        for tg, v in (meta.get("tags") or {}).items():
            by_version.setdefault(v, []).append(tg)
        return [
            {
                "version_id": v,
                "is_active": v == active,
                "has_data": catalog.version_has_data(self.store_name, v),
                "record_count": catalog.get_record_count(self.store_name, v),
                "tags": sorted(by_version.get(v, [])),
            }
            for v in meta.get("versions", [])
        ]

    def create_new_version(self) -> TableVersion | None:
        if not self.is_connected:
            return None
        vid = self._engine.catalog.create_new_version(self.store_name)
        return TableVersion(self._engine, self.store_name, vid)

    def set_active_version(self, version: TableVersion) -> None:
        if not self.is_connected:
            return
        self._engine.catalog.set_active_version(self.store_name, version.version_id)

    # -- init -----------------------------------------------------------
    def init(
        self,
        schema: Any = None,
        schema_hints: dict[str, str] | None = None,
        unique_on: str | list[str] | None = None,
        add_created: str | None = None,
        add_monotonic_id: str | None = None,
        auto_indexes: bool = True,
        strictly_monotonic_ordering: str | None = None,
        created_ordering: str | None = None,
        partition_by: str | list[str] | None = None,
        cluster_by: str | list[str] | None = None,
        stat_columns: str | list[str] | None = None,
        bloom_columns: str | list[str] | None = None,
        check_constraints: dict[str, str] | None = None,
        auto_compact_after: int | None = None,
        merge_on_read: bool | int | None = None,
        retention_keep: int | None = None,
        retention_seconds: float | None = None,
        generated_columns: dict[str, str] | None = None,
    ) -> None:
        """Declare creation-time table properties (node.py:269-297).

        partition_by is an engine extension: versions are written as
        hive-partitioned directories on the given columns, so filters
        on them become partition PRUNING at scan time (the unit of
        scale-out for date/tenant-keyed tables).

        cluster_by is an engine extension: writes are sorted by the
        Z-order (Morton) interleave of the listed non-negative integer
        columns, giving every listed column min/max-pruning locality
        (operators/layout.zvalue) — declare it only on tables whose
        reads filter on several columns; it takes precedence over the
        implicit orderings in the write sort.

        stat_columns is an engine extension: the write path harvests
        per-FILE min/max/null stats for these columns into the catalog
        (default: orderings + partition/cluster/unique keys), and
        read_pruned() plans file-skipping scans from that index
        without opening any footer — see node/skipping.py.

        check_constraints is an engine extension: {name: sql_bool_expr}
        verified against every buffered write in ONE aggregate job;
        a violating batch raises CheckConstraintViolation and writes
        NOTHING (the active version never flips). NULL evaluations
        pass (Delta CHECK semantics) — add `col IS NOT NULL` to forbid
        nulls. The q120 audit is the read-side analogue for data
        already landed.

        auto_compact_after is an engine extension (Delta auto-compact
        analogue): when an append flush leaves the active version with
        at least this many data files, compact() runs automatically —
        buffered appends land one file per flush, and at 100 TB
        unmanaged small files mean footer-per-file planning overhead
        and under-filled scan partitions. Compaction is a new version
        (invisible to readers; time travel keeps the old one).

        merge_on_read is an engine extension (Delta merge-on-read
        MERGE): upserts mask the OLD images of matched keys via
        deletion vectors and append only the batch as new files —
        nothing is rewritten, so an upsert touching keys scattered
        across the whole table costs O(files) metadata + the batch
        write instead of a table rewrite. Pass True (100k-row mask
        budget) or an int budget; past it — or once the accumulated
        mask exceeds it — the flush falls back to the rewriting MERGE,
        which also materializes the mask. compact() materializes too
        (pair with auto_compact_after to bound mask accumulation)."""
        if not self.is_connected:
            return
        updates: dict[str, Any] = {"auto_indexes": auto_indexes}
        if stat_columns is not None:
            updates["stat_columns"] = [stat_columns] if isinstance(stat_columns, str) else list(stat_columns)
        if bloom_columns is not None:
            # engine extension: per-file Bloom bitmaps for these columns
            # (equality skipping where ranges overlap but value sets are
            # disjoint — hash-bucketed ids, UUIDs; node/skipping.py)
            updates["bloom_columns"] = [bloom_columns] if isinstance(bloom_columns, str) else list(bloom_columns)
        if check_constraints is not None:
            updates["check_constraints"] = dict(check_constraints)
        if auto_compact_after is not None:
            updates["auto_compact_after"] = int(auto_compact_after)
        if merge_on_read is not None:
            updates["merge_on_read"] = (
                int(merge_on_read) if not isinstance(merge_on_read, bool) else bool(merge_on_read)
            )
        if retention_keep is not None:
            # versions kept beyond the active one for time travel
            updates["retention_keep"] = int(retention_keep)
        if retention_seconds is not None:
            # time-based retention (Delta logRetentionDuration
            # analogue): GC never reclaims a version younger than this,
            # whatever the count says — the declared time-travel window
            updates["retention_seconds"] = float(retention_seconds)
        if generated_columns is not None:
            # Delta GENERATED ALWAYS AS analogue: {col: sql_expr over
            # the other columns}, computed at EVERY write (user values
            # ignored). The natural partner of partition_by on derived
            # dates: init(generated_columns={"day": "to_date(ts)"},
            # partition_by="day") gives partition pruning on a column
            # writers never have to supply.
            updates["generated_columns"] = dict(generated_columns)
        if partition_by is not None:
            updates["partition_by"] = [partition_by] if isinstance(partition_by, str) else list(partition_by)
        if cluster_by is not None:
            updates["cluster_by"] = [cluster_by] if isinstance(cluster_by, str) else list(cluster_by)
        if schema is not None:
            struct = schema if isinstance(schema, T.StructType) else schema_dict_to_struct(schema)
            updates["schema_ddl"] = ",".join(f"{f.name} {f.dataType.simpleString()}" for f in struct.fields)
            self._declared_schema = struct
        if schema_hints is not None:
            updates["schema_hints"] = dict(schema_hints)
        if unique_on is not None:
            updates["unique_on"] = [unique_on] if isinstance(unique_on, str) else list(unique_on)
        if add_created is not None:
            updates["add_created"] = add_created
            updates.setdefault("created_ordering", add_created)
        if add_monotonic_id is not None:
            # the generated id is a strictly monotonic ordering (node.py:286-294)
            updates["add_monotonic_id"] = add_monotonic_id
            updates.setdefault("strictly_monotonic_ordering", add_monotonic_id)
        if strictly_monotonic_ordering is not None:
            updates["strictly_monotonic_ordering"] = strictly_monotonic_ordering
        if created_ordering is not None:
            updates["created_ordering"] = created_ordering
        self._engine.catalog.update_table_meta(self.store_name, **updates)

    # -- reads ------------------------------------------------------------
    def _active_df(self) -> DataFrame | None:
        av = self.get_active_version()
        if av is None or not av.exists:
            return None
        return _drop_hidden(self._engine, self.store_name, av.as_dataframe())

    def read(self, as_format: str = "records", chunksize: int | None = None):
        """Full scan of the active version (node.py:141-154). 'records'
        → list of dicts; 'dataframe' → pandas; chunksize → iterator."""
        if not self.is_connected:
            return iter(()) if chunksize else ([] if as_format == "records" else pd.DataFrame())
        df = self._active_df()
        if df is None:
            return iter(()) if chunksize else ([] if as_format == "records" else pd.DataFrame())
        if chunksize:
            return _chunked(df, as_format, chunksize)
        pdf = df.toPandas()
        return pdf.to_dict("records") if as_format == "records" else pdf

    def read_dataframe(self, chunksize: int | None = None):
        return self.read(as_format="dataframe", chunksize=chunksize)

    def read_spark(self, version: str | None = None) -> DataFrame:
        """Engine extension: the active version as a (lazy) Spark
        DataFrame — the scale-preferred read path (SURVEY.md §7.3-4).
        Pass version= for a time-travel read of any retained
        (not-yet-GC'd) version — see list_versions()."""
        if version is not None:
            ts = _parse_as_of(version)
            if ts is not None:
                df = as_of_dataframe(self._engine, self.store_name, version, ts)
                if df is None:
                    raise KeyError(
                        f"no retained state of table {self.store_name!r} at {version!r}"
                    )
            else:
                tv = self.get_version(version)
                df = tv.as_dataframe() if tv is not None and tv.exists else None
        else:
            df = self._active_df()
        if df is None:
            schema = self.schema or T.StructType([])
            return self._engine.spark.createDataFrame([], schema)
        return _drop_hidden(self._engine, self.store_name, df)

    # -- file-level data skipping (engine extension; node/skipping.py) ----
    def _ensure_file_stats(self, version_id: str, cols: list[str]) -> dict | None:
        """Catalog file stats for a version, covering `cols` — lazily
        backfilled (one footer-only walk, then cached) for versions
        created off the buffered write path (compact/recluster/clone/
        restore) or for columns outside the write-time stat set.

        Manifest versions (node/manifest.py) must cover every manifest
        FILE too — carried files live in other versions' directories,
        and a stats index missing them would make read_pruned silently
        drop their rows. Stats keys follow manifest.stats_key
        (version-relative for own files, full refs for carries)."""
        from . import manifest, skipping

        cat = self._engine.catalog
        stats = cat.get_file_stats(self.store_name, version_id)
        refs = cat.get_manifest(self.store_name, version_id)
        have: set[str] = set()
        if stats:
            for entry in stats.values():
                have.update((entry.get("cols") or {}).keys())
        missing_cols = [c for c in cols if c not in have]
        if refs is None:
            if stats is not None and not missing_cols:
                return stats
            storage = cat.version_dir(self.store_name, version_id)
            try:
                fresh = skipping.collect_file_stats(storage, missing_cols or cols)
            except Exception:
                return stats
            if stats:
                for rel, entry in fresh.items():
                    base = stats.setdefault(rel, {"rows": entry["rows"], "cols": {}})
                    base["cols"].update(entry["cols"])
            else:
                stats = fresh
            cat.set_file_stats(self.store_name, version_id, stats)
            return stats
        keys = {manifest.stats_key(r, self.store_name, version_id): r for r in refs}
        missing_files = [k for k in keys if not stats or k not in stats]
        if stats is not None and not missing_cols and not missing_files:
            # drop entries for files no longer in the manifest (e.g. a
            # truncate rewrote the version in place)
            if any(k not in keys for k in stats):
                stats = {k: v for k, v in stats.items() if k in keys}
                cat.set_file_stats(self.store_name, version_id, stats)
            return stats
        # harvest grouped by SOURCE version directory (footer-only)
        by_src: dict[str, list[tuple[str, str]]] = {}
        for k in keys:
            if manifest.is_ref(k):
                t, v = manifest.ref_source(k)
                src_dir, rel = cat.version_dir(t, v), manifest.ref_relpath(k)
            else:
                src_dir, rel = cat.version_dir(self.store_name, version_id), k
            by_src.setdefault(src_dir, []).append((k, rel))
        fresh = {}
        for src_dir, pairs in by_src.items():
            try:
                got = skipping.collect_file_stats(src_dir, cols)
            except Exception:
                continue
            for k, rel in pairs:
                if rel in got:
                    fresh[k] = got[rel]
        merged = {k: v for k, v in (stats or {}).items() if k in keys}
        for k, entry in fresh.items():
            base = merged.setdefault(k, {"rows": entry["rows"], "cols": {}})
            base["cols"].update(entry["cols"])
        if any(k not in merged for k in keys):
            return None  # incomplete coverage: caller must full-scan
        cat.set_file_stats(self.store_name, version_id, merged)
        return merged

    def prune_files(self, predicates: list[tuple], version: str | None = None) -> tuple[list[str], int]:
        """(kept_relpaths, total_files) for a conjunction of
        ``(col, op, value)`` predicates against the catalog's per-file
        stats — the planning half of read_pruned, exposed for
        introspection and tests. No Spark job, no footer reads when
        stats are already cached."""
        from . import skipping

        if not self.is_connected:
            return [], 0
        vid = version or self._engine.catalog.get_active_version(self.store_name)
        if vid is None:
            return [], 0
        from . import evolution

        meta = self._engine.catalog.table_meta(self.store_name) or {}
        dfl = evolution.column_defaults(meta)
        if any(p[0] in dfl for p in predicates):
            # a defaulted added column is NULL at rest: stats would
            # wrongly prune files whose logical value IS the default —
            # keep everything (the re-applied Spark filter stays exact)
            return [], 0
        # stats are harvested from footers, i.e. keyed by PHYSICAL names
        predicates = [(evolution.physical_name(meta, c), op, v) for (c, op, v) in predicates]
        cols = sorted({p[0] for p in predicates})
        stats = self._ensure_file_stats(vid, cols)
        if not stats:
            return [], 0
        return skipping.prune(stats, predicates), len(stats)

    def read_pruned(self, predicates: list[tuple], version: str | None = None) -> DataFrame:
        """Filtered read that prunes FILES from catalog metadata before
        Spark plans the scan (Delta-style data skipping; SURVEY.md §4's
        min/max pruning lever at file granularity). At 100 TB the scan
        lists only surviving files instead of opening O(files) footers.
        The same predicates are re-applied as a real Spark filter, so
        the result equals ``read_spark().filter(...)`` regardless of
        stats availability (missing stats ⇒ graceful full scan)."""
        from . import skipping

        cond = skipping.predicates_to_filter(predicates)
        if not self.is_connected:
            return self.read_spark().filter(cond)
        vid = version or self._engine.catalog.get_active_version(self.store_name)
        if vid is None:
            return self.read_spark(version=version).filter(cond)
        kept, total = self.prune_files(predicates, version=vid)
        if not total or len(kept) == total:
            return self.read_spark(version=version).filter(cond)
        schema = self.schema
        if not kept:
            return self._engine.spark.createDataFrame([], schema or T.StructType([])).filter(cond)
        # kept keys are manifest refs and/or version-relative paths;
        # _read_version_files resolves + groups them by source dir
        dvs = self._engine.catalog.get_deletion_vectors(self.store_name, vid)
        if dvs:
            # a deletion-vector mask is in force: the pruned subset
            # read must apply it too, or skipping would resurrect
            # masked rows. Split scan: only kept files that CARRY mask
            # entries pay the provenance read + anti-join. (kept keys
            # are stats keys — version-relative for own files; DV refs
            # are always full tables-root-relative refs.)
            from . import manifest as _mf

            by_ref = {
                k: (k if _mf.is_ref(k) else f"{self.store_name}/{vid}/{k}") for k in kept
            }
            masked_keys = [k for k, r in by_ref.items() if r in dvs]
            clean_keys = [k for k, r in by_ref.items() if r not in dvs]
            sub = {r: idxs for r, idxs in dvs.items() if r in set(by_ref.values())}
            parts = []
            if masked_keys:
                m = _read_version_files(
                    self._engine, self.store_name, vid, masked_keys, with_meta=True
                )
                parts.append(_dv_filter(self._engine, m, sub))
            if clean_keys:
                parts.append(_read_version_files(self._engine, self.store_name, vid, clean_keys))
            df = parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])
        else:
            df = _read_version_files(self._engine, self.store_name, vid, kept)
        return df.filter(cond)

    _ANALYZE_ORDERABLE = (
        T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.FloatType,
        T.DoubleType, T.DecimalType, T.StringType, T.DateType,
        T.TimestampType, T.TimestampNTZType, T.BooleanType,
    )

    def analyze(self) -> dict | None:
        """ANALYZE TABLE (engine extension — the reference's hosted
        warehouse keeps these server-side; a local engine needs them
        for the same reasons a warehouse does: join-size estimates,
        partition-key choice, q175-style layout advice). ONE aggregate
        job over the active version computes, per column: non-null
        count, approximate NDV (Spark's HLL++ approx_count_distinct —
        the mergeable-sketch idea of q196 as the built-in), and
        min/max for orderable atomic types. Stored per-version in the
        catalog (column_stats) and surfaced as the __sys_column_stats
        view; returns the stats dict."""
        if not self.is_connected:
            return None
        av = self.get_active_version()
        if av is None or not av.exists:
            return None
        df = av.as_dataframe()
        aggs = [F.count(F.lit(1)).alias("__rows")]
        plan: list[tuple[str, str, bool]] = []  # (col, alias-prefix, orderable)
        for i, f in enumerate(df.schema.fields):
            p = f"__c{i}"
            orderable = isinstance(f.dataType, self._ANALYZE_ORDERABLE)
            plan.append((f.name, p, orderable))
            aggs.append(F.count(F.col(f.name)).alias(f"{p}_nn"))
            if orderable:
                aggs.append(F.approx_count_distinct(f.name).alias(f"{p}_ndv"))
                aggs.append(F.min(f.name).alias(f"{p}_min"))
                aggs.append(F.max(f.name).alias(f"{p}_max"))
        row = df.agg(*aggs).collect()[0].asDict()
        cols = {}
        for name, p, orderable in plan:
            cols[name] = {
                "n_nonnull": row[f"{p}_nn"],
                "ndv_approx": row.get(f"{p}_ndv"),
                "min": row.get(f"{p}_min"),
                "max": row.get(f"{p}_max"),
            }
        stats = {"rows": row["__rows"], "ts": time.time(), "cols": cols}
        self._engine.catalog.set_column_stats(self.store_name, av.version_id, stats)
        return stats

    def read_sql(self, sql: str, as_format: str = "records", chunksize: int | None = None):
        """Arbitrary SQL over storage; caller interpolates sql_name
        (node.py:168-189). Full Spark SQL / Catalyst surface.
        Engine extension: `{{ store }}` / `{{ store@version }}` /
        `{{ store@latest }}` templates render like SQL nodes, so time
        travel is available from the read surface too."""
        if not self.is_connected:
            return [] if as_format == "records" else pd.DataFrame()
        if "{{" in sql:
            sql = self._engine.render_sql(sql, this=self)
        df = self._engine.spark.sql(sql)
        if chunksize:
            return _chunked(df, as_format, chunksize)
        pdf = df.toPandas()
        return pdf.to_dict("records") if as_format == "records" else pdf

    def as_stream(self, order_by: str | None = None, starting_value: Any = None) -> "Stream":
        """Ordered exactly-once cursor over this table (node.py:191-214).
        order_by defaults to the schema's strictly_monotonic_ordering,
        else its created_ordering, else error."""
        if not self.is_connected:
            return Stream(self, None, None)  # inert stream
        meta = self._engine.catalog.table_meta(self.store_name) or {}
        ob = order_by or meta.get("strictly_monotonic_ordering") or meta.get("created_ordering")
        if ob is None:
            raise ValueError(
                f"table {self.store_name!r} has no default ordering; pass order_by= "
                "(node.py:197-204: requires strictly_monotonic_ordering or created_ordering)"
            )
        return Stream(self, ob, starting_value)

    # -- writes ------------------------------------------------------------
    def append(self, records: Any) -> None:
        """Append records; BUFFERED, flushed in batches and at execution
        end (node.py:299-316). First write creates the table (declared
        schema wins, else inferred)."""
        if not self.is_connected:
            return
        self._buffer.append(("append", records))
        self._buffered_rows += _estimate_rows(records)
        self._maybe_autoflush()

    def upsert(self, records: Any) -> None:
        """Insert-or-update on the unique_on key (node.py:318-334);
        buffered like append."""
        if not self.is_connected:
            return
        meta = self._engine.catalog.table_meta(self.store_name) or {}
        if not meta.get("unique_on"):
            raise ValueError(f"upsert on table {self.store_name!r} requires unique_on (Table.init)")
        self._buffer.append(("upsert", records))
        self._buffered_rows += _estimate_rows(records)
        self._maybe_autoflush()

    def replace(self, records: Any) -> None:
        """Reset to a fresh version containing exactly `records`
        (node.py:336-345: 'table.reset(); table.append(records)')."""
        if not self.is_connected:
            return
        self._buffer.clear()
        self._buffered_rows = 0
        self.reset()
        self.append(records)
        self.flush()

    def truncate(self) -> None:
        """Delete all rows keeping table + schema; destructive, no
        version flip (node.py:347-354)."""
        if not self.is_connected:
            return
        av = self.get_active_version()
        if av is None or not av.exists:
            return
        schema = av.schema
        empty = self._engine.spark.createDataFrame([], schema)
        empty.write.mode("overwrite").parquet(av.storage)
        from . import manifest as _mf

        # the overwrite replaced the version's files in place: the
        # manifest drops any carried refs, and the stale skipping
        # index / ordering hwm are cleared with it
        _mf.record(self._engine.catalog, self.store_name, av.version_id)
        self._engine.catalog.set_file_stats(self.store_name, av.version_id, {})
        self._engine.catalog.set_order_hwm(self.store_name, av.version_id, None)
        self._engine.catalog.set_record_count(self.store_name, av.version_id, 0)
        # the in-place overwrite replaced every file the masks referred
        # to; a stale mask would inflate n_masked_rows and eat future
        # DV budgets (and the ref remap would carry it forever)
        self._engine.catalog.set_deletion_vectors(self.store_name, av.version_id, {})
        self.signal_update()

    def reset(self) -> None:
        """Point at a new null TableVersion; old data kept until GC
        (node.py:399-405,216-222)."""
        if not self.is_connected:
            return
        vid = self._engine.catalog.create_new_version(self.store_name)
        self._engine.catalog.set_active_version(self.store_name, vid)
        self._engine.catalog.gc_versions(self.store_name)
        self.signal_reset()

    def flush(self) -> None:
        """Flush buffered append/upsert records to disk as one Spark job
        (node.py:407-414; auto at execution end)."""
        if not self.is_connected or not self._buffer:
            return
        appends = [r for kind, r in self._buffer if kind == "append"]
        upserts = [r for kind, r in self._buffer if kind == "upsert"]
        self._buffer.clear()
        self._buffered_rows = 0
        if appends:
            self._flush_batch(appends, upsert=False)
        if upserts:
            self._flush_batch(upserts, upsert=True)
        if appends:
            # appends accrete one file per flush; rewrites start fresh
            self._maybe_auto_compact()

    def _maybe_auto_compact(self) -> None:
        meta = self._engine.catalog.table_meta(self.store_name) or {}
        n = meta.get("auto_compact_after")
        if not n:
            return
        av = self.get_active_version()
        if av is None or not av.exists:
            return
        from . import manifest as _mf

        refs = _mf.version_refs(self._engine.catalog, self.store_name, av.version_id)
        if len(refs) >= n:
            self.compact()

    def _maybe_autoflush(self, threshold: int = 100_000) -> None:
        # periodic batch flush (node.py:305-307): bound driver memory
        if self._buffered_rows >= threshold:
            self.flush()

    def _prepare_batch(self, batches: list[Any]) -> DataFrame:
        spark = self._engine.spark
        declared = None
        if self._declared_schema is not None:
            declared = (
                self._declared_schema
                if isinstance(self._declared_schema, T.StructType)
                else schema_dict_to_struct(self._declared_schema)
            )
        dfs = [records_to_dataframe(spark, b, None) for b in batches]
        df = dfs[0]
        for other in dfs[1:]:
            df = df.unionByName(other, allowMissingColumns=True)
        meta = self._engine.catalog.table_meta(self.store_name) or {}
        if declared is None and not self.exists and meta.get("schema_ddl"):
            # a schema declared OUTSIDE this Table instance (store-level
            # graph.yml `schema:`, or init() in an earlier execution)
            # still wins over first-write inference
            declared = T.StructType.fromDDL(meta["schema_ddl"])
        if declared is not None and not self.exists:
            df = conform_to_schema(df, declared)
        df = apply_schema_hints(df, meta.get("schema_hints"))
        if meta.get("add_created"):
            df = df.withColumn(meta["add_created"], F.current_timestamp())
        if meta.get("add_monotonic_id"):
            df = self._with_monotonic_id(df, meta["add_monotonic_id"])
        existing_schema = self.schema
        if existing_schema is not None and self.exists:
            # schema evolution: cast to existing field types, null-fill
            # missing, keep new fields (merge-schema append)
            df = conform_to_schema(df, existing_schema)
        return df

    def _with_monotonic_id(self, df: DataFrame, col: str) -> DataFrame:
        """Dense base32 ids from the catalog high-watermark; assigned at
        flush on the driver-reserved block so Spark task retries can't
        duplicate or skip ids (SURVEY.md §7.3-1).

        Two-pass partition-offset assignment (no global single-partition
        sort): pass 1 counts rows per partition (tiny job), pass 2
        numbers rows within each partition in parallel and adds the
        partition's cumulative offset — ids stay dense and their lexical
        order follows (partition, row) order."""
        df = df.withColumn("__pid", F.spark_partition_id())
        counts = {r["__pid"]: r["n"] for r in df.groupBy("__pid").agg(F.count(F.lit(1)).alias("n")).collect()}
        if not counts:  # empty batch: typed null id column, no block burn
            return df.withColumn(col, F.lit(None).cast(T.StringType())).drop("__pid")
        n = sum(counts.values())
        start = self._engine.catalog.allocate_monotonic_block(self.store_name, n)
        offsets, acc = {}, 0
        for pid in sorted(counts):
            offsets[pid] = acc
            acc += counts[pid]
        offset_map = F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv])
        w = Window.partitionBy("__pid").orderBy(F.monotonically_increasing_id())
        seq = F.lit(start) + offset_map[F.col("__pid")] + F.row_number().over(w) - F.lit(1)
        return df.withColumn(col, encode_base32_col(seq)).drop("__pid")

    def _enforce_check_constraints(self, df: DataFrame, meta: dict) -> None:
        """Reject the WHOLE flush if any declared CHECK constraint is
        violated by any incoming row (Delta CHECK semantics: a row
        violates only when the expression evaluates FALSE — NULL
        passes; pair with an explicit `col IS NOT NULL` check to
        forbid nulls). All constraints are verified in ONE aggregate
        job over the batch; on violation nothing is written and no
        version flips — the active version is untouched (atomicity
        comes from the version-flip design, not rollback)."""
        checks = meta.get("check_constraints") or {}
        if not checks:
            return
        aggs = [
            F.sum(F.when(F.expr(expr) == False, 1).otherwise(0)).alias(name)  # noqa: E712
            for name, expr in checks.items()
        ]
        row = df.agg(*aggs).collect()[0]
        bad = {name: int(row[name]) for name in checks if row[name]}
        if bad:
            detail = ", ".join(
                f"{name!r} ({checks[name]}): {n} row(s)" for name, n in bad.items()
            )
            raise CheckConstraintViolation(
                f"write to table {self.store_name!r} rejected — CHECK constraint(s) violated: {detail}"
            )

    def _flush_batch(self, batches: list[Any], upsert: bool) -> None:
        catalog = self._engine.catalog
        existing_schema = self.schema if self.exists else None
        df = self._prepare_batch(batches)
        meta = catalog.table_meta(self.store_name) or {}
        self._enforce_check_constraints(df, meta)
        av = self.get_active_version()
        created = av is None
        if upsert:
            keys = meta["unique_on"]
            # last-wins dedup of the batch itself on the key
            order_col = meta.get("add_monotonic_id") or meta.get("add_created")
            if order_col and order_col in df.columns:
                w = Window.partitionBy(*keys).orderBy(F.col(order_col).desc())
            else:
                w = Window.partitionBy(*keys).orderBy(F.monotonically_increasing_id().desc())
            df = df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")
            from . import manifest as _mf

            if av is not None and av.exists and meta.get("merge_on_read"):
                # deletion-vector MERGE: mask matched keys' old images,
                # append the batch — nothing rewritten. False = mask
                # budget exceeded; fall through to the rewriting MERGE
                # below, which also materializes the accumulated mask.
                if self._upsert_merge_on_read(df, meta, av, keys, existing_schema):
                    return

            part_cols = meta.get("partition_by") or []
            old_refs: list[str] = []
            scoped = (
                av is not None
                and av.exists
                and len(part_cols) == 1
                and part_cols[0] in df.columns
                # a deletion-vector mask would ride carried files into
                # the new version unmasked — full merge materializes it
                and not catalog.get_deletion_vectors(self.store_name, av.version_id)
            )
            if scoped:
                old_refs = _mf.version_refs(catalog, self.store_name, av.version_id)
                # EVERY old data file must carry a `pc=` hive segment: a
                # flat or MIXED layout (files written before partition_by
                # was declared) holds rows of arbitrary partitions, so a
                # partition-scoped carry would silently drop them — full
                # merge instead. (The old dir-listing check passed on
                # mixed layouts; the per-file manifest check is exact.)
                scoped = bool(old_refs) and all(
                    _mf.partition_segment_value(r, part_cols[0]) is not None for r in old_refs
                )
            touched: list = []
            if scoped:
                pc = part_cols[0]
                old = av.as_dataframe()
                old = conform_to_schema(old, merge_schemas(old.schema, df.schema))
                df = conform_to_schema(df, old.schema)
                touched = [r[0] for r in df.select(pc).distinct().collect()]
                if pc not in keys:
                    # unique_on doesn't pin a key to its partition, so an
                    # update may MOVE a key: the stale row could live in a
                    # partition the batch doesn't write. Locate every old
                    # partition holding a matching key (semi-join = one
                    # scan, no rewrite) and rewrite those too — table-wide
                    # key uniqueness holds (reference node.py upsert:
                    # "updating if unique key conflicts"), while untouched
                    # data is still hardlinked, never rewritten.
                    hit = (
                        old.join(df.select(*keys).distinct(), on=keys, how="left_semi")
                        .select(pc)
                        .distinct()
                        .collect()
                    )
                    touched = list({*touched, *[r[0] for r in hit]})
                # Null partition values break both the isin() filter and
                # the __HIVE_DEFAULT_PARTITION__ dir-name comparison:
                # full merge for correctness.
                if any(v is None for v in touched):
                    scoped = False
            if av is not None and av.exists and not scoped:
                old = av.as_dataframe()
                old = conform_to_schema(old, merge_schemas(old.schema, df.schema))
                df = conform_to_schema(df, old.schema)
                # MERGE rewrite: untouched old rows (anti-join on key) + new
                # batch → new version. This rewrites the whole table; the
                # partition-scoped path below bounds it when partition_by
                # is declared (SURVEY.md §7.3-3). Small batches broadcast
                # automatically under AQE.
                survivors = old.join(df.select(*keys), on=keys, how="left_anti")
                df = survivors.unionByName(df)
            elif scoped:
                # PARTITION-SCOPED MERGE: only partitions the batch (or a
                # key-move) touches are re-read and rewritten; untouched
                # files are CARRIED into the new version as manifest refs
                # (node/manifest.py) — hardlinked file-by-file on the
                # local fast path, a pure metadata edit in reference
                # (object-storage) mode. O(files) metadata ops, zero data
                # movement either way — the Spark-side analogue of
                # partition-level MERGE.
                old_touched = old.filter(F.col(pc).isin(touched))
                survivors = old_touched.join(df.select(*keys), on=keys, how="left_anti")
                df = survivors.unionByName(df)
            new_version = catalog.create_new_version(self.store_name)
            out_dir = catalog.version_dir(self.store_name, new_version)
            df = self._sorted_for_write(df, meta)
            self._writer(df, meta).mode("overwrite").parquet(out_dir)
            carried: list[str] = []
            if scoped:
                touched_strs = {self._hive_value_str(v) for v in touched}
                untouched = [
                    r for r in old_refs
                    if _mf.partition_segment_value(r, part_cols[0]) not in touched_strs
                ]
                carried = _mf.carry(catalog, self.store_name, new_version, untouched)
            _mf.record(catalog, self.store_name, new_version, carried)
            # the count is a Spark job — run it BEFORE the commit batch
            # (never hold the catalog's cross-process exclusion over a job)
            if _mf.has_external_refs(catalog, self.store_name, new_version):
                n = TableVersion(self._engine, self.store_name, new_version).as_dataframe().count()
            else:
                n = self._engine.spark.read.parquet(out_dir).count()
            # MERGE is read-modify-write: compare-and-swap against the
            # base version this upsert READ (optimistic concurrency).
            # On CAS refusal the just-written version is an orphan —
            # drop it before re-raising so repeated retries don't
            # accumulate inactive version dirs/metadata (ADVICE r3).
            # Count/stats/hwm/flip/GC land in ONE catalog commit
            # (commit_batch): a refused CAS rolls the whole batch back,
            # so no stats of an orphan version ever commit.
            try:
                with catalog.commit_batch():
                    catalog.set_record_count(self.store_name, new_version, n)
                    self._track_write_stats(out_dir, meta, new_version)
                    if scoped:
                        self._carry_order_hwm(new_version, self.store_name, av.version_id)
                    catalog.set_active_version(
                        self.store_name, new_version,
                        expected_parent=av.version_id if av is not None else None,
                    )
                    catalog.gc_versions(self.store_name)
            except ConcurrentWriteError:
                catalog.drop_version(self.store_name, new_version)
                raise
        else:
            if created:
                vid = catalog.create_new_version(self.store_name)
                catalog.set_active_version(self.store_name, vid)
                av = TableVersion(self._engine, self.store_name, vid)
            df = self._sorted_for_write(df, meta)
            existed = av.exists
            if existed:
                prev = catalog.get_record_count(self.store_name, av.version_id)
                if prev is None:
                    # cache miss (a version written without a
                    # recorded count): count the stored data BEFORE
                    # appending, or record_count would silently
                    # underreport as just the batch size
                    prev = av.as_dataframe().count()
            else:
                prev = 0
            from . import manifest as _mf

            write_meta = meta
            if existed:
                pbs = meta.get("partition_by") or []
                refs0 = _mf.version_refs(catalog, self.store_name, av.version_id) if pbs else []
                if refs0 and not all(
                    all(_mf.partition_segment_value(r, pc) is not None for pc in pbs)
                    for r in refs0
                ):
                    # the stored version predates partition_by (flat
                    # layout): appending hive dirs into it would MIX root
                    # files with partition dirs — a dataset Spark cannot
                    # read consistently (flat rows silently drop). Keep
                    # the version's layout; the next full rewrite
                    # (upsert/replace/compact) adopts the partitioning.
                    write_meta = {**meta, "partition_by": []}
            # refs carried from other versions (a reference-mode clone
            # being appended to) must survive the manifest refresh
            ext = _mf.external_refs(catalog, self.store_name, av.version_id)
            self._writer(df, write_meta).mode("append").parquet(av.storage)
            batch_n = df.count()  # Spark job: before the commit batch
            with catalog.commit_batch():
                _mf.record(catalog, self.store_name, av.version_id, ext)
                catalog.set_record_count(self.store_name, av.version_id, prev + batch_n)
                self._track_write_stats(av.storage, meta, av.version_id)
        # persist the MERGED schema (driver-side union of existing +
        # batch): the version dir may hold files with different column
        # sets, and reads pin to this schema (TableVersion.as_dataframe)
        out_schema = df.schema if existing_schema is None else merge_schemas(existing_schema, df.schema)
        catalog.update_table_meta(
            self.store_name,
            schema_ddl=",".join(f"{f.name} {f.dataType.simpleString()}" for f in out_schema.fields),
        )
        if created:
            self.signal_create()
        else:
            self.signal_update()

    def _upsert_merge_on_read(
        self,
        df: DataFrame,
        meta: dict,
        av: "TableVersion",
        keys: list[str],
        existing_schema,
        mask_keys: DataFrame | None = None,
        batch_n: int | None = None,
        mask_n: int | None = None,
    ) -> bool:
        """Deletion-vector MERGE (init(merge_on_read=...)): carry every
        file of the parent version, mask the OLD images of keys present
        in the batch via (file, row_index) deletion vectors, and append
        only the batch as the new version's own files. An upsert whose
        keys scatter across the whole table costs O(files) metadata +
        the batch write — the rewriting MERGE would rewrite every
        touched file (all of them, without partition_by). Returns False
        when the mask budget is exceeded (fresh matches, or accumulated
        mask) — the caller's rewriting MERGE then both applies the
        batch and materializes the mask. compact() materializes too.
        ``mask_keys`` (default: the batch's own keys) lets apply_cdc
        mask a SUPERSET of the appended rows' keys — 'D' rows mask
        their old images without appending anything."""
        from . import manifest as _mf

        catalog = self._engine.catalog
        budget = meta.get("merge_on_read")
        max_rows = 100_000 if budget is True else int(budget)
        if any(k not in (self.schema or T.StructType([])).fieldNames() for k in keys):
            return False  # batch introduces the key column: plain merge
        refs = _mf.version_refs(catalog, self.store_name, av.version_id)
        if batch_n is None:
            batch_n = df.count()  # Spark job: before any catalog section
        mkdf = df if mask_keys is None else mask_keys
        if mask_n is not None:
            mk_n = mask_n
        elif mask_keys is None:
            mk_n = batch_n
        else:
            mk_n = mask_keys.count()
        # file skipping on the key: probe only files whose min/max (and
        # Bloom bitmap, if declared) can contain batch keys — an upsert
        # of key-localized batches (time-ordered ids, recent partitions)
        # probes O(touched files), not the table. Stats-missing or
        # all-files-kept degrades to the full probe; files skipped here
        # provably hold no matching key, so the DV result is identical.
        # The small-batch key set is collected ONCE and reused by both
        # the file probe and the doomed scan's pushed-down IN predicate
        # (r7 opt — previously the probe collected it and the doomed
        # scan rebuilt it as a broadcast join build side).
        probe_refs = refs
        key_vals = None
        if len(keys) == 1:
            vals = None
            if mk_n <= 10_000:
                vals = [r[0] for r in mkdf.select(keys[0]).distinct().collect()]
                if vals and not any(v is None for v in vals):
                    key_vals = vals
            if vals is None or key_vals is not None:
                kept = self._key_probe_files(
                    mkdf, keys[0], mk_n, av.version_id, precollected=key_vals
                )
                if kept is not None:
                    probe_refs = kept
        base = _read_version_files(
            self._engine, self.store_name, av.version_id, probe_refs, with_meta=True
        )
        existing = catalog.get_deletion_vectors(self.store_name, av.version_id)
        if existing:
            base = base.join(
                F.broadcast(_dv_pairs_df(self._engine, existing)),
                ["__dv_ref", "__dv_idx"],
                "left_anti",
            )
        # NOTE (r7, measured and rejected): replacing this broadcast
        # semi-join with an isin() over the already-collected key set
        # looked like a free job save, but a ~3k-literal In predicate
        # cost ~1.5-2 s of driver-side planning per apply — 2.5x SLOWER
        # end to end than the broadcast build job it removed. Keep the
        # semi-join.
        batch_keys = mkdf.select(
            *[F.col(k).cast(base.schema[k].dataType).alias(k) for k in keys]
        ).distinct()
        if mk_n <= 2_000_000:
            batch_keys = F.broadcast(batch_keys)
        doomed = (
            base.join(batch_keys, on=keys, how="left_semi")
            .select("__dv_ref", "__dv_idx")
            .limit(max_rows + 1)
            .collect()
        )
        n_existing = sum(len(v) for v in existing.values())
        if len(doomed) + n_existing > max_rows:
            return False

        new_version = catalog.create_new_version(self.store_name)
        out_dir = catalog.version_dir(self.store_name, new_version)
        # keep the stored version's layout (same guard as appends): a
        # flat parent must not gain hive dirs mid-version-lineage
        write_meta = meta
        pbs = meta.get("partition_by") or []
        if pbs and refs and not all(
            all(_mf.partition_segment_value(r, pc) is not None for pc in pbs) for r in refs
        ):
            write_meta = {**meta, "partition_by": []}
        self._writer(self._sorted_for_write(df, write_meta), write_meta).mode("append").parquet(out_dir)
        carried = _mf.carry(catalog, self.store_name, new_version, refs)
        remap = dict(zip(refs, carried))
        dvs: dict[str, list[int]] = {}
        for ref, idxs in existing.items():
            dvs.setdefault(remap.get(ref, ref), []).extend(idxs)
        for r in doomed:
            dvs.setdefault(remap.get(r["__dv_ref"], r["__dv_ref"]), []).append(int(r["__dv_idx"]))
        old_n = catalog.get_record_count(self.store_name, av.version_id)
        if old_n is None:
            old_n = av.as_dataframe().count()  # Spark job: before the commit
        try:
            with catalog.commit_batch():
                _mf.record(catalog, self.store_name, new_version, carried)
                catalog.set_deletion_vectors(self.store_name, new_version, dvs)
                catalog.set_record_count(
                    self.store_name, new_version, old_n - len(doomed) + batch_n
                )
                self._track_write_stats(out_dir, meta, new_version)
                self._carry_order_hwm(new_version, self.store_name, av.version_id)
                catalog.set_active_version(
                    self.store_name, new_version, expected_parent=av.version_id
                )
                catalog.gc_versions(self.store_name)
        except ConcurrentWriteError:
            catalog.drop_version(self.store_name, new_version)
            raise
        out_schema = df.schema if existing_schema is None else merge_schemas(existing_schema, df.schema)
        catalog.update_table_meta(
            self.store_name,
            schema_ddl=",".join(f"{f.name} {f.dataType.simpleString()}" for f in out_schema.fields),
        )
        self.signal_update()
        return True

    def _key_probe_files(
        self, df: DataFrame, key: str, batch_n: int, version_id: str,
        precollected: list | None = None,
    ) -> list[str] | None:
        """File subset that can contain the batch's key values, from
        the catalog's per-file stats (min/max + Bloom bitmaps when
        declared): small batches probe by the exact value set ('in' —
        Bloom-prunable), large ones by key range. None = no pruning
        possible (stats missing, or every file kept). ``precollected``
        passes an already-collected null-free small-batch value set so
        the caller's collect is not repeated (r7 opt)."""
        try:
            if batch_n <= 10_000:
                vals = (
                    precollected
                    if precollected is not None
                    else [r[0] for r in df.select(key).distinct().collect()]
                )
                if not vals or any(v is None for v in vals):
                    return None
                preds = [(key, "in", vals)]
            else:
                agg = df.agg(F.min(key).alias("lo"), F.max(key).alias("hi")).collect()[0]
                if agg["lo"] is None:
                    return None
                preds = [(key, "between", (agg["lo"], agg["hi"]))]
            kept, total = self.prune_files(preds, version=version_id)
        except Exception:
            return None  # unprunable type/op: full probe stays correct
        if not total or len(kept) == total:
            return None
        return kept

    def _carry_order_hwm(self, new_version: str, src_name: str, src_version: str) -> None:
        """Propagate the ordering high-water mark through a zero-copy
        carry: carried files may hold the table's max order value, and
        the own-directory footer walk (_track_write_stats) cannot see
        them in reference mode. The new version's hwm becomes
        max(own-walk hwm, source version hwm)."""
        cat = self._engine.catalog
        src = cat.get_order_hwm(src_name, src_version)
        if src is None:
            return
        cur = cat.get_order_hwm(self.store_name, new_version)
        try:
            best = src if cur is None or src > cur else cur
        except TypeError:
            return
        cat.set_order_hwm(self.store_name, new_version, best)

    @staticmethod
    def _hive_value_str(v) -> str:
        """Python value -> the string Spark embeds in a hive partition
        dir name (post-unquote). Matches Spark's cast-to-string forms
        for the scalar types a unique_on partition column can hold."""
        if isinstance(v, bool):
            return "true" if v else "false"
        return str(v)

    def _sorted_for_write(self, df: DataFrame, meta: dict) -> DataFrame:
        """Write versions sorted by the declared ordering so Parquet
        min/max stats prune incremental stream slices (SURVEY.md §4
        'incremental stream slice pruning'); auto_indexes≈sort-on-key.
        Also the single choke point where GENERATED columns are
        computed: declared expressions ALWAYS overwrite whatever the
        batch carried (Delta GENERATED ALWAYS AS semantics — schema
        conformance may have null-filled the column, and user-supplied
        values must not diverge from the generator)."""
        for col, expr in (meta.get("generated_columns") or {}).items():
            df = df.withColumn(col, F.expr(expr))
        cb = [c for c in (meta.get("cluster_by") or []) if c in df.columns]
        if cb:
            from ..operators.layout import zvalue

            return df.sortWithinPartitions(zvalue(cb))
        ob = meta.get("strictly_monotonic_ordering") or meta.get("created_ordering")
        if ob and ob in df.columns:
            return df.sortWithinPartitions(ob)
        if meta.get("auto_indexes") and meta.get("unique_on"):
            keys = [k for k in meta["unique_on"] if k in df.columns]
            if keys:
                return df.sortWithinPartitions(*keys)
        return df

    @staticmethod
    def _writer(df: DataFrame, meta: dict):
        """DataFrameWriter honoring the table's partition_by (hive-style
        partition dirs -> partition pruning on partition-key filters).
        Converts logical -> physical column names at this single write
        boundary, so every file at rest is uniformly physical no matter
        which path produced the DataFrame (node/evolution.py)."""
        from . import evolution

        df = evolution.to_physical(df, meta)
        cols = [c for c in (meta.get("partition_by") or []) if c in df.columns]
        w = df.write
        if cols:
            w = w.partitionBy(*cols)
        return w

    # -- sql ------------------------------------------------------------
    def execute_sql(self, sql: str) -> None:
        """Run DDL/DML that creates or updates THIS table
        (node.py:356-373). The engine classifies the statement to emit
        create-vs-update events (node.py:358-363): CREATE TABLE ... AS
        → new version + create; INSERT INTO ... → append + update."""
        if not self.is_connected:
            return
        # views intercept BEFORE rendering: the definition stores the
        # {{ ref }} TEMPLATE so expansion late-binds to the versions
        # active at query time, not at CREATE VIEW time
        m_cv = re.match(r"\s*create\s+(?:or\s+replace\s+)?view\s+(\w+)\s+as\s+(.*?)\s*;?\s*$", sql, re.I | re.S)
        m_dv = re.match(r"\s*drop\s+view\s+(\w+)\s*;?\s*$", sql, re.I)
        if m_cv:
            self._engine.create_view(m_cv.group(1), m_cv.group(2))
            return
        if m_dv:
            self._engine.drop_view(m_dv.group(1))
            return
        # a CREATE/DROP VIEW whose name is qualified or quoted would
        # otherwise fall through template rendering into raw spark.sql
        # and create a session-scoped temp view — a silent semantic
        # divergence; reject it explicitly instead (ADVICE r3)
        if re.match(r"\s*(create\s+(or\s+replace\s+)?|drop\s+)view\b", sql, re.I):
            raise ValueError(
                "catalog views support plain identifiers only "
                "(CREATE [OR REPLACE] VIEW <name> AS ... / DROP VIEW <name>); "
                f"qualified or quoted view names are not supported: {sql.strip()[:80]!r}"
            )
        rendered = self._engine.render_sql(sql, this=self)
        if re.match(r"\s*merge\s+into\b", rendered, re.I):
            return self._execute_merge(rendered)
        m_ctas = re.match(r"\s*create\s+(?:or\s+replace\s+)?table\s+(\S+)\s+as\s+(.*)", rendered, re.I | re.S)
        m_ins = re.match(r"\s*insert\s+into\s+(\S+)\s+(.*)", rendered, re.I | re.S)
        m_del = re.match(r"\s*delete\s+from\s+(\S+)(?:\s+where\s+(.*))?\s*;?\s*$", rendered, re.I | re.S)
        m_upd = re.match(r"\s*update\s+(\S+)\s+set\s+(.*?)(?:\s+where\s+(.*))?\s*;?\s*$", rendered, re.I | re.S)
        m_alt = re.match(r"\s*alter\s+table\s+\S+\s+(.*?)\s*;?\s*$", rendered, re.I | re.S)
        if m_alt:
            body = m_alt.group(1)
            m_add = re.match(
                r"add\s+column\s+(\w+)\s+([\w<>,()\s]+?)(?:\s+default\s+(.+?))?\s*$", body, re.I | re.S
            )
            m_ren = re.match(r"rename\s+column\s+(\w+)\s+to\s+(\w+)\s*$", body, re.I)
            m_drop = re.match(r"drop\s+column\s+(\w+)\s*$", body, re.I)
            if m_add:
                self.add_column(m_add.group(1), m_add.group(2).strip(), m_add.group(3))
            elif m_ren:
                self.rename_column(m_ren.group(1), m_ren.group(2))
            elif m_drop:
                self.drop_column(m_drop.group(1))
            else:
                raise ValueError(f"unsupported ALTER TABLE clause: {body!r}")
            return
        if m_ctas:
            result = self._engine.spark.sql(m_ctas.group(2))
            self.write_dataframe_as_new_version(result)
        elif m_ins:
            result = self._engine.spark.sql(m_ins.group(2))
            self.append(result)
            self.flush()
        elif m_del:
            # merge-on-read tables take the deletion-vector DML forms
            # (budget-bounded; falls back to the rewrite past it)
            mor = (self._engine.catalog.table_meta(self.store_name) or {}).get("merge_on_read")
            self.delete_where(
                m_del.group(2) or "true",
                vectorized=bool(mor),
                max_dv_rows=_mor_budget(mor),
            )
        elif m_upd:
            mor = (self._engine.catalog.table_meta(self.store_name) or {}).get("merge_on_read")
            self.update_where(
                _parse_set_clause(m_upd.group(2)),
                m_upd.group(3) or "true",
                vectorized=bool(mor),
                max_dv_rows=_mor_budget(mor),
            )
        else:
            self._engine.spark.sql(rendered)
            self.signal_update()

    def _execute_merge(self, rendered: str) -> None:
        """Route the standard SQL upsert statement through the engine's
        MERGE machinery (reference contract: arbitrary DML via
        execute_sql, node.py:356-373; VERDICT r5 'what's missing'):

            MERGE INTO {{ this }} AS t USING <table|(subquery)> AS s
            ON t.k = s.k [AND ...]
            [WHEN MATCHED [AND c] THEN UPDATE SET * | SET col = expr, ...]
            [WHEN MATCHED [AND c] THEN DELETE]
            [WHEN NOT MATCHED [AND c] THEN INSERT * | (cols) VALUES (...)]

        The plain SET * / INSERT * form IS Table.upsert (buffered MERGE,
        partition-scoped / merge-on-read DV path per the table's init);
        every other combination compiles to one CDC batch (U rows from
        the matched join, D rows from matched deletes, I rows from the
        source anti-join) applied via apply_cdc — so merge-on-read
        targets take the deletion-vector path and events are emitted by
        the underlying writers. The ON clause must cover the target's
        unique_on equi-keys, both sides alias-qualified; duplicate
        source keys resolve last-wins (apply_cdc), where ANSI MERGE
        would error."""
        spark = self._engine.spark
        meta = self._engine.catalog.table_meta(self.store_name) or {}
        keys = list(meta.get("unique_on") or [])
        if not keys:
            raise ValueError(
                f"MERGE INTO on table {self.store_name!r} requires unique_on (Table.init)"
            )
        i_using = _find_top_level(rendered, "using")
        if i_using < 0:
            raise ValueError("MERGE INTO: missing USING clause")
        i_on = _find_top_level(rendered, "on", i_using + 5)
        if i_on < 0:
            raise ValueError("MERGE INTO: missing ON clause")
        i_when = _find_top_level(rendered, "when", i_on + 2)
        if i_when < 0:
            raise ValueError("MERGE INTO: needs at least one WHEN clause")
        head = re.match(
            r"\s*merge\s+into\s+(\S+)(?:\s+(?:as\s+)?(\w+))?\s*$", rendered[:i_using], re.I
        )
        if not head:
            raise ValueError(f"MERGE INTO: cannot parse target: {rendered[:i_using].strip()!r}")
        t_alias = head.group(2)
        src_sql = rendered[i_using + 5 : i_on].strip().rstrip(";")
        on_sql = rendered[i_on + 2 : i_when].strip()
        m_src_alias = re.search(r"(?:\s+as)?\s+(\w+)\s*$", src_sql, re.I)
        s_alias = m_src_alias.group(1) if m_src_alias else None
        if not t_alias or not s_alias or s_alias.lower() in ("by",):
            raise ValueError(
                "MERGE INTO: alias both sides (MERGE INTO {{ this }} AS t USING src AS s)"
            )

        # ON must be an equi-join covering unique_on, alias-qualified
        on_pairs: dict[str, str] = {}
        for part in re.split(r"\s+and\s+", on_sql, flags=re.I):
            m = re.match(r"\s*(\w+)\.(\w+)\s*=\s*(\w+)\.(\w+)\s*$", part)
            if not m:
                raise ValueError(f"MERGE INTO: ON supports alias-qualified equi-keys only: {part!r}")
            a1, c1, a2, c2 = m.groups()
            if a1 == t_alias and a2 == s_alias:
                on_pairs[c1] = c2
            elif a1 == s_alias and a2 == t_alias:
                on_pairs[c2] = c1
            else:
                raise ValueError(f"MERGE INTO: ON condition must pair {t_alias}.* with {s_alias}.*: {part!r}")
        if sorted(on_pairs) != sorted(keys):
            raise ValueError(
                f"MERGE INTO: ON keys {sorted(on_pairs)} must equal the target's unique_on {sorted(keys)}"
            )

        # WHEN clauses
        upd_sets: dict[str, str] | str | None = None
        upd_cond = del_cond = ins_cond = None
        has_delete = False
        matched_order: list[str] = []
        ins_vals: dict[str, str] | str | None = None
        clauses_sql = rendered[i_when:].strip().rstrip(";")
        starts = []
        pos = 0
        while True:
            i = _find_top_level(clauses_sql, "when", pos)
            if i < 0:
                break
            starts.append(i)
            pos = i + 4
        for idx, st in enumerate(starts):
            clause = clauses_sql[st : starts[idx + 1] if idx + 1 < len(starts) else len(clauses_sql)]
            m = re.match(r"when\s+(not\s+)?matched\b(.*)$", clause.strip(), re.I | re.S)
            if not m:
                raise ValueError(f"MERGE INTO: cannot parse clause {clause.strip()[:60]!r}")
            not_matched = bool(m.group(1))
            body = m.group(2)
            i_then = _find_top_level(body, "then")
            if i_then < 0:
                raise ValueError(f"MERGE INTO: clause missing THEN: {clause.strip()[:60]!r}")
            cond = re.sub(r"^\s*and\s+", "", body[:i_then].strip(), flags=re.I).strip() or None
            action = body[i_then + 4 :].strip()
            if not_matched:
                if ins_vals is not None:
                    raise ValueError("MERGE INTO: at most one WHEN NOT MATCHED clause")
                am = re.match(r"insert\s*(\*|\(([^)]*)\)\s*values\s*\((.*)\))\s*$", action, re.I | re.S)
                if not am:
                    raise ValueError(f"MERGE INTO: unsupported NOT MATCHED action: {action[:60]!r}")
                if am.group(1) == "*":
                    ins_vals = "*"
                else:
                    cols = [c.strip().strip("`") for c in am.group(2).split(",")]
                    vals = [v.strip() for v in _split_top_commas(am.group(3))]
                    if len(cols) != len(vals):
                        raise ValueError("MERGE INTO: INSERT column/value count mismatch")
                    ins_vals = dict(zip(cols, vals))
                ins_cond = cond
            else:
                au = re.match(r"update\s+set\s+(.*)$", action, re.I | re.S)
                if au:
                    if upd_sets is not None:
                        raise ValueError("MERGE INTO: at most one WHEN MATCHED UPDATE clause")
                    body_sets = au.group(1).strip()
                    if body_sets == "*":
                        upd_sets = "*"
                    else:
                        # LHS may be alias-qualified (t.col = ...)
                        upd_sets = {
                            re.sub(rf"^{re.escape(t_alias)}\.", "", c): e
                            for c, e in _parse_set_clause(body_sets).items()
                        }
                    upd_cond = cond
                    matched_order.append("U")
                elif re.fullmatch(r"delete", action, re.I):
                    if has_delete:
                        raise ValueError("MERGE INTO: at most one WHEN MATCHED DELETE clause")
                    has_delete = True
                    del_cond = cond
                    matched_order.append("D")
                else:
                    raise ValueError(f"MERGE INTO: unsupported MATCHED action: {action[:60]!r}")

        # ANSI clause order: for a row matching BOTH matched clauses the
        # FIRST one wins — the later clause applies only where the
        # earlier condition fails (an unconditional earlier clause makes
        # the later one unreachable)
        if upd_sets is not None and has_delete:
            first = matched_order[0]
            guard, later = (upd_cond, "D") if first == "U" else (del_cond, "U")
            if guard is None:
                if later == "D":
                    has_delete, del_cond = False, None
                else:
                    upd_sets, upd_cond = None, None
            else:
                neg = f"NOT ({guard})"
                if later == "D":
                    del_cond = f"({neg}) AND ({del_cond})" if del_cond else neg
                else:
                    upd_cond = f"({neg}) AND ({upd_cond})" if upd_cond else neg

        src = spark.sql(f"SELECT * FROM {src_sql}")
        # the plain full-row upsert IS Table.upsert — buffered MERGE,
        # partition-scoped / merge-on-read DV path per the table's init
        if upd_sets == "*" and ins_vals == "*" and not has_delete and not (upd_cond or ins_cond):
            self.upsert(src)
            self.flush()
            return

        tgt = self.read_spark() if self.exists else None
        if tgt is None:
            # empty/missing target: only the NOT MATCHED branch applies
            if ins_vals is None:
                return
            nm = src.alias(s_alias)
            if ins_cond:
                nm = nm.filter(F.expr(ins_cond))
            rows = nm if ins_vals == "*" else nm.select(
                *[F.expr(e).alias(c) for c, e in ins_vals.items()]
            )
            self.upsert(rows)
            self.flush()
            return

        tcols = tgt.columns
        # a typo'd or source-alias-qualified SET/INSERT column would
        # otherwise be silently skipped by the row builders below —
        # the MERGE would "succeed" while losing the user's assignment
        for what, d in (("UPDATE SET", upd_sets), ("INSERT", ins_vals)):
            if isinstance(d, dict):
                unknown = [c for c in d if c not in tcols]
                if unknown:
                    raise ValueError(
                        f"MERGE INTO: {what} references non-target column(s) "
                        f"{unknown}; target columns: {tcols} "
                        f"(qualify assignment targets with {t_alias}.<col> or leave bare)"
                    )
        t_df, s_df = tgt.alias(t_alias), src.alias(s_alias)
        join_cond = None
        for tc, sc in on_pairs.items():
            eq = F.expr(f"{t_alias}.{tc} = {s_alias}.{sc}")
            join_cond = eq if join_cond is None else (join_cond & eq)

        def _typed(col_expr, c):
            return col_expr.cast(tgt.schema[c].dataType).alias(c)

        pieces: list[DataFrame] = []
        if upd_sets is not None or has_delete:
            joined = t_df.join(s_df, join_cond, "inner")
            if upd_sets is not None:
                u = joined.filter(F.expr(upd_cond)) if upd_cond else joined
                if upd_sets == "*":
                    row = [
                        _typed(F.col(f"{s_alias}.{c}" if c in src.columns else f"{t_alias}.{c}"), c)
                        for c in tcols
                    ]
                else:
                    row = [
                        _typed(F.expr(upd_sets[c]), c) if c in upd_sets
                        else F.col(f"{t_alias}.{c}").alias(c)
                        for c in tcols
                    ]
                pieces.append(u.select(*row).withColumn("__op", F.lit("U")))
            if has_delete:
                d = joined.filter(F.expr(del_cond)) if del_cond else joined
                pieces.append(
                    d.select(*[F.col(f"{t_alias}.{c}").alias(c) for c in tcols]).withColumn(
                        "__op", F.lit("D")
                    )
                )
        if ins_vals is not None:
            nm = s_df.join(t_df, join_cond, "left_anti")
            if ins_cond:
                nm = nm.filter(F.expr(ins_cond))
            if ins_vals == "*":
                row = [
                    _typed(F.col(c), c) if c in src.columns else _typed(F.lit(None), c)
                    for c in tcols
                ]
            else:
                row = [
                    _typed(F.expr(ins_vals[c]), c) if c in ins_vals else _typed(F.lit(None), c)
                    for c in tcols
                ]
            pieces.append(nm.select(*row).withColumn("__op", F.lit("I")))
        if not pieces:
            return
        batch = pieces[0]
        for p in pieces[1:]:
            batch = batch.unionByName(p)
        self.apply_cdc(batch, op_col="__op")

    # -- zero-copy ALTER TABLE (engine extension; node/evolution.py) -----
    def _alter_guard(self, meta: dict, col: str) -> None:
        from . import evolution

        if col in evolution.protected_columns(meta):
            raise ValueError(
                f"cannot alter column {col!r}: it is referenced by the table's "
                "layout/merge/ordering/skipping declaration (partition_by, "
                "cluster_by, unique_on, ordering, stat/bloom columns)"
            )

    def add_column(self, name: str, type_ddl: str, default: str | None = None) -> None:
        """ALTER TABLE ADD COLUMN — metadata-only: extends the logical
        schema; rows stored before the ADD read NULL, or the declared
        DEFAULT (a SQL literal string; the defaulted column behaves
        NOT NULL, which is what makes the read-side coalesce exact).
        No file is touched; re-using a previously dropped name maps to
        a fresh physical column so old data cannot resurrect."""
        from . import evolution

        if not self.is_connected:
            return
        catalog = self._engine.catalog
        meta = catalog.table_meta(self.store_name) or {}
        struct = self.schema or T.StructType([])
        if name in {f.name for f in struct.fields}:
            raise ValueError(f"column {name!r} already exists")
        field = T.StructType.fromDDL(f"{name} {type_ddl}").fields[0]
        physical = evolution.fresh_physical_name(meta, struct, name)
        updates: dict[str, Any] = {
            "schema_ddl": ",".join(
                [f"{f.name} {f.dataType.simpleString()}" for f in struct.fields]
                + [f"{name} {field.dataType.simpleString()}"]
            )
        }
        if physical != name:
            cm = evolution.colmap(meta)
            cm[name] = physical
            updates["colmap"] = cm
        if default is not None:
            F.expr(default)  # validate the literal parses
            dfl = evolution.column_defaults(meta)
            dfl[name] = default
            updates["column_defaults"] = dfl
        catalog.update_table_meta(self.store_name, **updates)
        self.signal_update()

    def rename_column(self, old: str, new: str) -> None:
        """ALTER TABLE RENAME COLUMN — metadata-only: logical `new`
        re-points at `old`'s physical column; files keep the physical
        name forever (zero-copy, Delta column-mapping semantics)."""
        from . import evolution

        if not self.is_connected:
            return
        catalog = self._engine.catalog
        meta = catalog.table_meta(self.store_name) or {}
        struct = self.schema or T.StructType([])
        names = {f.name for f in struct.fields}
        if old not in names:
            raise ValueError(f"no such column {old!r}")
        if new in names:
            raise ValueError(f"column {new!r} already exists")
        self._alter_guard(meta, old)
        cm = evolution.colmap(meta)
        physical = cm.pop(old, old)
        cm[new] = physical
        dfl = evolution.column_defaults(meta)
        if old in dfl:
            dfl[new] = dfl.pop(old)
        catalog.update_table_meta(
            self.store_name,
            colmap=cm,
            column_defaults=dfl,
            schema_ddl=",".join(
                f"{new if f.name == old else f.name} {f.dataType.simpleString()}" for f in struct.fields
            ),
        )
        self.signal_update()

    def drop_column(self, name: str) -> None:
        """ALTER TABLE DROP COLUMN — metadata-only: hides the physical
        column; at-rest data is untouched and unreadable (projection
        never selects it)."""
        from . import evolution

        if not self.is_connected:
            return
        catalog = self._engine.catalog
        meta = catalog.table_meta(self.store_name) or {}
        struct = self.schema or T.StructType([])
        if name not in {f.name for f in struct.fields}:
            raise ValueError(f"no such column {name!r}")
        self._alter_guard(meta, name)
        cm = evolution.colmap(meta)
        physical = cm.pop(name, name)
        dropped = evolution.dropped_cols(meta)
        if physical not in dropped:
            dropped.append(physical)
        dfl = evolution.column_defaults(meta)
        dfl.pop(name, None)
        catalog.update_table_meta(
            self.store_name,
            colmap=cm,
            dropped_cols=dropped,
            column_defaults=dfl,
            schema_ddl=",".join(
                f"{f.name} {f.dataType.simpleString()}" for f in struct.fields if f.name != name
            ),
        )
        self.signal_update()

    # -- write-audit-publish (staged versions; engine extension) ---------
    def write_staged(self, records: Any) -> "TableVersion | None":
        """WAP step 1 — WRITE: land ``records`` as a new NON-ACTIVE
        version. Readers keep seeing the current table; the staged
        version is addressable for audits via read_spark(version=) /
        `{{ store@version }}`. Finish with publish() (flips the
        pointer after validation) or abandon() (drops the staging).
        The Iceberg/Delta write-audit-publish workflow on the engine's
        version primitive — staging costs nothing extra because every
        write is already a version."""
        if not self.is_connected:
            return None
        catalog = self._engine.catalog
        df = self._prepare_batch([records])
        meta = catalog.table_meta(self.store_name) or {}
        vid = catalog.create_new_version(self.store_name)
        out = catalog.version_dir(self.store_name, vid)
        self._writer(self._sorted_for_write(df, meta), meta).mode("overwrite").parquet(out)
        from . import manifest as _mf

        _mf.record(catalog, self.store_name, vid)
        n = self._engine.spark.read.parquet(out).count()
        catalog.set_record_count(self.store_name, vid, n)
        self._track_write_stats(out, meta, vid)
        return TableVersion(self._engine, self.store_name, vid)

    def publish(self, version_id: str, checks: dict[str, str] | None = None) -> "TableVersion":
        """WAP step 3 — PUBLISH: validate the staged version (the
        table's declared CHECK constraints plus any ad-hoc ``checks``)
        against its STORED data, then flip the pointer atomically. A
        failing audit raises CheckConstraintViolation and leaves the
        table untouched (the staging stays addressable for debugging —
        abandon() it explicitly)."""
        catalog = self._engine.catalog
        v = TableVersion(self._engine, self.store_name, version_id)
        if not v.exists:
            raise ValueError(f"publish: version {version_id!r} of {self.store_name!r} has no data")
        meta = dict(catalog.table_meta(self.store_name) or {})
        merged_checks = dict(meta.get("check_constraints") or {})
        merged_checks.update(checks or {})
        df = self._engine.spark.read.parquet(v.storage)
        self._enforce_check_constraints(df, {**meta, "check_constraints": merged_checks})
        created = self.get_active_version() is None
        existing = self.schema if self.exists else None
        out_schema = df.schema if existing is None else merge_schemas(existing, df.schema)
        catalog.update_table_meta(
            self.store_name,
            schema_ddl=",".join(f"{f.name} {f.dataType.simpleString()}" for f in out_schema.fields),
        )
        catalog.set_active_version(self.store_name, version_id)
        catalog.gc_versions(self.store_name)
        if created:
            self.signal_create()
        else:
            self.signal_update()
        return v

    def abandon(self, version_id: str) -> None:
        """WAP abort: drop a staged (non-active) version and its
        metadata."""
        self._engine.catalog.drop_version(self.store_name, version_id)

    def delete_where(self, predicate: str, vectorized: bool = False, max_dv_rows: int = 100_000) -> int:
        """SQL DELETE: remove rows matching ``predicate`` (a SQL boolean
        expression over this table's columns), written as a NEW version
        with an atomic pointer flip (time travel keeps the old rows).

        Scale shape: one stats scan tags each parquet file with its
        match count (`input_file_name` grouping); only files that
        CONTAIN matched rows are re-read and rewritten, every untouched
        file is hardlinked into the new version (O(files) metadata ops,
        zero data movement) — the same bounded-rewrite discipline as
        the partition-scoped MERGE above, driven by data rather than by
        a declared partition column. Rows where the predicate is NULL
        are kept (standard SQL DELETE semantics). Returns the number of
        rows deleted; a zero-match predicate is a no-op (no new
        version). Reference parity: the devkit routes DML through
        `Table.execute_sql` (node.py:356-373); DELETE/UPDATE are the
        warehouse-side forms every MERGE-capable store adds.

        ``vectorized=True`` switches to a DELETION-VECTOR delete: no
        file is rewritten at all — every file is carried into the new
        version (hardlink fast path / pure manifest refs) and the
        matched rows' (file, row_index) coordinates are recorded as a
        version-level mask applied by every read. Pure metadata, the
        right shape when deleting few rows from huge files; past
        ``max_dv_rows`` matches it falls back to the bounded rewrite
        (a mask bigger than the data it masks is the wrong trade).
        Compaction/rewrites materialize the mask and clear it."""
        if vectorized:
            return self._delete_where_dv(predicate, max_dv_rows)
        return self._rewrite_where(predicate, assignments=None)

    def _delete_where_dv(self, predicate: str, max_dv_rows: int) -> int:
        if not self.is_connected:
            return 0
        av = self.get_active_version()
        if av is None or not av.exists:
            return 0
        from . import manifest as _mf

        catalog = self._engine.catalog
        refs = _mf.version_refs(catalog, self.store_name, av.version_id)
        base = _read_version_files(
            self._engine, self.store_name, av.version_id, refs, with_meta=True
        )
        existing = catalog.get_deletion_vectors(self.store_name, av.version_id)
        if existing:
            base = base.join(
                F.broadcast(_dv_pairs_df(self._engine, existing)),
                ["__dv_ref", "__dv_idx"],
                "left_anti",
            )
        matched = F.coalesce(F.expr(predicate).cast("boolean"), F.lit(False))
        doomed = base.filter(matched).select("__dv_ref", "__dv_idx").limit(max_dv_rows + 1).collect()
        n = len(doomed)
        if n == 0:
            return 0
        if n + sum(len(v) for v in existing.values()) > max_dv_rows:
            # the ACCUMULATED mask would exceed the budget (stacked DV
            # writes included): a rewrite both deletes and compacts —
            # take it instead
            return self._rewrite_where(predicate, assignments=None)

        new_version = catalog.create_new_version(self.store_name)
        carried = _mf.carry(catalog, self.store_name, new_version, refs)
        remap = dict(zip(refs, carried))
        dvs: dict[str, list[int]] = {}
        for ref, idxs in existing.items():
            dvs.setdefault(remap.get(ref, ref), []).extend(idxs)
        for r in doomed:
            dvs.setdefault(remap.get(r["__dv_ref"], r["__dv_ref"]), []).append(int(r["__dv_idx"]))
        old_n = catalog.get_record_count(self.store_name, av.version_id)
        if old_n is None:
            old_n = av.as_dataframe().count()  # Spark job: before the commit
        try:
            with catalog.commit_batch():
                _mf.record(catalog, self.store_name, new_version, carried)
                catalog.set_deletion_vectors(self.store_name, new_version, dvs)
                catalog.set_record_count(self.store_name, new_version, old_n - n)
                self._carry_order_hwm(new_version, self.store_name, av.version_id)
                catalog.set_active_version(
                    self.store_name, new_version, expected_parent=av.version_id
                )
                catalog.gc_versions(self.store_name)
        except ConcurrentWriteError:
            catalog.drop_version(self.store_name, new_version)
            raise
        self.signal_update()
        return n

    def update_where(
        self,
        assignments: dict[str, str],
        predicate: str = "true",
        vectorized: bool = False,
        max_dv_rows: int = 100_000,
    ) -> int:
        """SQL UPDATE: set ``assignments`` (column -> SQL expression,
        evaluated against the OLD row, standard UPDATE semantics) on
        rows matching ``predicate``. Same bounded file-scoped rewrite +
        atomic version flip as delete_where; returns matched-row count.
        Updates that move a row's partition value land it in the new
        partition directory (the writer re-applies partition_by).

        ``vectorized=True`` is the deletion-vector UPDATE (Delta-style
        merge-on-read): NO existing file is rewritten — every file is
        carried into the new version, the matched rows' OLD images are
        masked via (file, row_index) deletion vectors, and only the
        UPDATED images are written as the new version's own files.
        Updating 100 rows inside TB-sized parquet costs O(files)
        metadata plus a 100-row write instead of rewriting every
        touched file. Row-count-bounded like the DV delete: past
        ``max_dv_rows`` matches it falls back to the bounded rewrite;
        compaction/rewrites materialize the mask later."""
        if vectorized:
            return self._update_where_dv(assignments, predicate, max_dv_rows)
        return self._rewrite_where(predicate, assignments=assignments)

    def _update_where_dv(self, assignments: dict[str, str], predicate: str, max_dv_rows: int) -> int:
        if not self.is_connected:
            return 0
        av = self.get_active_version()
        if av is None or not av.exists:
            return 0
        from . import manifest as _mf

        catalog = self._engine.catalog
        meta = catalog.table_meta(self.store_name) or {}
        refs = _mf.version_refs(catalog, self.store_name, av.version_id)
        base = _read_version_files(
            self._engine, self.store_name, av.version_id, refs, with_meta=True
        )
        existing = catalog.get_deletion_vectors(self.store_name, av.version_id)
        if existing:
            base = base.join(
                F.broadcast(_dv_pairs_df(self._engine, existing)),
                ["__dv_ref", "__dv_idx"],
                "left_anti",
            )
        matched = F.coalesce(F.expr(predicate).cast("boolean"), F.lit(False))
        doomed = base.filter(matched).select("__dv_ref", "__dv_idx").limit(max_dv_rows + 1).collect()
        n = len(doomed)
        if n == 0:
            return 0
        if n + sum(len(v) for v in existing.values()) > max_dv_rows:
            # accumulated mask past the budget: rewriting both applies
            # the update and materializes the whole mask
            return self._rewrite_where(predicate, assignments=assignments)

        new_version = catalog.create_new_version(self.store_name)
        out_dir = catalog.version_dir(self.store_name, new_version)
        # physical writes precede the metadata commit: the UPDATED
        # images of matched rows become the new version's own files
        # (files are immutable, so re-filtering selects the probed set)
        cols = [c for c in base.columns if c not in ("__dv_ref", "__dv_idx")]
        upd = base.filter(matched).select(
            *[
                (
                    F.expr(assignments[c]).cast(base.schema[c].dataType).alias(c)
                    if c in assignments
                    else F.col(c)
                )
                for c in cols
            ]
        )
        # matched set is ≤ max_dv_rows: collapse the write layout so a
        # 100-row update doesn't fan out one file per scan partition
        upd = upd.coalesce(max(1, n // 1_000_000 + 1))
        # keep the stored version's layout (flat parents stay flat):
        # writing hive dirs next to carried flat files would build the
        # mixed root-files/partition-dirs dataset Spark silently drops
        # rows from (same guard as purge_deletes/_upsert_merge_on_read)
        write_meta = meta
        pbs = meta.get("partition_by") or []
        if pbs and refs and not all(
            all(_mf.partition_segment_value(r, pc) is not None for pc in pbs) for r in refs
        ):
            write_meta = {**meta, "partition_by": []}
        self._writer(self._sorted_for_write(upd, write_meta), write_meta).mode("append").parquet(
            out_dir
        )
        carried = _mf.carry(catalog, self.store_name, new_version, refs)
        remap = dict(zip(refs, carried))
        dvs: dict[str, list[int]] = {}
        for ref, idxs in existing.items():
            dvs.setdefault(remap.get(ref, ref), []).extend(idxs)
        for r in doomed:
            dvs.setdefault(remap.get(r["__dv_ref"], r["__dv_ref"]), []).append(int(r["__dv_idx"]))
        old_n = catalog.get_record_count(self.store_name, av.version_id)
        if old_n is None:
            old_n = av.as_dataframe().count()  # Spark job: before the commit
        try:
            with catalog.commit_batch():
                _mf.record(catalog, self.store_name, new_version, carried)
                catalog.set_deletion_vectors(self.store_name, new_version, dvs)
                catalog.set_record_count(self.store_name, new_version, old_n)
                self._track_write_stats(out_dir, meta, new_version)
                self._carry_order_hwm(new_version, self.store_name, av.version_id)
                catalog.set_active_version(
                    self.store_name, new_version, expected_parent=av.version_id
                )
                catalog.gc_versions(self.store_name)
        except ConcurrentWriteError:
            catalog.drop_version(self.store_name, new_version)
            raise
        self.signal_update()
        return n

    def purge_deletes(self) -> int:
        """REORG-style purge (Delta ``REORG TABLE ... APPLY (PURGE)``):
        materialize the deletion-vector mask by rewriting ONLY the
        files that carry mask entries — every clean file is carried
        zero-copy (hardlink fast path / pure manifest refs). The new
        version has no mask; visible rows are unchanged. Returns the
        number of masked row images purged (0 = no mask, no-op).
        Unlike compact() — which also materializes but rewrites the
        whole table — this is bounded by the masked-file set, the
        right maintenance op when masks accumulate on a few hot files
        of a huge table."""
        if not self.is_connected:
            return 0
        av = self.get_active_version()
        if av is None or not av.exists:
            return 0
        from . import manifest as _mf

        catalog = self._engine.catalog
        dvs = catalog.get_deletion_vectors(self.store_name, av.version_id)
        if not dvs:
            return 0
        meta = catalog.table_meta(self.store_name) or {}
        refs = _mf.version_refs(catalog, self.store_name, av.version_id)
        masked_refs = [r for r in refs if r in dvs]
        clean_refs = [r for r in refs if r not in dvs]
        touched = _read_version_files(
            self._engine, self.store_name, av.version_id, masked_refs, with_meta=True
        )
        survivors = _dv_filter(self._engine, touched, dvs)
        new_version = catalog.create_new_version(self.store_name)
        out_dir = catalog.version_dir(self.store_name, new_version)
        # keep the stored version's layout (flat parents stay flat)
        write_meta = meta
        pbs = meta.get("partition_by") or []
        if pbs and refs and not all(
            all(_mf.partition_segment_value(r, pc) is not None for pc in pbs) for r in refs
        ):
            write_meta = {**meta, "partition_by": []}
        self._writer(self._sorted_for_write(survivors, write_meta), write_meta).mode(
            "append"
        ).parquet(out_dir)
        carried = _mf.carry(catalog, self.store_name, new_version, clean_refs)
        old_n = catalog.get_record_count(self.store_name, av.version_id)
        if old_n is None:
            old_n = av.as_dataframe().count()  # Spark job: before the commit
        n_purged = sum(len(v) for v in dvs.values())
        try:
            with catalog.commit_batch():
                _mf.record(catalog, self.store_name, new_version, carried)
                catalog.set_record_count(self.store_name, new_version, old_n)
                self._track_write_stats(out_dir, meta, new_version)
                self._carry_order_hwm(new_version, self.store_name, av.version_id)
                catalog.set_active_version(
                    self.store_name, new_version, expected_parent=av.version_id
                )
                catalog.gc_versions(self.store_name)
        except ConcurrentWriteError:
            catalog.drop_version(self.store_name, new_version)
            raise
        self.signal_update()
        return n_purged

    def _rewrite_where(self, predicate: str, assignments: dict[str, str] | None) -> int:
        import os
        from urllib.parse import unquote, urlparse

        if not self.is_connected:
            return 0
        av = self.get_active_version()
        if av is None or not av.exists:
            return 0
        catalog = self._engine.catalog
        meta = catalog.table_meta(self.store_name) or {}
        old = av.as_dataframe()
        matched = F.coalesce(F.expr(predicate).cast("boolean"), F.lit(False))
        dv_mask = catalog.get_deletion_vectors(self.store_name, av.version_id)
        if dv_mask:
            # a deletion-vector mask is in force: the new version holds
            # no mask, so every file with mask entries must MATERIALIZE
            # (be rewritten mask-applied) or its masked rows would
            # resurrect. Still bounded: rewrite only files that CONTAIN
            # matched rows plus files carrying mask entries; clean
            # untouched files (no matches, no mask) are carried as ever.
            from . import manifest as _mf0

            refs0 = _mf0.version_refs(catalog, self.store_name, av.version_id)
            with_ref = _read_version_files(
                self._engine, self.store_name, av.version_id, refs0, with_meta=True
            ).join(
                F.broadcast(_dv_pairs_df(self._engine, dv_mask)),
                ["__dv_ref", "__dv_idx"],
                "left_anti",
            )
            per_file = (
                with_ref.groupBy("__dv_ref")
                .agg(F.sum(F.when(matched, 1).otherwise(0)).alias("n_match"))
                .collect()
            )
            n_matched = int(sum(r["n_match"] for r in per_file))
            if n_matched == 0:
                return 0
            touched_refs0 = {r["__dv_ref"] for r in per_file if r["n_match"] > 0} | set(dv_mask)
            touched_paths = {
                _mf0.resolve(catalog, self.store_name, av.version_id, r) for r in touched_refs0
            }
        else:
            # one scan: per-file matched-row counts -> the touched-file
            # set and the total in a single O(files) driver collect
            per_file = (
                old.withColumn("__file", F.input_file_name())
                .groupBy("__file")
                .agg(F.sum(F.when(matched, 1).otherwise(0)).alias("n_match"))
                .collect()
            )
            touched_uris = [r["__file"] for r in per_file if r["n_match"] > 0]
            n_matched = int(sum(r["n_match"] for r in per_file))
            if n_matched == 0:
                return 0
            touched_paths = {unquote(urlparse(u).path) for u in touched_uris}

        # re-read ONLY the touched files. Under reference-mode manifests
        # a version's files may live in ANCESTOR version directories, so
        # the re-read must group by source version dir (one basePath per
        # group keeps hive partition columns resolving) — exactly what
        # _read_version_files does. A single basePath=av.storage here
        # raised "Wrong basePath" the moment a carried file was touched.
        from . import manifest as _mf

        troot = _mf.tables_root(catalog)
        touched_refs = [os.path.relpath(p, troot).replace(os.sep, "/") for p in sorted(touched_paths)]
        touched_df = _read_version_files(
            self._engine, self.store_name, av.version_id, touched_refs, with_meta=bool(dv_mask)
        )
        if dv_mask:
            touched_df = _dv_filter(self._engine, touched_df, dv_mask)

        if assignments is None:
            new_touched = touched_df.filter(~matched)
        else:
            new_touched = touched_df.select(
                *[
                    (
                        F.when(matched, F.expr(assignments[c])).otherwise(F.col(c)).cast(touched_df.schema[c].dataType).alias(c)
                        if c in assignments
                        else F.col(c)
                    )
                    for c in touched_df.columns
                ]
            )

        new_version = catalog.create_new_version(self.store_name)
        out_dir = catalog.version_dir(self.store_name, new_version)
        self._writer(self._sorted_for_write(new_touched, meta), meta).mode("overwrite").parquet(out_dir)
        # carry every file the rewrite did NOT touch into the new
        # version: hardlinks on the local fast path, manifest refs in
        # reference (object-storage) mode — node/manifest.py
        old_refs = _mf.version_refs(catalog, self.store_name, av.version_id)
        untouched = []
        for ref in old_refs:
            src = _mf.resolve(catalog, self.store_name, av.version_id, ref)
            if src in touched_paths or os.path.realpath(src) in touched_paths:
                continue
            untouched.append(ref)
        carried = _mf.carry(catalog, self.store_name, new_version, untouched)
        old_n = catalog.get_record_count(self.store_name, av.version_id)
        if old_n is None:
            old_n = old.count()  # Spark job: before the commit batch
        new_n = old_n - n_matched if assignments is None else old_n
        # DELETE/UPDATE is read-modify-write: CAS against the read base;
        # a refused flip drops the orphan version before re-raising.
        # Manifest/count/stats/hwm/flip/GC are ONE catalog commit.
        try:
            with catalog.commit_batch():
                _mf.record(catalog, self.store_name, new_version, carried)
                catalog.set_record_count(self.store_name, new_version, new_n)
                self._track_write_stats(out_dir, meta, new_version)
                # hwm carry is conservative-high after a DELETE of the max
                # row (a high-water mark, same as retained footer stats)
                self._carry_order_hwm(new_version, self.store_name, av.version_id)
                catalog.set_active_version(self.store_name, new_version, expected_parent=av.version_id)
                catalog.gc_versions(self.store_name)
        except ConcurrentWriteError:
            catalog.drop_version(self.store_name, new_version)
            raise
        self.signal_update()
        return n_matched

    def write_dataframe_as_new_version(self, df: DataFrame) -> TableVersion:
        """Engine extension (used by SQL nodes / CTAS): write df as a
        fresh version and flip the active pointer atomically."""
        catalog = self._engine.catalog
        created = self.get_active_version() is None
        vid = catalog.create_new_version(self.store_name)
        out = catalog.version_dir(self.store_name, vid)
        meta = catalog.table_meta(self.store_name) or {}
        from . import manifest as _mf

        # the schema and row count come from the frame as written (the
        # count rides on the write job), not from reading the files back
        rows = Observation()
        written = self._sorted_for_write(df, meta)
        self._writer(written.observe(rows, F.count(F.lit(1)).alias("n")), meta).mode("overwrite").parquet(out)
        n = rows.get["n"]
        with catalog.commit_batch():
            _mf.record(catalog, self.store_name, vid)
            catalog.set_record_count(self.store_name, vid, n)
            catalog.set_active_version(self.store_name, vid)
            catalog.update_table_meta(
                self.store_name,
                schema_ddl=",".join(f"{f.name} {f.dataType.simpleString()}" for f in written.schema.fields),
            )
            catalog.gc_versions(self.store_name)
        if created:
            self.signal_create()
        else:
            self.signal_update()
        return TableVersion(self._engine, self.store_name, vid)

    def compact(
        self, target_files: int | None = None, file_bytes: int = 128 * 1024 * 1024
    ) -> TableVersion | None:
        """Merge the active version's small files into ~file_bytes-sized
        outputs, written as a NEW version with an atomic pointer flip —
        the engine's OPTIMIZE. Buffered appends flush one file each, so
        a hot append table accretes small files; small files at scale
        mean footer-per-file planning overhead and under-filled scan
        partitions. Compaction uses coalesce (task-count shrink, no
        shuffle — data never crosses the wire) and re-applies the
        declared write sort, so min/max stream-slice pruning keeps
        working. With partition_by, target_files applies per partition
        directory. The previous version stays readable via
        read_spark(version=...) until retention GC — compaction is
        invisible to readers and to time travel. No-op (returns the
        active version) when the layout is already at or under target."""
        if not self.is_connected:
            return None
        av = self.get_active_version()
        if av is None or not av.exists:
            return av
        import math
        import os

        from . import manifest as _mf

        catalog = self._engine.catalog
        # file census from the manifest: a reference-mode version's
        # files live across source directories, not under av.storage
        refs = _mf.version_refs(catalog, self.store_name, av.version_id)
        nfiles, total = len(refs), 0
        for ref in refs:
            try:
                total += os.path.getsize(_mf.resolve(catalog, self.store_name, av.version_id, ref))
            except OSError:
                pass
        if target_files is None:
            target_files = max(1, math.ceil(total / file_bytes))
        if nfiles <= target_files:
            return av
        n_before = catalog.get_record_count(self.store_name, av.version_id)
        df = av.as_dataframe().coalesce(target_files)
        vid = catalog.create_new_version(self.store_name)
        out = catalog.version_dir(self.store_name, vid)
        meta = catalog.table_meta(self.store_name) or {}
        self._writer(self._sorted_for_write(df, meta), meta).mode("overwrite").parquet(out)
        _mf.record(catalog, self.store_name, vid)
        catalog.set_active_version(self.store_name, vid)
        if n_before is not None:
            catalog.set_record_count(self.store_name, vid, n_before)
        catalog.gc_versions(self.store_name)
        self.signal_update()
        return TableVersion(self._engine, self.store_name, vid)

    def recluster(self, num_files: int | None = None) -> TableVersion | None:
        """Full-table Z-order rewrite (the OPTIMIZE ZORDER analogue):
        range-partition the active version on the declared cluster_by
        z-value — ONE range shuffle, the cost of any global sort — then
        z-sort within partitions and write as a new version. After
        recluster, file-level z-ranges are DISJOINT, so min/max pruning
        on any clustered column skips whole files, not just row groups
        (compact() shrinks file count; recluster() fixes layout decay
        after many unclustered/appended writes). Requires
        init(cluster_by=...); no-op without data."""
        if not self.is_connected:
            return None
        av = self.get_active_version()
        if av is None or not av.exists:
            return av
        catalog = self._engine.catalog
        meta = catalog.table_meta(self.store_name) or {}
        cb = meta.get("cluster_by") or []
        if not cb:
            raise ValueError(
                f"table {self.store_name!r} has no cluster_by declared; call "
                "init(cluster_by=[...]) first"
            )
        from ..operators.layout import zvalue

        df = av.as_dataframe()
        cols = [c for c in cb if c in df.columns]
        if not cols:
            return av
        if num_files is None:
            num_files = max(1, df.rdd.getNumPartitions())
        zv = zvalue(cols)
        n_before = catalog.get_record_count(self.store_name, av.version_id)
        out_df = df.repartitionByRange(num_files, zv).sortWithinPartitions(zv)
        created_vid = catalog.create_new_version(self.store_name)
        out = catalog.version_dir(self.store_name, created_vid)
        # bypass _sorted_for_write: the layout IS the sort here
        self._writer(out_df, meta).mode("overwrite").parquet(out)
        from . import manifest as _mf

        _mf.record(catalog, self.store_name, created_vid)
        catalog.set_active_version(self.store_name, created_vid)
        if n_before is not None:
            catalog.set_record_count(self.store_name, created_vid, n_before)
        catalog.gc_versions(self.store_name)
        self.signal_update()
        return TableVersion(self._engine, self.store_name, created_vid)

    def export(
        self,
        path: str,
        format: str = "parquet",
        mode: str = "overwrite",
        single_file: bool = False,
        **options: Any,
    ) -> int:
        """Export the active version to an external directory as
        parquet / csv / json (JSON = JSONL shards, the training-data
        handoff format tokenizer pipelines consume) — the sink
        counterpart of sources/files.py's imports. Returns the exported
        row count. Sharded by default (one file per partition — at
        scale you hand off shards, never one file); single_file=True
        coalesces for small dims. csv includes a header; extra options
        pass through to the DataFrameWriter."""
        if not self.is_connected:
            return 0
        df = self.read_spark()
        n = self.record_count or 0
        if single_file:
            df = df.coalesce(1)
        fmt = "json" if format in ("json", "jsonl") else format
        w = df.write.mode(mode)
        if fmt == "csv":
            w = w.option("header", "true")
        for k, v in options.items():
            w = w.option(k, v)
        w.format(fmt).save(path)
        return n

    def apply_cdc(
        self,
        records: Any,
        op_col: str = "op",
        seq_col: str | None = None,
    ) -> None:
        """Apply a change-data-capture batch: rows tagged 'I'/'U' merge
        like upsert, rows tagged 'D' DELETE their key — the operation
        plain upsert cannot express (reference upsert only inserts/
        updates, node.py:318-334; deletes are the standard CDC
        extension every MERGE-capable warehouse adds).

        ``seq_col`` (e.g. an LSN / change timestamp) orders multiple
        changes to one key within the batch — the LAST change wins; the
        tiebreak without it is the op ordering D < I < U on equal keys
        (deterministic, but pass a real sequence for real CDC feeds).
        Executed immediately (not buffered): one window over the batch
        (latest change per key) + the same anti-join MERGE as upsert,
        with 'D' winners simply not re-inserted.
        """
        if not self.is_connected:
            return
        meta = self._engine.catalog.table_meta(self.store_name) or {}
        keys = meta.get("unique_on")
        if not keys:
            raise ValueError(f"apply_cdc on table {self.store_name!r} requires unique_on (Table.init)")
        self.flush()  # CDC applies on top of everything buffered so far
        batch = records_to_dataframe(self._engine.spark, records, None)
        if op_col not in batch.columns:
            raise ValueError(f"apply_cdc batch needs an {op_col!r} column with I/U/D values")
        order = [F.col(seq_col).desc()] if seq_col else [F.col(op_col).asc()]
        w = Window.partitionBy(*keys).orderBy(*order)
        # persist: survivors, the mask keys, the MoR counts/probes and
        # the write all derive from this one O(change) frame — without
        # the cache each consumer re-ran the dedup window (r7 opt)
        latest = (
            batch.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") == 1)
            .drop("__rk")
            .persist()
        )
        survivors = latest.filter(F.upper(F.col(op_col)) != "D").drop(
            op_col, *([seq_col] if seq_col else [])
        )
        touched_keys = latest.select(*keys)
        try:
            if meta.get("merge_on_read") and self.exists and self.schema is not None:
                # DV-shaped CDC apply: mask the old images of EVERY touched
                # key ('D' included — they mask without re-appending) and
                # append only the surviving I/U images. A replica chain
                # becomes O(change) on the write side too — change_feed
                # reads the change, apply_cdc writes the change, and the
                # replica's own feeds stay on the metadata fast path.
                av = self.get_active_version()
                if av is not None and av.exists:
                    # ONE job fills the cache AND returns both counts the
                    # MoR path needs — it previously ran two count jobs,
                    # each re-evaluating the window (r7 opt, guide §1.2)
                    agg = latest.agg(
                        F.count(F.lit(1)).alias("__n"),
                        F.count(
                            F.when(F.upper(F.col(op_col)) != "D", F.lit(1))
                        ).alias("__ns"),
                    ).collect()[0]
                    surv = conform_to_schema(survivors, self.schema)
                    if self._upsert_merge_on_read(
                        surv, meta, av, list(keys), self.schema,
                        mask_keys=touched_keys,
                        batch_n=int(agg["__ns"]), mask_n=int(agg["__n"]),
                    ):
                        return
            old = self.read_spark()
            if self.exists and self.schema is not None:
                survivors = conform_to_schema(survivors, self.schema)
                kept_old = old.join(touched_keys, on=list(keys), how="left_anti")
                new_df = kept_old.unionByName(survivors, allowMissingColumns=True)
            else:
                new_df = survivors
            self.write_dataframe_as_new_version(new_df)
        finally:
            latest.unpersist()

    def restore(self, version_id: str) -> "TableVersion | None":
        """Time-travel WRITE (Delta-style RESTORE): make a retained
        older version's content the active table again — materialized
        as a NEW version CARRYING the old one's files (node/manifest.py:
        hardlinks on the local fast path, pure manifest refs in
        reference/object-storage mode), so history stays linear (the
        restore itself is undoable and the restored source remains
        subject to normal retention GC — ref-counting keeps shared
        files alive). O(files) metadata work, no data copied."""
        if not self.is_connected:
            return None
        from . import manifest as _mf

        catalog = self._engine.catalog
        src = self.get_version(version_id)
        if src is None or not src.exists:
            raise ValueError(
                f"restore: version {version_id!r} of {self.store_name!r} is not retained"
            )
        version_id = src.version_id  # ref may have been a tag/'latest'
        vid = catalog.create_new_version(self.store_name)
        src_refs = _mf.version_refs(catalog, self.store_name, version_id)
        carried = _mf.carry(catalog, self.store_name, vid, src_refs)
        _mf.record(catalog, self.store_name, vid, carried)
        _carry_deletion_vectors(
            catalog, self.store_name, version_id, self.store_name, vid, src_refs, carried
        )
        catalog.set_active_version(self.store_name, vid)
        n = catalog.get_record_count(self.store_name, version_id)
        if n is not None:
            catalog.set_record_count(self.store_name, vid, n)
        self._carry_order_hwm(vid, self.store_name, version_id)
        catalog.gc_versions(self.store_name)
        self.signal_update()
        return TableVersion(self._engine, self.store_name, vid)

    def clone_from(self, source_table: str, version: str | None = None) -> "TableVersion | None":
        """Zero-copy clone (Delta/Iceberg 'shallow clone'): make THIS
        table's new active version by CARRYING every parquet file of
        ``source_table``'s active version — no data moves, O(files)
        metadata work regardless of table size. On the local fast path
        the carry hardlinks (inode refcounts keep bytes alive through
        source GC); in reference/object-storage mode the clone's
        manifest references the source files directly and retention GC
        ref-counts them ACROSS tables (catalog.gc_versions), so the
        clone owns its data from t0 while sharing the physical bytes.
        Schema/ordering metadata and the cached record count are
        copied; subsequent writes diverge normally (new versions never
        mutate shared files — every write path here is
        copy-on-new-version)."""
        if not self.is_connected:
            return None
        from . import manifest as _mf

        catalog = self._engine.catalog
        src_meta = catalog.table_meta(source_table)
        if src_meta is None:
            raise ValueError(f"clone_from: unknown table {source_table!r}")
        if version is not None:
            # historical clone: any retained version, tag, or 'latest'
            src_av = catalog.resolve_version(source_table, version)
            if src_av is None or src_av not in (src_meta.get("versions") or []):
                raise ValueError(
                    f"clone_from: version {version!r} of {source_table!r} is not retained"
                )
        else:
            src_av = catalog.get_active_version(source_table)
        if src_av is None:
            raise ValueError(f"clone_from: {source_table!r} has no active version")
        catalog.ensure_table(self.store_name)
        meta_copy = {
            k: v
            for k, v in src_meta.items()
            if k
            in (
                "schema",
                "schema_ddl",
                "schema_hints",
                "unique_on",
                "partition_by",
                "strictly_monotonic_ordering",
                "created_ordering",
                "auto_indexes",
                "cluster_by",
                # zero-copy ALTER state: the linked files carry PHYSICAL
                # column names, so the clone needs the same mapping
                "colmap",
                "dropped_cols",
                "column_defaults",
            )
            and v is not None
        }
        if meta_copy:
            catalog.update_table_meta(self.store_name, **meta_copy)
        vid = catalog.create_new_version(self.store_name)
        src_refs = _mf.version_refs(catalog, source_table, src_av)
        carried = _mf.carry(catalog, self.store_name, vid, src_refs)
        _mf.record(catalog, self.store_name, vid, carried)
        _carry_deletion_vectors(
            catalog, source_table, src_av, self.store_name, vid, src_refs, carried
        )
        catalog.set_active_version(self.store_name, vid)
        n = catalog.get_record_count(source_table, src_av)
        if n is not None:
            catalog.set_record_count(self.store_name, vid, n)
        self._carry_order_hwm(vid, source_table, src_av)
        self.signal_create()
        return TableVersion(self._engine, self.store_name, vid)

    def _change_feed_dv_fast(
        self, vid_a: str, vid_b: str, keys: list[str]
    ) -> DataFrame | None:
        """O(change) CDC between DV-lineage versions: when version_b
        still CARRIES every file of version_a (deletion-vector deletes/
        updates, merge-on-read upserts, plain appends — any chain of
        them), the change set is KNOWN from metadata: new mask entries
        on version_a's files are the disappeared old images, version_b's
        new files are the appended images. Both sets are small by
        construction (masks are budget-bounded, new files are the
        batches), so the feed costs reads of the CHANGE, never
        fingerprint shuffles of two full table versions. Returns None
        when the lineage doesn't apply (rewrites, compaction, purge
        break file containment) — the caller falls back to the exact
        fingerprint diff. Mask entries on files NEWER than version_a
        are intra-window churn (a row born and deleted between the two
        versions) and contribute nothing, matching the fingerprint
        semantics; unchanged re-emitted images are filtered by the same
        value fingerprint the slow path uses."""
        cat = self._engine.catalog
        win = _dv_window_meta(self._engine, self.store_name, vid_a, vid_b)
        if win is None:
            return None
        b_cols = win["cols"]
        gone_pairs = win["gone_pairs"]
        new_refs = win["new_refs"]
        b_probe = TableVersion(self._engine, self.store_name, vid_b)

        def empty() -> DataFrame:
            return b_probe.as_dataframe().limit(0).select(
                F.lit("I").alias("op"), *[F.col(c) for c in b_cols]
            )

        if not gone_pairs and not new_refs:
            return empty()
        if gone_pairs:
            refs_with_gone = sorted({r for r, _ in gone_pairs})
            old_images = (
                _read_version_files(
                    self._engine, self.store_name, vid_a, refs_with_gone, with_meta=True
                )
                .join(
                    F.broadcast(_ref_idx_local_df(self._engine.spark, gone_pairs)),
                    ["__dv_ref", "__dv_idx"],
                    "inner",
                )
                .drop("__dv_ref", "__dv_idx")
            )
        else:
            old_images = empty().drop("op")
        if new_refs:
            new_images = _read_version_files(
                self._engine, self.store_name, vid_b, new_refs, with_meta=True
            )
            dvb_raw = cat.get_deletion_vectors(self.store_name, vid_b)
            sub = {r: v for r, v in dvb_raw.items() if r in set(new_refs)}
            new_images = (
                _dv_filter(self._engine, new_images, sub)
                if sub
                else new_images.drop("__dv_ref", "__dv_idx")
            )
        else:
            new_images = empty().drop("op")

        def fp(cols: list[str]) -> Column:
            return F.md5(
                F.concat_ws(
                    "\x1f",
                    *[F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in cols],
                )
            )

        val_cols = [c for c in b_cols if c not in keys]
        # Both sides are O(change) rows and unique per key (version_a
        # is keyed; intra-window churn is mask-filtered out of the new
        # images), so ONE union + hash-aggregation decides op AND
        # carries the output columns: each key group holds ≤ 1 row per
        # side and max() ignores the other side's NULL struct. The
        # earlier full-outer join sort-merged the two tiny sides — TWO
        # shuffle exchanges plus two sorts where one map-side-combined
        # exchange suffices (r7 opt, guide §2.3/§2.4; the r6
        # fingerprint-join note still applies vs the slow path).
        def side_struct() -> Column:
            return F.struct(
                fp(val_cols).alias("__f"),
                *[F.col(c).alias(f"__v_{c}") for c in val_cols],
            )

        a_tag = old_images.select(*keys, F.lit(0).alias("__side"), side_struct().alias("__row"))
        b_tag = new_images.select(*keys, F.lit(1).alias("__side"), side_struct().alias("__row"))
        g = (
            a_tag.unionByName(b_tag)
            .groupBy(*keys)
            .agg(
                F.max(F.when(F.col("__side") == 0, F.col("__row"))).alias("__a"),
                F.max(F.when(F.col("__side") == 1, F.col("__row"))).alias("__b"),
            )
            .withColumn(
                "op",
                F.when(F.col("__a").isNull(), F.lit("I"))
                .when(F.col("__b").isNull(), F.lit("D"))
                .when(F.col("__a").getField("__f") != F.col("__b").getField("__f"), F.lit("U")),
            )
            .filter(F.col("op").isNotNull())
        )
        return g.select(
            "op",
            *[
                F.col(c)
                if c in keys
                else F.when(F.col("op") == "D", F.col("__a").getField(f"__v_{c}"))
                .otherwise(F.col("__b").getField(f"__v_{c}"))
                .alias(c)
                for c in b_cols
            ],
        )

    def change_feed(
        self,
        version_a: str,
        version_b: str | None = None,
        key_cols: list[str] | None = None,
        use_dv_fast: bool = True,
    ) -> DataFrame:
        """CDC-OUT: the row-level change batch that transforms
        ``version_a`` into ``version_b`` (default: the active
        version) — 'I' rows for new keys (version_b's row), 'U' for
        keys whose non-key columns changed (version_b's row), 'D' for
        keys that disappeared (version_a's row, so the key columns are
        present). The output feeds DIRECTLY into another table's
        apply_cdc — the replication pair: changes flow out of one
        warehouse and merge into another without shipping snapshots.

        Keys default to the table's unique_on. Like diff_versions, the
        comparison shuffles keys + row fingerprints, never full rows;
        full rows are joined back only for the (small) changed set.
        When version_b still carries every file of version_a (a chain
        of deletion-vector DML / merge-on-read upserts / appends), the
        feed is computed from MASK DELTAS + NEW FILES instead — reads
        of the change, O(change) not O(table); see
        _change_feed_dv_fast. Pass use_dv_fast=False to force the
        fingerprint diff."""
        meta = self._engine.catalog.table_meta(self.store_name) or {}
        keys = list(key_cols or meta.get("unique_on") or [])
        if not keys:
            raise ValueError(
                f"change_feed on table {self.store_name!r} requires key_cols (or unique_on in Table.init)"
            )
        cat = self._engine.catalog
        # refuse a GC'd window by NAME, not a downstream read error —
        # a feed spanning k versions silently depends on
        # retention_keep > k (VERDICT r5 item 7); tell the user which
        # boundary fell out and what pins it
        vid_a = cat.resolve_version(self.store_name, version_a) if self.is_connected else None
        vid_b = (
            cat.resolve_version(self.store_name, version_b)
            if version_b
            else cat.get_active_version(self.store_name)
        ) if self.is_connected else None
        if self.is_connected:
            for ref, vid in ((version_a, vid_a), (version_b, vid_b)):
                if ref is not None and vid is None:
                    raise ValueError(
                        f"change_feed: window boundary {ref!r} of table "
                        f"{self.store_name!r} is not retained (garbage-collected?) — "
                        "hold open windows with engine.pin_window(...), tag them, or "
                        "raise retention_keep/retention_seconds"
                    )
        # auto-pin the window for the duration of plan construction:
        # a concurrent vacuum between resolve and the file reads below
        # cannot collect the boundaries mid-build. (The returned
        # DataFrame is lazy — to hold the window across CONSUMPTION,
        # wrap it in engine.pin_window.)
        pin = (
            cat.pin_versions({self.store_name: [v for v in (vid_a, vid_b) if v]})
            if self.is_connected
            else None
        )
        try:
            if use_dv_fast and self.is_connected and vid_a and vid_b:
                fast = self._change_feed_dv_fast(vid_a, vid_b, keys)
                if fast is not None:
                    return fast
            a = self.read_spark(version=version_a)
            b = self.read_spark(version=version_b) if version_b else self.read_spark()
        finally:
            if pin:
                cat.unpin(pin)

        def fp(df: DataFrame, cols: list[str]) -> Column:
            return F.md5(
                F.concat_ws(
                    "\x1f",
                    *[F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in cols],
                )
            )

        val_cols = [c for c in b.columns if c not in keys]
        fa = a.select(*keys, fp(a, val_cols).alias("__fa"))
        fb = b.select(*keys, fp(b, val_cols).alias("__fb"))
        j = fa.join(fb, on=keys, how="full_outer").withColumn(
            "op",
            F.when(F.col("__fa").isNull(), F.lit("I"))
            .when(F.col("__fb").isNull(), F.lit("D"))
            .when(F.col("__fa") != F.col("__fb"), F.lit("U")),
        ).filter(F.col("op").isNotNull())
        upserts = j.filter(F.col("op") != "D").select("op", *keys).join(b, on=keys)
        deletes = j.filter(F.col("op") == "D").select("op", *keys).join(a, on=keys)
        return upserts.select("op", *b.columns).unionByName(deletes.select("op", *b.columns))

    def diff_versions(
        self,
        version_a: str,
        version_b: str,
        key_cols: list[str] | None = None,
    ) -> DataFrame:
        """Row-level diff between two retained versions (the audit
        counterpart of time travel, read_spark(version=...)): what did
        a write change?

        With ``key_cols`` (unique per row, e.g. the table's unique_on):
        returns (change, *key_cols) where change is 'added' (key only
        in b), 'removed' (key only in a), or 'updated' (key in both,
        any non-key column differs). Without keys: a multiset diff on
        full-row fingerprints — (change, fingerprint, n) with n = how
        many more/fewer copies version b has.

        Both forms are one aggregation/join on hashed rows — the diff
        of two 100 TB versions moves fingerprints (or keys) through the
        shuffle, never full rows.
        """
        a = self.read_spark(version=version_a)
        b = self.read_spark(version=version_b)

        def fp(df: DataFrame, cols: list[str]) -> Column:
            return F.md5(
                F.concat_ws(
                    "\x1f",
                    *[F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in cols],
                )
            )

        if key_cols:
            val_cols = [c for c in a.columns if c not in key_cols]
            fa = a.select(*key_cols, fp(a, val_cols).alias("__fa"))
            fb = b.select(*key_cols, fp(b, val_cols).alias("__fb"))
            j = fa.join(fb, on=list(key_cols), how="full_outer")
            return (
                j.withColumn(
                    "change",
                    F.when(F.col("__fa").isNull(), F.lit("added"))
                    .when(F.col("__fb").isNull(), F.lit("removed"))
                    .when(F.col("__fa") != F.col("__fb"), F.lit("updated")),
                )
                .filter(F.col("change").isNotNull())
                .select("change", *key_cols)
            )
        fa = a.select(fp(a, a.columns).alias("fingerprint")).groupBy("fingerprint").agg(
            F.count(F.lit(1)).alias("__ca")
        )
        fb = b.select(fp(b, b.columns).alias("fingerprint")).groupBy("fingerprint").agg(
            F.count(F.lit(1)).alias("__cb")
        )
        j = fa.join(fb, "fingerprint", "full_outer").withColumn(
            "__delta", F.coalesce("__cb", F.lit(0)) - F.coalesce("__ca", F.lit(0))
        )
        return (
            j.filter(F.col("__delta") != 0)
            .select(
                F.when(F.col("__delta") > 0, F.lit("added"))
                .otherwise(F.lit("removed"))
                .alias("change"),
                "fingerprint",
                F.abs("__delta").cast("long").alias("n"),
            )
        )

    # -- events -----------------------------------------------------------
    def signal_create(self) -> None:
        """Manually emit a create data event (node.py:387-390)."""
        if self.is_connected:
            self._ctx.emit_event(self.store_name, "create")

    def signal_update(self) -> None:
        if self.is_connected:
            self._ctx.emit_event(self.store_name, "update")

    def signal_reset(self) -> None:
        if self.is_connected:
            self._ctx.emit_event(self.store_name, "reset")


def _estimate_rows(records: Any) -> int:
    if isinstance(records, pd.DataFrame):
        return len(records)
    if isinstance(records, DataFrame):
        return 10_000  # lazy; force autoflush consideration without a count job
    if isinstance(records, dict):
        return 1
    try:
        return len(records)
    except TypeError:
        return 1


def _chunked(df: DataFrame, as_format: str, chunksize: int) -> Iterator[Any]:
    """Chunked reads (node.py:146,152-166) without collecting the whole
    table: toLocalIterator streams partitions through the driver."""
    buf: list[dict] = []
    for row in df.toLocalIterator():
        buf.append(row.asDict(recursive=True))
        if len(buf) >= chunksize:
            yield buf if as_format == "records" else pd.DataFrame(buf)
            buf = []
    if buf:
        yield buf if as_format == "records" else pd.DataFrame(buf)


class Stream:
    """Stateful ordered view of a Table: consume one-record-at-a-time
    with progress preserved across executions (node.py:18-81).

    Consumption is strictly-greater-than the cursor (node.py:70-76).
    A yielded record is consumed regardless of downstream errors,
    UNLESS checkpoint/rollback are used (node.py:40-52): the in-memory
    cursor advances per yield and persists at checkpoint() or at
    successful execution end; a crash replays from the last persisted
    cursor (at-least-once, exactly-once when the consumer checkpoints
    after side effects)."""

    def __init__(self, table: Table, order_by: str | None, starting_value: Any):
        self.table = table
        self._order_by = order_by
        self._inert = not table.is_connected or order_by is None
        if self._inert:
            self._cursor = None
            self._persisted = None
            return
        ctx = table._ctx
        engine = table._engine
        persisted = engine.catalog.get_cursor(ctx.node_id, table.store_name, order_by)
        if starting_value is not None and persisted is None:
            persisted = starting_value
        self._cursor = persisted
        self._persisted = persisted
        ctx.register_stream(self)

    @property
    def order_by_field(self) -> str | None:
        return self._order_by

    def _slice(self) -> DataFrame | None:
        df = self.table._active_df()
        if df is None:
            return None
        ob = self._order_by
        if self._cursor is not None:
            df = df.filter(F.col(ob) > F.lit(self._cursor))
        return df.orderBy(ob)

    def consume_records(self, with_metadata: bool = False) -> Iterator[dict]:
        if self._inert:
            return
        df = self._slice()
        if df is None:
            return
        ob = self._order_by
        for row in df.toLocalIterator():
            rec = row.asDict(recursive=True)
            self._cursor = rec[ob]
            if with_metadata:
                yield {"record": rec, "order_by_value": rec[ob], "table": self.table.store_name}
            else:
                yield rec

    def __iter__(self) -> Iterator[dict]:
        return self.consume_records()

    def consume_spark(self, max_records: int | None = None) -> DataFrame | None:
        """Engine extension: the unconsumed slice as one Spark DataFrame,
        advancing the cursor to the slice max — the distributed-scale
        alternative to record-at-a-time iteration (SURVEY.md §7.3-4)."""
        if self._inert:
            return None
        df = self._slice()
        if df is None:
            return None
        if max_records is not None:
            df = df.limit(max_records)
        agg = df.agg(F.max(self._order_by).alias("m"), F.count(F.lit(1)).alias("n")).collect()[0]
        if agg["n"] == 0:
            return None
        self._cursor = agg["m"]
        return df

    def checkpoint(self) -> None:
        """Persist consumed position mid-execution (node.py:54-58),
        atomically with node state (exactly-once, SURVEY.md §7.3-2)."""
        if self._inert:
            return
        ctx = self.table._ctx
        ctx.commit_progress()
        self._persisted = self._cursor

    def rollback(self) -> None:
        """Revert to start-of-execution or last checkpoint (node.py:60-63)."""
        if self._inert:
            return
        self._cursor = self._persisted

    def rewind(self) -> None:
        """Reset to the beginning of the table (node.py:65-68)."""
        if self._inert:
            return
        self._cursor = None
        self._persisted = None

    def seek(self, value: Any) -> None:
        """Position so consumption resumes strictly AFTER value
        (node.py:70-76)."""
        if self._inert:
            return
        self._cursor = value


class State:
    """Per-node key-value store (node.py:417-505)."""

    def __init__(self):
        ctx = _ctx()
        self._ctx = ctx
        self._engine = ctx.engine
        self._state: dict = self._engine.catalog.get_state(ctx.node_id)
        ctx.register_state(self)

    def set(self, state: dict) -> None:
        self._state = dict(state)
        self._persist()

    def get(self) -> dict:
        return dict(self._state)

    def set_value(self, key: str, value: Any) -> None:
        self._state[key] = value
        self._persist()

    def get_value(self, key: str, default: Any = None) -> Any:
        return self._state.get(key, default)

    def get_datetime(self, key: str, default: dt.datetime | None = None) -> dt.datetime | None:
        v = self._state.get(key)
        if v is None:
            return default
        if isinstance(v, dt.datetime):
            return v
        return dt.datetime.fromisoformat(str(v))

    def reset(self) -> None:
        self._state = {}
        self._persist()

    def _persist(self) -> None:
        self._engine.catalog.set_state(self._ctx.node_id, self._state)

    def should_continue(self) -> bool:
        """False when the execution nears its hard time limit: trips at
        80% of the limit or 120 s before it, whichever is GREATER
        remaining headroom (node.py:465-480; limit 'typically 10
        minutes'). Floored at 0.8*limit so sub-120 s limits still get
        a useful work window instead of tripping at t=0."""
        ctx = self._ctx
        elapsed = time.monotonic() - ctx.start_monotonic
        limit = ctx.execution_time_limit
        trip_at = limit - 120 if limit >= 600 else 0.8 * limit
        return elapsed < trip_at

    def request_new_run(self, trigger_downstream: bool = True, wait_atleast_seconds: int | None = None) -> None:
        """Ask the orchestrator for a follow-up run of this node after
        this execution finishes (node.py:482-500)."""
        self._ctx.requested_new_run = {
            "trigger_downstream": trigger_downstream,
            "wait_atleast_seconds": wait_atleast_seconds,
        }


def current_engine() -> "Engine":
    """The Engine bound to the executing node context — for
    engine-level declarations from inside a node (e.g. registering a
    materialized view next to the table that feeds it)."""
    return _ctx().engine


def respond_to_request(request_key: str, payload: Any) -> None:
    """Send a JSON response to the webhook request identified by
    request_key (node.py:544-553). The runner holds the response
    registry keyed by patterns_request_key."""
    _ctx().engine.respond(request_key, payload)


class NodeContext:
    """Everything bound to one node execution: engine, port bindings,
    parameters, state, streams, wall-clock budget (SURVEY.md §3.2)."""

    def __init__(
        self,
        engine: "Engine",
        node_id: str,
        inputs: dict[str, str] | None = None,
        outputs: dict[str, str] | None = None,
        parameters: dict[str, Any] | None = None,
        execution_time_limit: float = 600.0,
    ):
        self.engine = engine
        self.node_id = node_id
        self.inputs = dict(inputs or {})
        self.outputs = dict(outputs or {})
        self.parameters = dict(parameters or {})
        self.execution_time_limit = execution_time_limit
        self.start_monotonic = time.monotonic()
        self.tables: list[Table] = []
        self.streams: list[Stream] = []
        self.states: list[State] = []
        self.requested_new_run: dict | None = None
        self.events: list[dict] = []
        self._token: contextvars.Token | None = None

    def register_table(self, t: Table) -> None:
        self.tables.append(t)

    def register_stream(self, s: Stream) -> None:
        self.streams.append(s)

    def register_state(self, s: State) -> None:
        self.states.append(s)

    def emit_event(self, table: str, kind: str) -> None:
        evt = self.engine.catalog.append_event(table, kind, node_id=self.node_id)
        self.events.append(evt)

    def commit_progress(self) -> None:
        """Atomic cursor+state commit (exactly-once contract)."""
        cursors = {(s.table.store_name, s.order_by_field): s._cursor for s in self.streams if not s._inert}
        state = self.states[-1]._state if self.states else None
        self.engine.catalog.commit_cursor_and_state(self.node_id, cursors, state)
        for s in self.streams:
            s._persisted = s._cursor

    def finish(self) -> None:
        """Execution-end protocol: flush writes, persist cursors+state
        (node.py:19-22,410-413)."""
        for t in self.tables:
            t.flush()
        self.commit_progress()

    def __enter__(self) -> "NodeContext":
        self._token = _current_context.set(self)
        self.start_monotonic = time.monotonic()
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        try:
            if exc_type is None:
                self.finish()
        finally:
            _current_context.reset(self._token)


class Engine:
    """Catalog + SparkSession + the node-execution entry point."""

    def __init__(
        self,
        warehouse_dir: str,
        spark: SparkSession | None = None,
        catalog_backend: str | None = None,
    ):
        from ..session import get_spark

        self.catalog = Catalog(warehouse_dir, backend=catalog_backend)
        self.spark = spark or get_spark()
        self._responses: dict[str, Any] = {}

    def node_context(self, node_id: str = "adhoc", **kwargs: Any) -> NodeContext:
        return NodeContext(self, node_id, **kwargs)

    def table(self, store: str, mode: str = "r", **kwargs: Any) -> Table:
        """Standalone (outside-graph) bound table: implicit one-port
        context. Intended for tests/notebooks."""
        ctx = _current_context.get()
        if ctx is None:
            raise RuntimeError("use `with engine.node_context(...):` before engine.table()")
        return Table(store, mode, **kwargs)

    def register_views(self, names: list[str] | None = None) -> dict[str, str]:
        """Register each table's active version as a temp view under its
        plain store name; returns {store: view_name}. Used by SQL nodes."""
        out = {}
        for name in names or self.catalog.table_names():
            d = self.catalog.active_dir(name)
            vid = self.catalog.get_active_version(name)
            if d and self.catalog.version_has_data(name, vid):
                TableVersion(self, name, vid).as_dataframe().createOrReplaceTempView(name)
                out[name] = name
        return out

    def publish_atomic(self, flips: dict[str, str]) -> None:
        """Cross-table WAP commit: validate EVERY staged version's
        CHECK constraints first, then flip all (table -> version)
        pointers in ONE catalog persist — readers observe all tables
        advance together or none (the multi-table transaction shape
        fact+dim pipelines need: no moment where the fact references a
        dim snapshot that isn't live yet). Any failing audit raises
        before anything flips."""
        prepared: dict[str, str] = {}
        for store, vid in flips.items():
            with self.node_context("__publish__", outputs={"out": store}):
                tbl = Table("out", "w")
                v = TableVersion(self, store, vid)
                if not v.exists:
                    raise ValueError(f"publish_atomic: version {vid!r} of {store!r} has no data")
                meta = dict(self.catalog.table_meta(store) or {})
                from .evolution import to_logical_loose

                # loose inverse rename: staged schemas may be AHEAD of
                # the catalog (new columns merge at publish), so a full
                # logical projection would drop them
                df = to_logical_loose(self.spark.read.parquet(v.storage), meta)
                tbl._enforce_check_constraints(df, meta)
                existing = tbl.schema if tbl.exists else None
                out_schema = df.schema if existing is None else merge_schemas(existing, df.schema)
                prepared[store] = ",".join(
                    f"{f.name} {f.dataType.simpleString()}" for f in out_schema.fields
                )
        for store, ddl in prepared.items():
            self.catalog.update_table_meta(store, schema_ddl=ddl)
        self.catalog.set_active_versions(flips)
        for store in flips:
            with self.node_context("__publish__", outputs={"out": store}):
                Table("out", "w").signal_update()
            self.catalog.gc_versions(store)

    def import_table(self, name: str, path: str, format: str = "parquet", link: bool = False, **options: Any) -> int:
        """Attach external data as a (new version of) table ``name`` —
        the inverse of Table.export, completing the cross-warehouse
        backup/handoff round trip. ``link=True`` (parquet only)
        hardlinks the source files into the version dir instead of
        rewriting them: a zero-copy attach, O(files) metadata ops —
        at object-storage scale this is a manifest import. Returns the
        imported row count; the write versions, events, and flips
        atomically like any other."""
        import shutil

        with self.node_context("__import__", outputs={"out": name}):
            tbl = Table("out", "w")
            if link and format == "parquet":
                created = tbl.get_active_version() is None
                vid = self.catalog.create_new_version(name)
                out = self.catalog.version_dir(name, vid)
                for root, _dirs, files in os.walk(path):
                    rel = os.path.relpath(root, path)
                    for fn in files:
                        if not fn.endswith(".parquet"):
                            continue
                        dst_dir = out if rel == "." else os.path.join(out, rel)
                        os.makedirs(dst_dir, exist_ok=True)
                        try:
                            os.link(os.path.join(root, fn), os.path.join(dst_dir, fn))
                        except OSError:
                            shutil.copy2(os.path.join(root, fn), os.path.join(dst_dir, fn))
                from . import manifest as _mf

                _mf.record(self.catalog, name, vid)
                df = self.spark.read.parquet(out)
                n = df.count()
                self.catalog.update_table_meta(
                    name,
                    schema_ddl=",".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields),
                )
                self.catalog.set_record_count(name, vid, n)
                self.catalog.set_active_version(name, vid)
                self.catalog.gc_versions(name)
                if created:
                    tbl.signal_create()
                else:
                    tbl.signal_update()
                return n
            fmt = "json" if format in ("json", "jsonl") else format
            reader = self.spark.read
            if fmt == "csv":
                reader = reader.option("header", "true").option("inferSchema", "true")
            for k, v in options.items():
                reader = reader.option(k, v)
            df = reader.format(fmt).load(path)
            v = tbl.write_dataframe_as_new_version(df)
            n = self.spark.read.parquet(v.storage).count()
            self.catalog.set_record_count(name, v.version_id, n)
            return n

    def table_changes(
        self, table: str, from_ref: str, to_ref: str | None = None, key_cols: list[str] | None = None
    ) -> DataFrame:
        """Change data feed with PER-COMMIT granularity (the Delta
        ``table_changes(...)`` analogue): one I/U/D row per change per
        commit, each tagged with the ``_commit_version`` that produced
        it — unlike Table.change_feed, which collapses a whole window
        into one net batch. Walks the retained version chain between
        the two refs (version ids, tags, or 'latest') in publish
        order; every consecutive step is an ordinary change_feed, so
        DV-lineage steps ride the metadata fast path (O(that commit's
        changes)) and rewrites fall back to the exact fingerprint
        diff. Needs the window's versions retained — pair long CDC
        windows with retention_seconds/tags. Consumers that only want
        the net effect should keep using change_feed (cheaper: one
        diff instead of k)."""
        meta = self.catalog.table_meta(table)
        if meta is None:
            raise ValueError(f"table_changes: unknown table {table!r}")
        start = self.catalog.resolve_version(table, from_ref)
        end = (
            self.catalog.resolve_version(table, to_ref)
            if to_ref
            else self.catalog.get_active_version(table)
        )
        if start is None or end is None:
            missing = from_ref if start is None else (to_ref or "active")
            raise ValueError(
                f"table_changes: window boundary {missing!r} of table {table!r} "
                "is not retained (garbage-collected?) — hold open windows with "
                "engine.pin_window(...), tag them, or raise retention_keep/retention_seconds"
            )
        versions = meta.get("versions") or []
        # the commit chain is PUBLISH order, not creation order: a WAP
        # write_staged version is created early but published late (or
        # abandoned, never published) — slicing meta['versions'] would
        # interleave it as a phantom/misordered _commit_version step.
        # Replay the publish log (dedup consecutive flips, restrict to
        # retained versions) instead; restores legitimately re-publish
        # an old vid, so an id may recur and the LAST occurrence is
        # "where the table is/was most recently in that state".
        pub: list[str] = []
        for _ets, v in meta.get("publish_log") or []:
            if v is None or v not in versions:
                continue
            if not pub or pub[-1] != v:
                pub.append(v)
        try:
            i1 = len(pub) - 1 - pub[::-1].index(end)
        except ValueError:
            raise ValueError("table_changes: window end not retained/published")
        try:
            i0 = i1 - pub[i1::-1].index(start)
        except ValueError:
            if start in pub:
                raise ValueError(f"table_changes: {from_ref!r} is newer than the window end")
            raise ValueError("table_changes: window start not retained/published")
        chain = pub[i0 : i1 + 1]
        # auto-pin the whole chain while the per-commit plans are
        # built: a concurrent vacuum cannot collect an intermediate
        # commit mid-walk (to hold across consumption: pin_window)
        pin = self.catalog.pin_versions({table: chain})
        try:
            with self.node_context("__cdf__", outputs={"out": table}):
                t = Table("out", "w")
                out: DataFrame | None = None
                for va, vb in zip(chain, chain[1:]):
                    step = t.change_feed(va, vb, key_cols=key_cols).withColumn(
                        "_commit_version", F.lit(vb)
                    )
                    out = step if out is None else out.unionByName(step)
                if out is None:  # empty window: zero-row frame, full schema
                    out = t.change_feed(start, start, key_cols=key_cols).withColumn(
                        "_commit_version", F.lit(start)
                    )
            return out
        finally:
            self.catalog.unpin(pin)

    # -- table branches (engine extension; Iceberg/Nessie-style) --------
    @staticmethod
    def _branch_store(table: str, branch: str) -> str:
        return f"{table}__br_{branch}"

    def create_branch(self, table: str, branch: str, from_version: str | None = None) -> str:
        """Writable table branch (engine extension — the Iceberg/Nessie
        branch workflow, composed from this engine's verified
        primitives): a zero-copy clone of ``table``'s active version
        under a derived store name, plus GC-exempt fork markers (tags)
        on both sides. Branch tables carry the FULL SDK surface —
        append/upsert/DML/time-travel all work on the returned store
        name — while main stays untouched; nothing is copied at fork
        time (manifest refs / hardlinks). merge_branch() lands the
        branch's changes back on main as a CDC batch computed from the
        fork point (O(change) under DV lineage). Returns the branch's
        physical store name."""
        import re as _re

        if not _re.fullmatch(r"[A-Za-z0-9_]+", branch):
            raise ValueError(f"invalid branch name {branch!r} (letters/digits/_)")
        cat = self.catalog
        meta = cat.table_meta(table)
        if meta is None:
            raise ValueError(f"create_branch: unknown table {table!r}")
        branches = dict(meta.get("branches") or {})
        if branch in branches:
            raise ValueError(f"branch {branch!r} of {table!r} already exists")
        if from_version is not None:
            # fork from history: any retained version id, tag, or
            # 'latest' — bugfix-from-release workflows branch off the
            # tagged release, not today's head
            fork_main = cat.resolve_version(table, from_version)
            if fork_main is None:
                raise ValueError(
                    f"create_branch: version {from_version!r} of {table!r} is not retained"
                )
        else:
            fork_main = cat.get_active_version(table)
        if fork_main is None:
            raise ValueError(f"create_branch: table {table!r} has no active version")
        phys = self._branch_store(table, branch)
        with self.node_context("__branch__", outputs={"out": phys, "src": table}):
            bt = Table("out", "w")
            bt.clone_from(table, version=from_version)
            fork_branch = cat.get_active_version(phys)
            # GC-exempt fork markers: the branch keeps its base version
            # (the CDC window start) and main keeps the fork point (the
            # conflict-detection window start) until merge/drop
            bt.tag("branch_base", fork_branch)
            Table("src", "w").tag(f"fork.{branch}", fork_main)
        cat.update_table_meta(
            table,
            branches={
                **branches,
                branch: {"table": phys, "fork_main": fork_main, "fork_branch": fork_branch},
            },
        )
        return phys

    def merge_branch(
        self, table: str, branch: str, on_conflict: str = "error", drop: bool = True
    ) -> int:
        """Land a branch back on main: the branch's changes since the
        fork (Table.change_feed from the fork marker — the metadata
        fast path applies under DV lineage) are applied to main as one
        CDC batch (apply_cdc). Keys changed on BOTH sides since the
        fork are conflicts: ``on_conflict`` = 'error' (default, raises
        listing sample keys), 'branch_wins' (branch overwrites main),
        or 'main_wins' (conflicting keys dropped from the batch).
        Returns the number of change rows applied; drops the branch
        (and both fork markers) afterwards unless ``drop=False``."""
        if on_conflict not in ("error", "branch_wins", "main_wins"):
            raise ValueError(f"merge_branch: unknown on_conflict {on_conflict!r}")
        cat = self.catalog
        meta = cat.table_meta(table) or {}
        info = (meta.get("branches") or {}).get(branch)
        if not info:
            raise ValueError(f"unknown branch {branch!r} of table {table!r}")
        keys = meta.get("unique_on")
        if not keys:
            raise ValueError(
                f"merge_branch on {table!r} requires unique_on (Table.init) — "
                "the merge is a keyed CDC batch"
            )
        phys = info["table"]
        with self.node_context("__branch__", outputs={"b": phys, "m": table}):
            bt, mt = Table("b", "w"), Table("m", "w")
            self._check_branch_schemas("merge_branch", table, branch, mt, bt)
            feed = bt.change_feed(info["fork_branch"], key_cols=list(keys))
            # echo suppression: rows whose content EQUALS main's row at
            # the fork point are not branch edits — they are the fork
            # snapshot (or a sync_branch catch-up) echoing back. Without
            # this, every main->branch sync would re-merge main's own
            # rows and flag false conflicts against main's later
            # changes. ONE evaluation (localCheckpoint): count, the
            # conflict probe, and apply_cdc all consume this O(change)
            # frame — without it each re-runs the feed diff AND the
            # fork-point fingerprint scan (3x the merge cost).
            # persist + count (r7 opt): the count job itself fills the
            # cache — the old localCheckpoint paid a dedicated
            # materialization job first (guide §1.2). Recompute on
            # eviction is safe: the branch's version files outlive
            # every consumer (drop_branch runs after apply_cdc).
            base = mt.read_spark(version=info["fork_main"])
            feed = self._suppress_echoes(feed, base, list(keys)).persist()
            n_changes = feed.count()
            if n_changes:
                main_changed = (
                    mt.change_feed(info["fork_main"], key_cols=list(keys))
                    .select(*keys)
                    .distinct()
                )
                if on_conflict == "error":
                    sample = (
                        feed.select(*keys)
                        .join(main_changed, on=list(keys), how="inner")
                        .limit(5)
                        .collect()
                    )
                    if sample:
                        ks = [tuple(r[k] for k in keys) for r in sample]
                        raise BranchMergeConflict(
                            f"branch {branch!r} and main both changed keys {ks} "
                            "since the fork (on_conflict='branch_wins'/'main_wins' to resolve)"
                        )
                elif on_conflict == "main_wins":
                    feed = feed.join(main_changed, on=list(keys), how="left_anti")
                    n_changes = feed.count()
                if n_changes:
                    mt.apply_cdc(feed)
            feed.unpersist()
        if drop:
            self.drop_branch(table, branch)
        return int(n_changes)

    def sync_branch(self, table: str, branch: str, on_conflict: str = "error") -> int:
        """Catch a long-lived branch up with main (the missing
        direction VERDICT r5 named: merge_branch is branch->main only,
        so a branch drifted with no supported path short of
        re-forking). Main's change feed since the fork point is applied
        to the BRANCH as one CDC batch, and the fork point moves
        forward to the synced main version (the ``fork.<branch>`` tag
        moves with it, keeping the new base GC-pinned) — the rebase
        analogue: after sync, merge_branch sees only genuine branch
        edits (its echo suppression compares against the NEW fork
        point) and conflicts only on keys both sides changed after it.

        Keys changed on BOTH sides since the fork are conflicts:
        ``on_conflict`` = 'error' (default, raises listing sample
        keys), 'main_wins' (main's rows overwrite the branch's), or
        'branch_wins' (conflicting keys are dropped from the sync
        batch — the conflict is RESOLVED in the branch's favor, like
        ``git rebase -X ours``: the branch's value lands at the next
        merge without re-flagging, unless main changes the key AGAIN
        after the sync). Returns the number of change rows applied to
        the branch. ``fork_branch`` does NOT move: the merge window
        must still span the branch's own pre-sync edits."""
        if on_conflict not in ("error", "branch_wins", "main_wins"):
            raise ValueError(f"sync_branch: unknown on_conflict {on_conflict!r}")
        cat = self.catalog
        meta = cat.table_meta(table) or {}
        branches = dict(meta.get("branches") or {})
        info = branches.get(branch)
        if not info:
            raise ValueError(f"unknown branch {branch!r} of table {table!r}")
        keys = meta.get("unique_on")
        if not keys:
            raise ValueError(
                f"sync_branch on {table!r} requires unique_on (Table.init) — "
                "the sync is a keyed CDC batch"
            )
        synced_to = cat.get_active_version(table)
        if synced_to is None:
            raise ValueError(f"sync_branch: table {table!r} has no active version")
        phys = info["table"]
        n_changes = 0
        with self.node_context("__branch__", outputs={"b": phys, "m": table}):
            bt, mt = Table("b", "w"), Table("m", "w")
            self._check_branch_schemas("sync_branch", table, branch, mt, bt)
            # ONE evaluation of the O(change) feed: count, the conflict
            # probe, and apply_cdc all consume it (same reasoning as
            # merge_branch's checkpoint)
            # persist + count fills the cache in one job (r7 opt — same
            # reasoning as merge_branch's feed)
            feed = mt.change_feed(
                info["fork_main"], synced_to, key_cols=list(keys)
            ).persist()
            n_changes = feed.count()
            if n_changes:
                # the branch's GENUINE edits: its raw feed since the
                # never-moving fork_branch also contains rows an earlier
                # sync applied (echoes of main@fork_main) — counting
                # those as branch edits would flag a spurious conflict
                # on every key main changes TWICE across two syncs (and
                # under branch_wins silently freeze the first synced
                # value). Same suppression as merge_branch.
                branch_changed = (
                    self._suppress_echoes(
                        bt.change_feed(info["fork_branch"], key_cols=list(keys)),
                        mt.read_spark(version=info["fork_main"]),
                        list(keys),
                    )
                    .select(*keys)
                    .distinct()
                )
                if on_conflict == "error":
                    sample = (
                        feed.select(*keys)
                        .join(branch_changed, on=list(keys), how="inner")
                        .limit(5)
                        .collect()
                    )
                    if sample:
                        ks = [tuple(r[k] for k in keys) for r in sample]
                        raise BranchMergeConflict(
                            f"branch {branch!r} and main both changed keys {ks} "
                            "since the fork (on_conflict='branch_wins'/'main_wins' to resolve)"
                        )
                elif on_conflict == "branch_wins":
                    feed = feed.join(branch_changed, on=list(keys), how="left_anti")
                    n_changes = feed.count()
                if n_changes:
                    bt.apply_cdc(feed)
            feed.unpersist()
            # move the fork point: future merges/syncs window from here.
            # Order keeps BOTH invariants through any crash point: the
            # version meta['fork_main'] references is ALWAYS tag-pinned
            # (pin the new point first, move the pointer, only then
            # drop the old pin), and a kill between steps leaves at
            # worst a harmless extra tag the next sync/drop clears.
            if synced_to != info["fork_main"]:
                try:  # leftover from a crash mid-dance: harmless pin, clear it
                    cat.drop_tag(table, f"fork.{branch}.sync")
                except Exception:
                    pass
                mt.tag(f"fork.{branch}.sync", synced_to)  # 1. pin the new point
                cat.update_table_meta(                    # 2. move the pointer
                    table,
                    branches={**branches, branch: {**info, "fork_main": synced_to}},
                )
                try:                                      # 3. re-home the main marker
                    cat.drop_tag(table, f"fork.{branch}")
                except Exception:
                    pass
                mt.tag(f"fork.{branch}", synced_to)
                cat.drop_tag(table, f"fork.{branch}.sync")  # 4. release the transition pin
        return int(n_changes)

    @staticmethod
    def _suppress_echoes(feed: DataFrame, base: DataFrame, keys: list[str]) -> DataFrame:
        """Drop feed rows that are not EDITS relative to ``base`` (the
        fork-point snapshot): an I/U row whose content equals base's
        row for the key (null-safe via the change_feed fingerprint —
        with ZERO value columns the fingerprint is a constant and the
        test degrades to key presence, which is exactly right for
        keys-only membership tables), and a D row whose key is already
        absent from base (main's own delete echoing back). What
        survives is the genuine divergence from the fork point."""
        val_cols = [c for c in base.columns if c not in keys]

        def fpx(cols):
            return F.md5(
                F.concat_ws(
                    "\x1f",
                    *[F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in cols],
                )
            )

        # ONE left join against the keyed fork snapshot decides both
        # rules (base is unique on `keys` — merge/sync require
        # unique_on — so the join never duplicates feed rows): an I/U
        # row survives when base misses the key or carries different
        # content; a D row survives when base still has the key. The
        # earlier two-branch form (anti-join the I/U slice, semi-join
        # the D slice, union) evaluated the change-feed subtree AND
        # scanned the fork snapshot twice per action (r6 opt:
        # merge_branch feed eval 1.4s -> 0.7s at sf0.1).
        base_fp = base.select(*keys, fpx(val_cols).alias("__base_fp"))
        out_cols = feed.columns
        joined = feed.withColumn("__fp", fpx(val_cols)).join(
            base_fp, on=list(keys), how="left"
        )
        is_edit = F.col("__base_fp").isNull() | (F.col("__base_fp") != F.col("__fp"))
        keep = F.when(F.col("op") == "D", F.col("__base_fp").isNotNull()).otherwise(is_edit)
        return joined.filter(keep).select(*out_cols)

    @staticmethod
    def _check_branch_schemas(op: str, table: str, branch: str, mt: "Table", bt: "Table") -> None:
        """Merging/syncing across DIVERGED SCHEMAS would fail deep
        inside apply_cdc's column resolution (or worse, null-fill) —
        refuse up front naming the drift. The supported path: apply
        the same ALTER to both sides before crossing the feed over."""
        ms = {f.name: f.dataType.simpleString() for f in mt.read_spark().schema.fields}
        bs = {f.name: f.dataType.simpleString() for f in bt.read_spark().schema.fields}
        if ms != bs:
            only_m = sorted(set(ms.items()) - set(bs.items()))
            only_b = sorted(set(bs.items()) - set(ms.items()))
            raise ValueError(
                f"{op}: schemas of table {table!r} and branch {branch!r} diverged — "
                f"main-only: {only_m or '[]'}, branch-only: {only_b or '[]'}; "
                "apply the same ALTER TABLE to both sides before merging/syncing"
            )

    def drop_branch(self, table: str, branch: str) -> None:
        """Delete a branch: its table (files ref-counted across other
        tables' retained manifests, so shared bytes survive) and both
        fork-marker tags."""
        cat = self.catalog
        meta = cat.table_meta(table) or {}
        branches = dict(meta.get("branches") or {})
        info = branches.pop(branch, None)
        if info is None:
            raise ValueError(f"unknown branch {branch!r} of table {table!r}")
        cat.drop_table(info["table"])
        for tag in (f"fork.{branch}", f"fork.{branch}.sync"):
            try:
                cat.drop_tag(table, tag)
            except Exception:
                pass  # marker already gone (manual surgery / crashed sync)
        cat.update_table_meta(table, branches=branches)

    def list_branches(self, table: str) -> dict[str, dict]:
        """Branch registry of a table: {branch: {table, fork_main,
        fork_branch}}."""
        meta = self.catalog.table_meta(table) or {}
        return dict(meta.get("branches") or {})

    def create_materialized_view(
        self,
        name: str,
        source: str,
        order_by: str,
        dims: list[str],
        measures: dict[str, tuple],
        where: str | None = None,
    ):
        """Declare an incremental materialized view over an append-only
        source table (node/matview.py): dims + mergeable measures
        (sum/count/min/max); each refresh() folds only the source rows
        appended since the last one."""
        from .matview import MaterializedView

        return MaterializedView.create(self, name, source, order_by, dims, measures, where)

    def create_materialized_join_view(
        self,
        name: str,
        left: str,
        right: str,
        on: list[str],
        order_by: dict[str, str],
        dims: list[str],
        measures: dict[str, tuple],
        where: str | None = None,
    ):
        """Declare a two-source incremental JOIN view (node/matview.py
        IVM delta rule ΔL ⋈ R ∪ L_old ⋈ ΔR): both sources append-only,
        each with its own strictly-monotonic ordering; the cursor PAIR
        rides the MV version for exactly-once folds."""
        from .matview import MaterializedView

        return MaterializedView.create_join(self, name, left, right, on, order_by, dims, measures, where)

    def materialized_view(self, name: str):
        from .matview import MaterializedView

        return MaterializedView(self, name)

    def refresh_materialized_views(self) -> dict[str, int]:
        """Refresh every registered MV; returns {name: delta_rows}."""
        return {n: self.materialized_view(n).refresh() for n in self.catalog.matview_names()}

    def render_sql(
        self,
        sql: str,
        this: Table | None = None,
        parameters: dict[str, Any] | None = None,
        _seen_views: frozenset = frozenset(),
    ) -> str:
        """Render ``{{ ref }}`` templates: a ref that names a store → its
        active version's sql_name; a registered SQL VIEW → a temp view
        over its (recursively rendered) definition; a parameter → typed
        SQL literal; the literal 'table'/'this' → the executing table
        (node.py:364-368, create.py:239-244). Version reads go through
        TableVersion.as_dataframe, so column mapping applies in SQL."""
        params = parameters or {}

        def sub(m: re.Match) -> str:
            ref = m.group(1).strip()
            if this is not None and ref in ("table", "this", this.store_name or ""):
                return this.sql_name or (this.store_name or ref)
            if ref in params:
                return _sql_literal(params[ref])
            if "@" in ref:
                # time travel: {{ store@v0000003 }} / {{ store@tagname }}
                # pins the reference to a specific version
                # (read_spark(version=)'s SQL form; tags resolve too)
                store, _, want = ref.partition("@")
                store, want = store.strip(), want.strip()
                meta_tt = self.catalog.table_meta(store)
                if meta_tt is not None:
                    ts_ao = _parse_as_of(want)
                    if ts_ao is not None:
                        # AS-OF timestamp: content-exact (file-stamp) read
                        df_ao = as_of_dataframe(self, store, want, ts_ao)
                        if df_ao is None:
                            raise KeyError(
                                f"no retained state of table {store!r} at {want!r} in template"
                            )
                        view = f"{store}__asof_{int(ts_ao * 1_000_000)}"
                        _drop_hidden(self, store, df_ao).createOrReplaceTempView(view)
                        return f"`{view}`"
                    vid = self.catalog.resolve_version(store, want)
                    if vid is None:
                        raise KeyError(f"unknown version {want!r} of table {store!r} in template")
                    view = f"{store}__{vid}"
                    _drop_hidden(
                        self, store, TableVersion(self, store, vid).as_dataframe()
                    ).createOrReplaceTempView(view)
                    return f"`{view}`"
            meta = self.catalog.table_meta(ref)
            if meta is not None:
                av = self.catalog.get_active_version(ref)
                if av and self.catalog.version_has_data(ref, av):
                    view = f"{ref}__{av}"
                    _drop_hidden(
                        self, ref, TableVersion(self, ref, av).as_dataframe()
                    ).createOrReplaceTempView(view)
                    return f"`{view}`"
                return ref
            vsql = self.catalog.get_view(ref)
            if vsql is not None:
                if ref in _seen_views:
                    raise ValueError(f"circular view reference: {ref!r}")
                rendered = self.render_sql(
                    vsql, this=this, parameters=parameters, _seen_views=_seen_views | {ref}
                )
                view = f"{ref}__view"
                self.spark.sql(f"CREATE OR REPLACE TEMPORARY VIEW `{view}` AS {rendered}")
                return f"`{view}`"
            raise KeyError(f"unresolved template reference {{{{ {ref} }}}}")

        return re.sub(r"\{\{\s*([^}]+?)\s*\}\}", sub, sql)

    def snapshot(self):
        """Read-only SNAPSHOT ISOLATION across the whole warehouse:
        pins every table's active version on entry, so every read —
        read/read_spark/read_sql, Engine.sql, SQL views, register_views
        — inside the block sees one consistent multi-table state even
        while concurrent writers keep flipping pointers (their flips
        become visible after exit). Writes INSIDE the block raise
        (the catalog's version mutators refuse), which is what makes
        the guarantee honest rather than best-effort. Retention GC of
        a pinned version is bounded by retention_keep — hold snapshots
        shorter than the retention window (same rule as time travel).

            with engine.snapshot():
                facts = engine.sql("SELECT ... FROM {{ orders_t }}")
                dims  = engine.sql("SELECT ... FROM {{ cust_t }}")
                # facts and dims are mutually consistent
        """
        from contextlib import contextmanager

        @contextmanager
        def _snap():
            self.catalog.push_snapshot()
            try:
                yield self
            finally:
                self.catalog.pop_snapshot()

        return _snap()

    def pin_window(self, table: str, *refs: str):
        """Pin SPECIFIC versions of ``table`` (ids, tags, timestamps,
        'latest') for the duration of the block — the feed-window
        counterpart of snapshot(): retention GC in this process or a
        concurrent ``patterns vacuum`` cannot collect them while the
        block is open (durable pin file; dies with the process).
        Wrap change_feed/table_changes CONSUMPTION in this when the
        window spans versions that retention could otherwise collect:

            with engine.pin_window("orders_t", v0, "latest") as vids:
                feed = tbl.change_feed(v0)
                ... feed.collect() ...

        Yields the resolved version ids."""
        from contextlib import contextmanager

        cat = self.catalog
        vids = []
        for r in refs:
            v = cat.resolve_version(table, r)
            if v is None:
                raise ValueError(
                    f"pin_window: version {r!r} of table {table!r} is not retained"
                )
            vids.append(v)

        @contextmanager
        def _pin():
            p = cat.pin_versions({table: vids})
            try:
                yield list(vids)
            finally:
                cat.unpin(p)

        return _pin()

    def sql(self, query: str, parameters: dict[str, Any] | None = None) -> DataFrame:
        """Engine-level ad-hoc SQL: render {{ refs }} (stores, views,
        time travel, parameters) and run — the notebook/REPL entry
        point that needs no node context. Returns a lazy DataFrame."""
        return self.spark.sql(self.render_sql(query, parameters=parameters))

    def create_view(self, name: str, sql: str) -> None:
        """Register a named SQL view over the warehouse ({{ refs }} to
        stores / other views allowed; expansion is recursive with a
        cycle guard). Views are catalog metadata — nothing is
        materialized; see create_materialized_view for the folded
        form."""
        if self.catalog.table_meta(name) is not None:
            raise ValueError(f"{name!r} already names a table")
        self.catalog.set_view(name, sql)

    def drop_view(self, name: str) -> None:
        self.catalog.drop_view(name)

    def register_system_views(self) -> list[str]:
        """Register information_schema-style `__sys_*` temp views over
        the catalog (tables, versions, stream cursors, event log) so
        operational introspection is plain SQL from read_sql / SQL
        nodes — the local counterpart of the reference's hosted
        `patterns list` surface (CLI commands/list.py). Snapshot
        semantics: views capture the catalog at registration time;
        re-register to refresh."""
        from ..catalog.system import system_dataframes

        out = []
        for view, df in system_dataframes(self).items():
            df.createOrReplaceTempView(view)
            out.append(view)
        return sorted(out)

    def set_secret(self, name: str, values: dict) -> None:
        """Store a named credentials bundle (reference `patterns create
        secret`, create.py:210-226). Local warehouse = local secrets;
        swap for a real secrets provider on a cluster."""
        self.catalog.set_secret(name, values)

    def get_secret(self, name: str) -> dict | None:
        return self.catalog.get_secret(name)

    def respond(self, request_key: str, payload: Any) -> None:
        self._responses[request_key] = payload

    def get_response(self, request_key: str) -> Any:
        return self._responses.get(request_key)


def _sql_literal(v: Any) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, (int, float)):
        return repr(v)
    if isinstance(v, dt.datetime):
        return f"TIMESTAMP '{v.isoformat(sep=' ')}'"
    if isinstance(v, dt.date):
        return f"DATE '{v.isoformat()}'"
    if isinstance(v, (list, tuple)):
        return "(" + ", ".join(_sql_literal(x) for x in v) + ")"
    s = str(v).replace("'", "''")
    return f"'{s}'"
