"""`qcfe_snapshot` — the versioned table as a first-class Spark format.

A PySpark 4 Python Data Source (`spark.dataSource.register`) over
`runtime/snapshots.py` tables, so users read them with the normal
reader API instead of calling library functions:

    spark.read.format("qcfe_snapshot").option("table_dir", d).load()
    spark.readStream.format("qcfe_snapshot").option("table_dir", d).load()

Batch reads support **planner-integrated file pruning**: Spark's own
pushed filters (`pushFilters`, Spark 4.1 DSv2-python) are matched
against the snapshot manifest's per-file min/max bounds, so a
`df.filter("k = 7")` on a range-partitioned table plans ONE input
partition out of N — the Iceberg scan-planning behavior, but driven by
Catalyst's filter pushdown rather than a side-channel API. Every filter
is also returned to Spark for residual evaluation (partial pushdown:
pruning can only drop provably-empty files, never rows).

The stream reader is the Delta-style CDF source the sink-side CDC
(`streaming/upsert.py`) lacked: offsets are snapshot VERSIONS, each
micro-batch reads exactly the data files the append commits in
``(start, end]`` added — O(delta) per batch, never the base table —
and Spark's checkpoint makes the version watermark exactly-once across
restarts. Rewrite commits (merge/delete/compact/rollback) change rows
that "added files" cannot express (a merge or delete removes old rows
by position deletes; a compaction's files hold copied rows); like Delta's
streaming source the default is to FAIL loudly, and
``option("on_rewrite", "skip")`` opts into appends-only semantics
(Delta: ``ignoreChanges``).

Scale notes: partitions are one-per-data-file (Iceberg's scan task
granularity; files are written to a ~128 MB target by the engine), the
driver handles file LISTS and the kept files' deleted positions (read
from the position-delete files with pyarrow and passed in each file's
partition), and workers read their single file via pyarrow, mask the
deleted positions, and align columns to the snapshot schema (schema
evolution: old files surface missing columns as nulls, extra columns
are dropped — same contract as ``snapshots.read_table``).

Deployment: Spark plans a Python data source in a separate python
worker process that receives this class via cloudpickle and — unlike
executor UDF workers — does NOT inherit `addPyFile` includes, so a
reference-pickled class needs the package on the cluster-wide
PYTHONPATH. `register()` therefore marks this module and its single
dependency (`runtime/manifest.py`, stdlib-only) for cloudpickle
BY-VALUE serialization: the class and every helper it references travel
inside the pickle, and the source works on any cluster the moment
`register(spark)` runs on the driver — no deploy-time path setup.
(Pinned by tests/test_snapshot_source.py's clean-subprocess test.)

The reference has no analog — its storage layer is a directory of
pickle dumps reread wholesale per run (tpch_utils_knob.py:283,333-351).
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from typing import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
)
from pyspark.sql.types import StructType

# The ONLY package import, module-level so cloudpickle's by-value mode
# captures the functions themselves (a lazy in-method import would still
# require the package at call time inside the planner worker).
from query_cost_feature_engineering_spark.runtime.manifest import (
    _file_may_match,
    current_version,
    load_deletes,
    snapshot_meta,
)

FORMAT_NAME = "qcfe_snapshot"

_OP_BY_FILTER = {
    EqualTo: "=",
    GreaterThan: ">",
    GreaterThanOrEqual: ">=",
    LessThan: "<",
    LessThanOrEqual: "<=",
}


def _table_dir(options) -> str:
    d = options.get("table_dir") or options.get("path")
    if not d:
        raise ValueError(
            "qcfe_snapshot requires .option('table_dir', ...) or .load(path)"
        )
    return d


def _meta(table_dir: str, version: int | None):
    return snapshot_meta(table_dir, version)


@dataclass
class _FilePartition(InputPartition):
    """One scan task = one immutable data file (Iceberg task granularity)
    and the row positions the snapshot deletes from it."""

    path: str
    schema_json: str
    deleted: tuple = ()


def _read_file_aligned(part: _FilePartition) -> Iterator:
    """Read one parquet file, drop its deleted positions, and align it
    to the snapshot schema: missing columns (pre-evolution files) become
    typed nulls, extra columns are dropped, order follows the schema.
    Arrow batches end-to-end — no per-row Python."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql.pandas.types import to_arrow_schema

    target = to_arrow_schema(StructType.fromJson(json.loads(part.schema_json)))
    tbl = pq.read_table(part.path)
    if part.deleted:
        keep = np.ones(tbl.num_rows, dtype=bool)
        keep[list(part.deleted)] = False
        tbl = tbl.filter(keep)
    n = tbl.num_rows
    cols = []
    for field in target:
        idx = tbl.schema.get_field_index(field.name)
        if idx >= 0:
            cols.append(tbl.column(idx).cast(field.type))
        else:
            cols.append(pa.nulls(n, field.type))
    yield from pa.table(cols, schema=target).to_batches()


class SnapshotBatchReader(DataSourceReader):
    def __init__(self, options):
        self.table_dir = _table_dir(options)
        v = options.get("version")
        self.version = int(v) if v is not None else None
        self.meta = _meta(self.table_dir, self.version)
        self.predicates: list[tuple] = []

    def pushFilters(self, filters: list[Filter]):
        """Partial pushdown: translate supported comparison filters into
        manifest-bound predicates for file pruning, but hand EVERY filter
        back to Spark — bounds can only prove whole files empty."""
        for f in filters:
            op = _OP_BY_FILTER.get(type(f))
            if (
                op is not None
                and len(f.attribute) == 1  # top-level column only
                and isinstance(f.value, (bool, int, float, str))
            ):
                self.predicates.append((f.attribute[0], op, f.value))
        return filters  # all residual: pruning drops files, never rows

    def partitions(self) -> Sequence[InputPartition]:
        from pathlib import Path

        files = self.meta["files"]
        if self.predicates:
            stats = self.meta.get("stats", {})
            files = [
                f
                for f in files
                if _file_may_match(stats.get(f, {}), self.predicates)
            ]
        deleted: dict[str, list[int]] = {}
        dels = load_deletes(self.table_dir, self.meta, files)
        if dels is not None:
            for f, pos in zip(
                dels["file_path"].to_pylist(), dels["pos"].to_pylist()
            ):
                deleted.setdefault(f, []).append(pos)
        root = Path(self.table_dir)
        return [
            _FilePartition(
                str(root / f), self.meta["schema"], tuple(deleted.get(f, ()))
            )
            for f in files
        ]

    def read(self, partition: _FilePartition) -> Iterator:
        return _read_file_aligned(partition)


class SnapshotStreamReader(DataSourceStreamReader):
    """Micro-batch source over the commit log: offset = version."""

    def __init__(self, options):
        self.table_dir = _table_dir(options)
        self.on_rewrite = (options.get("on_rewrite") or "fail").lower()
        if self.on_rewrite not in ("fail", "skip"):
            raise ValueError(
                f"on_rewrite must be fail|skip, got {self.on_rewrite!r}"
            )
        start = options.get("starting_version")
        self.start_version = int(start) if start is not None else 0
        # the stream's fixed schema: the table's CURRENT schema at start
        self.schema_json = _meta(self.table_dir, None)["schema"]

    def initialOffset(self) -> dict:
        return {"version": self.start_version}

    def latestOffset(self) -> dict:
        return {"version": current_version(self.table_dir)}

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        from pathlib import Path

        root = Path(self.table_dir)
        parts = []
        for v in range(start["version"] + 1, end["version"] + 1):
            meta = _meta(self.table_dir, v)
            if meta["operation"] not in ("append", "overwrite"):
                if self.on_rewrite == "skip":
                    continue
                raise RuntimeError(
                    f"snapshot v{v} is a {meta['operation']!r} commit: it "
                    "removes or rewrites existing rows, so streaming its "
                    "added files would miss deletes or duplicate data "
                    "(on_rewrite). Restart from a "
                    "later starting_version or set "
                    ".option('on_rewrite', 'skip') for appends-only "
                    "semantics (Delta: ignoreChanges)."
                )
            if meta["operation"] == "overwrite" and v > 1:
                # an overwrite's files are a full replacement, not a delta
                if self.on_rewrite == "skip":
                    continue
                raise RuntimeError(
                    f"snapshot v{v} is an overwrite commit — not a delta; "
                    "set .option('on_rewrite', 'skip') to skip it."
                )
            parent_files = (
                set(_meta(self.table_dir, meta["parent"])["files"])
                if meta["parent"]
                else set()
            )
            parts.extend(
                _FilePartition(str(root / f), self.schema_json)
                for f in meta["files"]
                if f not in parent_files
            )
        return parts

    def read(self, partition: _FilePartition) -> Iterator:
        return _read_file_aligned(partition)

    def commit(self, end: dict) -> None:
        pass  # Spark's checkpoint owns the offset; nothing table-side


class SnapshotDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self) -> StructType:
        v = self.options.get("version")
        meta = _meta(_table_dir(self.options), int(v) if v else None)
        return StructType.fromJson(json.loads(meta["schema"]))

    def reader(self, schema: StructType) -> SnapshotBatchReader:
        return SnapshotBatchReader(self.options)

    def streamReader(self, schema: StructType) -> SnapshotStreamReader:
        return SnapshotStreamReader(self.options)


def register(spark) -> None:
    """Idempotently register the format on a session: enable DSv2
    python filter pushdown (off by default in 4.1) so `pushFilters`
    actually reaches the reader, and mark this module + its stdlib-only
    manifest dependency for cloudpickle BY-VALUE serialization so the
    planner worker (which gets no addPyFile includes) can unpickle the
    class without the package installed (module docstring has the full
    deployment story)."""
    import sys

    from pyspark import cloudpickle

    from query_cost_feature_engineering_spark.runtime import manifest

    cloudpickle.register_pickle_by_value(sys.modules[__name__])
    cloudpickle.register_pickle_by_value(manifest)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(SnapshotDataSource)
