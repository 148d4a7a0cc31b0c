"""Snapshot-versioned parquet tables: time travel + merge-on-read commits.

The north-star input is "an Iceberg table of image+caption pairs"; no
Iceberg runtime jar is obtainable offline (COVERAGE.md), so this module
completes the raw-parquet substitution the runtime layer already started
(resume = `checkpoint.py`, maintenance = `compact.py`, RTBF =
`delete.py`, layout = `layout.py`) with the remaining core Iceberg
semantics, implemented over plain parquet files + JSON metadata:

- **Snapshot isolation / time travel**: every commit writes immutable
  data files under ``data/c{version}/`` and an atomic snapshot JSON
  (``_snapshots/v{version}.json``) listing the table's data files by
  relative path (Iceberg: manifest list). Readers pin a version and read
  exactly those files — a concurrent writer can never tear a read.
- **Atomic commits**: the snapshot JSON and the CURRENT pointer are both
  written temp-then-``os.replace`` (POSIX-atomic). A crash between the
  data write and the snapshot commit leaves only orphan files that
  ``expire_snapshots`` garbage-collects; the table stays readable at the
  previous version (pinned by test).
- **Merge-on-read DELETE / MERGE** (Iceberg v2 position deletes): a
  commit never rewrites a data file. It writes one small position-delete
  file of ``(file_path, pos)`` rows (``file_path`` table-relative,
  ``pos`` the row index within that file) and, for MERGE, the new rows
  as one new data file. Every existing data file is carried into the
  new snapshot by reference, byte-identical. The snapshot JSON maps each
  data file to the delete files that apply to it (``deletes``), and
  readers drop those positions. ``compact_table`` folds deletes back
  into rewritten files where that pays off.
- **Manifest-level file pruning** (Iceberg: per-manifest-entry column
  bounds): every commit records per-file min/max/null_count from the
  new files' parquet footers (metadata-only; carried files keep the
  bounds their writing commit recorded — immutable files, bounds exact
  forever). ``read_table(where=[(col, op, lit), ...])`` /
  ``prune_files`` drop files whose bounds prove no match BEFORE Spark
  ever opens a footer — the step that makes a point lookup on a
  10^12-row table O(matching files), not O(all footers).
- **Rollback** (Iceberg ``rollback_to_snapshot``): one atomic metadata
  commit pointing back at an old snapshot's files/schema/stats.

Scale notes (the whole point of file-granular metadata at 10^12 rows):
- Hit discovery is ONE action: a scan of the target's key columns plus
  ``_metadata.file_path`` / ``_metadata.row_index``, semi-joined to the
  broadcast source keys. Only the key columns are read (Catalyst column
  pruning reaches the parquet scan), never the image bytes. The hits are
  collected: O(rows changed), like the source itself.
- A merge writes O(rows changed) bytes — the source rows plus a delete
  file of their old positions — whatever the size of the files holding
  the old rows.
- Reads of a snapshot without deletes build exactly the plain parquet
  scan. With deletes, the positions are loaded on the driver (pyarrow,
  only the delete files the kept data files reference) and broadcast as a
  local relation; no Spark job runs while the plan is built.

The reference has no analog — its "table" is a directory of pickle
dumps rewritten wholesale per run (``tpch_utils_knob.py:283,333-351``).
"""

from __future__ import annotations

import json
import math
import os
import shutil
from pathlib import Path
from urllib.parse import quote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

# Manifest-reading helpers live in the standalone stdlib-only module so
# the qcfe_snapshot data source can be pickled by value (manifest.py
# docstring has the full why); re-exported here to keep this module's
# public surface unchanged.
from query_cost_feature_engineering_spark.runtime.manifest import (  # noqa: F401
    SNAP_DIR,
    _cmp_compatible,
    _file_may_match,
    _snap_path,
    _stat_val,
    current_version,
    load_deletes,
    snapshot_meta,
)

_FILE_COL = "__qcfe_file"
_POS_COL = "__qcfe_pos"

# predicate ops read_table(where=...) / prune_files understand; AND-combined
_PRUNE_OPS = ("=", "<", "<=", ">", ">=")

# compact_table rewrites a data file once this share of its rows is deleted
REWRITE_DELETED_SHARE = 0.3

# path characters java.net.URI leaves unescaped, besides ASCII letters and
# digits and printable non-ASCII characters
_URI_SAFE = "/_-!.~'()*,;:$&+=@"


def _abs(table_dir: str) -> str:
    """``table_dir`` made absolute against the driver's working directory.
    Spark resolves a relative path against the JVM's working directory,
    which ``os.chdir`` in the driver does not move, so every entry point
    that hands a path to Spark or pyarrow resolves it here first."""
    return os.path.abspath(table_dir)


def snapshot_log(table_dir: str) -> list[dict]:
    """Commit history, oldest first (Iceberg: table history metadata)."""
    sdir = _snap_path(table_dir)
    if not sdir.is_dir():
        return []
    out = []
    for p in sorted(sdir.glob("v*.json")):
        rec = json.loads(p.read_text())
        out.append(
            {
                "version": rec["version"],
                "parent": rec["parent"],
                "operation": rec["operation"],
                "n_files": len(rec["files"]),
                "summary": rec.get("summary", {}),
            }
        )
    return out


def _commit(table_dir: str, rec: dict) -> None:
    """Atomically publish snapshot JSON, then flip CURRENT.

    Order matters: the snapshot file must be durable before CURRENT
    points at it; a crash between the two leaves CURRENT at the parent
    (consistent) with one unreferenced-but-valid snapshot JSON, which the
    next commit simply supersedes."""
    sdir = _snap_path(table_dir)
    sdir.mkdir(parents=True, exist_ok=True)
    final = sdir / f"v{rec['version']:06d}.json"
    tmp = sdir / f".v{rec['version']:06d}.json.tmp"
    tmp.write_text(json.dumps(rec, sort_keys=True))
    os.replace(tmp, final)
    cur_tmp = sdir / ".CURRENT.tmp"
    cur_tmp.write_text(str(rec["version"]))
    os.replace(cur_tmp, sdir / "CURRENT")


def _collect_stats(
    table_dir: str, rel_files: list[str], stats_cols: list[str] | None
) -> dict:
    """Per-file column min/max/null_count from the parquet FOOTERS of
    freshly written files — metadata-only reads, no data pages touched
    (Iceberg writers report the same bounds into the manifest at commit;
    on a cluster the footer read runs where the commit runs, over the
    files THIS commit added — O(new files), never O(table)).

    Only stats-able primitive types are recorded (int/float/bool/string/
    date/timestamp); binary payloads (the image ``bytes`` column) and
    nested types are skipped. A column whose footer lacks min/max in any
    row group is omitted for that file — pruning then keeps the file
    (conservative). parquet-mr may truncate long binary bounds, but its
    truncation keeps them valid (min prefix-truncated down, max
    incremented up), so pruning on them stays correct."""
    import pyarrow.parquet as pq
    import pyarrow.types as pat

    root = Path(table_dir)
    out: dict[str, dict] = {}
    for rel in rel_files:
        pf = pq.ParquetFile(str(root / rel))
        arrow_schema = pf.schema_arrow
        eligible = []
        for field in arrow_schema:
            t = field.type
            if stats_cols is not None and field.name not in stats_cols:
                continue
            if (
                pat.is_integer(t)
                or pat.is_floating(t)
                or pat.is_boolean(t)
                or pat.is_string(t)
                or pat.is_large_string(t)
                or pat.is_date(t)
                or pat.is_timestamp(t)
            ):
                eligible.append(field.name)
        md = pf.metadata
        if md.num_row_groups == 0:
            out[rel] = {}
            continue
        # leaf-column index by path (top-level primitives: path == name)
        rg0 = md.row_group(0)
        col_idx = {
            rg0.column(i).path_in_schema: i for i in range(rg0.num_columns)
        }
        fstats: dict[str, dict] = {}
        for name in eligible:
            ci = col_idx.get(name)
            if ci is None:
                continue
            mins, maxs = [], []
            nulls: int | None = 0
            ok = True
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(ci).statistics
                if st is None or not st.has_min_max:
                    ok = False
                    break
                mins.append(st.min)
                maxs.append(st.max)
                if nulls is not None and st.has_null_count:
                    nulls += st.null_count
                else:
                    nulls = None
            if not ok:
                continue
            lo, hi = _stat_val(min(mins)), _stat_val(max(maxs))
            if lo is None or hi is None:
                continue
            fstats[name] = {
                "min": lo,
                "max": hi,
                "null_count": nulls,
                "num_rows": md.num_rows,
            }
        out[rel] = fstats
    return out


def _commit_stats(
    table_dir: str,
    parent_meta: dict | None,
    keep_files: list[str],
    new_files: list[str],
    stats_cols: list[str] | None = None,
) -> dict:
    """Stats map for a new snapshot: carried files keep the bounds their
    writing commit recorded (the files are immutable, so the bounds stay
    exact forever); new files get fresh footer stats."""
    carried = {}
    if parent_meta is not None:
        parent_stats = parent_meta.get("stats", {})
        carried = {f: parent_stats[f] for f in keep_files if f in parent_stats}
    return carried | _collect_stats(table_dir, new_files, stats_cols)


def prune_files(
    table_dir: str,
    predicates: list[tuple],
    version: int | None = None,
) -> tuple[list[str], list[str]]:
    """Split the snapshot's file list into (kept, pruned) under the
    AND-combined ``(column, op, literal)`` predicates using ONLY the
    manifest's per-file min/max — pure driver-side metadata, no file is
    opened (Iceberg's manifest-entry bounds pruning: the step that turns
    a point lookup on a 10^12-row table from "open every footer" into
    "read the k files whose range covers the key")."""
    for p in predicates:
        if len(p) != 3 or p[1] not in _PRUNE_OPS:
            raise ValueError(
                f"predicate must be (column, op, literal) with op in "
                f"{_PRUNE_OPS}, got {p!r}"
            )
    meta = snapshot_meta(table_dir, version)
    stats = meta.get("stats", {})
    kept, pruned = [], []
    for f in meta["files"]:
        (kept if _file_may_match(stats.get(f, {}), predicates) else pruned).append(f)
    return kept, pruned


def _file_uri(path) -> str:
    """The URI Spark reports in ``_metadata.file_path`` for a local file:
    ``file:`` and the absolute path, escaped as java.net.URI escapes a
    path (a space or ``%`` is escaped; ``@``, ``+`` or ``ü`` is not)."""
    return "file:" + "".join(
        c if ord(c) > 127 and c.isprintable() and not c.isspace()
        else quote(c, safe=_URI_SAFE)
        for c in os.path.abspath(path)
    )


def _read(
    spark: SparkSession, table_dir: str, meta: dict, files: list[str]
) -> DataFrame:
    """Stored rows of ``files`` (table-relative), deleted ones included,
    under the snapshot's schema."""
    schema = StructType.fromJson(json.loads(meta["schema"]))
    root = Path(table_dir)
    return spark.read.schema(schema).parquet(*[str(root / f) for f in files])


def _with_positions(df: DataFrame) -> DataFrame:
    """``df`` plus each row's file URI and row index (``_FILE_COL`` /
    ``_POS_COL``), from the parquet scan's ``_metadata`` column."""
    return df.select(
        "*",
        F.col("_metadata.file_path").alias(_FILE_COL),
        F.col("_metadata.row_index").alias(_POS_COL),
    )


def _scan(
    spark: SparkSession, table_dir: str, meta: dict, files: list[str]
) -> DataFrame:
    """Live rows of ``files`` (table-relative) under the snapshot schema.

    Without deletes on those files this is the plain parquet scan. With
    deletes, their positions are loaded on the driver and broadcast as a
    local relation, left-anti-joined on ``_metadata.file_path`` /
    ``_metadata.row_index``. Never read the delete files with a Spark
    scan: the as-of read evaluates its input several times, and each
    evaluation would launch one more job."""
    import pyarrow as pa
    import pyarrow.compute as pc

    df = _read(spark, table_dir, meta, files)
    dels = load_deletes(table_dir, meta, files)
    if dels is None:
        return df
    names = pc.unique(dels["file_path"])
    uris = pa.array([_file_uri(Path(table_dir) / f) for f in names.to_pylist()])
    idx = pc.index_in(dels["file_path"], value_set=names)
    gone = spark.createDataFrame(
        pa.table({_FILE_COL: uris.take(idx), _POS_COL: dels["pos"]})
    )
    return (
        _with_positions(df)
        .join(F.broadcast(gone), [_FILE_COL, _POS_COL], "left_anti")
        .drop(_FILE_COL, _POS_COL)
    )


def read_table(
    spark: SparkSession,
    table_dir: str,
    version: int | None = None,
    where: list[tuple] | None = None,
) -> DataFrame:
    """Read the table as of ``version`` (default: latest) — time travel.

    Reads exactly the files the snapshot lists, minus the positions its
    delete files name; files added by later commits are invisible, and
    rows deleted later are still readable (until ``expire_snapshots``
    physically removes the files).

    ``where``: optional list of ``(column, op, literal)`` with op in
    ``=,<,<=,>,>=`` (AND semantics). The file list is first pruned
    driver-side against the manifest's per-file min/max (see
    ``prune_files``), then the SAME predicates are applied as residual
    Spark filters — so results are exact regardless of how much the
    stats could prune, and parquet row-group pruning still applies
    within the kept files. Deletes are loaded for the kept files only."""
    table_dir = _abs(table_dir)
    meta = snapshot_meta(table_dir, version)
    files = prune_files(table_dir, where, version)[0] if where else meta["files"]
    if not files:
        schema = StructType.fromJson(json.loads(meta["schema"]))
        return spark.createDataFrame([], schema)
    # read under the SNAPSHOT's schema, not a sampled footer: after an
    # additive schema evolution, files from older commits simply lack the
    # new columns and surface them as nulls — no mergeSchema footer sweep
    # (which reads every footer at planning time) needed
    df = _scan(spark, table_dir, meta, files)
    for col, op, val in where or []:
        c = F.col(col)
        df = df.filter(
            {
                "=": c == F.lit(val),
                "<": c < F.lit(val),
                "<=": c <= F.lit(val),
                ">": c > F.lit(val),
                ">=": c >= F.lit(val),
            }[op]
        )
    return df


def _write_data(df: DataFrame, table_dir: str, version: int) -> list[str]:
    """Write df's rows as immutable files under data/c{version}; returns
    their table-relative paths. An interrupted write leaves only orphans
    in a directory no snapshot references."""
    rel_dir = f"data/c{version:06d}"
    out = Path(table_dir) / rel_dir
    if out.exists():  # leftover from a crashed attempt at this version
        shutil.rmtree(out)
    df.write.mode("overwrite").parquet(str(out))
    return sorted(
        f"{rel_dir}/{p.name}" for p in out.glob("*.parquet")
    )


def _txn_map(table_dir: str, parent: int) -> dict:
    if not parent:
        return {}
    return dict(snapshot_meta(table_dir, parent).get("stream_txn", {}))


def txn_version(table_dir: str, app_id: str) -> int:
    """Last transaction id committed for ``app_id``, -1 if none — the
    Delta ``txnAppId``/``txnVersion`` idempotence handle: a streaming
    writer replaying micro-batch b after a crash checks
    ``b <= txn_version(...)`` and skips the duplicate commit."""
    if current_version(table_dir) == 0:
        return -1
    return int(_txn_map(table_dir, current_version(table_dir)).get(app_id, -1))


def _evolve_schema(parent_schema_json: str, df: DataFrame) -> str:
    """Additive schema evolution for appends: the snapshot schema is the
    parent's fields (types must match where the new data has them) plus
    any NEW fields the appended data introduces, in order. Old files
    never rewrite — ``read_table`` surfaces their missing columns as
    nulls. Type changes and renames are rejected loudly (they would
    silently corrupt old data under a positional parquet read)."""
    parent = StructType.fromJson(json.loads(parent_schema_json))
    new_by_name = {f.name: f for f in df.schema.fields}
    for f in parent.fields:
        g = new_by_name.get(f.name)
        if g is not None and g.dataType != f.dataType:
            raise ValueError(
                f"schema evolution is additive-only: column {f.name!r} "
                f"changed type {f.dataType} -> {g.dataType}"
            )
    known = {f.name for f in parent.fields}
    merged = list(parent.fields) + [
        f for f in df.schema.fields if f.name not in known
    ]
    return StructType(merged).json()


def write_snapshot(
    df: DataFrame,
    table_dir: str,
    mode: str = "append",
    txn: tuple[str, int] | None = None,
) -> dict:
    """Commit ``df`` as a new snapshot. ``mode='append'`` keeps the
    parent's files and adds new ones; ``'overwrite'`` starts the file
    list fresh (parent data stays readable via time travel). ``txn=
    (app_id, version)`` stamps a writer transaction for idempotent
    streaming commits (see ``txn_version``)."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    table_dir = _abs(table_dir)
    parent = current_version(table_dir)
    version = parent + 1
    schema_json = df.schema.json()
    if mode == "append" and parent:
        schema_json = _evolve_schema(
            snapshot_meta(table_dir, parent)["schema"], df
        )
    new_files = _write_data(df, table_dir, version)
    parent_meta = snapshot_meta(table_dir, parent) if parent else None
    prev = parent_meta["files"] if parent_meta else []
    keep = prev if mode == "append" else []
    files = keep + new_files
    rec = {
        "version": version,
        "parent": parent,
        "operation": mode,
        "files": sorted(files),
        # an append carries every parent file, so its deletes too
        "deletes": parent_meta.get("deletes", {}) if keep else {},
        "schema": schema_json,
        "stats": _commit_stats(table_dir, parent_meta, keep, new_files),
        "summary": {"files_added": len(new_files)},
        "stream_txn": _txn_map(table_dir, parent)
        | (dict([txn]) if txn else {}),
    }
    _commit(table_dir, rec)
    return rec


def _live_hits(table_dir: str, meta: dict, hits):
    """Collected ``_FILE_COL`` / ``_POS_COL`` hits (pyarrow) with the URI
    mapped to the table-relative ``file_path`` and the position as
    ``pos``, minus the positions the snapshot already deletes."""
    import pyarrow as pa
    import pyarrow.compute as pc

    root = Path(table_dir)
    files = meta["files"]
    idx = pc.index_in(
        hits[_FILE_COL],
        value_set=pa.array([_file_uri(root / f) for f in files], pa.string()),
    )
    hits = (
        hits.append_column("file_path", pa.array(files, pa.string()).take(idx))
        .append_column("pos", hits[_POS_COL])
        .drop_columns([_FILE_COL, _POS_COL])
    )
    dead = load_deletes(
        table_dir, meta, pc.unique(hits["file_path"]).to_pylist()
    )
    if dead is None:
        return hits
    return hits.join(dead, keys=["file_path", "pos"], join_type="left anti")


def _write_deletes(table_dir: str, version: int, hits, deletes: dict):
    """Write ``hits``' ``(file_path, pos)`` as this version's position-delete
    file (sorted, as Iceberg requires); returns its table-relative path and
    the snapshot's ``deletes`` map with the file added."""
    import pyarrow.parquet as pq

    rel = f"deletes/d{version:06d}.parquet"
    path = Path(table_dir) / rel
    path.parent.mkdir(parents=True, exist_ok=True)
    tmp = path.with_name(f".{path.name}.tmp")
    pos = hits.select(["file_path", "pos"])
    pq.write_table(pos.sort_by([("file_path", "ascending"), ("pos", "ascending")]), tmp)
    os.replace(tmp, path)
    out = dict(deletes)
    counts = pos.group_by("file_path").aggregate([([], "count_all")])
    for f, n in zip(counts["file_path"].to_pylist(), counts["count_all"].to_pylist()):
        e = out.get(f, {"files": [], "deleted": 0})
        out[f] = {"files": e["files"] + [rel], "deleted": e["deleted"] + n}
    return rel, out


def _written(
    table_dir: str, data_files: list[str], delete_files: list[str], rows_deleted: int
) -> dict:
    """Summary fields of a merge, delete or compact commit: rows and bytes
    it wrote, data and delete files counted apart (footers and file sizes
    only). Write amplification is ``bytes_written`` over the bytes of the
    ``rows_added`` rows, so ``snapshot_log`` alone gives it."""
    import pyarrow.parquet as pq

    root = Path(table_dir)
    return {
        "rows_added": sum(
            pq.read_metadata(str(root / f)).num_rows for f in data_files
        ),
        "rows_deleted": int(rows_deleted),
        "delete_files": len(delete_files),
        "bytes_written": {
            "data": sum((root / f).stat().st_size for f in data_files),
            "deletes": sum((root / f).stat().st_size for f in delete_files),
        },
    }


def delete_where(
    spark: SparkSession, table_dir: str, predicate: str
) -> dict:
    """Merge-on-read DELETE: one action collects the positions of the live
    rows where ``predicate`` (SQL expression) IS TRUE — a row whose
    predicate is NULL stays, as in SQL ``DELETE`` — and the commit writes
    them as one position-delete file. Every data file is carried into the
    new snapshot untouched (byte-identical — pinned by test)."""
    table_dir = _abs(table_dir)
    parent = current_version(table_dir)
    meta = snapshot_meta(table_dir, parent)
    hits = _live_hits(
        table_dir,
        meta,
        _with_positions(_read(spark, table_dir, meta, meta["files"]))
        .filter(F.expr(predicate))
        .select(_FILE_COL, _POS_COL)
        .toArrow(),
    )
    if not hits.num_rows:
        return {"version": parent, "files_rewritten": 0, "rows_deleted": 0}
    version = parent + 1
    rel, deletes = _write_deletes(table_dir, version, hits, meta.get("deletes", {}))
    rec = {
        "version": version,
        "parent": parent,
        "operation": "delete",
        "files": meta["files"],
        "deletes": deletes,
        "schema": meta["schema"],
        "stats": meta.get("stats", {}),
        "summary": {"files_rewritten": 0, "predicate": predicate}
        | _written(table_dir, [], [rel], hits.num_rows),
        # carry writer-txn state so a maintenance delete between stream
        # batches doesn't reset streaming idempotence
        "stream_txn": _txn_map(table_dir, parent),
    }
    _commit(table_dir, rec)
    return rec["summary"] | {"version": version}


def merge_into(
    spark: SparkSession,
    table_dir: str,
    source: DataFrame,
    on: list[str],
    validate_source_keys: bool = True,
    txn: tuple[str, int] | None = None,
) -> dict:
    """Merge-on-read MERGE INTO (upsert): WHEN MATCHED update all columns
    from source, WHEN NOT MATCHED insert the source row.

    Plan shape: (1) one action collects the source keys together with
    the positions of the live target rows they match (target key columns
    plus ``_metadata`` file path and row index, semi-joined to the
    broadcast source keys); (2) those positions become one delete file;
    (3) the source is written as one new data file. A target row matched
    by a source row is replaced by that source row, NULLs included, so a
    key held by n live target rows gets n copies (the source LEFT JOIN the
    hit keys; keys held once add nothing to that join, so only keys held
    more than once go into it — usually none). Unmatched source rows are
    inserts. Every data file is carried by reference (``files_rewritten``
    is 0). Three Spark jobs: the broadcast, the collect and the write
    (one more broadcast when a key is held more than once).

    Iceberg MERGE rejects a source row matching twice; ``validate_source
    _keys`` enforces the same contract on the collected source keys."""
    import pyarrow.compute as pc

    table_dir = _abs(table_dir)
    parent = current_version(table_dir)
    meta = snapshot_meta(table_dir, parent)
    cols = StructType.fromJson(json.loads(meta["schema"])).fieldNames()
    if sorted(source.columns) != sorted(cols):
        raise ValueError(
            f"source columns {sorted(source.columns)} != table {sorted(cols)}"
        )
    keys = source.select(*on)
    found = (
        keys.select(
            *on,
            F.lit(None).cast("string").alias(_FILE_COL),
            F.lit(None).cast("long").alias(_POS_COL),
        )
        .unionByName(
            _with_positions(_read(spark, table_dir, meta, meta["files"]))
            .select(*on, _FILE_COL, _POS_COL)
            .join(F.broadcast(keys), on=on, how="leftsemi")
        )
        .toArrow()
    )
    from_source = pc.is_null(found[_FILE_COL])
    src = found.filter(from_source).select(on)
    if validate_source_keys and (
        src.group_by(on).aggregate([]).num_rows < src.num_rows
    ):
        raise ValueError("MERGE source has duplicate keys on " + str(on))
    hits = _live_hits(table_dir, meta, found.filter(pc.invert(from_source)))

    out = source.select(*cols)
    held = hits.group_by(on).aggregate([([], "count_all")])
    multi = hits.join(
        held.filter(pc.greater(held["count_all"], 1)).select(on),
        keys=on,
        join_type="left semi",
    ).select(on)
    if multi.num_rows:
        key_schema = StructType([source.schema[k] for k in on])
        out = source.join(
            F.broadcast(spark.createDataFrame(multi, key_schema)), on=on, how="left"
        ).select(*cols)

    version = parent + 1
    # an empty source still commits (its txn is recorded) but adds no file
    new_files = _write_data(out, table_dir, version) if src.num_rows else []
    deletes, written = meta.get("deletes", {}), []
    if hits.num_rows:
        rel, deletes = _write_deletes(table_dir, version, hits, deletes)
        written = [rel]
    rec = {
        "version": version,
        "parent": parent,
        "operation": "merge",
        "files": sorted(meta["files"] + new_files),
        "deletes": deletes,
        "schema": meta["schema"],
        "stats": _commit_stats(table_dir, meta, meta["files"], new_files),
        "summary": {"files_rewritten": 0, "files_carried": len(meta["files"])}
        | _written(table_dir, new_files, written, hits.num_rows),
        "stream_txn": _txn_map(table_dir, parent)
        | (dict([txn]) if txn else {}),
    }
    _commit(table_dir, rec)
    return rec["summary"] | {"version": version}


def read_changes(
    spark: SparkSession,
    table_dir: str,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Rows added between two snapshots (Iceberg incremental scan — the
    feed for downstream incremental consumers).

    Fast path: when every commit in (from, to] is an ``append``, the
    changes are EXACTLY the files those commits added — the scan reads
    only them, never the base table (O(delta), the 10^12-row contract;
    pinned via inputFiles in tests). When any other commit (merge /
    delete / compact / rollback / overwrite) intervenes, added files are
    no longer the change: deletes hide old rows, and a compaction adds
    files of rows that did not change. This then falls back
    to the exact row-level diff ``to EXCEPT ALL from`` — one shuffle over
    both versions, correct for any history. Callers needing O(delta)
    merge feeds should consume per-commit (``from = to - 1``) right
    after each merge, or use the CDC stream itself."""
    table_dir = _abs(table_dir)
    to_v = current_version(table_dir) if to_version is None else to_version
    if to_v < from_version:
        raise ValueError(f"to_version {to_v} < from_version {from_version}")
    if to_v == from_version:
        meta = snapshot_meta(table_dir, to_v)
        return spark.createDataFrame(
            [], StructType.fromJson(json.loads(meta["schema"]))
        )
    ops = [
        snapshot_meta(table_dir, v)["operation"]
        for v in range(from_version + 1, to_v + 1)
    ]
    if all(op == "append" for op in ops):
        base = set(snapshot_meta(table_dir, from_version)["files"])
        added = [
            f
            for f in snapshot_meta(table_dir, to_v)["files"]
            if f not in base
        ]
        if not added:
            meta = snapshot_meta(table_dir, to_v)
            return spark.createDataFrame(
                [], StructType.fromJson(json.loads(meta["schema"]))
            )
        root = Path(table_dir)
        return spark.read.parquet(*[str(root / f) for f in added])
    return read_table(spark, table_dir, to_v).exceptAll(
        read_table(spark, table_dir, from_version)
    )


def compact_table(
    spark: SparkSession,
    table_dir: str,
    target_bytes: int = 128 * 1024 * 1024,
) -> dict:
    """Fold deletes and small files back into ~``target_bytes`` files as a
    NEW snapshot (Iceberg ``rewrite_data_files``). A data file is
    rewritten when it pays off: its deleted share is at least
    ``REWRITE_DELETED_SHARE``, or it is smaller than
    ``spark.sql.files.openCostInBytes`` (what Spark charges for opening a
    file) and at least two such files exist. Every other file is carried
    with its remaining deletes. The rewritten files' live rows are
    bin-packed into ``ceil(live bytes / target_bytes)`` files without a
    shuffle, and their count is checked against footer row counts minus
    deletes before the commit. When nothing pays off, nothing is
    committed. Rows are untouched, history stays readable, and
    incremental consumers see zero changes across the compaction
    (``read_changes`` takes the exact-diff path and returns empty —
    pinned by test). Unlike `runtime/compact.py` (in-place dir swap for
    plain parquet dirs), nothing is moved or deleted here — old files
    fall out via ``expire_snapshots``."""
    import pyarrow.parquet as pq

    table_dir = _abs(table_dir)
    parent = current_version(table_dir)
    meta = snapshot_meta(table_dir, parent)
    root = Path(table_dir)
    files, deletes = meta["files"], meta.get("deletes", {})
    size = {f: (root / f).stat().st_size for f in files}
    rows = {f: pq.read_metadata(str(root / f)).num_rows for f in files}
    dead = {f: deletes.get(f, {}).get("deleted", 0) for f in files}
    open_cost = spark._jsparkSession.sessionState().conf().filesOpenCostInBytes()
    small = {f for f in files if size[f] < open_cost}
    rewrite = [
        f
        for f in files
        if (dead[f] and dead[f] >= REWRITE_DELETED_SHARE * rows[f])
        or (f in small and len(small) >= 2)
    ]
    summary = {
        "files_before": len(files),
        "rows": sum(rows.values()) - sum(dead.values()),
    }
    if not rewrite:
        return summary | {
            "files_after": len(files), "files_rewritten": 0, "version": parent
        }
    live_bytes = sum(size[f] * (1 - dead[f] / rows[f]) for f in rewrite if rows[f])
    version = parent + 1
    new_files = _write_data(
        _scan(spark, table_dir, meta, rewrite).coalesce(
            max(math.ceil(live_bytes / target_bytes), 1)
        ),
        table_dir,
        version,
    )
    folded = sum(dead[f] for f in rewrite)
    summary |= _written(table_dir, new_files, [], folded)
    want = sum(rows[f] for f in rewrite) - folded
    if summary["rows_added"] != want:
        raise RuntimeError(
            f"compaction row mismatch: {want} -> {summary['rows_added']}"
        )
    carried = [f for f in files if f not in set(rewrite)]
    rec = {
        "version": version,
        "parent": parent,
        "operation": "compact",
        "files": sorted(carried + new_files),
        "deletes": {f: deletes[f] for f in carried if f in deletes},
        "schema": meta["schema"],
        "stats": _commit_stats(table_dir, meta, carried, new_files),
        "summary": summary
        | {
            "files_after": len(carried) + len(new_files),
            "files_rewritten": len(rewrite),
        },
        "stream_txn": _txn_map(table_dir, parent),
    }
    _commit(table_dir, rec)
    return rec["summary"] | {"version": version}


def rollback_table(table_dir: str, version: int) -> dict:
    """Roll the table back to ``version`` (Iceberg
    ``rollback_to_snapshot``): a NEW commit whose file list, deletes,
    schema, and stats are exactly the target snapshot's — nothing is copied or
    deleted, history stays linear (the bad commits remain time-travel-
    readable until ``expire_snapshots``), and the rollback itself is
    one atomic metadata write. Streaming-writer txn state carries from
    the CURRENT version, not the target: a rolled-back table must still
    reject replays of micro-batches it has already absorbed."""
    cur = current_version(table_dir)
    if version > cur or version < 1:
        raise ValueError(f"cannot roll back to v{version} (current {cur})")
    tgt = snapshot_meta(table_dir, version)
    rec = {
        "version": cur + 1,
        "parent": cur,
        "operation": "rollback",
        "files": tgt["files"],
        "deletes": tgt.get("deletes", {}),
        "schema": tgt["schema"],
        "stats": tgt.get("stats", {}),
        "summary": {"rolled_back_to": version},
        "stream_txn": _txn_map(table_dir, cur),
    }
    _commit(table_dir, rec)
    return rec


def expire_snapshots(table_dir: str, keep_last: int = 1) -> dict:
    """Drop all but the newest ``keep_last`` snapshots and physically
    delete data and delete files no surviving snapshot references
    (Iceberg: ``expire_snapshots`` + orphan-file cleanup). Also removes
    crash orphans — files never referenced by any snapshot."""
    cur = current_version(table_dir)
    keep_versions = set(range(max(cur - keep_last + 1, 1), cur + 1))
    sdir = _snap_path(table_dir)
    referenced: set[str] = set()
    dropped_snaps = []
    for p in sorted(sdir.glob("v*.json")):
        v = int(p.stem[1:])
        if v in keep_versions:
            rec = json.loads(p.read_text())
            referenced |= set(rec["files"])
            for e in rec.get("deletes", {}).values():
                referenced |= set(e["files"])
        else:
            p.unlink()
            dropped_snaps.append(v)
    root = Path(table_dir)
    removed = {"data": 0, "deletes": 0}
    for kind, pattern in (("data", "*.parquet"), ("deletes", "*")):
        for f in sorted((root / kind).rglob(pattern)):
            if f.is_file() and str(f.relative_to(root)) not in referenced:
                f.unlink()
                removed[kind] += 1
    for d in sorted((root / "data").glob("c*")):
        if d.is_dir() and not any(d.iterdir()):
            d.rmdir()
    return {
        "snapshots_dropped": dropped_snaps,
        "data_files_removed": removed["data"],
        "delete_files_removed": removed["deletes"],
    }
