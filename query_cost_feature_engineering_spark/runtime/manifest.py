"""Pure-stdlib snapshot-manifest reading: the metadata half of
`runtime/snapshots.py`, split out so the `qcfe_snapshot` Python Data
Source (`sources/snapshot_source.py`) can be pickled BY VALUE into
Spark's data-source planner worker with zero package imports.

Why this must be standalone: PySpark 4 plans a Python data source in a
separate python worker process that receives the registered DataSource
class via cloudpickle. A class from an importable module is pickled by
REFERENCE, and the planner worker does not inherit `addPyFile` includes
the way executor UDF workers do — so a reference-pickled class raises
``ModuleNotFoundError`` unless the package is on the cluster-wide
PYTHONPATH. Registering this module (and the source module) for
by-value pickling removes that deployment requirement, but only works
if nothing here imports the parent package — hence: stdlib only.

Format (written by `runtime/snapshots.py`, the single writer):
``{table_dir}/_snapshots/v{NNNNNN}.json`` per commit + an atomic
``CURRENT`` pointer; each snapshot JSON lists relative data-file paths
(Iceberg: manifest list), per-file min/max/null_count column bounds
(Iceberg: manifest-entry stats) and, under ``deletes``, the position-delete
files that apply to each data file (Iceberg v2 position deletes: parquet
files of ``(file_path, pos)`` rows, ``file_path`` table-relative, ``pos``
the row index within that file).

The reference has no analog — its storage layer is a directory of
pickle dumps reread wholesale per run (tpch_utils_knob.py:283,333-351).
"""

from __future__ import annotations

import datetime as _dt
import json
from pathlib import Path

SNAP_DIR = "_snapshots"


def _snap_path(table_dir: str) -> Path:
    return Path(table_dir) / SNAP_DIR


def current_version(table_dir: str) -> int:
    """Latest committed version, or 0 for an empty/nonexistent table."""
    cur = _snap_path(table_dir) / "CURRENT"
    if not cur.exists():
        return 0
    return int(cur.read_text().strip())


def snapshot_meta(table_dir: str, version: int | None = None) -> dict:
    v = current_version(table_dir) if version is None else version
    if v == 0:
        raise FileNotFoundError(f"no snapshots in {table_dir}")
    p = _snap_path(table_dir) / f"v{v:06d}.json"
    return json.loads(p.read_text())


def load_deletes(table_dir: str, meta: dict, files: list[str]):
    """The snapshot's deleted ``(file_path, pos)`` rows for ``files``
    (table-relative paths) as a pyarrow Table, or None when none of them
    carries deletes. Reads only the delete files those data files
    reference; pyarrow is imported here, not at module level, so this
    module stays importable with the standard library alone."""
    dels = meta.get("deletes", {})
    wanted = [f for f in files if f in dels]
    if not wanted:
        return None
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    paths = sorted({d for f in wanted for d in dels[f]["files"]})
    tbl = pa.concat_tables(
        pq.read_table(str(Path(table_dir) / p)) for p in paths
    )
    return tbl.filter(pc.is_in(tbl["file_path"], value_set=pa.array(wanted)))


def _stat_val(v):
    """Normalize a parquet footer stat / predicate literal to a
    JSON-storable, order-preserving primitive: numbers and bools stay
    as-is, strings stay strings, date/timestamp become ISO-8601 strings
    (lexicographic order == chronological order for the fixed format).
    Returns None for types pruning doesn't support (binary, nested)."""
    if isinstance(v, (bool, int, float, str)):
        return v
    if isinstance(v, (_dt.datetime, _dt.date)):
        return v.isoformat()
    return None


def _cmp_compatible(a, b) -> bool:
    """True when two normalized stat/literal values order consistently:
    numerics compare cross-type (int vs float), everything else must be
    the same type. bool is NOT numeric here (Python would happily order
    True < 2, but a bool literal against an int column is a user bug)."""
    a_num = isinstance(a, (int, float)) and not isinstance(a, bool)
    b_num = isinstance(b, (int, float)) and not isinstance(b, bool)
    if a_num and b_num:
        return True
    return type(a) is type(b)


def _file_may_match(fstats: dict, predicates: list[tuple]) -> bool:
    """Conservative manifest check: False only when the file's recorded
    [min, max] bounds PROVE no row can satisfy the AND of predicates.
    Missing stats for a column ⇒ that predicate can't prune the file."""
    for col, op, val in predicates:
        s = fstats.get(col)
        if not s:
            continue
        v = _stat_val(val)
        lo, hi = s["min"], s["max"]
        if v is None or not _cmp_compatible(lo, v):
            continue
        if (
            s.get("null_count") is not None
            and s["null_count"] == s.get("num_rows")
        ):
            return False  # every value NULL: no comparison can hold
        if op == "=" and (v < lo or v > hi):
            return False
        if op == "<" and lo >= v:
            return False
        if op == "<=" and lo > v:
            return False
        if op == ">" and hi <= v:
            return False
        if op == ">=" and hi < v:
            return False
    return True
