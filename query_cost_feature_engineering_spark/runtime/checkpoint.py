"""Resumable partitioned writes with per-partition lineage + metrics manifests.

The north-star contract (BASELINE.json ``north_rule``) requires the job to
be "resumable from checkpoint with per-partition lineage + metrics".
The reference has no analog (its checkpoints are whole-pipeline pickle
dumps, ``tpch_utils_knob.py:283,333-351``); this module is the Spark-native
replacement:

- Output is written ``partitionBy(bucket_col)`` with **dynamic partition
  overwrite**, so re-running a partition replaces exactly that partition's
  files — idempotent at the partition level, no half-written survivors.
- After each successful partition write, a JSON manifest row is committed
  under ``<out>/_manifest/part=<k>.json`` carrying lineage (input paths +
  fingerprint of the input file listing, i.e. the "snapshot id" of a
  parquet dir; with a real Iceberg catalog this is the snapshot-id) and
  metrics (row count, bytes, wall seconds).
- On restart, partitions whose manifest exists *with the same input
  fingerprint* are skipped entirely — Spark never reads their input rows
  again (partition pruning on the bucket predicate); a changed fingerprint
  invalidates and recomputes.

All partitions still pending are written in ONE Spark job (a single
``partitionBy`` write), not a driver loop — resumability costs no
parallelism. The manifest commit is atomic per partition (write to temp +
rename), so a crash between write and manifest at worst recomputes one
partition (which dynamic overwrite makes safe).
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from pathlib import Path

import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MANIFEST_DIR = "_manifest"


def input_fingerprint(spark, input_paths: list[str]) -> str:
    """Fingerprint of the input snapshot: hash of the sorted (path, size,
    mtime in ns) listing of every data file — whole seconds would miss a
    same-size rewrite within one second. With an Iceberg catalog, use the
    table's snapshot-id instead; for plain parquet dirs this is the
    equivalent change-detector."""
    h = hashlib.sha256()
    for root in sorted(input_paths):
        p = Path(root)
        files = sorted(p.rglob("*.parquet")) if p.is_dir() else [p]
        for f in files:
            st = f.stat()
            h.update(f"{f}|{st.st_size}|{st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:16]


def completed_partitions(
    out_dir: str,
    fingerprint: str | None = None,
    bucket_col: str | None = None,
    n_buckets: int | None = None,
) -> set[int]:
    """Partitions with a committed manifest matching fingerprint AND the
    bucketing scheme. A manifest written under a different bucket count or
    key lives in a different hash space — treating it as done would
    silently mix outputs, so it invalidates like a fingerprint change."""
    mdir = Path(out_dir) / MANIFEST_DIR
    done: set[int] = set()
    if not mdir.is_dir():
        return done
    for mf in mdir.glob("part=*.json"):
        try:
            rec = json.loads(mf.read_text())
        except (json.JSONDecodeError, OSError):
            continue  # torn manifest == not committed
        if fingerprint is not None and rec.get("input_fingerprint") != fingerprint:
            continue
        if bucket_col is not None and rec.get("bucket_col") != bucket_col:
            continue
        if n_buckets is not None and rec.get("n_buckets") != n_buckets:
            continue
        done.add(int(rec["partition"]))
    return done


def _commit_manifest(out_dir: str, rec: dict) -> None:
    mdir = Path(out_dir) / MANIFEST_DIR
    mdir.mkdir(parents=True, exist_ok=True)
    final = mdir / f"part={rec['partition']}.json"
    tmp = mdir / f".part={rec['partition']}.json.tmp"
    tmp.write_text(json.dumps(rec, sort_keys=True))
    os.replace(tmp, final)  # atomic on POSIX


def write_resumable(
    df: DataFrame,
    out_dir: str,
    bucket_col: str = "entity_bucket",
    n_buckets: int = 8,
    input_paths: list[str] | None = None,
    fail_after: int | None = None,
) -> dict:
    """Write ``df`` partitioned by ``pmod(xxhash64(bucket_col), n_buckets)``,
    skipping partitions already committed for the same input snapshot.

    ``fail_after`` (tests only): raise after committing that many
    partitions, simulating a mid-job crash.

    Returns {"written": [...], "skipped": [...], "fingerprint": str}.
    """
    spark = df.sparkSession
    fp = input_fingerprint(spark, input_paths) if input_paths else "unversioned"
    done = completed_partitions(out_dir, fp, bucket_col, n_buckets)
    all_parts = list(range(n_buckets))
    todo = [p for p in all_parts if p not in done]
    bucketed = df.withColumn(
        "part_id", F.pmod(F.xxhash64(F.col(bucket_col)), F.lit(n_buckets)).cast("int")
    )
    if not todo:
        return {"written": [], "skipped": sorted(done), "fingerprint": fp}

    if fail_after is not None:
        todo = todo[:fail_after]

    t0 = time.perf_counter()
    pending = bucketed.filter(F.col("part_id").isin(todo))
    (
        pending.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("part_id")
        .parquet(out_dir)
    )
    wall = time.perf_counter() - t0

    # per-partition metrics from the just-written footers: no second job
    for p in todo:
        files = list((Path(out_dir) / f"part_id={p}").glob("*.parquet"))
        _commit_manifest(
            out_dir,
            {
                "partition": p,
                "rows": sum(pq.ParquetFile(f).metadata.num_rows for f in files),
                "bytes": sum(f.stat().st_size for f in files),
                "input_fingerprint": fp,
                "input_paths": sorted(input_paths or []),
                "bucket_col": bucket_col,
                "n_buckets": n_buckets,
                "wall_s_job": round(wall, 3),
            },
        )
    if fail_after is not None:
        raise RuntimeError(f"simulated crash after {fail_after} partitions")
    return {"written": todo, "skipped": sorted(done), "fingerprint": fp}
