"""Streaming CDC upsert: a change stream merged into a snapshot table.

The continuous-ingest twin of `runtime/snapshots.merge_into` — the shape
every CDC pipeline needs at 10^12-row scale: updates/inserts arrive as a
stream, and the serving table must converge to "latest row per key"
with exactly-once semantics across crashes.

Three layers make it exactly-once without a transactional format jar:

1. Spark's streaming checkpoint replays uncommitted micro-batches after
   a crash (at-least-once delivery into ``foreachBatch``).
2. Each micro-batch is first collapsed to ONE row per key — the max-
   ``seq_col`` row wins (one window-free aggregation: ``max_by`` over
   the whole struct) — so intra-batch CDC ordering is deterministic.
   Then rows STALER than the table (source seq <= the key's current
   seq) are dropped via one key/seq-projection join, so out-of-order
   delivery across micro-batches can never regress a key — the table
   converges to the global max-seq row per key whatever the batching.
3. The merge commit stamps ``(app_id, batch_id)`` into the snapshot's
   ``stream_txn`` map (the public Delta ``txnAppId``/``txnVersion``
   idempotence pattern); a replayed batch sees ``batch_id <=
   txn_version(...)`` and SKIPS — the duplicate commit never happens,
   so at-least-once delivery + idempotent commit = exactly-once table
   state (pinned by tests/test_streaming.py, incl. a forced replay).

Scale: the per-batch merge is merge-on-read — it writes the batch's
rows as one new data file plus one position-delete file naming the
rows they replace, and rewrites no existing file; a micro-batch
updating k keys writes O(k) rows regardless of table size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from query_cost_feature_engineering_spark.runtime import snapshots as S


def latest_per_key(batch: DataFrame, on: list[str], seq_col: str) -> DataFrame:
    """Collapse a CDC batch to its final state: the highest-``seq_col``
    row per key. ``max_by`` over the packed struct is a single partial-
    aggregatable groupBy — no window, no sort."""
    cols = batch.columns
    packed = F.struct(
        F.col(seq_col).alias("__seq"), *[F.col(c) for c in cols]
    )
    agg = batch.groupBy(*on).agg(F.max_by(packed, F.col(seq_col)).alias("__w"))
    return agg.select(*[F.col(f"__w.{c}").alias(c) for c in cols])


def apply_cdc_batch(
    spark: SparkSession,
    batch: DataFrame,
    batch_id: int,
    table_dir: str,
    on: list[str],
    seq_col: str,
    app_id: str,
) -> str:
    """Merge one micro-batch into the table; returns what happened
    ('skipped' | 'bootstrap' | 'merged') for observability/tests."""
    if batch_id <= S.txn_version(table_dir, app_id):
        return "skipped"  # crash-replay of an already-committed batch
    src = latest_per_key(batch, on, seq_col)
    if S.current_version(table_dir) == 0:
        S.write_snapshot(
            src, table_dir, mode="overwrite", txn=(app_id, batch_id)
        )
        return "bootstrap"
    # out-of-order guard: drop source rows not newer than the table's
    # current seq for their key — the key/seq projection is column-pruned
    # at the scan, and without it an unconditional MERGE would let a
    # late-arriving stale change overwrite a newer row
    cur_seq = S.read_table(spark, table_dir).select(
        *on, F.col(seq_col).alias("__cur_seq")
    )
    fresh = (
        src.join(cur_seq, on=on, how="left")
        .filter(
            F.col("__cur_seq").isNull()
            | (F.col(seq_col) > F.col("__cur_seq"))
        )
        .drop("__cur_seq")
    )
    if not fresh.limit(1).count():
        return "stale"  # whole batch already superseded; nothing to commit
    # keys are unique by construction after latest_per_key
    S.merge_into(
        spark,
        table_dir,
        fresh,
        on=on,
        validate_source_keys=False,
        txn=(app_id, batch_id),
    )
    return "merged"


def stream_upsert_to_table(
    changes: DataFrame,
    table_dir: str,
    checkpoint_dir: str,
    on: list[str],
    seq_col: str,
    app_id: str = "cdc-upsert",
) -> None:
    """Drain a (bounded) change stream into the snapshot table via
    idempotent per-batch MERGE. ``availableNow`` processes everything
    currently in the source and stops — rerunning with the same
    checkpoint continues exactly where it left off."""
    spark = changes.sparkSession

    def f(batch: DataFrame, batch_id: int) -> None:
        apply_cdc_batch(
            spark, batch, batch_id, table_dir, on, seq_col, app_id
        )

    q = (
        changes.writeStream.foreachBatch(f)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
