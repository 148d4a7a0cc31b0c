"""Backward (point-in-time) as-of join — the engine's centerpiece operator.

Spark has no built-in as-of join (SURVEY.md §2.B), so two strategies:

1. ``asof_join_union_window`` — pure DataFrame plan: tag right rows 0 /
   left rows 1, union, and per entity take ``last(row, ignorenulls=True)``
   over ``orderBy(ts, side, tiebreak).rowsBetween(unboundedPreceding, 0)``,
   where ``row`` is one non-null struct of a right row's values (so a
   NULL value in the matched row stays NULL; it is never filled from an
   older row).
   One shuffle on the entity key, whole-stage codegen, ANSI-SQL
   expressible (DuckDB ``ASOF JOIN`` verifies it). Per-entity work is
   single-partition, so a pathologically hot entity serializes — fine up
   to ~10^7 rows/entity.

2. ``asof_join_pandas_merge`` — the 100-TB path from BASELINE.json
   ``north_rule``: cogroup both sides on a hash bucket of the entity key
   and run one Arrow cogroup kernel per bucket (``applyInArrow``): the
   backward match is found on the narrow key and ts columns alone, and
   each value column is a ``take`` by the matched row index, so a wide
   feature vector never becomes a pandas object. Entities flagged *hot*
   (row count above a threshold) are additionally range-sliced on time
   into equal-width cuts of the hot entities' ts span, with the **last
   right row of each slice carried forward** (one ``max_by`` aggregate)
   into the later slices up to the entity's next non-empty one, so no
   probe misses a match that lives in an earlier slice. This is the
   explicit salting/skew handling the north rule demands: a hot entity's
   probes parallelize across slices while cold entities stay on the
   cheap single-shuffle path.

Tie contract (matches the golden oracle and pandas.merge_asof): backward
join with exact-match allowed; among right rows sharing (entity, ts) the
last by ``tiebreak`` wins.
"""

from __future__ import annotations

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

_SLICES = 32  # time slices for hot entities
# the automatic hot threshold never drops below this many right rows
_HOT_FLOOR = 10_000
# beyond this many hot ids, membership tests use a broadcast join
# instead of `isin` literals (plan size stays O(1) in hot-key count)
_HOT_LITERAL_CAP = 1000


def _mark_hot(df: DataFrame, key: str, hot_ids: list, key_type) -> DataFrame:
    """``df`` plus a boolean ``_hot``: is ``key`` one of ``hot_ids``.
    Literals up to ``_HOT_LITERAL_CAP``; above it a broadcast left join
    against a hot-key frame, so the plan stays small for 10^4+ hot ids."""
    if len(hot_ids) <= _HOT_LITERAL_CAP:
        return df.withColumn("_hot", F.col(key).isin(hot_ids))
    hot_df = df.sparkSession.createDataFrame(
        [(k, True) for k in hot_ids],
        T.StructType(
            [
                T.StructField("_hot_key", key_type),
                T.StructField("_hot_flag", T.BooleanType()),
            ]
        ),
    )
    return (
        df.join(F.broadcast(hot_df), F.col(key) == F.col("_hot_key"), "left")
        .withColumn("_hot", F.col("_hot_flag").isNotNull())
        .drop("_hot_key", "_hot_flag")
    )


def asof_join_union_window(
    left: DataFrame,
    right: DataFrame,
    on: str = "ts",
    by: str = "entity_id",
    value_cols: list[str] | None = None,
    tiebreak: str | None = None,
    allow_exact_matches: bool = True,
) -> DataFrame:
    value_cols = value_cols or [
        c for c in right.columns if c not in (on, by, tiebreak)
    ]
    lcols = left.columns
    tb = (
        F.col(tiebreak)
        if tiebreak and tiebreak in right.columns
        else F.lit(None).cast("string")
    )
    # exact-match control: with exact matches allowed, right rows sort
    # BEFORE left rows at equal ts (visible to them); strict mode flips the
    # order so equal-ts right rows are invisible to the probe
    r_side, l_side = (0, 1) if allow_exact_matches else (1, 0)
    r = right.select(
        F.col(by),
        F.col(on),
        F.lit(r_side).alias("_side"),
        tb.cast("string").alias("_tb"),
        F.struct(*value_cols).alias("_v"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(f"_l_{c}") for c in lcols],
    )
    lt = left.select(
        F.col(by),
        F.col(on),
        F.lit(l_side).alias("_side"),
        F.lit(None).cast("string").alias("_tb"),
        F.lit(None).cast(r.schema["_v"].dataType).alias("_v"),
        *[F.col(c).alias(f"_l_{c}") for c in lcols],
    )
    u = r.unionByName(lt)
    w = (
        Window.partitionBy(by)
        .orderBy(F.col(on), F.col("_side"), F.col("_tb"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    u = u.withColumn("_v", F.last("_v", ignorenulls=True).over(w))
    out = u.filter(F.col("_side") == F.lit(l_side)).select(
        *[F.col(f"_l_{c}").alias(c) for c in lcols],
        *[F.col("_v").getField(c).alias(c) for c in value_cols],
    )
    return out


def asof_join_pandas_merge(
    left: DataFrame,
    right: DataFrame,
    on: str = "ts",
    by: str = "entity_id",
    value_cols: list[str] | None = None,
    tiebreak: str | None = None,
    num_buckets: int = 32,
    hot_threshold: int | None = None,
    slices: int = _SLICES,
    allow_exact_matches: bool = True,
) -> DataFrame:
    """Cogrouped sorted-merge as-of with hot-entity time-slicing."""
    value_cols = value_cols or [
        c for c in right.columns if c not in (on, by, tiebreak)
    ]
    rsel = list(dict.fromkeys([by, on] + value_cols + ([tiebreak] if tiebreak else [])))
    # Alias every right column: breaks attribute lineage shared with `left`
    # (a self-cogroup over the same scan otherwise dedups the right side's
    # key attribute and the Arrow table arrives without it) and guarantees
    # distinct names inside merge_asof.
    rpre = "__r_"
    right = right.select(*[F.col(c).alias(f"{rpre}{c}") for c in rsel])
    rby, ron = f"{rpre}{by}", f"{rpre}{on}"
    rtb = f"{rpre}{tiebreak}" if tiebreak else None
    sort_r = [ron] + ([rtb] if rtb else [])

    # --- skew profile: entities above threshold get time-sliced ----------
    # The statistics pass reads only key and ts, so Catalyst
    # column-prunes the upstream plan and expensive feature UDFs (image
    # decode) are NOT evaluated here — only the final merge pays. One
    # action returns the total row count and, for each key above the
    # floor, its count and ts span; the driver applies the threshold rule
    # and cuts the hot keys' joint span into equal-width time slices.
    def _ts_double(df: DataFrame, col: str) -> F.Column:
        t = df.schema[col].dataType.typeName()
        c = F.col(col)
        return c.cast("timestamp").cast("double") if t.startswith("timestamp") else c.cast("double")

    floor = _HOT_FLOOR if hot_threshold is None else hot_threshold
    tsd = _ts_double(right, ron)
    prof = (
        right.groupBy(rby)
        .agg(
            F.count(F.lit(1)).alias("_cnt"), F.min(tsd).alias("_lo"), F.max(tsd).alias("_hi")
        )
        .agg(
            F.sum("_cnt").alias("total"),
            F.collect_list(
                F.when(F.col("_cnt") > floor, F.struct(rby, "_cnt", "_lo", "_hi"))
            ).alias("hot"),
        )
        .collect()[0]
    )
    if hot_threshold is None:
        total = prof["total"] or 0
        hot_threshold = max(_HOT_FLOOR, total // max(num_buckets, 1) * 2)
    hot = [h for h in prof["hot"] if h["_cnt"] > hot_threshold]
    hot_ids = sorted(h[rby] for h in hot)
    key_type = right.schema[rby].dataType
    if hot_ids:
        lo = min(h["_lo"] for h in hot)
        width = (max(h["_hi"] for h in hot) - lo) / slices

    def with_bucket(df: DataFrame, key: str, tscol: str) -> DataFrame:
        base = F.pmod(F.xxhash64(F.col(key)), F.lit(num_buckets))
        if not hot_ids:
            return df.withColumn("_bkt", base.cast("int"))
        df = _mark_hot(df, key, hot_ids, key_type)
        # monotone in ts and alike on both sides, so a probe's match is in
        # its own slice or carried into it; ts outside [lo, hi] clamps, and
        # one shared ts (width 0) makes one slice
        slice_id = F.lit(0)
        if width > 0:
            cut = F.floor((_ts_double(df, tscol) - lo) / width)
            slice_id = F.least(F.lit(slices - 1), F.greatest(F.lit(0), cut))
        return df.withColumn(
            "_bkt",
            F.when(F.col("_hot"), F.lit(num_buckets) + slice_id)
            .otherwise(base)
            .cast("int"),
        ).drop("_hot")

    lb = with_bucket(left, by, on)
    rb = with_bucket(right, rby, ron)

    # Carry-forward: the last right row of each hot (entity, slice) goes,
    # with its true ts, into every later slice up to and including the
    # entity's next non-empty one: each later slice gets one carried row,
    # the latest before it. ``lead`` gets its own column (Spark rejects a
    # window inside a generator); the last slice's closer is dropped
    # (``sequence`` would count down).
    if hot_ids:
        last = num_buckets + slices - 1
        rest = [c for c in rb.columns if c not in (rby, "_bkt")]
        carries = (
            rb.filter(F.col("_bkt") >= num_buckets)
            .groupBy(rby, "_bkt")
            .agg(F.max_by(F.struct(*rest), F.struct(*sort_r)).alias("_c"))
            .withColumn(
                "_nxt", F.lead("_bkt", 1, last).over(Window.partitionBy(rby).orderBy("_bkt"))
            )
            .filter(F.col("_bkt") < last)
            .select(rby, F.explode(F.sequence(F.col("_bkt") + 1, "_nxt")).alias("_bkt"), "_c.*")
        )
        rb = rb.unionByName(carries)

    out_schema = T.StructType(
        list(left.schema.fields)
        + [
            T.StructField(c, right.schema[f"{rpre}{c}"].dataType, True)
            for c in value_cols
        ]
    )
    arrow_schema = to_arrow_schema(out_schema)
    lcols = left.columns
    rvals = [f"{rpre}{c}" for c in value_cols]

    def merge(lt: pa.Table, rt: pa.Table) -> pa.Table:
        # match on the narrow keys only; value columns are taken by index
        # and never leave Arrow, so int64 stays int64 on a missed probe
        lt = lt.sort_by(on)
        rorder = pc.sort_indices(rt, [(c, "ascending") for c in sort_r])
        m = pd.merge_asof(
            lt.select([by, on]).to_pandas(),
            rt.select([rby, ron]).take(rorder).append_column("_i", rorder).to_pandas(),
            left_on=on,
            right_on=ron,
            left_by=by,
            right_by=rby,
            direction="backward",
            allow_exact_matches=allow_exact_matches,
        )
        idx = pa.array(m["_i"], type=pa.int64(), from_pandas=True)
        return pa.Table.from_arrays(
            [lt[c] for c in lcols] + [rt[c].take(idx) for c in rvals],
            schema=arrow_schema,
        )

    return (
        lb.groupBy("_bkt")
        .cogroup(rb.groupBy("_bkt"))
        .applyInArrow(merge, schema=out_schema)
    )
