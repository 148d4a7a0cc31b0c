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
   at **their own right-row quantiles**: the skew profile takes each hot
   key's ``percentile_approx`` of the right ts at ``i / slices``, and a
   row's slice is the number of those bounds at or before its ts.
   ``percentile_approx`` returns values of its input, so every bound is
   the ts of one of the key's own right rows: each slice after the first
   starts with its own row, a probe's backward match always lies in the
   probe's own slice, and the right input is read once, with no row
   carried between slices. The cuts follow the data, so a bursty entity
   spreads over its slices instead of piling into one equal-width cut.
   This is the explicit salting/skew handling the north rule demands: a
   hot entity's probes parallelize across slices while cold entities
   stay on the cheap single-shuffle path.

Tie contract (matches the golden oracle and pandas.merge_asof): backward
join with exact-match allowed; among right rows sharing (entity, ts) the
last by ``tiebreak`` wins.
"""

from __future__ import annotations

import json

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

_SLICES = 32  # most time slices per hot entity
# the automatic hot threshold never drops below this many right rows
_HOT_FLOOR = 10_000
# beyond this many hot ids, membership tests use a broadcast join
# instead of `isin` literals (plan size stays O(1) in hot-key count)
_HOT_LITERAL_CAP = 1000
# `percentile_approx` accuracy of the hot keys' slice bounds
_QUANTILE_ACCURACY = 10_000


def _ts_sql(df: DataFrame, col: str) -> str:
    """SQL text of ``col`` as the skew profile encodes it, exactly:
    ``unix_micros`` of a timestamp, the raw value otherwise (never a
    double cast of a timestamp). ``percentile_approx`` ranks values as
    doubles, so a long beyond 2**53 (µs after the year 2255) may come back
    rounded to a value that is no row's ts."""
    c = "`" + col.replace("`", "``") + "`"
    return f"unix_micros({c})" if isinstance(df.schema[col].dataType, T.TimestampType) else c


def _with_bounds(
    df: DataFrame, key: str, hot: list, key_ddl: str, bound_ddl: str
) -> DataFrame:
    """``df`` plus ``_hot_b``: the sorted slice bounds of ``key`` if it is
    one of the ``hot`` (key, bounds) pairs, else NULL. Up to
    ``_HOT_LITERAL_CAP`` keys an ``isin`` test beside one JSON literal of
    every key's bounds (constant-folded to a map, so the py4j calls do not
    grow with the bounds); above it a broadcast left join against a
    hot-key frame, so the plan stays small for 10^4+ hot ids."""
    if len(hot) <= _HOT_LITERAL_CAP:
        text = json.dumps([{"k": k, "b": b} for k, b in hot], default=str)
        entries = F.from_json(F.lit(text), f"array<struct<k:{key_ddl},b:array<{bound_ddl}>>>")
        bounds = F.element_at(F.map_from_entries(entries), F.col(key))
        return df.withColumn("_hot_b", F.when(F.col(key).isin([k for k, _ in hot]), bounds))
    hot_df = df.sparkSession.createDataFrame(
        hot, f"_hot_key {key_ddl}, _hot_b array<{bound_ddl}>"
    )
    return df.join(
        F.broadcast(hot_df), F.col(key) == F.col("_hot_key"), "left"
    ).drop("_hot_key")


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
    # floor, its count and its ts quantiles at i / slices; the driver
    # applies the threshold rule and keeps each hot key's distinct
    # quantiles as its slice bounds.
    floor = _HOT_FLOOR if hot_threshold is None else hot_threshold
    fracs = ", ".join(f"{i} / {slices}" for i in range(1, slices))
    quantiles = F.expr(
        f"percentile_approx({_ts_sql(right, ron)}, array({fracs}), {_QUANTILE_ACCURACY})"
    )
    above = F.when(F.col("_cnt") > floor, F.struct(rby, "_cnt", "_q"))
    prof = (
        right.groupBy(rby)
        .agg(F.count(F.lit(1)).alias("_cnt"), quantiles.alias("_q"))
        .agg(F.sum("_cnt").alias("total"), F.collect_list(above).alias("hot"))
        .collect()[0]
    )
    if hot_threshold is None:
        total = prof["total"] or 0
        hot_threshold = max(_HOT_FLOOR, total // max(num_buckets, 1) * 2)
    # a NULL key never passes a membership test, so it stays cold
    hot = sorted(
        (h[rby], sorted(set(h["_q"] or [])))
        for h in prof["hot"]
        if h["_cnt"] > hot_threshold and h[rby] is not None
    )
    rts_type = right.schema[ron].dataType
    ddls = (
        right.schema[rby].dataType.simpleString(),
        "bigint" if isinstance(rts_type, T.TimestampType) else rts_type.simpleString(),
    )

    def with_bucket(df: DataFrame, key: str, tscol: str, op: str) -> DataFrame:
        base = F.pmod(F.xxhash64(F.col(key)), F.lit(num_buckets))
        if not hot:
            return df.withColumn("_bkt", base.cast("int"))
        # a hot row's slice counts its key's bounds at (``op`` "<=") or
        # before (``<``, strict probes) its ts: slice k >= 1 starts with
        # the right row whose ts is bound k, the latest match of every
        # probe in it
        slice_id = F.expr(f"size(filter(_hot_b, b -> b {op} {_ts_sql(df, tscol)}))")
        bkt = F.when(F.col("_hot_b").isNull(), base).otherwise(F.lit(num_buckets) + slice_id)
        out = _with_bounds(df, key, hot, *ddls)
        return out.withColumn("_bkt", bkt.cast("int")).drop("_hot_b")

    lb = with_bucket(left, by, on, "<=" if allow_exact_matches else "<")
    rb = with_bucket(right, rby, ron, "<=")

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
        lk, rk = lt[by], rt[rby]
        if lk.null_count or rk.null_count:
            # to_pandas turns an int64 key with a NULL into float64, which
            # merge_asof refuses beside int64: match on exact codes into the
            # bucket's distinct keys instead, NULL matching NULL
            keys = pc.unique(pa.chunked_array(lk.chunks + rk.chunks, type=lk.type))
            lk = pc.index_in(lk, value_set=keys, skip_nulls=False)
            rk = pc.index_in(rk, value_set=keys, skip_nulls=False)
        m = pd.merge_asof(
            pa.table({by: lk, on: lt[on]}).to_pandas(),
            pa.table({rby: rk, ron: rt[ron]}).take(rorder).append_column("_i", rorder).to_pandas(),
            left_on=on,
            right_on=ron,
            left_by=by,
            right_by=rby,
            direction="backward",
            allow_exact_matches=allow_exact_matches,
        )
        idx = pa.array(m["_i"], type=pa.int64(), from_pandas=True)
        hot_slice = lt["_bkt"][0].as_py() - num_buckets if lt.num_rows else 0
        if idx.null_count and hot_slice > 0:
            # a hot slice after the first starts with the right row at its
            # bound: a miss means the right input changed after the profile
            raise RuntimeError(
                f"as-of: {idx.null_count} probe(s) of hot slice {hot_slice} found no right"
                " row; the right input changed between the skew profile and the join"
            )
        return pa.Table.from_arrays(
            [lt[c] for c in lcols] + [rt[c].take(idx) for c in rvals],
            schema=arrow_schema,
        )

    return (
        lb.groupBy("_bkt")
        .cogroup(rb.groupBy("_bkt"))
        .applyInArrow(merge, schema=out_schema)
    )
