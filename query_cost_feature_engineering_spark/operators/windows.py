"""Point-in-time window layer: lag/lead, backfill, rolling stats, sessionize.

The engine's analog of the reference's child→parent feature flow
(models/QPPNet.py:177-239): every feature at time t draws only on rows at
ts ≤ t, which is what makes the layer leakage-free by construction.

Each operator is a builder of ``{column: SQL window expression}`` and a
``with_*`` wrapper appending them in one projection; ``compute_features``
puts all builders in ONE projection. Spark evaluates the window expressions
sharing PARTITION BY / ORDER BY in one ``Window`` operator, whatever their
frames (the session sum over a ``lag`` nests, adding a second).

Ordering is always (ts, tiebreak) — the keywords of ``over`` — since
entities have duplicate timestamps (as-of ties): a deterministic tiebreak
is part of the operator contract, matching the golden oracle exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

SESSION_GAP_S = 1800
CUMULATIVE = " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"


def q(name: str) -> str:
    """``name`` as a backtick-quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def over(frame="", entity_col="entity_id", ts_col="ts", tiebreak="image_id"):
    """`` OVER (...)`` text: per entity, ordered by (ts, tiebreak) if any."""
    order = ", ".join(q(c) for c in (ts_col, tiebreak) if c)
    return f" OVER (PARTITION BY {q(entity_col)} ORDER BY {order}{frame})"


def epoch_s(ts_col: str) -> str:
    # cast via TIMESTAMP (LTZ) first: TIMESTAMP_NTZ inputs can't cast to
    # double directly; with a UTC session this is exact epoch seconds
    return f"CAST(CAST({q(ts_col)} AS TIMESTAMP) AS DOUBLE)"


def append_columns(df: DataFrame, exprs: dict[str, str]) -> DataFrame:
    """``df`` plus one column per ``{name: SQL expression}``, one projection."""
    return df.selectExpr("*", *[f"{e} AS {q(n)}" for n, e in exprs.items()])


def lag_lead_exprs(value_col: str, offsets=(1, 2), **order) -> dict[str, str]:
    w, v = over(**order), q(value_col)
    out = {}
    for k in offsets:
        out[f"lag{k}_{value_col}"] = f"lag({v}, {k}){w}"
        out[f"lead{k}_{value_col}"] = f"lead({v}, {k}){w}"
    return out


def backfill_exprs(value: str, out_col: str, direction="ffill", **order):
    """``value`` is SQL text. ffill = last non-null at ts' ≤ ts
    (leakage-free); bfill = first non-null at ts' ≥ ts (only valid for
    label-side columns)."""
    if direction == "ffill":
        fn, frame = "last", CUMULATIVE
    elif direction == "bfill":
        fn, frame = "first", " ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING"
    else:
        raise ValueError(direction)
    return {out_col: f"{fn}({value}, true){over(frame, **order)}"}


def rolling_mean_exprs(value_col: str, window_rows: int = 3, **order):
    """Trailing mean over the last `window_rows` rows INCLUDING current —
    strictly backward-looking, so leakage-free."""
    w = over(f" ROWS BETWEEN {window_rows - 1} PRECEDING AND CURRENT ROW", **order)
    return {f"roll{window_rows}_{value_col}": f"avg({q(value_col)}){w}"}


def rolling_time_agg_exprs(
    value_col: str,
    window_s: int,
    entity_col: str = "entity_id",
    ts_col: str = "ts",
    prefix: str | None = None,
) -> dict[str, str]:
    """Time-based trailing window [ts - window_s, ts]: sum/count/mean of
    ``value_col`` per entity over a RANGE frame on epoch seconds. Strictly
    backward-looking (leakage-free); rows sharing a timestamp are frame
    peers, included together — the standard RANGE-frame semantics."""
    p, v = prefix or f"r{window_s}s", q(value_col)
    w = (
        f" OVER (PARTITION BY {q(entity_col)} ORDER BY {epoch_s(ts_col)}"
        f" RANGE BETWEEN {window_s} PRECEDING AND CURRENT ROW)"
    )
    aggs = {"sum": "sum", "cnt": "count", "avg": "avg"}
    return {f"{p}_{a}_{value_col}": f"{fn}({v}){w}" for a, fn in aggs.items()}


def session_id_exprs(gap_s=SESSION_GAP_S, out_col="session_id", ts_col="ts", **order):
    """Gap-based sessionization: a new session starts when the time since the
    previous row of the same entity exceeds `gap_s`. session_id = cumulative
    sum of session-start flags (1-based) — the standard batch formulation."""
    ep, order = epoch_s(ts_col), {**order, "ts_col": ts_col}
    gap = f"{ep} - lag({ep}){over(**order)}"  # NULL on an entity's first row
    is_new = f"IF(coalesce({gap} <= {gap_s}, false), 0, 1)"
    return {out_col: f"CAST(sum({is_new}){over(CUMULATIVE, **order)} AS BIGINT)"}


def with_lag_lead(df: DataFrame, value_col: str, **kw) -> DataFrame:
    return append_columns(df, lag_lead_exprs(value_col, **kw))


def with_backfill(df: DataFrame, value_col: str, out_col: str, **kw) -> DataFrame:
    return append_columns(df, backfill_exprs(q(value_col), out_col, **kw))


def with_rolling_mean(df: DataFrame, value_col: str, window_rows=3, **kw):
    return append_columns(df, rolling_mean_exprs(value_col, window_rows, **kw))


def with_rolling_time_aggs(df: DataFrame, value_col: str, window_s: int, **kw):
    return append_columns(df, rolling_time_agg_exprs(value_col, window_s, **kw))


def with_session_ids(df: DataFrame, **kw) -> DataFrame:
    return append_columns(df, session_id_exprs(**kw))
