"""Snapshot layer: per-group linear fits + train-only normalization.

Graft of the reference's "feature snapshot" (snapshot/snapshot_linear.py:16-243:
per-operator ``curve_fit`` of y = c0·x + c1 on (rows, time) samples, then
annotating every plan node with the fitted factors, snapshot/snapshot.py:60-95)
and its per-operator normalization (tpch_utils_knob.py:369-402: mean and
max(+ε) per feature per operator computed on the TRAIN split only).

Spark-first: the OLS fit is closed-form from sufficient statistics —
``groupBy(group).agg(covar_pop, var_pop, avg)`` — one partial+final
aggregation, no UDF, no driver loop; factors broadcast-join back onto the
big table. Normalization stats come from cutoff-gated rows only, which is
the zero-temporal-leakage discipline (SURVEY.md §5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from query_cost_feature_engineering_spark.operators.windows import (
    CUMULATIVE,
    over,
    q,
)


def fit_linear_by_group(
    df: DataFrame, group_col: str, x_col: str, y_col: str, min_samples: int = 3
) -> DataFrame:
    """Per-group OLS y = slope·x + intercept via sufficient statistics.

    Mirrors snapshot_linear.py's ``linear2`` (func2) fit; groups with fewer
    than `min_samples` rows or zero x-variance fall back to slope=0,
    intercept=mean(y) (the reference falls back to workload-level factors,
    snapshot/snapshot.py:74-81)."""
    agg = df.groupBy(group_col).agg(
        F.covar_pop(x_col, y_col).alias("_cov"),
        F.var_pop(x_col).alias("_var"),
        F.avg(x_col).alias("_mx"),
        F.avg(y_col).alias("_my"),
        F.count(F.lit(1)).alias("n_samples"),
    )
    ok = (F.col("n_samples") >= min_samples) & (F.col("_var") > 0)
    return agg.select(
        F.col(group_col),
        F.when(ok, F.col("_cov") / F.col("_var")).otherwise(F.lit(0.0)).alias("slope"),
        F.when(ok, F.col("_my") - F.col("_cov") / F.col("_var") * F.col("_mx"))
        .otherwise(F.col("_my"))
        .alias("intercept"),
        F.col("n_samples"),
    )


def fit_gram_by_group(
    df: DataFrame, group_col: str, regs, y, prefix: str = "c"
) -> DataFrame:
    """Per-group closed-form OLS over arbitrary INTEGER-VALUED regressors
    (fixed-point scaled), via exact Gram sums + generated Cramer solve
    (operators/mls.py). This is the engine's version of the reference's
    op-specific ``curve_fit`` dispatch (snapshot_linear.py:174-193):
    2 regressors [x, 1] for linear/func2, [ceil(n·ln n), 1] for the Sort
    transform (:101-108), 4 regressors [n1·n2, n1, n2, 1] for the
    NestedLoop bilinear func4 (:144-156). One partial+final aggregation
    per fit; coefficients are engine-exact doubles (same integer sums,
    same expression tree on Spark and the DuckDB oracle)."""
    from query_cost_feature_engineering_spark.operators.mls import (
        gram_aggregate,
        solve_spark,
    )

    n = len(regs)
    agg = gram_aggregate(df, group_col, regs, y)
    coeffs = solve_spark(n)
    return agg.select(
        F.col(group_col),
        *[c.alias(f"{prefix}{k}") for k, c in enumerate(coeffs)],
        "n_samples",
    )


def fit_gram_collect(
    df: DataFrame, group_col: str, regs, y
) -> dict:
    """Collect-and-solve variant of ``fit_gram_by_group`` for FEW groups
    (the snapshot norm: one per operator type). The distributed work — the
    exact-integer Gram aggregation — is identical; only the O(groups)
    Cramer solve moves to the driver (operators/mls.solve_py, same term
    order as the SQL oracle ⇒ identical doubles), which keeps the 24-term
    determinant expansion out of whole-stage codegen (measured: ~2 s of
    compile time per embedded solve at any data size).

    Returns {group_value: {"gram": {sym: float}, "coeffs": [c0..], "n": int}}.
    """
    from query_cost_feature_engineering_spark.operators.mls import (
        gram_aggregate,
        solve_py,
    )

    n = len(regs)
    rows = gram_aggregate(df, group_col, regs, y).collect()
    out = {}
    for r in rows:
        vals = {
            k: float(v) for k, v in r.asDict().items()
            if k not in (group_col, "n_samples")
        }
        out[r[group_col]] = {
            "gram": vals,
            "coeffs": solve_py(n, vals),
            "n": int(r["n_samples"]),
        }
    return out


def annotate_group_fit(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
    fit_on: DataFrame | None = None,
    min_samples: int = 3,
) -> DataFrame:
    """Broadcast-join the fitted (slope, intercept) onto every row of the
    group — the engine's ``inner_vector`` annotate (snapshot/snapshot.py:60-95).
    ``fit_on`` lets callers fit on a cutoff-gated subset (no leakage)."""
    factors = fit_linear_by_group(
        fit_on if fit_on is not None else df, group_col, x_col, y_col, min_samples
    ).drop("n_samples")
    return df.join(F.broadcast(factors), on=group_col, how="left").fillna(
        {"slope": 0.0, "intercept": 0.0}
    )


def expanding_linear_fit_exprs(
    x_col: str, y_col: str, prefix="snap", min_n=3, eps=1e-9, **order
) -> tuple[dict[str, str], dict[str, str]]:
    """Leakage-free snapshot factors: per-entity OLS of y on x fitted over
    the EXPANDING window of rows at ts' ≤ ts (cumulative sufficient
    statistics inside one Window pass). This is the reference's
    annotate-every-node-with-fitted-factors step (snapshot/snapshot.py:60-95)
    made point-in-time-safe: the factors attached to a row at time t use
    only history ≤ t, so the zero-temporal-leakage property test holds.
    Rows before ``min_n`` samples (or with degenerate x-variance) fall back
    to slope=0, intercept=running mean(y) — the reference's fallback.

    Returns ``(sums, fit)``: the five cumulative sums for the window
    projection, and slope and intercept over those columns for the next
    one. Spark does not merge repeated window expressions, so sums written
    into the fit arithmetic would each run several times."""
    w = over(CUMULATIVE, **order)
    x, y = f"CAST({q(x_col)} AS DOUBLE)", f"CAST({q(y_col)} AS DOUBLE)"
    names = [f"_{prefix}_{k}" for k in ("n", "sx", "sy", "sxx", "sxy")]
    sums = dict(zip(names, [f"CAST(count(1){w} AS DOUBLE)", f"sum({x}){w}", f"sum({y}){w}",
                            f"sum({x} * {x}){w}", f"sum({x} * {y}){w}"]))
    n, sx, sy, sxx, sxy = map(q, names)
    denom = f"({n} * {sxx} - {sx} * {sx})"
    ok = f"{n} >= {min_n} AND {denom} > {float(eps)!r}D"
    slope = f"IF({ok}, ({n} * {sxy} - {sx} * {sy}) / {denom}, 0.0D)"
    return sums, {
        f"{prefix}_slope": slope,
        f"{prefix}_intercept": f"IF({ok}, ({sy} - {slope} * {sx}) / {n}, {sy} / {n})",
    }


def expanding_linear_fit_pandas(
    df, x_col: str, y_col: str, entity_col: str = "entity_id",
    min_n: int = 3, eps: float = 1e-9, prefix: str = "snap",
):
    """Golden twin of ``expanding_linear_fit_exprs`` (input pre-sorted by
    (entity, ts, tiebreak)); returns (slope, intercept) Series."""
    import numpy as np

    x = df[x_col].astype(float)
    y = df[y_col].astype(float)
    g = df.groupby(entity_col, sort=False)
    n = g.cumcount().astype(float) + 1.0
    sx = x.groupby(df[entity_col], sort=False).cumsum()
    sy = y.groupby(df[entity_col], sort=False).cumsum()
    sxx = (x * x).groupby(df[entity_col], sort=False).cumsum()
    sxy = (x * y).groupby(df[entity_col], sort=False).cumsum()
    denom = n * sxx - sx * sx
    ok = (n >= min_n) & (denom > eps)
    slope = np.where(ok, (n * sxy - sx * sy) / denom.where(ok, 1.0), 0.0)
    intercept = np.where(ok, (sy - slope * sx) / n, sy / n)
    return slope, intercept


def normalize_labels(
    df: DataFrame, label_col: str, out_col: str = "label_norm"
) -> DataFrame:
    """log → min-max to [0,1] — the reference's label transform
    (tpch_utils_serialize_knob.py:387-394); inverse is ``denormalize_labels``
    (models/MSCN.py:142-151). Global min/max via one agg, broadcast as a
    scalar subquery (crossJoin of a 1-row frame)."""
    stats = df.agg(
        F.min(F.log(label_col)).alias("_lmin"),
        F.max(F.log(label_col)).alias("_lmax"),
    )
    out = df.crossJoin(F.broadcast(stats))
    return out.withColumn(
        out_col,
        (F.log(label_col) - F.col("_lmin"))
        / (F.col("_lmax") - F.col("_lmin")),
    ).drop("_lmin", "_lmax")


def denormalize_labels(df: DataFrame, norm_col: str, lmin: float, lmax: float):
    return df.withColumn(
        norm_col.replace("_norm", ""),
        F.exp(F.col(norm_col) * F.lit(lmax - lmin) + F.lit(lmin)),
    )


def qerror_metrics(
    df: DataFrame,
    pred_col: str,
    actual_col: str,
    group_col: str | None = None,
    eps: float = 1e-3,
) -> DataFrame:
    """q-error = max(pred/actual, actual/pred) with the reference's ε guard
    (utils/metric.py:108-126); exact percentiles P50/P90/P99 + mean + max
    via Spark's ``percentile`` (percentile_cont semantics, matching DuckDB's
    ``quantile_cont``) — the reference's evaluation contract."""
    p = F.greatest(F.col(pred_col), F.lit(eps))
    a = F.greatest(F.col(actual_col), F.lit(eps))
    q = F.greatest(p / a, a / p)
    d = df.withColumn("_qerr", q)
    gb = d.groupBy(group_col) if group_col else d.groupBy()
    return gb.agg(
        F.expr("percentile(_qerr, 0.5)").alias("q50"),
        F.expr("percentile(_qerr, 0.9)").alias("q90"),
        F.expr("percentile(_qerr, 0.99)").alias("q99"),
        F.avg("_qerr").alias("q_mean"),
        F.max("_qerr").alias("q_max"),
        F.count(F.lit(1)).alias("n"),
    )


def normalize_by_group(
    df: DataFrame,
    group_col: str,
    value_cols: list[str],
    stats_on: DataFrame | None = None,
    eps: float = 1e-9,
    suffix: str = "_norm",
) -> DataFrame:
    """(x - mean) / (max + ε) per group per feature, stats from ``stats_on``
    (normally the train split) — tpch_utils_knob.py:369-402 semantics."""
    src = stats_on if stats_on is not None else df
    aggs = []
    for c in value_cols:
        aggs += [F.avg(c).alias(f"_mean_{c}"), F.max(F.abs(F.col(c))).alias(f"_max_{c}")]
    stats = src.groupBy(group_col).agg(*aggs)
    out = df.join(F.broadcast(stats), on=group_col, how="left")
    for c in value_cols:
        out = out.withColumn(
            f"{c}{suffix}",
            (F.col(c) - F.col(f"_mean_{c}"))
            / (F.col(f"_max_{c}") + F.lit(eps)),
        )
    return out.drop(*[f"_mean_{c}" for c in value_cols]).drop(
        *[f"_max_{c}" for c in value_cols]
    )
