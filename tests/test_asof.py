"""As-of join: both strategies vs a pandas.merge_asof oracle, plus the
FIXTURES.md F5 boundary and skew probes."""

import numpy as np
import pandas as pd
import pytest
from conftest import _jobs
from pyspark.sql import functions as F

from query_cost_feature_engineering_spark.operators.asof import (
    asof_join_pandas_merge,
    asof_join_union_window,
)

VALUE_COLS = ["px", "image_id"]


def _prep(images_pdf):
    right = images_pdf[["entity_id", "ts", "image_id"]].copy()
    right["px"] = images_pdf["w"].astype(float) * images_pdf["h"].astype(float)
    return right


def _oracle(spine_pdf, right):
    lo = spine_pdf.sort_values("ts", kind="mergesort")
    ro = right.sort_values(["ts", "image_id"], kind="mergesort")
    out = pd.merge_asof(
        lo, ro[["entity_id", "ts"] + VALUE_COLS],
        on="ts", by="entity_id", direction="backward", allow_exact_matches=True,
    )
    return out.sort_values("probe_id").reset_index(drop=True)


def _check(got_pdf, want):
    got = got_pdf.sort_values("probe_id").reset_index(drop=True)
    assert len(got) == len(want)
    assert np.allclose(
        got["px"].to_numpy(float), want["px"].to_numpy(float), equal_nan=True
    )
    assert (
        got["image_id"].fillna("∅") == want["image_id"].fillna("∅")
    ).all()


@pytest.fixture(scope="module")
def frames(spark, images_pdf, spine_pdf):
    right = _prep(images_pdf)
    return (
        spark.createDataFrame(spine_pdf),
        spark.createDataFrame(right),
        _oracle(spine_pdf, right),
    )


def test_union_window_matches_merge_asof(frames):
    spine_sdf, right_sdf, want = frames
    got = asof_join_union_window(
        spine_sdf, right_sdf, value_cols=VALUE_COLS, tiebreak="image_id"
    ).toPandas()
    _check(got, want)


def test_pandas_merge_matches_merge_asof(frames):
    spine_sdf, right_sdf, want = frames
    got = asof_join_pandas_merge(
        spine_sdf, right_sdf, value_cols=VALUE_COLS, tiebreak="image_id",
        num_buckets=8,
    ).toPandas()
    _check(got, want)


def test_boundary_and_skew_probe(frames):
    """Force the hot path: tiny hot_threshold makes EVERY entity hot, so all
    probes go through time-slicing + carry-forward; few slices force probes
    to depend on carried rows across slice boundaries."""
    spine_sdf, right_sdf, want = frames
    got = asof_join_pandas_merge(
        spine_sdf, right_sdf, value_cols=VALUE_COLS, tiebreak="image_id",
        num_buckets=4, hot_threshold=1, slices=5,
    ).toPandas()
    _check(got, want)


def test_strict_mode_excludes_exact_matches(spark, images_pdf, spine_pdf):
    right = _prep(images_pdf)
    lo = spine_pdf.sort_values("ts", kind="mergesort")
    ro = right.sort_values(["ts", "image_id"], kind="mergesort")
    want = (
        pd.merge_asof(
            lo, ro[["entity_id", "ts"] + VALUE_COLS],
            on="ts", by="entity_id", direction="backward",
            allow_exact_matches=False,
        )
        .sort_values("probe_id")
        .reset_index(drop=True)
    )
    spine_sdf = spark.createDataFrame(spine_pdf)
    right_sdf = spark.createDataFrame(right)
    for fn, kw in [
        (asof_join_union_window, {}),
        (asof_join_pandas_merge, {"num_buckets": 4, "hot_threshold": 1, "slices": 4}),
    ]:
        got = fn(
            spine_sdf, right_sdf, value_cols=VALUE_COLS, tiebreak="image_id",
            allow_exact_matches=False, **kw,
        ).toPandas()
        _check(got, want)


def test_duplicate_ts_tie_takes_last_by_tiebreak(spark):
    right = pd.DataFrame(
        {
            "entity_id": [1, 1, 1],
            "ts": pd.to_datetime(["2020-01-01", "2020-01-01", "2020-01-02"]),
            "image_id": ["a", "b", "c"],
            "px": [1.0, 2.0, 3.0],
        }
    )
    spine = pd.DataFrame(
        {
            "entity_id": [1, 1],
            "ts": pd.to_datetime(["2020-01-01", "2020-01-03"]),
            "probe_id": [0, 1],
        }
    )
    for fn, kw in [
        (asof_join_union_window, {}),
        (asof_join_pandas_merge, {"num_buckets": 2}),
    ]:
        got = (
            fn(
                spark.createDataFrame(spine),
                spark.createDataFrame(right),
                value_cols=["px", "image_id"],
                tiebreak="image_id",
                **kw,
            )
            .toPandas()
            .sort_values("probe_id")
        )
        assert got["image_id"].tolist() == ["b", "c"], fn.__name__
        assert got["px"].tolist() == [2.0, 3.0], fn.__name__


@pytest.mark.parametrize("exact", [True, False], ids=["exact", "strict"])
def test_null_value_in_matched_row_is_not_filled(spark, exact):
    """The matched right row's NULL value comes back NULL in both
    strategies; it is not filled in from an older right row."""
    t0 = pd.Timestamp("2024-01-01")
    right = pd.DataFrame(
        {
            "entity_id": [1, 1],
            "ts": [t0, t0 + pd.Timedelta(minutes=10)],
            "px": [5.0, None],
            "image_id": ["a", "b"],
        }
    )
    spine = pd.DataFrame(
        {
            "entity_id": [1, 1],
            "ts": [t0 + pd.Timedelta(minutes=20), t0 + pd.Timedelta(minutes=10)],
            "probe_id": [0, 1],
        }
    )
    want = (
        pd.merge_asof(
            spine.sort_values("ts"), right, on="ts", by="entity_id",
            allow_exact_matches=exact,
        )
        .sort_values("probe_id")
        .reset_index(drop=True)
    )
    assert want["px"].isna().iloc[0] and want["image_id"].iloc[0] == "b"
    for fn, kw in [
        (asof_join_union_window, {}),
        (asof_join_pandas_merge, {"num_buckets": 2}),
    ]:
        got = fn(
            spark.createDataFrame(spine), spark.createDataFrame(right),
            value_cols=VALUE_COLS, tiebreak="image_id",
            allow_exact_matches=exact, **kw,
        ).toPandas()
        _check(got, want)


def test_auto_threshold_hot_path_boundary(spark):
    """No ``hot_threshold``: the automatic rule (strictly more than
    ``max(10_000, total // num_buckets * 2)`` rows) makes the entity with
    10,001 right rows hot and leaves the one with exactly 10,000 cold.
    Probes before the first row, and one between every pair of right rows
    (so the first probe of each time slice, late slices included, needs
    the row carried from the slice before), still equal
    ``pandas.merge_asof``."""
    t0 = pd.Timestamp("2021-01-01")
    sizes = {"ent_hot": (10_001, 2), "ent_cold": (10_000, 3)}  # rows, step s
    right = pd.concat(
        [
            pd.DataFrame(
                {
                    "entity_id": ent,
                    "ts": t0 + pd.to_timedelta(np.arange(n) * step, unit="s"),
                    "image_id": [f"{ent}-{i:05d}" for i in range(n)],
                    "px": np.arange(n, dtype=float),
                }
            )
            for ent, (n, step) in sizes.items()
        ],
        ignore_index=True,
    )
    probes = [
        pd.DataFrame(
            {
                "entity_id": ent,
                "ts": t0
                + pd.to_timedelta(
                    np.concatenate([[-60.0, -1.0], (np.arange(n) + 0.5) * step]),
                    unit="s",
                ),
            }
        )
        for ent, (n, step) in sizes.items()
    ]
    spine = pd.concat(probes, ignore_index=True)
    spine["probe_id"] = np.arange(len(spine))
    want = _oracle(spine, right)

    got = asof_join_pandas_merge(
        spark.createDataFrame(spine),
        spark.createDataFrame(right),
        value_cols=VALUE_COLS,
        tiebreak="image_id",
    )
    _check(got.toPandas(), want)
    assert want["image_id"].isna().sum() == 4  # two early probes per entity
    # the time-slice membership test names the hot entity only
    plan = got._jdf.queryExecution().analyzed().toString()
    assert "IN (ent_hot)" in plan and "ent_cold" not in plan


def test_hot_path_plan_and_job_guard(spark):
    """Building the hot path runs no more Spark jobs than the cold-only
    build (the skew profile is its one action), and its plan has no
    cartesian join and at most one ``Window`` (the carry-forward's
    ``lead``)."""
    t0 = pd.Timestamp("2023-01-01")
    n_hot, n_cold, ents = 12_000, 40, range(1, 21)
    secs = np.concatenate([np.arange(n_hot), np.tile(np.arange(n_cold) * 300, len(ents))])
    right = pd.DataFrame(
        {
            "entity_id": [0] * n_hot + [e for e in ents for _ in range(n_cold)],
            "ts": t0 + pd.to_timedelta(secs, unit="s"),
        }
    )
    right["image_id"] = [f"r{i:06d}" for i in range(len(right))]
    right["px"] = np.arange(len(right), dtype=float)
    spine = pd.DataFrame(
        {
            "entity_id": [0, 0, 0, 1, 5],
            "ts": t0 + pd.to_timedelta([-1, 500, 11_999, 50, 9_000], unit="s"),
        }
    )
    spine["probe_id"] = np.arange(len(spine))
    left_sdf, right_sdf = spark.createDataFrame(spine), spark.createDataFrame(right)

    def build(**kw):
        return asof_join_pandas_merge(
            left_sdf, right_sdf, value_cols=VALUE_COLS, tiebreak="image_id", **kw
        )

    hot, n_hot_jobs, _ = _jobs(spark, "asof-hot", build)
    _, n_cold_jobs, _ = _jobs(spark, "asof-cold", lambda: build(hot_threshold=10**9))
    assert n_hot_jobs <= n_cold_jobs, (n_hot_jobs, n_cold_jobs)
    lines = hot._jdf.queryExecution().executedPlan().toString().splitlines()
    heads = [ln.lstrip(" :+-").split(" ", 1)[0] for ln in lines]
    assert heads.count("Generate") == 1  # the hot path's carry-forward is built
    assert heads.count("CartesianProduct") == heads.count("BroadcastNestedLoopJoin") == 0
    assert heads.count("Window") <= 1
    assert heads.count("FlatMapCoGroupsInArrow") == 1  # the as-of kernel
    assert heads.count("FlatMapCoGroupsInPandas") == 0
    _check(hot.toPandas(), _oracle(spine, right))


_T0 = pd.Timestamp("2022-01-01")
# (entity, right-row offsets in s, probe offsets in s); entity 9 (one row)
# stays cold in every case, all the others are hot
_SPANS = {
    "one_ts": [(1, [100] * 6, [50, 100, 150])],
    "disjoint": [
        (1, range(0, 100, 10), [-5, 0, 45, 95, 500, 1050, 5000]),
        (2, range(1000, 1100, 10), [0, 500, 999, 1000, 1045, 1090, 2000]),
    ],
    "outside": [(1, range(100, 200, 10), [0, 99, 100, 195, 10_000])],
}


@pytest.mark.parametrize("exact", [True, False], ids=["exact", "strict"])
@pytest.mark.parametrize("case", sorted(_SPANS))
def test_equal_width_cuts_degenerate_spans(spark, case, exact):
    """Equal-width time cuts over the hot span: one shared ts (zero width),
    two hot entities with disjoint spans (empty slices in between), and
    probes before the first and after the last right row (clamped into the
    end slices) all equal ``pandas.merge_asof``."""
    ents = _SPANS[case] + [(9, [50], [0, 50, 60])]
    right = pd.concat(
        [
            pd.DataFrame(
                {
                    "entity_id": e,
                    "ts": _T0 + pd.to_timedelta(list(secs), unit="s"),
                    "image_id": [f"{e}-{i:03d}" for i in range(len(secs))],
                    "px": np.arange(len(secs), dtype=float),
                }
            )
            for e, secs, _ in ents
        ],
        ignore_index=True,
    )
    spine = pd.concat(
        [
            pd.DataFrame({"entity_id": e, "ts": _T0 + pd.to_timedelta(p, unit="s")})
            for e, _, p in ents
        ],
        ignore_index=True,
    )
    spine["probe_id"] = np.arange(len(spine))
    want = (
        pd.merge_asof(
            spine.sort_values("ts", kind="mergesort"),
            right.sort_values(["ts", "image_id"], kind="mergesort"),
            on="ts", by="entity_id", allow_exact_matches=exact,
        )
        .sort_values("probe_id")
        .reset_index(drop=True)
    )
    got = asof_join_pandas_merge(
        spark.createDataFrame(spine), spark.createDataFrame(right),
        value_cols=VALUE_COLS, tiebreak="image_id", allow_exact_matches=exact,
        num_buckets=2, hot_threshold=1, slices=4,
    ).toPandas()
    _check(got, want)


@pytest.mark.parametrize("hot", [True, False], ids=["hot", "cold"])
def test_value_types_exact_beside_unmatched_probe(spark, hot):
    """A bucket holding a matched and an unmatched probe returns every
    value type exactly: a long above 2**53 keeps its last bit, and the
    timestamp, ``array<double>`` and string columns come back unchanged
    (the unmatched probe gets NULLs), equal to ``asof_join_union_window``
    and to ``pandas.merge_asof`` over nullable columns."""
    t0 = pd.Timestamp("2024-03-01")
    big = 2**53 + 1
    right = pd.DataFrame(
        {
            "entity_id": [1, 1],
            "ts": t0 + pd.to_timedelta([10, 20], unit="s"),
            "image_id": ["a", "b"],
            "n": pd.array([big, big + 2], dtype="Int64"),
            "vt": t0 + pd.to_timedelta([-7, 3], unit="D"),
            "arr": [[1.5, -0.25], [2.0**60 + 2048.0]],
        }
    )
    spine = pd.DataFrame(
        {
            "entity_id": [1, 1, 1],
            "ts": t0 + pd.to_timedelta([0, 12, 25], unit="s"),
            "probe_id": [0, 1, 2],
        }
    )
    cols = ["n", "vt", "arr", "image_id"]
    want = pd.merge_asof(spine, right[["entity_id", "ts"] + cols], on="ts", by="entity_id")
    assert want["n"].isna().tolist() == [True, False, False]
    want = want.astype(object).where(want.notna(), None)

    def micros(t):
        return None if t is None else (t - pd.Timestamp(0)) // pd.Timedelta(1, "us")

    expect = sorted(
        (p, micros(t), n, micros(vt), arr, i)
        for p, t, n, vt, arr, i in want[["probe_id", "ts"] + cols].itertuples(
            index=False, name=None
        )
    )
    assert expect[1][2] == big

    def rows(df):
        us = F.unix_micros
        df = df.select("probe_id", us("ts"), "n", us("vt"), "arr", "image_id")
        return sorted(tuple(r) for r in df.collect())

    left_sdf = spark.createDataFrame(spine)
    right_sdf = spark.createDataFrame(right).withColumn("n", F.col("n").cast("long"))
    kw = dict(num_buckets=1, hot_threshold=1, slices=2) if hot else dict(num_buckets=1)
    got = asof_join_pandas_merge(
        left_sdf, right_sdf, value_cols=cols, tiebreak="image_id", **kw
    )
    assert dict(got.dtypes)["n"] == "bigint"
    assert rows(got) == expect
    assert rows(asof_join_union_window(
        left_sdf, right_sdf, value_cols=cols, tiebreak="image_id"
    )) == expect
