"""As-of join: both strategies vs a pandas.merge_asof oracle, plus the
FIXTURES.md F5 boundary and skew probes."""

import numpy as np
import pandas as pd
import pytest

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
