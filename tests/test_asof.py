"""As-of join: both strategies vs a pandas.merge_asof oracle, plus the
FIXTURES.md F5 boundary and skew probes."""

import os
import re

import numpy as np
import pandas as pd
import pytest
from conftest import _jobs, _py4j_commands
from pyspark.sql import functions as F

from query_cost_feature_engineering_spark.operators.asof import (
    _HOT_LITERAL_CAP,
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
    probes go through time-slicing; with few slices most probes sit in a
    slice that starts at one of their entity's quantile bounds."""
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
    (so every slice boundary has a probe on each side), still equal
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


@pytest.fixture(scope="module")
def guard_frames(spark):
    """One hot entity (12,000 right rows) beside 20 cold ones, and five
    probes: (spine, right, left_sdf, right_sdf)."""
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
    return spine, right, spark.createDataFrame(spine), spark.createDataFrame(right)


def test_hot_path_plan_and_job_guard(spark, guard_frames):
    """Building the hot path runs no more Spark jobs than the cold-only
    build (the skew profile is its one action), and its plan has no
    cartesian join and, since every slice holds its own match, no carry
    between slices: as many shuffles as the cold plan and no ``Window``,
    ``Generate`` or ``Union``."""
    spine, right, left_sdf, right_sdf = guard_frames

    def build(**kw):
        return asof_join_pandas_merge(
            left_sdf, right_sdf, value_cols=VALUE_COLS, tiebreak="image_id", **kw
        )

    def plan_heads(df):
        lines = df._jdf.queryExecution().executedPlan().toString().splitlines()
        return [ln.lstrip(" :+-").split(" ", 1)[0] for ln in lines]

    hot, n_hot_jobs, _ = _jobs(spark, "asof-hot", build)
    cold, n_cold_jobs, _ = _jobs(spark, "asof-cold", lambda: build(hot_threshold=10**9))
    assert n_hot_jobs <= n_cold_jobs, (n_hot_jobs, n_cold_jobs)
    heads = plan_heads(hot)
    assert heads.count("Exchange") == plan_heads(cold).count("Exchange")
    assert [heads.count(n) for n in ("Window", "Generate", "Union")] == [0, 0, 0]
    assert "IN (cast(0 as bigint))" in hot._jdf.queryExecution().analyzed().toString()
    assert heads.count("CartesianProduct") == heads.count("BroadcastNestedLoopJoin") == 0
    assert heads.count("Window") <= 1
    assert heads.count("FlatMapCoGroupsInArrow") == 1  # the as-of kernel
    assert heads.count("FlatMapCoGroupsInPandas") == 0
    _check(hot.toPandas(), _oracle(spine, right))


def test_hot_path_py4j_budget(spark, guard_frames):
    """The slice bounds travel as one literal (or one broadcast column),
    so the hot build sends as many py4j commands at 64 slices as at 8,
    and no more than the carry-forward build did (1,258; cold 564)."""
    _, _, left_sdf, right_sdf = guard_frames

    def n(slices):
        return _py4j_commands(spark, lambda: asof_join_pandas_merge(
            left_sdf, right_sdf, value_cols=VALUE_COLS, tiebreak="image_id", slices=slices
        ))

    n(8)  # the first build of a session also resolves JVM classes and functions
    n8, n64 = n(8), n(64)
    assert n8 == n64 <= 1258, (n8, n64)


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
    """Quantile cuts over degenerate spans: one shared ts (a single
    distinct bound), two hot entities with disjoint spans (each cut at its
    own bounds), and probes before the first and after the last right row
    (the first and last slice) all equal ``pandas.merge_asof``."""
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


def test_null_key_above_threshold_stays_cold(spark):
    """A NULL key with more right rows than the threshold stays cold (a
    NULL passes no membership test) beside a hot key, and the hot key's
    probes still equal ``pandas.merge_asof``."""
    right = pd.DataFrame(
        {
            "entity_id": [None] * 5 + ["a"] * 10,
            "ts": _T0 + pd.to_timedelta([*range(0, 50, 10), *range(0, 100, 10)], unit="s"),
            "image_id": [f"r{i:02d}" for i in range(15)],
            "px": np.arange(15, dtype=float),
        }
    )
    spine = pd.DataFrame({"entity_id": "a", "ts": _T0 + pd.to_timedelta([-5, 45, 95], unit="s")})
    spine["probe_id"] = np.arange(len(spine))
    got = asof_join_pandas_merge(
        spark.createDataFrame(spine), spark.createDataFrame(right), value_cols=VALUE_COLS,
        tiebreak="image_id", num_buckets=2, hot_threshold=1, slices=4,
    ).toPandas()
    _check(got, _oracle(spine, right))



@pytest.mark.parametrize("left_null", [False, True])
@pytest.mark.parametrize("hot", [False, True])
def test_null_long_key_matches_union_window(spark, left_null, hot):
    """A NULL long key, on the right only or on both sides, joins like a
    NULL string key: it matches NULL-keyed right rows (as in
    ``asof_join_union_window``) instead of raising ``MergeError`` (a
    NULL turns Arrow int64 into pandas float64), hot and cold; 2**53 and
    2**53 + 1, one float apart from none, stay apart."""
    big = 2**53
    right = pd.DataFrame(
        {
            "entity_id": pd.array([None] * 3 + [big] * 6 + [big + 1] * 3, dtype="Int64"),
            "ts": _T0 + pd.to_timedelta([0, 20, 40, *range(0, 60, 10), 0, 10, 20], unit="s"),
            "image_id": [f"r{i:02d}" for i in range(12)],
            "px": np.arange(12, dtype=float),
        }
    )
    ents = [big, big, big + 1, big + 1] + ([None, None] if left_null else [])
    spine = pd.DataFrame(
        {
            "entity_id": pd.array(ents, dtype="Int64"),
            "ts": _T0 + pd.to_timedelta([-5, 35, 15, 25, 5, 45][: len(ents)], unit="s"),
        }
    )
    spine["probe_id"] = np.arange(len(spine))
    sdf = lambda df: spark.createDataFrame(df, "entity_id long, ts timestamp" + (
        ", image_id string, px double" if "px" in df else ", probe_id long"))
    kw = dict(hot_threshold=1, slices=4) if hot else {}
    got = asof_join_pandas_merge(
        sdf(spine), sdf(right), value_cols=VALUE_COLS, tiebreak="image_id",
        num_buckets=2, **kw,
    ).toPandas()
    want = asof_join_union_window(
        sdf(spine), sdf(right), value_cols=VALUE_COLS, tiebreak="image_id"
    ).toPandas()
    cols = ["probe_id", "entity_id", "image_id", "px"]
    a = got[cols].sort_values("probe_id").reset_index(drop=True)
    b = want[cols].sort_values("probe_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b, check_dtype=False)
    if left_null:
        assert a["image_id"].iloc[4:].tolist() == ["r00", "r02"]

_BURST_US = 10**6  # the bursty entity's first 1% of a 100 s span


def _bursty_frames(n_small: int, long_on: bool):
    """Right rows of one bursty entity (0: 950 distinct ts in the first
    1% of its span, 50 over the rest, every ts twice) and ``n_small``
    two-row entities, as (right, spine); probes sit at every right ts and
    1 µs either side, in µs (``long_on``) or as timestamps."""
    burst = np.sort(np.random.default_rng(7).choice(_BURST_US, 950, replace=False))
    ents = [(0, np.concatenate([burst, np.linspace(2 * _BURST_US, 100 * _BURST_US, 50)]))]
    ents += [(e, np.array([10 * e, 10 * e + 7])) for e in range(1, n_small + 1)]
    us = [(e, int(t)) for e, ts in ents for t in ts]
    right = pd.DataFrame(
        [(e, t, f"{e}-{t}-{d}", float(t % 9973) + d) for e, t in us for d in (0, 1)],
        columns=["entity_id", "ts", "image_id", "px"],
    )
    spine = pd.DataFrame(
        [(e, t + d) for e, t in us for d in (-1, 0, 1)], columns=["entity_id", "ts"]
    )
    spine["probe_id"] = np.arange(len(spine))
    if not long_on:
        for df in (right, spine):
            df["ts"] = _T0 + pd.to_timedelta(df["ts"], unit="us")
    return right, spine


@pytest.mark.parametrize("exact", [True, False], ids=["exact", "strict"])
@pytest.mark.parametrize("long_on", [False, True], ids=["timestamp", "long"])
@pytest.mark.parametrize("n_small", [20, _HOT_LITERAL_CAP + 1], ids=["literal", "broadcast"])
def test_quantile_cuts_match_merge_asof(spark, n_small, long_on, exact):
    """Quantile slice bounds on a bursty hot entity (95% of its rows in
    1% of its span, where equal-width cuts would put nearly every row in
    one slice) with every ts duplicated, so each bound is a duplicated
    ts: probes at every right ts and 1 µs either side equal
    ``pandas.merge_asof`` in exact and strict mode, for a timestamp and a
    long ``on``, through the ``isin`` literal and the broadcast hot-key
    frame. No slice after the first misses its match (the kernel would
    raise)."""
    right, spine = _bursty_frames(n_small, long_on)
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
        num_buckets=4, hot_threshold=1,
    )
    _check(got.toPandas(), want)
    assert want["image_id"].notna().sum() > len(want) * 0.6
    if n_small < _HOT_LITERAL_CAP:
        # the bursty entity's bounds follow its rows into the burst
        plan = got._jdf.queryExecution().analyzed().toString()
        bounds = [int(b) for b in re.search(r'\{"k": 0, "b": \[([^\]]*)\]', plan)[1].split(",")]
        assert len(bounds) >= 25
        assert sum(b - bounds[0] < _BURST_US for b in bounds) >= 0.9 * len(bounds)


def test_right_input_changed_after_profile_raises(spark, tmp_path):
    """A probe in a hot slice after the first always finds the row at its
    slice bound, unless the right input changed between the skew profile
    and the join: then the kernel raises instead of returning NULL."""
    flag = str(tmp_path / "drop_rows")
    right = pd.DataFrame(
        {
            "entity_id": 1,
            "ts": _T0 + pd.to_timedelta(np.arange(0, 100, 10), unit="s"),
            "image_id": [f"r{i}" for i in range(10)],
            "px": np.arange(10, dtype=float),
        }
    )
    spine = pd.DataFrame(
        {"entity_id": 1, "ts": _T0 + pd.to_timedelta([45, 95], unit="s"), "probe_id": [0, 1]}
    )
    # keeps every row until the flag file exists
    keep = F.udf(lambda _: not os.path.exists(flag), "boolean").asNondeterministic()
    got = asof_join_pandas_merge(
        spark.createDataFrame(spine),
        spark.createDataFrame(right).filter(keep("ts")),
        value_cols=VALUE_COLS, tiebreak="image_id",
        num_buckets=2, hot_threshold=1, slices=4,
    )
    open(flag, "w").close()
    with pytest.raises(Exception, match="changed between the skew profile and the join"):
        got.collect()


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
