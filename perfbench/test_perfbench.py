"""Self-tests of the benchmark: ``python3 -m pytest perfbench -q``."""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

import gen  # noqa: E402
import run  # noqa: E402
from spans import Span, self_times  # noqa: E402

TINY = run.scales(8)["tiny"]


def test_same_seed_same_digest():
    """Inputs are a pure function of the seed."""
    a = [gen.images_table(5, TINY), gen.feature_table(5, TINY)]
    b = [gen.images_table(5, TINY), gen.feature_table(5, TINY)]
    assert gen.digest(*a) == gen.digest(*b)
    c = [gen.images_table(6, TINY), gen.feature_table(6, TINY)]
    assert gen.digest(*a) != gen.digest(*c)
    sp = gen.spine(5, a[1], 50)
    assert gen.digest(sp) == gen.digest(gen.spine(5, b[1], 50))
    batch = gen.upsert_batch(5, 1, a[1], TINY)
    assert gen.digest(batch) == gen.digest(gen.upsert_batch(5, 1, b[1], TINY))


def test_images_are_real_png_and_baseline_jpeg():
    from query_cost_feature_engineering_spark.codecs import decode_image

    t = gen.images_table(3, TINY)
    fmts = t.column("fmt").to_pylist()
    data = t.column("bytes").to_pylist()
    assert {"png", "jpeg"} == set(fmts)
    for f, b, w, h in zip(fmts, data, t.column("w").to_pylist(), t.column("h").to_pylist()):
        assert b[:4] == (b"\x89PNG" if f == "png" else b"\xff\xd8\xff\xfe")
        assert decode_image(b, f).shape == (h, w, 3)
    assert len(set(data)) == len(data)  # every payload distinct


def test_self_time_of_hand_built_tree():
    # root [0, 10] has children a [1, 4] and b [3, 6] (overlapping: cover
    # [1, 6] = 5) and c [8, 12] (clipped to [8, 10] = 2); a has child
    # d [2, 3].
    spans = [
        Span("root", 0, 10, None, "r"),
        Span("a", 1, 4, 0, "r"),
        Span("b", 3, 6, 0, "r"),
        Span("c", 8, 12, 0, "r"),
        Span("d", 2, 3, 1, "r"),
        Span("a", 20, 21, None, "r"),
    ]
    st = self_times(spans)
    assert st["root"] == pytest.approx(10 - 5 - 2)
    assert st["a"] == pytest.approx((3 - 1) + 1)
    assert st["b"] == pytest.approx(3)
    assert st["c"] == pytest.approx(4)
    assert st["d"] == pytest.approx(1)


def test_best_of_window_figures():
    import workloads

    def op(rows, commit, read, extra=0.0):
        return {"rows": rows, "commit": commit, "read": read,
                "wall": commit + read + extra}

    # runs of two: (a, b) take 6 s for 20 rows, (b, c) 6 s, (c, d) 5 s
    ops = [op(10, 1.0, 1.0), op(10, 2.0, 1.0, extra=1.0),
           op(10, 1.5, 0.5), op(10, 0.5, 2.5)]
    m = workloads.summarize(ops, cycle=2)
    assert m == {"rows_per_s": 4.0, "commit_s_min": 0.5, "read_s_min": 0.5}
    assert workloads.summarize(ops)["rows_per_s"] == 5.0


def test_benchmark_json_matches_the_metrics_printed():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.LAYERS


def test_missing_package_exits_nonzero(tmp_path):
    (tmp_path / "perfbench").mkdir()
    for f in HERE.glob("*.py"):
        (tmp_path / "perfbench" / f.name).write_text(f.read_text())
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "featurize",
         "--seed", "1", "--seconds", "1"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0 and p.stdout == ""


@pytest.mark.parametrize("trace", [0, 1])
def test_tiny_smoke_prints_every_metric(trace):
    """Every workload at tiny scale: every metric of the requested kind is
    printed with its unit, and every correctness check holds."""
    names = run.LAYERS if trace else run.E2E
    for w in run.WORKLOADS:
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", w, "--seed", "3",
             "--seconds", "1", "--trace", str(trace), "--scale", "tiny"],
            cwd=ROOT, capture_output=True, text=True, timeout=600,
        )
        assert p.returncode == 0, p.stderr[-3000:]
        res = json.loads(p.stdout.strip().splitlines()[-1])
        assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
        assert {k: v["unit"] for k, v in res["metrics"].items()} == names
        for line in names:
            assert line in p.stdout
