"""The workloads: ``featurize`` and ``upsert``.

Load model: a closed loop with one client. One operation runs at a time
on one ``local[nproc / 2]`` session; the next starts when it ends. Every timed
action runs to a full sink (the engine's own writer, or the ``noop``
format), never ``count()``, which Catalyst prunes.

Each workload has the same shape:

1. synthesis (``gen``), not timed;
2. set-up: committing the inputs into the engine's tables (three times
   into fresh directories; the median counts), then WARMUP_OPS operations;
3. the timed window: operations until ``seconds`` of operation time have
   passed. Every operation's output is checked, with the clock stopped;
4. with tracing on, prefix cuts and spans for the per-layer report.

Each operation is a commit followed by a read-after-write. ``featurize``
commits the feature job's output and reads its newest tenth back with an
as-of join of a small recent spine into a ``noop`` sink. ``upsert`` merges
corrections into a feature table and reads it back point-in-time: a
manifest-pruned read, a skewed as-of join, and a ``write_snapshot``.
"""

from __future__ import annotations

import datetime as dt
import json
import statistics
import sys
import time
from contextlib import contextmanager, nullcontext
from pathlib import Path

import numpy as np
import pandas as pd

import gen
from spans import Tracer, cpu_steal

CHECKPOINT_BUCKETS = 16  # jobs/run_pipeline.py --buckets default
COMMIT_REPEATS = 3  # input commits per set-up; the median counts
WARMUP_OPS = 2  # the JIT is still speeding operations up after one
UPSERT_AMP_ROUNDS = 4  # space/write amplification are taken after this round
COMPACT_EVERY = 2  # upsert rounds per compaction


class Ctx:
    """One run: session, work directory, operation accounting, tracer."""

    def __init__(self, spark, work: Path, seed: int, sc: gen.Scale,
                 seconds: float, tracer: Tracer | None):
        self.spark, self.work, self.seed, self.sc = spark, work, seed, sc
        self.seconds = seconds
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self._op_ok = True
        self._n = 0
        self.t0 = time.perf_counter()

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()

    def log(self, phase: str) -> None:
        print(f"[{time.perf_counter() - self.t0:7.2f} s] {phase}", file=sys.stderr)

    def path(self, stem: str) -> str:
        self._n += 1
        return str(self.work / f"{stem}-{self._n:03d}")

    def check(self, ok: bool, what: str) -> bool:
        if not ok:
            self._op_ok = False
            print(f"CHECK FAILED: {what}", file=sys.stderr)
        return ok

    @contextmanager
    def operation(self):
        """One attempted operation; it fails if it raises or a check fails.
        An exception still propagates: the run cannot measure past it."""
        self.attempted += 1
        self._op_ok = True
        try:
            yield
        except BaseException:
            self._op_ok = False
            raise
        finally:
            self.failed += not self._op_ok


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def tree_bytes(path: str, pattern: str = "*") -> int:
    return sum(p.stat().st_size for p in Path(path).rglob(pattern) if p.is_file())


def timed(fn, *a, **kw):
    t = time.perf_counter()
    out = fn(*a, **kw)
    return out, time.perf_counter() - t


def utc(ts_us: int) -> dt.datetime:
    return dt.datetime.fromtimestamp(ts_us / 1e6, dt.timezone.utc)


def cutoff_of(table, share: float = 0.9) -> dt.datetime:
    ts = np.sort(table.column("ts").cast("int64").to_numpy())
    return utc(int(ts[int(len(ts) * share)]))


def commit_inputs(ctx: Ctx, commit) -> tuple[float, str]:
    """``commit(dest)`` COMMIT_REPEATS times into fresh directories;
    returns the median time and the last destination."""
    times, dest = [], ""
    for _ in range(COMMIT_REPEATS):
        dest = ctx.path("input")
        with ctx.span("setup.commit_inputs"):
            _, t = timed(commit, dest)
        times.append(t)
    return statistics.median(times), dest


def run_window(ctx: Ctx, op, min_ops: int = 1) -> list[dict]:
    """Call ``op(i)`` until the summed ``wall`` of its results reaches
    ``ctx.seconds`` and at least ``min_ops`` ran."""
    out, busy = [], 0.0
    steal0, total0 = cpu_steal()
    while busy < ctx.seconds or len(out) < min_ops:
        r = op(len(out))
        out.append(r)
        busy += r["wall"]
        ctx.log(f"operation {len(out)}: commit {r['commit']:.3f} s, "
                f"read {r['read']:.3f} s, wall {r['wall']:.3f} s")
    steal1, total1 = cpu_steal()
    ctx.log(f"CPU time stolen by the host in the window: "
            f"{(steal1 - steal0) / max(total1 - total0, 1):.1%}")
    return out


def asof_read(ctx: Ctx, spine_df, feats_df) -> dict:
    """Recent spine as-of joined onto ``feats_df`` (pipeline defaults:
    auto hot threshold, 32 buckets) into a noop sink."""
    from query_cost_feature_engineering_spark.operators.asof import (
        asof_join_pandas_merge,
    )

    with ctx.span("operators.asof.asof_join_pandas_merge"):
        out, prof = timed(
            asof_join_pandas_merge,
            spine_df,
            feats_df.select("entity_id", "ts", "image_id", "session_id", "features"),
            on="ts",
            by="entity_id",
            value_cols=["image_id", "session_id", "features"],
            tiebreak="image_id",
        )
    with ctx.span("sink.noop"):
        _, merge = timed(noop, out)
    return {"profile": prof, "merge": merge, "joined": out}


def match_ratio(df) -> float:
    from pyspark.sql import functions as F

    r = df.agg(F.count("*").alias("n"), F.count("image_id").alias("m")).collect()[0]
    return r["m"] / max(r["n"], 1)


def mean(ops: list[dict], key: str) -> float:
    return statistics.mean(o[key] for o in ops)


def summarize(ops: list[dict], cycle: int = 1) -> dict:
    """Best-of-window figures: the fastest run of ``cycle`` consecutive
    operations (any such run holds every kind of operation the workload
    does), the fastest commit and the fastest read. A slow operation
    moves none of them; a slower program moves them all."""
    cycles = [ops[i:i + cycle] for i in range(len(ops) - cycle + 1)]
    return {
        "rows_per_s": max(
            sum(o["rows"] for o in c) / sum(o["wall"] for o in c) for c in cycles
        ),
        "commit_s_min": min(o["commit"] for o in ops),
        "read_s_min": min(o["read"] for o in ops),
    }


# ------------------------------------------------------------ featurize

# layer self times whose sum explains a featurize commit
FEATURIZE_SELF = (
    "scan.s", "functions.decode_s", "operators.windows_s", "plans.vector_s",
    "runtime.checkpoint.write_s",
)


def featurize(ctx: Ctx) -> dict:
    """Flagship batch job: ``build_features`` then ``write_resumable`` into
    a fresh directory each operation (so resume never skips work)."""
    from pyspark.sql import functions as F

    from query_cost_feature_engineering_spark.golden import golden_features
    from query_cost_feature_engineering_spark.jobs.run_pipeline import (
        build_features,
    )
    from query_cost_feature_engineering_spark.plans.pipeline import (
        FEATURE_ORDER,
    )
    from query_cost_feature_engineering_spark.runtime.checkpoint import (
        write_resumable,
    )
    from query_cost_feature_engineering_spark.runtime.snapshots import (
        read_table,
        write_snapshot,
    )

    spark, sc = ctx.spark, ctx.sc
    images = gen.images_table(ctx.seed, sc)
    keys = images.select(["entity_id", "ts"]).sort_by("ts")
    rspine = gen.spine(ctx.seed, keys, sc.read_probes, recent_share=0.1)
    cutoff = cutoff_of(keys)
    raw, raw_spine = str(ctx.work / "raw_images"), str(ctx.work / "raw_spine")
    gen.write_parquet(images, raw, 4)
    gen.write_parquet(rspine, raw_spine, 1)
    n, width = len(images), len(FEATURE_ORDER)

    # golden vectors for whole sampled entities, the hot entity 0 included
    pdf = gen.to_pandas(images)
    rng = np.random.default_rng([ctx.seed, 9])
    cold = sorted(set(pdf["entity_id"].unique()) - {0})
    sample = [0] + [int(e) for e in rng.choice(cold, size=3, replace=False)]
    g = golden_features(pdf[pdf["entity_id"].isin(sample)])
    golden = dict(
        zip(g["image_id"], g[FEATURE_ORDER].astype(float).fillna(0.0).to_numpy())
    )
    digest = gen.digest(images, rspine)
    del pdf, g

    files = 4 * spark.sparkContext.defaultParallelism
    ctx.log("inputs synthesised")
    commit_s, images_dir = commit_inputs(
        ctx, lambda d: spark.read.parquet(raw).repartition(files).write.parquet(d)
    )
    t_warm = time.perf_counter()
    spine_table = ctx.path("spine")
    write_snapshot(spark.read.parquet(raw_spine), spine_table)
    spine_df = read_table(spark, spine_table)

    def op(i: int) -> dict:
        out = ctx.path("features")
        with ctx.operation(), ctx.span("featurize.op"):
            t0 = time.perf_counter()
            with ctx.span("jobs.run_pipeline.build_features"):
                df = build_features(spark, images_dir, None)
            tb = time.perf_counter()
            with ctx.span("runtime.checkpoint.write_resumable"):
                write_resumable(
                    df, out, bucket_col="entity_id",
                    n_buckets=CHECKPOINT_BUCKETS, input_paths=[images_dir],
                )
            t1 = time.perf_counter()
            with ctx.span("read_after_write"):
                feats = spark.read.parquet(out).where(F.col("ts") >= F.lit(cutoff))
                rd = asof_read(ctx, spine_df, feats)
            t2 = time.perf_counter()
            ctx.log(f"build {tb - t0:.3f} s, write {t1 - tb:.3f} s")
            check_features(ctx, out, n, width, golden, sample)
            data = tree_bytes(out, "*.parquet")
            return {
                "wall": t2 - t0, "commit": t1 - t0, "read": t2 - t1,
                "rows": n, "data_bytes": data, "tree_bytes": tree_bytes(out),
                "files": len(list(Path(out).rglob("*.parquet"))),
                "profile": rd["profile"], "merge": rd["merge"],
                "joined": rd["joined"],
            }

    for i in range(WARMUP_OPS):
        op(-1 - i)
    warm_s = time.perf_counter() - t_warm
    ctx.log("set-up done")
    w0 = time.time()
    ops = run_window(ctx, op)
    w1 = time.time()
    ctx.log(f"window done: {len(ops)} operations")
    last = ops[-1]
    m = summarize(ops) | {
        "setup_s": commit_s + warm_s,
        # a fresh output directory: what the commit wrote is what it holds
        "space_amp": last["tree_bytes"] / last["data_bytes"],
        "write_amp": last["tree_bytes"] / last["data_bytes"],
        "window": (w0, w1, len(ops)),
        "digest": digest,
    }
    if ctx.tracer:
        layers = featurize_cuts(ctx, images_dir)
        layers |= {
            "runtime.checkpoint.bytes": mean(ops, "data_bytes"),
            "runtime.checkpoint.files": mean(ops, "files"),
            "operators.asof.profile_s": mean(ops, "profile"),
            "operators.asof.merge_s": mean(ops, "merge"),
            "operators.asof.probes": float(sc.read_probes),
            "operators.asof.match_ratio": match_ratio(last["joined"]),
        }
        explained = sum(v for k, v in layers.items() if k in FEATURIZE_SELF)
        layers["trace.unexplained_s"] = m["commit_s_min"] - explained
        m["layers"] = layers
    return m


def check_features(ctx: Ctx, out: str, n: int, width: int, golden: dict,
                   sample: list[int]) -> None:
    from pyspark.sql import functions as F

    from query_cost_feature_engineering_spark.runtime.checkpoint import (
        MANIFEST_DIR,
    )

    rows = sum(
        json.loads(p.read_text())["rows"]
        for p in (Path(out) / MANIFEST_DIR).glob("part=*.json")
    )
    ctx.check(rows == n, f"featurize rows {rows} != {n}")
    got = (
        ctx.spark.read.parquet(out)
        .where(F.col("entity_id").isin(sample))
        .select("image_id", "features")
        .toPandas()
    )
    ok = ctx.check(sorted(got["image_id"]) == sorted(golden),
                   f"sampled rows {len(got)} != {len(golden)}")
    widths = got["features"].map(len)
    if ctx.check((widths == width).all(), f"vector widths {set(widths)} != {width}") and ok:
        have = np.stack(got["features"].to_numpy())
        want = np.stack([golden[i] for i in got["image_id"]])
        ctx.check(np.allclose(have, want), "sampled vectors differ from golden")


def featurize_cuts(ctx: Ctx, images_dir: str) -> dict:
    """Self times of the lazy featurize layers as differences between
    cumulative prefixes, each run to a noop sink: scan -> decode
    (``with_basics`` + ``with_image_features``) -> ``compute_features`` ->
    ``assemble_vector`` -> ``write_resumable``. Per-format decode times
    restrict the decode prefix (and its scan) to one ``fmt``."""
    from pyspark.sql import functions as F

    from query_cost_feature_engineering_spark.functions.image_features import (
        with_basics,
        with_image_features,
    )
    from query_cost_feature_engineering_spark.jobs.run_pipeline import (
        build_features,
    )
    from query_cost_feature_engineering_spark.plans.pipeline import (
        assemble_vector,
        compute_features,
    )
    from query_cost_feature_engineering_spark.runtime.checkpoint import (
        write_resumable,
    )

    spark = ctx.spark

    def images(fmt=None):
        df = spark.read.parquet(images_dir)
        return df if fmt is None else df.where(F.col("fmt") == fmt)

    def decoded(fmt=None):
        return with_image_features(with_basics(images(fmt)))

    def cut(name, run):
        with ctx.span(f"cut.{name}"):
            return timed(run)[1]

    def sink(make):
        return lambda: noop(make())

    t = {
        "scan": cut("scan", sink(images)),
        "decode": cut("decode", sink(decoded)),
        "features": cut("features", sink(lambda: compute_features(images()))),
        "vector": cut("vector", sink(
            lambda: assemble_vector(compute_features(images())))),
        "scan_jpeg": cut("scan_jpeg", sink(lambda: images("jpeg"))),
        "decode_jpeg": cut("decode_jpeg", sink(lambda: decoded("jpeg"))),
        "scan_png": cut("scan_png", sink(lambda: images("png"))),
        "decode_png": cut("decode_png", sink(lambda: decoded("png"))),
    }
    out = ctx.path("cut_write")
    t["write"] = cut("write", lambda: write_resumable(
        build_features(spark, images_dir, None), out, bucket_col="entity_id",
        n_buckets=CHECKPOINT_BUCKETS, input_paths=[images_dir],
    ))
    tolerant = with_image_features(with_basics(images()), on_error="null")
    counts = tolerant.agg(
        F.count("*").alias("n"),
        F.count_if(~F.col("decode_ok")).alias("bad"),
    ).collect()[0]
    return {
        "scan.s": t["scan"],
        "functions.decode_s": t["decode"] - t["scan"],
        "functions.decode_jpeg_s": t["decode_jpeg"] - t["scan_jpeg"],
        "functions.decode_png_s": t["decode_png"] - t["scan_png"],
        "functions.decode_rows": float(counts["n"]),
        "functions.decode_failed": float(counts["bad"]),
        "operators.windows_s": t["features"] - t["decode"],
        "plans.vector_s": t["vector"] - t["features"],
        "runtime.checkpoint.write_s": t["write"] - t["vector"],
    }


# --------------------------------------------------------------- upsert


def upsert(ctx: Ctx) -> dict:
    """Feature-table maintenance with reads after writes. Each round is a
    ``merge_into`` of seeded corrections (95% on the newest tenth of the
    rows) plus inserts, then a point-in-time read: ``read_table`` pruned to
    ``ts >= cutoff``, ``asof_join_pandas_merge`` of a spine onto it with the
    pipeline defaults (the hot entity stays above the auto threshold, so
    the time-sliced path runs), committed with ``write_snapshot``.
    ``compact_table`` runs every COMPACT_EVERY rounds and
    ``expire_snapshots`` after the window."""
    from pyspark.sql import functions as F

    from query_cost_feature_engineering_spark.operators.asof import (
        asof_join_pandas_merge,
    )
    from query_cost_feature_engineering_spark.runtime.snapshots import (
        compact_table,
        expire_snapshots,
        merge_into,
        prune_files,
        read_table,
        snapshot_meta,
        write_snapshot,
    )

    spark, sc = ctx.spark, ctx.sc
    base = gen.feature_table(ctx.seed, sc)
    spine = gen.spine(ctx.seed, base, sc.pit_probes)
    cutoff = cutoff_of(base, 0.1)
    where = [("ts", ">=", cutoff)]
    raw_b, raw_s = str(ctx.work / "raw_base"), str(ctx.work / "raw_spine")
    gen.write_parquet(base, raw_b, 8)
    gen.write_parquet(spine, raw_s, 1)
    model = PitModel(ctx.seed, base, spine, cutoff)
    base_sum = int(np.sum(base.column("session_id").to_numpy()))

    def batch(rnd: int) -> tuple[str, object]:
        b = gen.upsert_batch(ctx.seed, rnd, base, sc)
        path = str(ctx.work / f"raw_batch_{rnd:03d}")
        gen.write_parquet(b, path, 1)
        return path, b

    batches = {r: batch(r) for r in range(1, UPSERT_AMP_ROUNDS + 1)}
    digest = gen.digest(base, spine, *(b for _, b in batches.values()))
    n_base, n_probes = len(base), len(spine)
    ctx.log("inputs synthesised")

    commit_s, table = commit_inputs(
        ctx, lambda d: write_snapshot(spark.read.parquet(raw_b), d)
    )
    t_warm = time.perf_counter()
    spine_table = ctx.path("spine")
    write_snapshot(spark.read.parquet(raw_s), spine_table)
    state = {"written": 0, "changed_rows": 0, "amp": None}

    def bytes_of(files) -> int:
        return sum((Path(table) / f).stat().st_size for f in files)

    def pit_join(recent):
        return asof_join_pandas_merge(
            read_table(spark, spine_table),
            recent.withColumn("feat_ts", F.col("ts")),
            on="ts",
            by="entity_id",
            value_cols=["image_id", "session_id", "features", "feat_ts"],
            tiebreak="image_id",
        )

    def op(i: int) -> dict:
        rnd = i + WARMUP_OPS + 1  # rounds count from 1, warm-up included
        path, b = batches[rnd] if rnd in batches else batch(rnd)
        out = ctx.path("trainset")
        with ctx.operation(), ctx.span("upsert.op"):
            t0 = time.perf_counter()
            before = set(snapshot_meta(table)["files"])
            with ctx.span("runtime.snapshots.merge_into"):
                res = merge_into(spark, table, spark.read.parquet(path), on=["image_id"])
            t1 = time.perf_counter()
            with ctx.span("read_after_write"):
                with ctx.span("runtime.snapshots.read_table"):
                    recent, plan = timed(read_table, spark, table, where=where)
                with ctx.span("operators.asof.asof_join_pandas_merge"):
                    joined, prof = timed(pit_join, recent)
                with ctx.span("runtime.snapshots.write_snapshot"):
                    write_snapshot(joined, out)
            t2 = time.perf_counter()
            compact = 0.0
            if rnd % COMPACT_EVERY == 0:
                with ctx.span("runtime.snapshots.compact_table"):
                    _, compact = timed(compact_table, spark, table)
            t3 = time.perf_counter()
            merged = set(snapshot_meta(table, res["version"])["files"])
            now = set(snapshot_meta(table)["files"])
            written = bytes_of(merged - before) + bytes_of(now - merged)
            kept, pruned = prune_files(table, where)
            model.apply(b)
            check_upsert(ctx, table, n_base + model.inserts, b)
            match = check_pit(ctx, out, n_probes, model)
            if rnd <= UPSERT_AMP_ROUNDS:
                state["written"] += written
                state["changed_rows"] += len(b)
            if rnd == UPSERT_AMP_ROUNDS:
                cur_bytes = bytes_of(now)
                per_row = cur_bytes / (n_base + model.inserts)
                state["amp"] = (
                    tree_bytes(table) / cur_bytes,
                    state["written"] / (state["changed_rows"] * per_row),
                )
            return {
                "wall": t3 - t0, "commit": t1 - t0, "read": t2 - t1,
                "rows": len(b) + n_probes, "compact": compact, "plan": plan,
                "profile": prof, "match": match,
                "rewritten": res["files_rewritten"], "carried": res["files_carried"],
                "bytes": written,
                "prune": len(kept) / max(len(kept) + len(pruned), 1),
            }

    for i in range(WARMUP_OPS):
        op(i - WARMUP_OPS)
    warm_s = time.perf_counter() - t_warm
    ctx.log("set-up done")
    w0 = time.time()
    ops = run_window(ctx, op, min_ops=max(UPSERT_AMP_ROUNDS - WARMUP_OPS, COMPACT_EVERY))
    w1 = time.time()
    ctx.log(f"window done: {len(ops)} operations")
    with ctx.operation():
        v1 = read_table(spark, table, version=1).agg(
            F.count("*").alias("n"), F.sum("session_id").alias("s")
        ).collect()[0]
        ctx.check((v1["n"], v1["s"]) == (n_base, base_sum), "time travel to v1 changed")
    space_amp, write_amp = state["amp"]
    with ctx.operation():
        with ctx.span("runtime.snapshots.expire_snapshots"):
            _, expire = timed(expire_snapshots, table)
        n_now = read_table(spark, table).count()
        ctx.check(n_now == n_base + model.inserts, "rows changed by expire")
    m = summarize(ops, COMPACT_EVERY) | {
        "setup_s": commit_s + warm_s,
        "space_amp": space_amp,
        "write_amp": write_amp,
        "window": (w0, w1, len(ops)),
        "digest": digest,
    }
    if ctx.tracer:
        def join():
            return pit_join(read_table(spark, table, where=where))

        with ctx.span("cut.scan"):
            scan = timed(lambda: noop(read_table(spark, table, where=where)))[1]
        with ctx.span("cut.join"):
            merge = timed(lambda: noop(join()))[1]
        with ctx.span("cut.write"):
            write = timed(lambda: write_snapshot(join(), ctx.path("cut_write")))[1]
        compacts = [o["compact"] for o in ops if o["compact"]]
        m["layers"] = {
            "scan.s": scan,
            "operators.asof.profile_s": mean(ops, "profile"),
            "operators.asof.merge_s": merge - scan - mean(ops, "profile"),
            "operators.asof.probes": float(n_probes),
            "operators.asof.match_ratio": mean(ops, "match"),
            "runtime.snapshots.commit_s": write - merge,
            "runtime.snapshots.merge_s": mean(ops, "commit"),
            "runtime.snapshots.files_rewritten": mean(ops, "rewritten"),
            "runtime.snapshots.files_carried": mean(ops, "carried"),
            "runtime.snapshots.bytes_written": mean(ops, "bytes"),
            "runtime.snapshots.read_plan_s": mean(ops, "plan"),
            "runtime.snapshots.prune_ratio": mean(ops, "prune"),
            "runtime.snapshots.compact_s": statistics.mean(compacts or [0.0]),
            "runtime.snapshots.expire_s": expire,
            "trace.unexplained_s": m["read_s_min"] - write,
        }
    return m


class PitModel:
    """The table's expected content, kept in pandas, and the expected
    point-in-time read of a sample of entities: the hot entity 0, three
    cold ones and one absent from the table."""

    def __init__(self, seed: int, base, spine, cutoff: dt.datetime):
        self.rows = gen.to_pandas(base).set_index("image_id")
        self.inserts = 0
        sp = gen.to_pandas(spine)
        rng = np.random.default_rng([seed, 10])
        ents = set(self.rows["entity_id"])
        present = sorted(ents & set(sp["entity_id"]) - {0})
        absent = sorted(set(sp["entity_id"]) - ents)
        self.sample = [0] + [int(e) for e in rng.choice(present, size=3, replace=False)]
        self.sample += [int(absent[0])] if absent else []
        self.spine = sp[sp["entity_id"].isin(self.sample)].sort_values("ts", kind="mergesort")
        self.cutoff = pd.Timestamp(cutoff).tz_convert(None)

    def apply(self, batch) -> None:
        b = gen.to_pandas(batch).set_index("image_id")
        known = b.index.isin(self.rows.index)
        for iid, vec in zip(b.index[known], b["features"][known]):
            self.rows.at[iid, "features"] = vec
        self.rows = pd.concat([self.rows, b[~known]])
        self.inserts += int((~known).sum())

    def expected(self) -> pd.DataFrame:
        r = self.rows[self.rows["entity_id"].isin(self.sample)
                      & (self.rows["ts"] >= self.cutoff)].reset_index()
        r = r.sort_values(["ts", "image_id"], kind="mergesort")
        exp = pd.merge_asof(self.spine, r, on="ts", by="entity_id", direction="backward")
        return exp.set_index("probe_id").sort_index()


def check_pit(ctx: Ctx, out: str, n_probes: int, model: PitModel) -> float:
    """Probe count kept, no match after its probe, and the sampled
    entities' matches equal ``merge_asof`` on the model (ids for every
    sampled probe, vectors for the first 50 matched)."""
    from pyspark.sql import functions as F

    from query_cost_feature_engineering_spark.runtime.snapshots import (
        read_table,
    )

    df = read_table(ctx.spark, out)
    r = df.agg(
        F.count("*").alias("n"),
        F.count("image_id").alias("matched"),
        F.count_if(F.col("feat_ts") > F.col("ts")).alias("leaks"),
    ).collect()[0]
    ctx.check(r["n"] == n_probes, f"probes {r['n']} != {n_probes}")
    ctx.check(r["leaks"] == 0, f"{r['leaks']} matches after their probe ts")
    expected = model.expected()
    got = (
        df.where(F.col("entity_id").isin(model.sample))
        .select("probe_id", "image_id")
        .toPandas()
        .set_index("probe_id")
        .sort_index()
    )
    if ctx.check(got.index.equals(expected.index),
                 f"sampled probes {len(got)} != {len(expected)}"):
        bad = (got["image_id"].fillna("") != expected["image_id"].fillna("")).sum()
        ctx.check(bad == 0, f"{bad} sampled probes match other rows than merge_asof")
        pids = expected.index[expected["image_id"].notna()][:50].tolist()
        vecs = (
            df.where(F.col("probe_id").isin(pids)).select("probe_id", "features")
            .toPandas().set_index("probe_id").sort_index()
        )
        want = np.stack(expected.loc[vecs.index, "features"].to_numpy())
        ctx.check(np.array_equal(np.stack(vecs["features"].to_numpy()), want),
                  "sampled vectors differ from merge_asof")
    return r["matched"] / max(r["n"], 1)


def check_upsert(ctx: Ctx, table: str, n_rows: int, batch) -> None:
    """Row count is base plus inserts; sampled corrections read back."""
    from pyspark.sql import functions as F

    from query_cost_feature_engineering_spark.runtime.snapshots import (
        read_table,
    )

    df = read_table(ctx.spark, table)
    n = df.count()
    ctx.check(n == n_rows, f"table rows {n} != {n_rows}")
    ids = batch.column("image_id").to_pylist()[:8]
    want = dict(zip(ids, batch.column("features").to_pylist()[:8]))
    got = df.where(F.col("image_id").isin(ids)).select("image_id", "features").collect()
    ctx.check(len(got) == len(ids), f"corrected rows {len(got)} != {len(ids)}")
    for r in got:
        if not ctx.check(list(r["features"]) == want[r["image_id"]],
                         f"{r['image_id']}: correction not visible"):
            return
