"""`qcfe_snapshot` Python Data Source: batch reads with planner-driven
manifest file pruning, schema-evolution alignment, time travel via
option, and the streaming commit-log source (exactly-once restarts,
rewrite handling). See sources/snapshot_source.py."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from query_cost_feature_engineering_spark.runtime import snapshots as S
from query_cost_feature_engineering_spark.sources.snapshot_source import (
    SnapshotBatchReader,
    register,
)


@pytest.fixture(scope="module", autouse=True)
def _registered(spark):
    register(spark)


def _mk(spark, lo, hi):
    return spark.range(lo, hi).selectExpr(
        "cast(id as int) k", "cast(id % 5 as int) grp", "cast(id as double) v"
    )


@pytest.fixture()
def table(tmp_path, spark):
    d = str(tmp_path / "tbl")
    S.write_snapshot(
        _mk(spark, 0, 400).repartitionByRange(8, "k"), d, mode="overwrite"
    )
    return d


def _load(spark, d, **opts):
    r = spark.read.format("qcfe_snapshot").option("table_dir", d)
    for k, v in opts.items():
        r = r.option(k, v)
    return r.load()


def test_batch_read_matches_library_read(spark, table):
    via_fmt = {(r.k, r.grp, r.v) for r in _load(spark, table).collect()}
    via_lib = {(r.k, r.grp, r.v) for r in S.read_table(spark, table).collect()}
    assert via_fmt == via_lib and len(via_fmt) == 400


def test_batch_partitions_are_one_per_file(spark, table):
    df = _load(spark, table)
    assert df.rdd.getNumPartitions() == len(S.snapshot_meta(table)["files"])


def test_pushed_filter_prunes_scan_partitions(spark, table):
    """Catalyst's pushed EqualTo reaches pushFilters; the manifest bounds
    plan ONE input partition out of 8, and the residual filter Spark
    re-applies keeps the result exact."""
    flt = _load(spark, table).filter(F.col("k") == 200)
    assert flt.rdd.getNumPartitions() == 1
    assert [(r.k, r.v) for r in flt.collect()] == [(200, 200.0)]
    rng = _load(spark, table).filter(F.col("k") >= 350)
    assert rng.rdd.getNumPartitions() < 8
    assert rng.count() == 50


def test_pushfilters_translates_only_supported_shapes():
    reader = SnapshotBatchReader.__new__(SnapshotBatchReader)
    reader.predicates = []
    from pyspark.sql.datasource import EqualTo, GreaterThan, IsNull

    residual = list(
        reader.pushFilters(
            [
                EqualTo(("k",), 7),
                GreaterThan(("v",), 1.5),
                IsNull(("grp",)),  # unsupported -> residual only
                EqualTo(("a", "b"), 1),  # nested path -> residual only
            ]
        )
    )
    assert reader.predicates == [("k", "=", 7), ("v", ">", 1.5)]
    assert len(residual) == 4  # every filter handed back to Spark


def test_version_option_time_travels(spark, table):
    v1 = S.current_version(table)
    S.write_snapshot(_mk(spark, 1000, 1001), table, mode="append")
    assert _load(spark, table).count() == 401
    assert _load(spark, table, version=str(v1)).count() == 400


def test_batch_read_applies_position_deletes_at_every_version(spark, table):
    """Merges and a delete leave position-delete files; the data source
    masks them per file and reads the same rows as ``read_table`` at
    every version, time travel and pushed-filter pruning included."""
    upd = _mk(spark, 0, 400).filter("k % 50 = 3").selectExpr(
        "k", "grp", "v * -1 AS v"
    )
    S.merge_into(spark, table, upd, on=["k"])
    S.merge_into(
        spark, table, _mk(spark, 395, 405).selectExpr("k", "7 AS grp", "v"), on=["k"]
    )
    S.delete_where(spark, table, "grp = 7 OR k < 20")
    assert S.snapshot_meta(table)["deletes"]

    def rows(df):
        return sorted((r.k, r.grp, r.v) for r in df.collect())

    for v in range(1, S.current_version(table) + 1):
        assert rows(_load(spark, table, version=str(v))) == rows(
            S.read_table(spark, table, version=v)
        )
    got = rows(_load(spark, table).filter(F.col("k") >= 350))
    assert got == rows(S.read_table(spark, table, where=[("k", ">=", 350)]))
    # 400 base + 5 inserts, minus the 10 grp=7 rows and the 20 with k < 20
    assert len(rows(_load(spark, table))) == 375


def test_schema_evolution_alignment(spark, table):
    ev = spark.createDataFrame(
        [(1000, 9, 1.5, "x")], "k int, grp int, v double, tag string"
    )
    S.write_snapshot(ev, table, mode="append")
    df = _load(spark, table)
    assert df.schema.simpleString() == (
        "struct<k:int,grp:int,v:double,tag:string>"
    )
    assert df.filter("tag is null").count() == 400
    assert df.filter("tag = 'x'").count() == 1


def test_stream_reads_commits_exactly_once_across_restart(
    spark, tmp_path, table
):
    S.write_snapshot(_mk(spark, 400, 450), table, mode="append")
    ck, out = str(tmp_path / "ck"), str(tmp_path / "out")

    def run():
        q = (
            spark.readStream.format("qcfe_snapshot")
            .option("table_dir", table)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)

    run()
    got = spark.read.parquet(out)
    assert got.count() == 450 and got.select("k").distinct().count() == 450
    # delta-only restart: one new commit, the checkpointed version
    # watermark makes the second pass read exactly its files
    S.write_snapshot(_mk(spark, 450, 460), table, mode="append")
    run()
    got = spark.read.parquet(out)
    assert got.count() == 460
    assert got.agg(F.max("k")).collect()[0][0] == 459
    # no-op restart: nothing new, nothing duplicated
    run()
    assert spark.read.parquet(out).count() == 460


def test_register_works_without_package_on_pythonpath(tmp_path):
    """Deployment contract: the planner worker that unpickles the
    DataSource class gets NO addPyFile includes, so register() must make
    the class travel by value. Pin it the hard way: a clean subprocess
    with no PYTHONPATH, importing the package only by file location on
    the driver, must still stream a snapshot table end to end."""
    import subprocess
    import sys
    import textwrap

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {repo!r})  # driver-side import only
        from pyspark.sql import SparkSession
        from query_cost_feature_engineering_spark.runtime import snapshots as S
        from query_cost_feature_engineering_spark.sources.snapshot_source import register
        spark = (SparkSession.builder.master("local[2]")
                 .config("spark.ui.enabled", "false").getOrCreate())
        register(spark)
        d = {str(tmp_path / "tbl")!r}
        S.write_snapshot(spark.range(0, 30).selectExpr("id k"), d, mode="overwrite")
        S.write_snapshot(spark.range(30, 40).selectExpr("id k"), d, mode="append")
        q = (spark.readStream.format("qcfe_snapshot").option("table_dir", d).load()
             .writeStream.format("parquet").option("path", {str(tmp_path / "out")!r})
             .option("checkpointLocation", {str(tmp_path / "ck")!r})
             .trigger(availableNow=True).start())
        assert q.awaitTermination(120)
        n = spark.read.parquet({str(tmp_path / "out")!r}).count()
        batch = spark.read.format("qcfe_snapshot").option("table_dir", d).load().count()
        print("RESULT", n, batch)
        """
    )
    env = {
        k: v for k, v in os.environ.items() if k not in ("PYTHONPATH",)
    }
    proc = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=300,
        env=env,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "RESULT 40 40" in proc.stdout


def test_stream_rewrite_commit_fails_by_default_and_skips_on_option(
    spark, tmp_path, table
):
    ck, out = str(tmp_path / "ck"), str(tmp_path / "out")
    S.delete_where(spark, table, "k < 5")
    S.write_snapshot(_mk(spark, 400, 410), table, mode="append")

    def run(**opts):
        r = spark.readStream.format("qcfe_snapshot").option(
            "table_dir", table
        )
        for k, v in opts.items():
            r = r.option(k, v)
        q = (
            r.load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)

    from pyspark.errors.exceptions.captured import StreamingQueryException

    with pytest.raises(StreamingQueryException, match="rewritten|on_rewrite"):
        run()
    # a failed run must not have committed a partial batch
    from pathlib import Path

    assert not list(Path(out).glob("*.parquet")) if os.path.isdir(out) else True
    run(on_rewrite="skip")
    got = spark.read.parquet(out)
    # appends only: the base 400 + the post-delete append; the delete's
    # rewritten survivor files are NOT re-emitted (no duplicates)
    assert got.count() == 410
    assert got.filter("k < 5").count() == 5  # base commit rows, pre-delete
