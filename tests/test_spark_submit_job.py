"""Deployment-path smoke test: the pipeline job must run under real
``spark-submit --py-files <pkg.zip>`` with NO repo checkout on any
import path — the shipped zip alone must satisfy every import (driver
AND python workers, which unpickle the decode UDF)."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

SPARK_SUBMIT = shutil.which("spark-submit")

pytestmark = pytest.mark.skipif(
    SPARK_SUBMIT is None, reason="spark-submit not on PATH"
)


def test_spark_submit_with_pyfiles_zip_only(spark, tmp_path):
    from query_cost_feature_engineering_spark.session import package_zip
    from query_cost_feature_engineering_spark.sources.images import (
        generate_images_pandas,
    )

    src = str(tmp_path / "images")
    out = str(tmp_path / "features")
    spark.createDataFrame(generate_images_pandas(80, 10, 21)).write.parquet(
        src
    )

    zip_path = package_zip(str(tmp_path / "pkg.zip"))
    # copy the entrypoint AWAY from the repo so its parents[2] sys.path
    # fallback points at an empty directory — imports must come from the zip
    script = tmp_path / "run_pipeline.py"
    shutil.copy(
        Path("query_cost_feature_engineering_spark/jobs/run_pipeline.py"),
        script,
    )
    env = {
        k: v for k, v in os.environ.items() if k != "PYTHONPATH"
    }
    env["SPARK_GRAFT_CPUS"] = "2"
    proc = subprocess.run(
        [
            SPARK_SUBMIT,
            "--master", "local[2]",
            "--conf", "spark.ui.enabled=false",
            "--conf", "spark.sql.shuffle.partitions=2",
            "--py-files", zip_path,
            str(script),
            "--input", src,
            "--output", out,
            "--buckets", "4",
            "--master", "local[2]",
        ],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    # the job record splits driver plan time from the whole run
    rec = json.loads(proc.stdout.strip().splitlines()[-1])
    assert 0 <= rec["plan_s"] <= rec["wall_s"]

    # output exists with all rows, and the resumable manifests are there
    import pyarrow.dataset as ds

    table = ds.dataset(out, format="parquet", partitioning="hive").to_table()
    assert table.num_rows == 80
    manifests = list((Path(out) / "_manifest").glob("part=*.json"))
    assert manifests, "per-partition manifests missing"


def test_package_zip_named_after_sources(spark, tmp_path):
    """The default zip is named after the packaged sources, not the
    checkout or file times: a fresh copy of the package gives the same
    name and bytes, and a one-byte change in the copy another name."""
    import importlib.util

    from query_cost_feature_engineering_spark import session

    pkg = tmp_path / "query_cost_feature_engineering_spark"
    shutil.copytree(
        session._PKG_DIR, pkg, ignore=shutil.ignore_patterns("__pycache__"),
        copy_function=shutil.copy,  # new mtimes
    )

    def zip_of_copy() -> str:
        spec = importlib.util.spec_from_file_location("session_copy", pkg / "session.py")
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        return mod.package_zip()

    orig = session.package_zip()
    data = Path(orig).read_bytes()
    assert zip_of_copy() == orig and Path(orig).read_bytes() == data
    with open(pkg / "__init__.py", "ab") as f:
        f.write(b"\n")
    changed = zip_of_copy()
    try:
        assert changed != orig
    finally:
        os.remove(changed)


def test_get_spark_ships_no_zip_when_imported_from_one(spark, monkeypatch, tmp_path):
    """Imported from a zip (``spark-submit --py-files``), the package is
    already on the workers, and globbing the zip's inside finds no
    sources: ``get_spark`` must not build and ship an empty zip. It calls
    ``package_zip`` through the module attribute, so wrapping it works."""
    from query_cost_feature_engineering_spark import session

    calls = []
    missing = str(tmp_path / "missing.zip")  # addPyFile fails, swallowed
    monkeypatch.setattr(
        session, "package_zip", lambda out=None: calls.append(out) or missing
    )
    kw = dict(app="qcfe-tests", master="local[4]", shuffle_partitions=4)
    assert session.get_spark(**kw) is spark
    assert calls == [None]
    monkeypatch.setattr(
        session, "_PKG_DIR", tmp_path / "pkg.zip" / session._PKG_DIR.name
    )
    session.get_spark(**kw)
    assert calls == [None]
