"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the centerpiece backward as-of join over the
sf0.001 parquet tables; ``queries()`` exposes every implemented operator
(SURVEY.md §2 + training-data ops); ``oracle_sql()`` gives the DuckDB
mirror for each. Synthetic-input queries (the image/media pipeline, the
plan-log parsers, the MSCN serializer) synthesize their own
deterministic input tables (the BASELINE.json input_hint shape) and are
oracled via both-sides-synthesize fixtures: an independent
single-process recompute written as parquet that DuckDB reads back
(golden.py). Only one registry entry has no oracle_sql: the greedy
ablation loop (not SQL-expressible; pinned by an independent recompute
test). Trained k-means IVF has an invariant oracle (rank/recall against
the in-job exact top-k).
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

_REPO = str(Path(__file__).resolve().parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def _ensure_shipped(spark: SparkSession) -> None:
    """The driver may hand us a session it built itself; make sure python
    workers can import this package (UDF unpickling) by shipping the zip.
    Idempotent per session."""
    sc = spark.sparkContext
    if getattr(sc, "_qcfe_shipped", False):
        return
    try:
        from query_cost_feature_engineering_spark.session import package_zip

        sc.addPyFile(package_zip())
    except Exception:
        pass  # already added, or PYTHONPATH already covers the workers
    sc._qcfe_shipped = True


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: gap-sessionized events + backward as-of join of the latest
    purchase onto a probe spine, at sf0.001."""
    from query_cost_feature_engineering_spark.queries import (
        asof_purchases_window,
    )

    _ensure_shipped(spark)
    return asof_purchases_window(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from query_cost_feature_engineering_spark.queries import REGISTRY

    def wrap(fn):
        def inner(spark, sf_dir, _fn=fn):
            _ensure_shipped(spark)
            return _fn(spark, sf_dir)

        inner.__name__ = fn.__name__
        return inner

    return {name: wrap(fn) for name, fn in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    from query_cost_feature_engineering_spark.oracles import ORACLES

    return dict(ORACLES)
