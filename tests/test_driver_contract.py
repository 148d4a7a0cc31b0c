"""Driver-contract smoke: every queries() entry runs and matches its
DuckDB oracle at sf0.001 (the full sf0.01 pass is tools/check_oracles.py)."""

import sys
from pathlib import Path

import duckdb
import pytest

_ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(_ROOT))
sys.path.insert(0, str(_ROOT / "tools"))

import __spark_entry__ as E  # noqa: E402
from check_oracles import TABLES, compare  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


def test_entry_returns_rows(spark):
    df = E.entry(spark)
    assert df.count() > 0
    assert len(df.schema.fields) >= 3


@pytest.mark.parametrize("name", sorted(E.queries()))
def test_query_matches_oracle(spark, duck, name):
    fn = E.queries()[name]
    sdf = fn(spark, SF_DIR).toPandas()
    oracles = E.oracle_sql()
    if name not in oracles:
        assert len(sdf) >= 0  # rows-only contract
        return
    ddf = duck.execute(oracles[name]).fetchdf()
    assert compare(name, sdf, ddf) == []


def test_driver_sample_window_fully_oracled():
    """The correctness driver hashes the FIRST 50 registry entries; the
    round-4 ordering guarantees every slot in that window carries a
    DuckDB oracle (rows-only queries sort last). Guard the invariant so
    a future insertion can't silently waste sampled slots."""
    from query_cost_feature_engineering_spark.oracles import ORACLES
    from query_cost_feature_engineering_spark.queries import REGISTRY

    names = list(REGISTRY)
    assert len(names) >= 50
    missing = [n for n in names[:50] if n not in ORACLES]
    assert missing == []
    # and every oracle key actually maps to a registered query
    dangling = [k for k in ORACLES if k not in REGISTRY]
    assert dangling == []


def test_bench_exclusions_name_registry_entries():
    """bench.py times REGISTRY minus EXCLUDED. Every excluded name must
    be a registered query: after a rename the old name would linger here
    while the query joins the timed set under its new one."""
    import bench
    from query_cost_feature_engineering_spark.queries import REGISTRY

    assert len(set(bench.EXCLUDED)) == len(bench.EXCLUDED)
    assert [n for n in bench.EXCLUDED if n not in REGISTRY] == []
    assert set(bench.HEADLINE) == set(REGISTRY) - set(bench.EXCLUDED)
