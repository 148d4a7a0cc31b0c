"""HTML boilerplate extraction (html_extract_docs).

The DuckDB oracle runs the identical synthesis + RE2-safe patterns in
an independent regex engine; these tests pin the end-to-end extraction
property and the gate/link accounting on the real sf0.001 corpus.
"""

from __future__ import annotations

from query_cost_feature_engineering_spark.queries import (
    HTML_MIN_MAIN_CHARS,
    html_extract_docs,
)

SF = "/root/testdata/sf0.001"


def test_roundtrip_recovers_article_exactly(spark):
    rows = html_extract_docs(spark, SF).collect()
    assert rows and all(r.roundtrip_ok for r in rows)


def test_link_count_and_gate(spark):
    rows = html_extract_docs(spark, SF).collect()
    # the synthesized chrome always carries exactly 4 <a href links
    assert all(r.n_links == 4 for r in rows)
    for r in rows:
        assert r.passes == (r.main_len >= HTML_MIN_MAIN_CHARS)
        assert 0.0 < r.boilerplate_ratio < 1.0
        assert r.main_len < r.html_len


def test_plan_is_map_only(spark):
    df = html_extract_docs(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Python" not in plan  # zero UDFs — all JVM expressions


def test_vertical_tab_normalizes_like_the_oracle(spark, tmp_path):
    """Java's ``\\s`` matches ``\\x0B`` and RE2's does not; with the
    explicit whitespace class, Spark and the DuckDB oracle collapse every
    whitespace byte the same way."""
    import duckdb
    import pandas as pd

    from query_cost_feature_engineering_spark.oracles import ORACLES

    texts = [
        "alpha\x0bbeta gamma",
        "\x0b lead\t\x0b\nand trail \x0b",
        "crlf\r\nform\ffeed and a scan of\x0b\x0bruns",
    ]
    pd.DataFrame(
        {
            "doc_id": range(len(texts)),
            "text": texts,
            "lang": "en",
            "source": "web",
            "n_chars": [len(t) for t in texts],
        }
    ).to_parquet(tmp_path / "documents.parquet")
    got = html_extract_docs(spark, str(tmp_path)).toPandas()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet')"
    )
    want = con.execute(ORACLES["html_extract_docs"]).fetchdf()
    cols = sorted(got.columns)
    got = got[cols].sort_values("doc_id").reset_index(drop=True)
    want = want[cols].sort_values("doc_id").reset_index(drop=True)
    assert got["roundtrip_ok"].all()
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
