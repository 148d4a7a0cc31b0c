"""Snapshot-versioned table: time travel, merge-on-read delete/merge,
atomic commits, expiry. Verifies the Iceberg-parity semantics of
runtime/snapshots.py on a real on-disk table."""

from __future__ import annotations

import hashlib
import json
from collections import Counter
from pathlib import Path

import pytest
from conftest import _jobs
from pyspark.sql import functions as F

from query_cost_feature_engineering_spark.runtime import snapshots as S


def _mk(spark, rows):
    return spark.createDataFrame(rows, ["k", "grp", "val"])


def _as_dict(df):
    return {r["k"]: (r["grp"], r["val"]) for r in df.collect()}


def _file_digests(table_dir, files):
    root = Path(table_dir)
    return {f: hashlib.sha256((root / f).read_bytes()).hexdigest() for f in files}


@pytest.fixture()
def table(tmp_path, spark):
    d = str(tmp_path / "tbl")
    base = _mk(spark, [(i, i % 3, float(i)) for i in range(100)]).repartition(4, "k")
    S.write_snapshot(base, d, mode="overwrite")
    return d


def test_append_and_time_travel(spark, table):
    v1 = S.current_version(table)
    S.write_snapshot(_mk(spark, [(1000, 9, 1.5)]), table, mode="append")
    assert S.current_version(table) == v1 + 1
    assert S.read_table(spark, table).count() == 101
    # time travel: v1 still reads the original 100 rows
    assert S.read_table(spark, table, version=v1).count() == 100
    log = S.snapshot_log(table)
    assert [e["operation"] for e in log] == ["overwrite", "append"]
    assert log[-1]["parent"] == v1


def test_overwrite_keeps_history(spark, table):
    v1 = S.current_version(table)
    S.write_snapshot(_mk(spark, [(1, 1, -1.0)]), table, mode="overwrite")
    assert S.read_table(spark, table).count() == 1
    assert S.read_table(spark, table, version=v1).count() == 100


def test_delete_where_copy_on_write(spark, table):
    v1 = S.current_version(table)
    before = S.snapshot_meta(table, v1)["files"]
    digests_before = _file_digests(table, before)
    res = S.delete_where(spark, table, "grp = 1")
    assert res["rows_deleted"] == 33  # 1,4,...,97
    cur = S.read_table(spark, table)
    assert cur.filter("grp = 1").count() == 0
    assert cur.count() == 67
    # files carried into the new snapshot are byte-identical
    after = S.snapshot_meta(table)["files"]
    carried = [f for f in after if f in digests_before]
    for f in carried:
        assert _file_digests(table, [f])[f] == digests_before[f]
    # time travel still sees the deleted rows
    assert S.read_table(spark, table, version=v1).filter("grp = 1").count() == 33


def test_delete_where_prunes_rewrite_to_affected_files(spark, tmp_path):
    # one file per k-range: deleting k<25 must rewrite exactly 1 of 4 files
    d = str(tmp_path / "pruned")
    df = _mk(spark, [(i, 0, float(i)) for i in range(100)]).repartitionByRange(4, "k")
    S.write_snapshot(df, d, mode="overwrite")
    n_files_before = len(S.snapshot_meta(d)["files"])
    res = S.delete_where(spark, d, "k < 25")
    assert res["files_rewritten"] < n_files_before


def test_merge_upsert_semantics(spark, table):
    # updates: k in {0,1,2} get val*10; inserts: k in {200,201}
    src = _mk(
        spark,
        [(0, 0, 0.0), (1, 1, 10.0), (2, 2, 20.0), (200, 7, -7.0), (201, 8, None)],
    )
    res = S.merge_into(spark, table, src, on=["k"])
    assert res["version"] == S.current_version(table)
    cur = _as_dict(S.read_table(spark, table))
    assert len(cur) == 102
    assert cur[1] == (1, 10.0) and cur[2] == (2, 20.0)
    assert cur[200] == (7, -7.0)
    # matched rows take source values INCLUDING NULL (presence flag, not coalesce)
    assert cur[201] == (8, None)
    # untouched rows unchanged
    assert cur[50] == (50 % 3, 50.0)


def test_relative_table_dir_after_chdir(spark, tmp_path, monkeypatch):
    """A relative ``table_dir`` names a directory under the driver's
    working directory for Spark as well as for the manifest code, also
    after ``os.chdir`` (the JVM's working directory does not follow)."""
    monkeypatch.chdir(tmp_path)
    v = S.write_snapshot(_mk(spark, [(i, 0, 1.0) for i in range(10)]), "rel_tbl")
    assert v["files"] and (tmp_path / "rel_tbl" / v["files"][0]).is_file()
    res = S.merge_into(spark, "rel_tbl", _mk(spark, [(3, 1, 9.0), (50, 1, 2.0)]), on=["k"])
    assert res["rows_added"] == 2 and res["rows_deleted"] == 1
    got = _as_dict(S.read_table(spark, "rel_tbl"))
    assert len(got) == 11 and got[3] == (1, 9.0) and got[0] == (0, 1.0)


def test_empty_source_merge_commits_no_data_file(spark, table):
    """An empty MERGE source commits (recording its writer txn) without
    adding a 0-row data file that every later snapshot would carry."""
    parent = S.snapshot_meta(table, S.current_version(table))
    src = _mk(spark, [(1, 1, 1.0)]).limit(0)
    res = S.merge_into(spark, table, src, on=["k"], txn=("app", 7))
    meta = S.snapshot_meta(table, res["version"])
    assert meta["files"] == parent["files"]
    assert res["rows_added"] == 0 and res["rows_deleted"] == 0
    assert S.txn_version(table, "app") == 7
    assert S.read_table(spark, table).count() == 100


def test_merge_rejects_duplicate_source_keys(spark, table):
    src = _mk(spark, [(1, 0, 0.0), (1, 0, 1.0)])
    with pytest.raises(ValueError, match="duplicate keys"):
        S.merge_into(spark, table, src, on=["k"])


def test_merge_carries_unaffected_files_by_reference(spark, tmp_path):
    d = str(tmp_path / "m")
    df = _mk(spark, [(i, 0, float(i)) for i in range(100)]).repartitionByRange(4, "k")
    S.write_snapshot(df, d, mode="overwrite")
    meta1 = S.snapshot_meta(d)
    digests_before = _file_digests(d, meta1["files"])
    src = _mk(spark, [(3, 9, 99.0)])  # touches exactly one range file
    res = S.merge_into(spark, d, src, on=["k"])
    # merge-on-read: nothing rewritten, every pre-merge file carried
    # byte-identical, the old row of k=3 named by one delete position
    assert res["files_rewritten"] == 0
    assert res["files_carried"] == len(meta1["files"])
    meta2 = S.snapshot_meta(d)
    assert set(meta1["files"]) <= set(meta2["files"])
    assert _file_digests(d, meta1["files"]) == digests_before
    assert res["rows_deleted"] == 1
    assert sum(e["deleted"] for e in meta2["deletes"].values()) == 1
    cur = _as_dict(S.read_table(spark, d))
    assert cur[3] == (9, 99.0) and len(cur) == 100


def test_crash_before_commit_leaves_table_readable(spark, table):
    """Simulate a crash between data write and snapshot commit: orphan
    files appear under data/ but CURRENT and reads are unaffected; expiry
    removes the orphans."""
    v1 = S.current_version(table)
    orphan = S._write_data(_mk(spark, [(5000, 0, 0.0)]), table, v1 + 1)
    assert orphan  # files exist on disk...
    assert S.current_version(table) == v1  # ...but the table is unchanged
    assert S.read_table(spark, table).count() == 100
    res = S.expire_snapshots(table, keep_last=1)
    assert res["data_files_removed"] == len(orphan)
    assert S.read_table(spark, table).count() == 100


def test_expire_snapshots_gc(spark, table):
    v1 = S.current_version(table)
    S.delete_where(spark, table, "grp = 0")
    S.write_snapshot(_mk(spark, [(999, 9, 9.0)]), table, mode="append")
    res = S.expire_snapshots(table, keep_last=1)
    assert v1 in res["snapshots_dropped"]
    # latest still reads fine; expired version no longer readable
    assert S.read_table(spark, table).count() == 100 - 34 + 1  # grp=0: 34 rows
    with pytest.raises(FileNotFoundError):
        S.snapshot_meta(table, v1)


def test_schema_preserved_through_empty_snapshot(spark, tmp_path):
    d = str(tmp_path / "empty")
    S.write_snapshot(_mk(spark, [(1, 1, 1.0)]), d, mode="overwrite")
    S.delete_where(spark, d, "k = 1")
    cur = S.read_table(spark, d)
    assert cur.count() == 0
    assert [f.name for f in cur.schema.fields] == ["k", "grp", "val"]


def test_read_changes_append_fast_path_reads_only_added_files(spark, table):
    """Incremental scan over append-only history touches ONLY the files
    the commits added — never the base table."""
    v1 = S.current_version(table)
    S.write_snapshot(_mk(spark, [(500, 5, 5.0)]), table, mode="append")
    S.write_snapshot(_mk(spark, [(501, 5, 5.5)]), table, mode="append")
    v3 = S.current_version(table)
    ch = S.read_changes(spark, table, v1, v3)
    got = sorted(r.k for r in ch.collect())
    assert got == [500, 501]
    base_files = {
        str(Path(table) / f) for f in S.snapshot_meta(table, v1)["files"]
    }
    touched = {f.removeprefix("file:") for f in ch.inputFiles()}
    assert touched.isdisjoint(base_files)
    # empty range
    assert S.read_changes(spark, table, v3, v3).count() == 0


def test_read_changes_rewrite_falls_back_to_exact_diff(spark, table):
    """A merge in the range forces the row-level diff: carried-over rows
    must NOT appear as changes."""
    v1 = S.current_version(table)
    src = _mk(spark, [(0, 9, -1.0), (700, 7, 7.0)])  # update k=0, insert 700
    S.merge_into(spark, table, src, on=["k"])
    ch = {r.k: (r.grp, r.val) for r in S.read_changes(spark, table, v1).collect()}
    assert ch == {0: (9, -1.0), 700: (7, 7.0)}


def test_schema_evolution_additive_append(spark, table):
    """Appending rows with a NEW column evolves the snapshot schema;
    old files surface the column as null, history keeps the old shape."""
    v1 = S.current_version(table)
    evolved = spark.createDataFrame(
        [(2000, 1, 1.0, "x")], ["k", "grp", "val", "tag"]
    )
    S.write_snapshot(evolved, table, mode="append")
    cur = S.read_table(spark, table)
    assert [f.name for f in cur.schema.fields] == ["k", "grp", "val", "tag"]
    assert cur.count() == 101
    assert cur.filter("tag IS NULL").count() == 100  # old rows
    assert cur.filter("tag = 'x'").count() == 1
    # time travel reads the pre-evolution shape
    old = S.read_table(spark, table, version=v1)
    assert [f.name for f in old.schema.fields] == ["k", "grp", "val"]


def test_schema_evolution_rejects_type_change(spark, table):
    bad = spark.createDataFrame([(1, 1, "not-a-double")], ["k", "grp", "val"])
    with pytest.raises(ValueError, match="additive-only"):
        S.write_snapshot(bad, table, mode="append")


def test_compact_table_rewrites_files_not_rows(spark, table):
    """Many small appended files compact into fewer; rows identical;
    incremental consumers see zero changes across the compaction."""
    for i in range(5):
        S.write_snapshot(
            _mk(spark, [(10_000 + i, 0, float(i))]), table, mode="append"
        )
    v_before = S.current_version(table)
    before = _as_dict(S.read_table(spark, table))
    n_files_before = len(S.snapshot_meta(table)["files"])
    res = S.compact_table(spark, table)
    assert res["files_after"] < n_files_before
    assert res["rows"] == 105
    assert _as_dict(S.read_table(spark, table)) == before
    # history still readable, and the compaction produced no row changes
    assert S.read_table(spark, table, version=v_before).count() == 105
    assert S.read_changes(spark, table, v_before).count() == 0


# --- manifest stats + file pruning + rollback (round 5, session 4) ----------


def _ranged(spark, n=400, buckets=8):
    df = spark.createDataFrame(
        [(i, i % 5, float(i)) for i in range(n)], ["k", "grp", "val"]
    )
    return df.repartitionByRange(buckets, "k")


def test_commit_records_per_file_stats(spark, tmp_path):
    d = str(tmp_path / "tbl")
    S.write_snapshot(_ranged(spark), d, mode="overwrite")
    meta = S.snapshot_meta(d)
    assert set(meta["stats"]) == set(meta["files"])
    ks = [s["k"] for s in meta["stats"].values() if "k" in s]
    assert len(ks) == len(meta["files"])
    # bounds cover exactly the written domain and files are disjoint-ranged
    assert min(s["min"] for s in ks) == 0
    assert max(s["max"] for s in ks) == 399
    spans = sorted((s["min"], s["max"]) for s in ks)
    for (alo, ahi), (blo, bhi) in zip(spans, spans[1:]):
        assert ahi < blo  # repartitionByRange ⇒ non-overlapping key ranges
    for s in ks:
        assert s["null_count"] == 0


def test_pruned_read_is_exact_and_reads_fewer_files(spark, tmp_path):
    d = str(tmp_path / "tbl")
    S.write_snapshot(_ranged(spark), d, mode="overwrite")
    total = len(S.snapshot_meta(d)["files"])
    kept, pruned = S.prune_files(d, [("k", "<=", 30)])
    assert pruned and len(kept) < total
    df = S.read_table(spark, d, where=[("k", "<=", 30)])
    # the Spark scan's file list is the pruned list, not the snapshot's
    assert len(df.inputFiles()) == len(kept)
    expect = {(i, i % 5, float(i)) for i in range(31)}
    assert {(r.k, r.grp, r.val) for r in df.collect()} == expect


def test_prune_point_lookup_keeps_one_file(spark, tmp_path):
    d = str(tmp_path / "tbl")
    S.write_snapshot(_ranged(spark), d, mode="overwrite")
    kept, _ = S.prune_files(d, [("k", "=", 200)])
    assert len(kept) == 1
    got = S.read_table(spark, d, where=[("k", "=", 200)]).collect()
    assert [(r.k, r.grp, r.val) for r in got] == [(200, 0, 200.0)]


def test_prune_conjunction_and_string_bounds(spark, tmp_path):
    d = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(i, f"id_{i:04d}") for i in range(100)], ["k", "name"]
    ).repartitionByRange(4, "k")
    S.write_snapshot(df, d, mode="overwrite")
    kept, pruned = S.prune_files(d, [("k", ">=", 80), ("name", ">=", "id_0080")])
    assert pruned
    got = S.read_table(
        spark, d, where=[("k", ">=", 80), ("name", ">=", "id_0080")]
    )
    assert got.count() == 20


def test_prune_missing_stats_is_conservative(spark, tmp_path):
    """A column with no recorded bounds (all-NULL strings: parquet writes
    no min/max) never prunes; residual filters still make the read exact."""
    d = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(i, None) for i in range(50)], "k int, tag string"
    )
    S.write_snapshot(df, d, mode="overwrite")
    stats = S.snapshot_meta(d)["stats"]
    assert all("tag" not in s for s in stats.values())
    kept, pruned = S.prune_files(d, [("tag", "=", "x")])
    assert not pruned  # cannot prove absence without bounds
    assert S.read_table(spark, d, where=[("tag", "=", "x")]).count() == 0


def test_stats_carry_through_merge_and_survive_pruning(spark, tmp_path):
    """Carried (unrewritten) files keep their original bounds through a
    MERGE, and pruning works across the mixed snapshot."""
    d = str(tmp_path / "tbl")
    S.write_snapshot(_ranged(spark), d, mode="overwrite")
    src = spark.createDataFrame([(5, 99, -1.0)], ["k", "grp", "val"])
    S.merge_into(spark, d, src, on=["k"])
    meta = S.snapshot_meta(d)
    assert set(meta["stats"]) == set(meta["files"])  # carried + rewritten
    # keys ≥ 350 live only in carried files; pruning must still drop most
    kept, pruned = S.prune_files(d, [("k", ">=", 350)])
    assert pruned and len(kept) < len(meta["files"])
    got = S.read_table(spark, d, where=[("k", ">=", 350)])
    assert got.count() == 50
    # and the merged row reads back through an unpruned residual filter
    assert S.read_table(spark, d, where=[("k", "=", 5)]).collect()[0].val == -1.0


def test_prune_rejects_bad_predicates(spark, tmp_path):
    d = str(tmp_path / "tbl")
    S.write_snapshot(_ranged(spark, n=10, buckets=1), d, mode="overwrite")
    with pytest.raises(ValueError, match="predicate"):
        S.prune_files(d, [("k", "!=", 3)])


def test_rollback_restores_old_version_as_new_commit(spark, table):
    v1 = S.current_version(table)
    before = _as_dict(S.read_table(spark, table, version=v1))
    S.write_snapshot(_mk(spark, [(10_000, 9, 9.9)]), table, mode="append")
    S.delete_where(spark, table, "k < 10")
    assert _as_dict(S.read_table(spark, table)) != before
    rec = S.rollback_table(table, v1)
    assert rec["operation"] == "rollback"
    assert _as_dict(S.read_table(spark, table)) == before
    # the bad commits remain time-travel readable, history stays linear
    assert 10_000 in _as_dict(S.read_table(spark, table, version=v1 + 1))
    log = S.snapshot_log(table)
    assert [r["version"] for r in log] == list(range(1, len(log) + 1))
    # pruning still works off the restored stats
    kept, pruned = S.prune_files(table, [("k", "=", 3)])
    assert len(kept) <= len(S.snapshot_meta(table)["files"])


def test_rollback_rejects_future_version(spark, table):
    with pytest.raises(ValueError, match="roll back"):
        S.rollback_table(table, S.current_version(table) + 1)


# --- merge-on-read: position deletes -----------------------------------------


def test_delete_where_keeps_rows_whose_predicate_is_null(spark, tmp_path):
    """SQL DELETE removes a row only where the predicate IS TRUE; a row
    whose predicate is NULL stays, whatever file holds it."""
    d = str(tmp_path / "nulls")
    df = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, 1.0)], "k int, val double"
    ).coalesce(1)
    S.write_snapshot(df, d, mode="overwrite")
    res = S.delete_where(spark, d, "val > 5")
    assert res["rows_deleted"] == 1
    got = sorted((r.k, r.val) for r in S.read_table(spark, d).collect())
    assert got == [(2, None), (3, 1.0)]


def _rows(df):
    return Counter((r.k, r.grp, r.val) for r in df.collect())


def _merge_model(rows, src):
    """Pandas-free MERGE model on a multiset: each live row whose key a
    source row holds becomes that source row; other source rows insert."""
    out = Counter()
    for (k, g, v), n in rows.items():
        if k not in {s[0] for s in src}:
            out[(k, g, v)] += n
    for s in src:
        out[s] += max(sum(n for (k, _, _), n in rows.items() if k == s[0]), 1)
    return out


def test_model_checked_history(spark, tmp_path):
    """Write, three merges, a delete, compaction, rollback and expiry:
    every retained version reads as a model of the table says, a merge's
    read_changes is the model's diff, and expiry keeps every file a
    retained snapshot needs. The merges update k=1 twice in a row and
    k=7, which two target rows hold, twice."""
    d = str(tmp_path / "hist")
    base = [(i, i % 3, float(i)) for i in range(60)] + [(7, 2, 70.0)]
    S.write_snapshot(_mk(spark, base).repartition(3), d, mode="overwrite")
    model = {1: Counter(base)}
    merges = [
        [(1, 9, 100.0), (7, 9, -7.0), (100, 5, 1.0)],
        [(1, 8, 101.0), (100, 6, 2.0), (101, 4, None)],
        [(2, 7, 102.0), (7, 1, -8.0), (102, 3, 3.0)],
    ]
    for src in merges:
        v = S.merge_into(spark, d, _mk(spark, src), on=["k"])["version"]
        model[v] = _merge_model(model[v - 1], src)
        got = _rows(S.read_changes(spark, d, v - 1, v))
        assert got == model[v] - model[v - 1]
    assert sum(n for (k, _, _), n in model[v].items() if k == 7) == 2
    v = S.delete_where(spark, d, "val > 50")["version"]
    model[v] = Counter(
        {r: n for r, n in model[v - 1].items() if not (r[2] is not None and r[2] > 50)}
    )
    v = S.compact_table(spark, d)["version"]
    model[v] = model[v - 1]
    assert S.snapshot_meta(d, v)["deletes"] == {}
    v = S.rollback_table(d, 3)["version"]
    model[v] = model[3]
    for ver, want in model.items():
        assert _rows(S.read_table(spark, d, version=ver)) == want, ver

    res = S.expire_snapshots(d, keep_last=3)
    assert res["snapshots_dropped"] == [1, 2, 3, 4]
    for ver in range(5, v + 1):
        meta = S.snapshot_meta(d, ver)
        needed = set(meta["files"])
        for e in meta["deletes"].values():
            needed |= set(e["files"])
        assert all((Path(d) / f).is_file() for f in needed), ver
        assert _rows(S.read_table(spark, d, version=ver)) == model[ver], ver
    assert res["delete_files_removed"] == 0  # v5 still needs all of them
    assert S.snapshot_meta(d)["deletes"]


def test_commit_summaries_count_written_bytes(spark, tmp_path):
    """Merge, delete and compact commits record rows_deleted, delete_files
    and bytes_written (data and delete bytes apart), matching the files
    on disk, so write amplification reads from snapshot_log alone."""
    d = str(tmp_path / "amp")
    S.write_snapshot(
        _mk(spark, [(i, 0, float(i)) for i in range(200)]).repartition(2),
        d,
        mode="overwrite",
    )

    def on_disk(before, after_meta, kind):
        root = Path(d)
        if kind == "data":
            new = set(after_meta["files"]) - before["files"]
        else:
            new = {
                f for e in after_meta["deletes"].values() for f in e["files"]
            } - before["deletes"]
        return sum((root / f).stat().st_size for f in new), len(new)

    def state():
        meta = S.snapshot_meta(d)
        return {
            "files": set(meta["files"]),
            "deletes": {f for e in meta["deletes"].values() for f in e["files"]},
        }

    for op in (
        lambda: S.merge_into(
            spark, d, _mk(spark, [(3, 1, 0.0), (4, 1, 0.0), (900, 1, 0.0)]), on=["k"]
        ),
        lambda: S.delete_where(spark, d, "k >= 100"),
        lambda: S.compact_table(spark, d),
    ):
        before = state()
        op()
        log = S.snapshot_log(d)[-1]["summary"]
        meta = S.snapshot_meta(d)
        data_bytes, _ = on_disk(before, meta, "data")
        del_bytes, n_del = on_disk(before, meta, "deletes")
        assert log["bytes_written"] == {"data": data_bytes, "deletes": del_bytes}
        assert log["delete_files"] == n_del
    log = S.snapshot_log(d)
    # the delete also takes the merge's insert k=900; compaction folds all 103
    assert [e["summary"]["rows_deleted"] for e in log[1:]] == [2, 101, 103]
    assert [e["summary"]["rows_added"] for e in log[1:]] == [3, 0, 100]
    assert log[1]["summary"]["bytes_written"]["deletes"] > 0
    assert log[2]["summary"]["bytes_written"]["data"] == 0


def test_compaction_rewrites_only_files_where_it_pays(spark, tmp_path):
    """A file with under REWRITE_DELETED_SHARE of its rows deleted keeps
    them as deletes; one above the share is rewritten; a lone small file
    is not a reason to compact; nothing to do commits nothing."""
    d = str(tmp_path / "pays")
    df = _mk(spark, [(i, 0, float(i)) for i in range(100)]).repartitionByRange(2, "k")
    S.write_snapshot(df, d, mode="overwrite")
    stats = S.snapshot_meta(d)["stats"]
    lo, hi = sorted(stats, key=lambda f: stats[f]["k"]["min"])
    S.delete_where(spark, d, "k < 20 OR k = 99")  # 40% of lo, 2% of hi
    before = _rows(S.read_table(spark, d))
    key = "spark.sql.files.openCostInBytes"
    spark.conf.set(key, "1")  # no file counts as small
    try:
        res = S.compact_table(spark, d)
        assert res["files_rewritten"] == 1 and res["rows_deleted"] == 20
        meta = S.snapshot_meta(d)
        assert lo not in meta["files"] and hi in meta["files"]
        assert meta["deletes"][hi]["deleted"] == 1
        assert _rows(S.read_table(spark, d)) == before
        v = S.current_version(d)
        assert S.compact_table(spark, d)["version"] == v  # nothing pays off
    finally:
        spark.conf.unset(key)
    assert S.current_version(d) == v


def test_deletes_read_as_local_relation_and_job_budgets(spark, tmp_path):
    """Plan guard: with deletes, read_table runs no Spark job while it
    builds the plan, and the anti-join's build side is a LocalTableScan
    (a scan of the delete files would add a job to every evaluation of
    the input). merge_into launches at most 3 jobs; compact_table runs no
    count() job."""
    d = str(tmp_path / "plan")
    base = _mk(spark, [(i, i % 3, float(i)) for i in range(300)]).repartition(3)
    S.write_snapshot(base, d, mode="overwrite")
    src_dir = str(tmp_path / "src")
    _mk(spark, [(i, 9, -1.0) for i in range(0, 400, 7)]).write.parquet(src_dir)
    src = spark.read.parquet(src_dir)
    _, n_merge, _ = _jobs(
        spark, "mor-merge", lambda: S.merge_into(spark, d, src, on=["k"])
    )
    assert n_merge <= 3

    df, n_plan, _ = _jobs(spark, "mor-plan", lambda: S.read_table(spark, d))
    assert n_plan == 0
    assert len(df.collect()) == 300 + sum(1 for k in range(0, 400, 7) if k >= 300)
    lines = df._jdf.queryExecution().executedPlan().toString().splitlines()
    builds = [i for i, s in enumerate(lines) if "BroadcastExchange" in s]
    assert builds
    assert all("LocalTableScan" in lines[i + 1] for i in builds)

    # the old compaction counted rows twice (four jobs under AQE) beside
    # its write; now: the deletes' broadcast and the write
    res, n_compact, _ = _jobs(spark, "mor-compact", lambda: S.compact_table(spark, d))
    assert res["files_rewritten"] and n_compact <= 2
