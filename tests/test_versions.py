"""Snapshot-versioned table: time travel, append sharing, crash
invisibility, vacuum, and commit-race retry (SURVEY §2 #146)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from etl_dag_spark.sources.versions import (
    _load_manifest,
    alter_table_constraints,
    apply_cdc_version,
    delete_version,
    history,
    merge_delete_version,
    merge_update_version,
    merge_version,
    read_version,
    update_version,
    vacuum,
    write_version,
)


def _rows(df):
    return sorted((r.k, r.v) for r in df.collect())


@pytest.fixture()
def table(spark, tmp_path):
    path = str(tmp_path / "tbl")
    base = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    assert write_version(base, path, op="overwrite") == 1
    delta = spark.createDataFrame([(3, "c")], "k int, v string")
    assert write_version(delta, path, op="append") == 2
    repl = spark.createDataFrame([(9, "z")], "k int, v string")
    assert write_version(repl, path, op="overwrite") == 3
    return path


def test_time_travel_reads_every_snapshot(spark, table):
    assert _rows(read_version(spark, table, 1)) == [(1, "a"), (2, "b")]
    assert _rows(read_version(spark, table, 2)) == [(1, "a"), (2, "b"), (3, "c")]
    assert _rows(read_version(spark, table, 3)) == [(9, "z")]
    # latest == highest version
    assert _rows(read_version(spark, table)) == [(9, "z")]
    with pytest.raises(FileNotFoundError):
        read_version(spark, table, 7)


def test_append_shares_parent_files_without_copying(spark, table):
    m1, m2 = _load_manifest(table, 1), _load_manifest(table, 2)
    assert set(m1["files"]) < set(m2["files"])  # parent files reused as-is
    assert len(m2["files"]) > len(m1["files"])
    # commit wall-times (r14 TIMESTAMP AS OF) ride along, monotone
    hist = history(table)
    tss = [h.pop("ts") for h in hist]
    assert tss == sorted(tss) and all(t > 0 for t in tss)
    assert hist == [
        {"version": 1, "parent": 0, "op": "overwrite", "n_files": len(m1["files"])},
        {"version": 2, "parent": 1, "op": "append", "n_files": len(m2["files"])},
        {
            "version": 3,
            "parent": 2,
            "op": "overwrite",
            "n_files": len(_load_manifest(table, 3)["files"]),
        },
    ]


def test_unmanifested_data_is_invisible(spark, table):
    """A crashed writer leaves a data dir with no manifest — readers at
    every version are unaffected."""
    orphan = spark.createDataFrame([(99, "crash")], "k int, v string")
    orphan.write.parquet(os.path.join(table, "data", "orphan_run"))
    assert _rows(read_version(spark, table)) == [(9, "z")]
    assert _rows(read_version(spark, table, 2)) == [(1, "a"), (2, "b"), (3, "c")]


def test_vacuum_drops_old_versions_but_keeps_shared_files(spark, table):
    # default retention spares young unreferenced dirs (a concurrent
    # writer's not-yet-committed files look exactly like this): the
    # v1 manifest drops, but no data is reclaimed yet
    n_dirs = len(os.listdir(os.path.join(table, "data")))
    dropped = vacuum(table, keep_last=2)
    assert dropped == [1]
    assert len(os.listdir(os.path.join(table, "data"))) == n_dirs

    # age 0 = operator asserts no writer in flight → reclaim
    assert vacuum(table, keep_last=2, min_age_seconds=0) == []
    with pytest.raises(FileNotFoundError):
        read_version(spark, table, 1)
    # v2 shares v1's physical files; vacuum must keep them because a
    # SURVIVING manifest still lists them
    assert _rows(read_version(spark, table, 2)) == [(1, "a"), (2, "b"), (3, "c")]
    assert _rows(read_version(spark, table, 3)) == [(9, "z")]
    # orphaned data dirs (no surviving manifest) are reclaimed
    data_dirs = set(os.listdir(os.path.join(table, "data")))
    kept = {
        os.path.basename(os.path.dirname(f))
        for v in (2, 3)
        for f in _load_manifest(table, v)["files"]
    }
    assert data_dirs == kept


def test_commit_race_retries_to_next_version(spark, table):
    """Another writer claims version 4 first → this writer lands at 5."""
    schema_json = read_version(spark, table).schema.json()
    os.makedirs(os.path.join(table, "_manifests"), exist_ok=True)
    with open(os.path.join(table, "_manifests", "v00000004.json"), "w") as f:
        json.dump(
            {
                "version": 4,
                "parent": 3,
                "op": "overwrite",
                "files": [],
                "schema": schema_json,
            },
            f,
        )
    late = spark.createDataFrame([(5, "e")], "k int, v string")
    assert write_version(late, table, op="append") == 5
    # append chained onto the racing writer's (empty) version 4
    assert _rows(read_version(spark, table, 5)) == [(5, "e")]


def test_empty_snapshot_keeps_schema(spark, tmp_path):
    path = str(tmp_path / "empty_tbl")
    df = spark.createDataFrame([], "k int, v string")
    assert write_version(df, path) == 1
    got = read_version(spark, path)
    assert got.count() == 0
    assert [f.name for f in got.schema.fields] == ["k", "v"]


def test_rollback_is_a_read_plus_overwrite(spark, table):
    """The operational move the module exists for: a bad load (v3)
    rolls back by committing v2's content as v4."""
    good = read_version(spark, table, 2)
    v = write_version(good, table, op="overwrite")
    assert v == 4
    assert _rows(read_version(spark, table)) == [(1, "a"), (2, "b"), (3, "c")]


def test_data_skipping_prunes_files_before_spark_opens_them(spark, tmp_path):
    path = str(tmp_path / "skip_tbl")
    df = (
        spark.range(0, 1000)
        .select(F.col("id").cast("int").alias("k"), (F.col("id") * 2).alias("v"))
        .repartitionByRange(10, "k")
    )
    write_version(df, path, stats_cols=["k"])
    full = read_version(spark, path)
    assert len(full.inputFiles()) == 10

    pruned = read_version(spark, path, between=("k", 100, 150))
    # range layout → the predicate's span lives in 1-2 files; the
    # manifest stats prove the other 8+ hold nothing and they are
    # dropped BEFORE Spark opens them
    assert len(pruned.inputFiles()) <= 2
    assert sorted(r.k for r in pruned.collect()) == list(range(100, 151))


def test_data_skipping_keeps_statless_files(spark, tmp_path):
    """Files committed without stats are conservatively kept."""
    path = str(tmp_path / "mixed_tbl")
    a = spark.createDataFrame([(1, "a")], "k int, v string")
    b = spark.createDataFrame([(1000, "z")], "k int, v string")
    write_version(a, path, stats_cols=["k"])
    write_version(b, path, op="append")  # no stats on the delta
    got = read_version(spark, path, between=("k", 900, 1100))
    assert sorted((r.k, r.v) for r in got.collect()) == [(1000, "z")]


def test_txn_id_makes_append_replay_a_noop(spark, tmp_path):
    path = str(tmp_path / "txn_tbl")
    base = spark.createDataFrame([(1, "a")], "k int, v string")
    write_version(base, path)
    delta = spark.createDataFrame([(2, "b")], "k int, v string")
    v1 = write_version(delta, path, op="append", txn_id="batch-7")
    v2 = write_version(delta, path, op="append", txn_id="batch-7")  # replay
    assert v1 == v2 == 2
    assert _rows(read_version(spark, path)) == [(1, "a"), (2, "b")]
    # a NEW txn still commits
    v3 = write_version(delta, path, op="append", txn_id="batch-8")
    assert v3 == 3
    assert _rows(read_version(spark, path)) == [(1, "a"), (2, "b"), (2, "b")]


def test_txn_replay_survives_interleaved_writers(spark, tmp_path):
    """The Delta-style per-writer txn map: a replayed commit is a no-op
    even after ANOTHER writer committed in between (the tip-only check
    double-appended here), and two writers using the same txn NAME
    never mask each other (the shared-table streaming data-loss mode)."""
    path = str(tmp_path / "txn_multi")
    row = spark.createDataFrame([(1, "x")], "k int, v string")
    write_version(row, path)
    va = write_version(row, path, op="append", txn_id="batch-0", writer_id="A")
    # writer B lands batch-0 right after A's batch-0 — MUST commit,
    # not be skipped as A's replay
    vb = write_version(row, path, op="append", txn_id="batch-0", writer_id="B")
    assert vb == va + 1
    # A replays batch-0 AFTER B's interleaved commit — must be a no-op
    v_replay = write_version(row, path, op="append", txn_id="batch-0", writer_id="A")
    assert v_replay == vb
    assert read_version(spark, path).count() == 3
    # the map survives an overwrite commit too (txns carry forward)
    write_version(row, path, op="overwrite")
    v_replay2 = write_version(row, path, op="append", txn_id="batch-0", writer_id="B")
    assert v_replay2 == vb + 1  # still the tip: replay skipped
    assert read_version(spark, path).count() == 1


def test_read_version_delta_returns_only_new_rows(spark, tmp_path):
    path = str(tmp_path / "delta_tbl")
    write_version(spark.createDataFrame([(1, "a")], "k int, v string"), path)
    write_version(
        spark.createDataFrame([(2, "b")], "k int, v string"), path, op="append"
    )
    write_version(
        spark.createDataFrame([(3, "c")], "k int, v string"), path, op="append"
    )
    from etl_dag_spark.sources.versions import read_version_delta

    assert _rows(read_version_delta(spark, path, 1)) == [(2, "b"), (3, "c")]
    assert _rows(read_version_delta(spark, path, 1, 2)) == [(2, "b")]
    assert _rows(read_version_delta(spark, path, 2, 3)) == [(3, "c")]
    assert read_version_delta(spark, path, 3, 3).count() == 0
    # overwrite breaks file-diff semantics → explicit refusal
    write_version(spark.createDataFrame([(9, "z")], "k int, v string"), path)
    with pytest.raises(ValueError, match="overwrite"):
        read_version_delta(spark, path, 1)


def test_compact_version_preserves_rows_and_shrinks_files(spark, tmp_path):
    path = str(tmp_path / "opt_tbl")
    for i in range(5):  # 5 micro-batch-ish appends → many small files
        write_version(
            spark.createDataFrame([(i, f"v{i}")], "k int, v string"),
            path,
            op="append",
        )
    from etl_dag_spark.sources.versions import compact_version

    before = read_version(spark, path)
    n_files_before = len(before.inputFiles())
    rows_before = _rows(before)
    v = compact_version(spark, path, target_files=1)
    assert v == 6
    after = read_version(spark, path)
    assert _rows(after) == rows_before
    assert len(after.inputFiles()) == 1 < n_files_before
    # pre-compaction snapshots still time-travel
    assert len(_rows(read_version(spark, path, 5))) == 5


def test_merge_version_commits_upsert_as_snapshot(spark, tmp_path):
    """VERDICT r10 #4: MERGE lands as a snapshot commit — touched files
    are rewritten and replaced in the manifest, untouched files are
    SHARED with the parent, time travel sees the pre-merge table, CDC
    between the two versions is exactly the upserted keys, and a txn
    replay of the same merge batch is a manifest no-op."""
    from etl_dag_spark.sources.versions import (
        cdc_rows,
        history,
        merge_version,
        read_version_delta,
    )

    path = str(tmp_path / "merge_tbl")
    base = spark.createDataFrame(
        [(k, f"v{k}", 1) for k in range(1, 7)], "k int, v string, ts int"
    ).repartition(3, "k")
    write_version(base, path)  # v1, 3 files
    upd = spark.createDataFrame(
        [(2, "V2", 5), (10, "v10", 5)], "k int, v string, ts int"
    )
    v = merge_version(
        spark, path, upd, ["k"], "ts", txn_id="m-1", writer_id="W"
    )
    assert v == 2
    after = {(r.k, r.v) for r in read_version(spark, path).collect()}
    assert after == {(1, "v1"), (2, "V2"), (3, "v3"), (4, "v4"),
                     (5, "v5"), (6, "v6"), (10, "v10")}
    # time travel: the pre-merge snapshot is untouched
    before = {(r.k, r.v) for r in read_version(spark, path, 1).collect()}
    assert before == {(k, f"v{k}") for k in range(1, 7)}
    # untouched files are shared between the snapshots, replaced ones
    # recorded and dropped (resolved view: r12 manifests store deltas)
    import json as _json

    m1 = _load_manifest(path, 1)
    m2 = _load_manifest(path, 2)
    assert m2["op"] == "merge"
    assert set(m2["replaced"]) <= set(m1["files"])
    shared = set(m1["files"]) & set(m2["files"])
    assert shared == set(m1["files"]) - set(m2["replaced"])
    assert len(m2["replaced"]) < len(m1["files"])  # partial rewrite
    # CDC across the merge: exactly the upserted keys, touched files only
    got = sorted(
        (r.k, r.v, r._change_type)
        for r in cdc_rows(spark, path, 1, 2, key_cols=["k"]).collect()
    )
    assert got == [
        (2, "V2", "update_postimage"),
        (2, "v2", "update_preimage"),
        (10, "v10", "insert"),
    ]
    # merge lineage refuses the insert-only file diff
    with pytest.raises(ValueError, match="merge"):
        read_version_delta(spark, path, 1)
    # crash replay of the same merge batch: manifest no-op
    v_replay = merge_version(
        spark, path, upd, ["k"], "ts", txn_id="m-1", writer_id="W"
    )
    assert v_replay == 2
    assert [m["version"] for m in history(path)] == [1, 2]
    # merging into an empty table seeds version 1 with the deduped batch
    p2 = str(tmp_path / "merge_fresh")
    assert merge_version(spark, p2, upd, ["k"], "ts") == 1
    assert {(r.k, r.v) for r in read_version(spark, p2).collect()} == {
        (2, "V2"), (10, "v10"),
    }


def test_merge_version_preserves_manifest_stat_pruning(spark, tmp_path):
    """A merge rewrite keeps per-file min/max stats for the columns the
    parent tracked, so read_version(between=...) still prunes files at
    the manifest level after an upsert."""
    from etl_dag_spark.sources.versions import merge_version

    path = str(tmp_path / "merge_stats_tbl")
    base = spark.createDataFrame(
        [(k, k * 10, 1) for k in range(1, 9)], "k int, x int, ts int"
    ).repartitionByRange(4, "k")
    write_version(base, path, stats_cols=["k"])
    upd = spark.createDataFrame([(3, 999, 5)], "k int, x int, ts int")
    v = merge_version(spark, path, upd, ["k"], "ts")
    narrow = read_version(spark, path, v, between=("k", 7, 8))
    assert len(narrow.inputFiles()) < len(
        read_version(spark, path, v).inputFiles()
    )
    assert {r.k for r in narrow.collect()} == {7, 8}
    assert {r.x for r in read_version(spark, path, v, between=("k", 3, 3)).collect()} == {999}


def test_schema_evolution_added_and_renamed_columns(spark, tmp_path):
    """VERDICT r10 #5: commit an append that ADDS a column and one that
    RENAMES a column without rewriting history — old snapshots read
    with their own schema, the latest reads the reconciled union
    (legacy files' renamed values carried, missing fields as NULLs),
    and the manifest records per-version schema + the cumulative
    rename map."""
    import json as _json

    from etl_dag_spark.sources.versions import read_version_delta

    path = str(tmp_path / "evolve_tbl")
    write_version(
        spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"), path
    )  # v1: (k, v)
    # v2: append ADDS column 'score'
    write_version(
        spark.createDataFrame([(3, "c", 30)], "k int, v string, score int"),
        path,
        op="append",
    )
    # v3: append RENAMES v -> label (and keeps score)
    write_version(
        spark.createDataFrame(
            [(4, "d", 40)], "k int, label string, score int"
        ),
        path,
        op="append",
        rename={"v": "label"},
    )
    # old snapshots read with their OWN schema
    assert sorted(read_version(spark, path, 1).columns) == ["k", "v"]
    assert _rows(read_version(spark, path, 1)) == [(1, "a"), (2, "b")]
    v2 = read_version(spark, path, 2)
    assert sorted(v2.columns) == ["k", "score", "v"]
    assert sorted((r.k, r.v, r.score) for r in v2.collect()) == [
        (1, "a", None), (2, "b", None), (3, "c", 30),
    ]
    # the latest reads the union under the CURRENT names: legacy 'v'
    # values surface as 'label', pre-'score' rows as NULL
    tip = read_version(spark, path)
    assert sorted(tip.columns) == ["k", "label", "score"]
    assert sorted((r.k, r.label, r.score) for r in tip.collect()) == [
        (1, "a", None), (2, "b", None), (3, "c", 30), (4, "d", 40),
    ]
    # manifests: per-version schema + cumulative rename map
    m2 = _json.load(open(f"{path}/_manifests/v00000002.json"))
    m3 = _json.load(open(f"{path}/_manifests/v00000003.json"))
    assert m2["evolved"] and "rename" not in m2
    assert m3["rename"] == {"v": "label"}
    assert "label" in m3["schema"] and "label" not in m2["schema"]
    # incremental read across the evolution: each append under its own
    # schema, reconciled to the tip's
    delta = read_version_delta(spark, path, 1)
    assert sorted((r.k, r.label, r.score) for r in delta.collect()) == [
        (3, "c", 30), (4, "d", 40),
    ]


def test_schema_evolution_merge_and_optimize_reset(spark, tmp_path):
    """A merge into an evolved table reconciles legacy files before the
    keyed rewrite; an OPTIMIZE rewrites every file under the current
    schema and RESETS the schema debt (evolved flag + rename map),
    restoring the pinned-schema fast read path."""
    import json as _json

    from etl_dag_spark.sources.versions import compact_version, merge_version

    path = str(tmp_path / "evolve_merge_tbl")
    write_version(
        spark.createDataFrame([(1, "a", 1), (2, "b", 1)], "k int, v string, ts int"),
        path,
    )
    write_version(
        spark.createDataFrame(
            [(3, "c", 1, 30)], "k int, label string, ts int, score int"
        ),
        path,
        op="append",
        rename={"v": "label"},
    )
    upd = spark.createDataFrame(
        [(2, "B", 5, 20), (9, "z", 5, 90)], "k int, label string, ts int, score int"
    )
    v = merge_version(spark, path, upd, ["k"], "ts")
    got = sorted(
        (r.k, r.label, r.score) for r in read_version(spark, path, v).collect()
    )
    assert got == [(1, "a", None), (2, "B", 20), (3, "c", 30), (9, "z", 90)]
    m = _json.load(open(f"{path}/_manifests/v{v:08d}.json"))
    assert m["evolved"] and m["rename"] == {"v": "label"}  # debt persists
    # CDC across the evolved merge: exactly the upserted keys, with the
    # old side's legacy names mapped to the tip's
    from etl_dag_spark.sources.versions import cdc_rows

    changes = sorted(
        (r.k, r.label, r.score, r._change_type)
        for r in cdc_rows(spark, path, 2, v, key_cols=["k"]).collect()
    )
    assert changes == [
        (2, "B", 20, "update_postimage"),
        (2, "b", None, "update_preimage"),
        (9, "z", 90, "insert"),
    ]
    v2 = compact_version(spark, path, target_files=1)
    m2 = _json.load(open(f"{path}/_manifests/v{v2:08d}.json"))
    assert "evolved" not in m2 and "rename" not in m2  # debt compacted
    assert sorted(
        (r.k, r.label, r.score) for r in read_version(spark, path, v2).collect()
    ) == got


def test_incremental_reads_survive_an_optimize_boundary(spark, tmp_path):
    """ADVICE r10: OPTIMIZE commits op="optimize" (row-preserving,
    Delta dataChange=false), so read_version_delta / cdc_rows keep
    working across a compaction instead of raising — the delta is the
    union of each append's own file additions, never the rewrite."""
    path = str(tmp_path / "opt_delta_tbl")
    for i in range(3):  # v1 (overwrite) + v2, v3 (appends)
        write_version(
            spark.createDataFrame([(i, f"v{i}")], "k int, v string"),
            path,
            op="append" if i else "overwrite",
        )
    from etl_dag_spark.sources.versions import (
        cdc_rows,
        compact_version,
        history,
        read_version_delta,
    )

    assert compact_version(spark, path, target_files=1) == 4
    write_version(
        spark.createDataFrame([(9, "v9")], "k int, v string"), path, op="append"
    )  # v5
    assert history(path)[-2]["op"] == "optimize"
    # spans the optimize: appended rows only, no rewritten-file rows
    assert _rows(read_version_delta(spark, path, 1)) == [
        (1, "v1"), (2, "v2"), (9, "v9"),
    ]
    # ends AT the optimize: the appends before it, nothing from it
    assert _rows(read_version_delta(spark, path, 1, 4)) == [(1, "v1"), (2, "v2")]
    # starts at the optimize: only the post-compaction append
    assert _rows(read_version_delta(spark, path, 4)) == [(9, "v9")]
    # CDC fast path treats the lineage as row-preserving
    assert sorted(
        (r.k, r.v, r._change_type) for r in cdc_rows(spark, path, 3).collect()
    ) == [(9, "v9", "insert")]
    # a true overwrite still refuses
    write_version(spark.createDataFrame([(0, "z")], "k int, v string"), path)
    with pytest.raises(ValueError, match="overwrite"):
        read_version_delta(spark, path, 1)


def test_cdc_append_only_fast_path_is_all_inserts(spark, tmp_path):
    path = str(tmp_path / "cdc_app")
    write_version(spark.createDataFrame([(1, "a")], "k int, v string"), path)
    write_version(
        spark.createDataFrame([(2, "b")], "k int, v string"), path, op="append"
    )
    from etl_dag_spark.sources.versions import cdc_rows

    got = cdc_rows(spark, path, 1)  # no keys needed on append lineage
    assert [(r.k, r.v, r._change_type) for r in got.collect()] == [
        (2, "b", "insert")
    ]


def test_cdc_across_overwrite_classifies_every_change(spark, tmp_path):
    path = str(tmp_path / "cdc_ow")
    v1 = spark.createDataFrame(
        [(1, "keep"), (2, "old"), (3, "gone"), (4, None)],
        "k int, v string",
    )
    write_version(v1, path)
    v2 = spark.createDataFrame(
        [(1, "keep"), (2, "new"), (5, "fresh"), (4, None)],
        "k int, v string",
    )
    write_version(v2, path)
    from etl_dag_spark.sources.versions import cdc_rows

    got = sorted(
        (r.k, r.v, r._change_type)
        for r in cdc_rows(spark, path, 1, 2, key_cols=["k"]).collect()
    )
    # unchanged (1) and NULL-equal (4) rows emit nothing
    assert got == [
        (2, "new", "update_postimage"),
        (2, "old", "update_preimage"),
        (3, "gone", "delete"),
        (5, "fresh", "insert"),
    ]
    with pytest.raises(ValueError, match="key_cols"):
        cdc_rows(spark, path, 1, 2)


def test_optimize_zorder_clusters_and_prunes_on_both_columns(spark, tmp_path):
    """OPTIMIZE ZORDER (r10): compacting with zorder_by rewrites the
    snapshot z-clustered and records clustered-column stats, so
    read_version(between=...) prunes files on EITHER column at the
    manifest level; rows are identical and old versions untouched."""
    from etl_dag_spark.sources.versions import compact_version

    path = str(tmp_path / "zopt_tbl")
    # ingest debris: 4 appends, each randomly ordered in (x, y)
    for i in range(4):
        batch = (
            spark.range(i * 1024, (i + 1) * 1024)
            .select(
                F.col("id").alias("rid"),
                F.pmod(F.xxhash64(F.col("id")), F.lit(64)).alias("x"),
                F.pmod(F.xxhash64(F.col("id") + 7), F.lit(64)).alias("y"),
            )
            .repartition(4)
        )
        write_version(batch, path, op="append" if i else "overwrite")

    before = read_version(spark, path)
    n_before = len(before.inputFiles())
    rows_before = sorted(
        (r.rid, r.x, r.y) for r in before.collect()
    )
    # pre-compaction: no stats were recorded -> between keeps all files
    assert len(
        read_version(spark, path, between=("x", 3, 4)).inputFiles()
    ) == n_before

    v = compact_version(spark, path, target_files=16, zorder_by=["x", "y"])
    after = read_version(spark, path)
    assert sorted((r.rid, r.x, r.y) for r in after.collect()) == rows_before
    assert len(after.inputFiles()) == 16
    # pre-compaction snapshot still time-travels with its own files
    assert len(read_version(spark, path, v - 1).inputFiles()) == n_before

    # a narrow predicate on EITHER z-ordered column opens a strict
    # minority of the 16 files (z-order: both columns prune; margins
    # generous for range-sampling jitter, cf. test_layout)
    for col in ("x", "y"):
        pruned = read_version(spark, path, between=(col, 3, 4))
        assert len(pruned.inputFiles()) <= 8, (col, len(pruned.inputFiles()))
        assert sorted((r.rid, r.x, r.y) for r in pruned.collect()) == [
            t for t in rows_before if 3 <= (t[1] if col == "x" else t[2]) <= 4
        ]


def test_delete_version_commits_partial_rewrite(spark, tmp_path):
    """DELETE FROM as a snapshot commit (r11): only files holding a
    matching row are rewritten, untouched files are shared with the
    parent, NULL-predicate rows SURVIVE (SQL DELETE semantics), time
    travel sees the pre-delete table, CDC shows exactly the deleted
    rows, and a txn replay is a manifest no-op."""
    from etl_dag_spark.sources.versions import (
        cdc_rows,
        delete_version,
        history,
        read_version_delta,
    )

    path = str(tmp_path / "del_tbl")
    base = spark.createDataFrame(
        [(1, 10), (2, None), (3, 30), (4, 40), (5, 50), (6, 60)],
        "k int, x int",
    ).repartition(3, "k")
    write_version(base, path)  # v1, 3 files
    v = delete_version(
        spark, path, F.col("x") > 35, txn_id="d-1", writer_id="W"
    )
    assert v == 2
    # x=NULL row survives: the predicate is not TRUE for it
    after = {(r.k, r.x) for r in read_version(spark, path).collect()}
    assert after == {(1, 10), (2, None), (3, 30)}
    before = {(r.k, r.x) for r in read_version(spark, path, 1).collect()}
    assert before == {(1, 10), (2, None), (3, 30), (4, 40), (5, 50), (6, 60)}
    m1, m2 = _load_manifest(path, 1), _load_manifest(path, 2)
    assert m2["op"] == "delete"
    assert set(m2["replaced"]) <= set(m1["files"])
    assert set(m1["files"]) & set(m2["files"]) == set(m1["files"]) - set(
        m2["replaced"]
    )
    got = sorted(
        (r.k, r.x, r._change_type)
        for r in cdc_rows(spark, path, 1, 2, key_cols=["k"]).collect()
    )
    assert got == [(4, 40, "delete"), (5, 50, "delete"), (6, 60, "delete")]
    with pytest.raises(ValueError, match="delete"):
        read_version_delta(spark, path, 1)
    # replay: manifest no-op
    assert delete_version(
        spark, path, F.col("x") > 35, txn_id="d-1", writer_id="W"
    ) == 2
    assert [m["version"] for m in history(path)] == [1, 2]
    # SQL-string predicate + empty match still commits (txn token lands)
    v3 = delete_version(spark, path, "x > 999", txn_id="d-2", writer_id="W")
    assert v3 == 3
    assert _load_manifest(path, 3)["replaced"] == []
    assert {(r.k, r.x) for r in read_version(spark, path).collect()} == after


def test_delete_version_keeps_stat_pruning_and_survives_evolution(
    spark, tmp_path
):
    """The delete rewrite keeps per-file min/max stats the parent
    tracked, and deleting across an evolved lineage (added column)
    reconciles legacy files before applying the predicate."""
    from etl_dag_spark.sources.versions import delete_version

    path = str(tmp_path / "del_stats_tbl")
    base = spark.createDataFrame(
        [(k, k * 10) for k in range(1, 9)], "k int, x int"
    ).repartitionByRange(4, "k")
    write_version(base, path, stats_cols=["k"])
    v = delete_version(spark, path, "k = 3")
    narrow = read_version(spark, path, v, between=("k", 7, 8))
    assert len(narrow.inputFiles()) < len(
        read_version(spark, path, v).inputFiles()
    )
    assert {r.k for r in read_version(spark, path).collect()} == {
        1, 2, 4, 5, 6, 7, 8,
    }
    # evolved lineage: append a batch with an extra column, then delete
    # on the NEW column — legacy files read as typed NULLs and survive
    extra = spark.createDataFrame([(100, 1000, "hot")], "k int, x int, tag string")
    write_version(extra, path, op="append")
    v2 = delete_version(spark, path, "tag = 'hot'")
    got = {(r.k, r.tag) for r in read_version(spark, path, v2).collect()}
    assert (100, "hot") not in got
    assert {k for k, _ in got} == {1, 2, 4, 5, 6, 7, 8}


def test_restore_version_is_a_manifest_only_rollback(spark, tmp_path):
    """RESTORE (r11): rolling back to an earlier snapshot commits a new
    manifest that LISTS the old files — zero data copied — history is
    preserved (the restore is itself revertible), CDC across the
    restore classifies the undone changes, a replay is a no-op, and a
    vacuumed target fails fast."""
    from etl_dag_spark.sources.versions import (
        cdc_rows,
        delete_version,
        history,
        restore_version,
    )

    path = str(tmp_path / "restore_tbl")
    base = spark.createDataFrame(
        [(k, k * 10) for k in range(1, 7)], "k int, x int"
    ).repartition(3, "k")
    write_version(base, path)            # v1
    delete_version(spark, path, "k >= 5")  # v2
    v = restore_version(path, 1, txn_id="r-1", writer_id="W")
    assert v == 3
    m1, m3 = _load_manifest(path, 1), _load_manifest(path, 3)
    assert m3["op"] == "restore" and m3["restored_from"] == 1
    assert m3["files"] == m1["files"]  # zero data copied
    assert _rows2(read_version(spark, path)) == _rows2(
        read_version(spark, path, 1)
    )
    # every intermediate snapshot still addressable
    assert {r.k for r in read_version(spark, path, 2).collect()} == {1, 2, 3, 4}
    # CDC across the restore: the undone deletes come back as inserts
    got = sorted(
        (r.k, r._change_type)
        for r in cdc_rows(spark, path, 2, 3, key_cols=["k"]).collect()
    )
    assert got == [(5, "insert"), (6, "insert")]
    # replay no-op; restore-to-tip no-op
    assert restore_version(path, 1, txn_id="r-1", writer_id="W") == 3
    assert [m["version"] for m in history(path)] == [1, 2, 3]
    assert restore_version(path, 3) == 3
    # the restored files are tip-referenced: vacuum keeps them
    vacuum(path, keep_last=1, min_age_seconds=0.0)
    assert {r.k for r in read_version(spark, path).collect()} == {
        1, 2, 3, 4, 5, 6,
    }
    # ...and a target whose manifest was vacuumed fails fast
    with pytest.raises(ValueError, match="vacuumed"):
        restore_version(path, 2)


def _rows2(df):
    return sorted((r.k, r.x) for r in df.collect())


def test_erasure_on_a_versioned_table_requires_vacuuming_history(
    spark, tmp_path
):
    """Right-to-be-forgotten on a TIME-TRAVEL table (r11): a
    delete_version commit removes the subject's rows from the tip, but
    every older snapshot still holds them — physical erasure needs the
    history dropped too, exactly Delta's documented GDPR procedure
    (DELETE + VACUUM the retention window). Pins both halves: the
    delete's NULL-key survival (the forget_keys bug class) and that
    vacuum(keep_last=1, 0s) makes the erased rows UNREADABLE at any
    version."""
    from etl_dag_spark.sources.versions import delete_version

    path = str(tmp_path / "gdpr_tbl")
    base = spark.createDataFrame(
        [(1, "keep"), (2, "erase-me"), (None, "null-key"), (4, "erase-me")],
        "user_id int, payload string",
    ).repartition(2)
    write_version(base, path)
    doomed = [2, 4]
    v = delete_version(spark, path, F.col("user_id").isin(doomed))
    tip = {(r.user_id, r.payload) for r in read_version(spark, path).collect()}
    assert tip == {(1, "keep"), (None, "null-key")}
    # history still leaks the subject: time travel reads the erased rows
    assert (2, "erase-me") in {
        (r.user_id, r.payload) for r in read_version(spark, path, 1).collect()
    }
    dropped = vacuum(path, keep_last=1, min_age_seconds=0.0)
    assert dropped == [1]
    import pytest as _pt

    with _pt.raises(FileNotFoundError):
        read_version(spark, path, 1)
    # the tip file set no longer contains any erased row anywhere
    m = _load_manifest(path, v)
    remaining = spark.read.parquet(*m["files"])
    assert {(r.user_id, r.payload) for r in remaining.collect()} == tip


def test_apply_cdc_version_mixed_batch(spark, tmp_path):
    """Debezium-style CDC apply (r11): one batch mixing inserts,
    updates, and delete tombstones lands as ONE merge snapshot —
    per-key latest order wins, an equal-instant DELETE beats the
    upsert, deletes of unknown keys are no-ops, time travel sees the
    pre-batch table, CDC classifies every change, and a replayed batch
    is a manifest no-op."""
    from etl_dag_spark.sources.versions import apply_cdc_version, cdc_rows, history

    path = str(tmp_path / "cdc_tbl")
    base = spark.createDataFrame(
        [(k, f"v{k}", 1) for k in range(1, 7)], "k int, v string, ts int"
    ).repartition(3, "k")
    write_version(base, path)
    batch = spark.createDataFrame(
        [
            (2, "V2", 5, "U"),          # plain update
            (3, None, 5, "D"),          # plain delete
            (10, "v10", 5, "I"),        # plain insert
            (4, "resurrect", 4, "U"),   # ...but a LATER delete wins
            (4, None, 5, "D"),
            (5, "early", 3, "U"),       # latest upsert wins
            (5, "late", 5, "U"),
            (6, "tie-up", 7, "U"),      # equal instant: delete wins
            (6, None, 7, "D"),
            (99, None, 5, "D"),         # unknown key: no-op
        ],
        "k int, v string, ts int, op string",
    )
    v = apply_cdc_version(
        spark, path, batch, ["k"], "ts", txn_id="b-1", writer_id="W"
    )
    assert v == 2
    after = {(r.k, r.v) for r in read_version(spark, path).collect()}
    assert after == {(1, "v1"), (2, "V2"), (5, "late"), (10, "v10")}
    assert {(r.k, r.v) for r in read_version(spark, path, 1).collect()} == {
        (k, f"v{k}") for k in range(1, 7)
    }
    got = sorted(
        (r.k, r.v, r._change_type)
        for r in cdc_rows(spark, path, 1, 2, key_cols=["k"]).collect()
    )
    assert got == [
        (2, "V2", "update_postimage"),
        (2, "v2", "update_preimage"),
        (3, "v3", "delete"),
        (4, "v4", "delete"),
        (5, "late", "update_postimage"),
        (5, "v5", "update_preimage"),
        (6, "v6", "delete"),
        (10, "v10", "insert"),
    ]
    assert apply_cdc_version(
        spark, path, batch, ["k"], "ts", txn_id="b-1", writer_id="W"
    ) == 2
    assert [m["version"] for m in history(path)] == [1, 2]
    # empty table: upsert winners seed v1, tombstones are no-ops
    p2 = str(tmp_path / "cdc_fresh")
    assert apply_cdc_version(spark, p2, batch, ["k"], "ts") == 1
    assert {(r.k, r.v) for r in read_version(spark, p2).collect()} == {
        (2, "V2"), (5, "late"), (10, "v10"),
    }


def test_clone_table_is_zero_copy_and_independent(spark, tmp_path):
    """Shallow CLONE (r11): the clone's v1 manifest lists the source
    snapshot's files (zero data copied), reads equal the source
    snapshot, writes to the clone never touch the source, the clone's
    vacuum cannot reclaim source files, and cloning a vacuumed source
    snapshot fails fast."""
    from etl_dag_spark.sources.versions import clone_table, delete_version, history

    src = str(tmp_path / "src_tbl")
    base = spark.createDataFrame(
        [(k, k * 10) for k in range(1, 7)], "k int, x int"
    ).repartitionByRange(3, "k")
    write_version(base, src, stats_cols=["k"])            # v1
    write_version(
        spark.createDataFrame([(7, 70)], "k int, x int"), src, op="append"
    )                                                      # v2

    dst = str(tmp_path / "dev_tbl")
    assert clone_table(src, dst) == 1
    m_src = _load_manifest(src, 2)
    m_dst = _load_manifest(dst, 1)
    assert m_dst["op"] == "clone" and m_dst["files"] == m_src["files"]
    assert m_dst["cloned_from"]["version"] == 2
    assert _rows2(read_version(spark, dst)) == _rows2(read_version(spark, src))
    # pinning a specific source version clones THAT snapshot
    dst1 = str(tmp_path / "dev_tbl_v1")
    clone_table(src, dst1, version=1)
    assert {r.k for r in read_version(spark, dst1).collect()} == set(range(1, 7))
    # inherited stats: manifest pruning works on the clone immediately
    assert len(read_version(spark, dst, between=("k", 1, 2)).inputFiles()) < len(
        read_version(spark, dst).inputFiles()
    )
    # the clone evolves independently of the source...
    delete_version(spark, dst, "k <= 3")
    assert {r.k for r in read_version(spark, dst).collect()} == {4, 5, 6, 7}
    assert {r.k for r in read_version(spark, src).collect()} == set(range(1, 8))
    # ...and the clone's vacuum never reclaims SOURCE data dirs
    vacuum(dst, keep_last=1, min_age_seconds=0.0)
    assert {r.k for r in read_version(spark, src).collect()} == set(range(1, 8))
    # a second clone into the same target refuses
    import pytest as _pt

    with _pt.raises(ValueError, match="not an empty table"):
        clone_table(src, dst1)
    # cloning a vacuumed source snapshot fails fast
    vacuum(src, keep_last=1, min_age_seconds=0.0)
    with _pt.raises(ValueError, match="vacuumed"):
        clone_table(src, str(tmp_path / "too_late"), version=1)


def test_delete_version_prunes_discovery_at_the_manifest_level(
    spark, tmp_path, monkeypatch
):
    """prune_between (r11): a retention-style delete on a stats-tracked
    range layout never OPENS files the manifest proves clean — the
    discovery scan's input file set excludes them, upstream of parquet
    row-group skipping — and the result is identical to the unpruned
    delete."""
    from etl_dag_spark.sources import versions as V

    path = str(tmp_path / "del_prune_tbl")
    base = spark.createDataFrame(
        [(k, k * 10) for k in range(1, 17)], "k int, x int"
    ).repartitionByRange(4, "k")
    write_version(base, path, stats_cols=["k"])

    opened: list[str] = []
    orig = V._read_snapshot_subset

    def spy(spark_, pm_, files_):
        opened.append(list(files_))
        return orig(spark_, pm_, files_)

    monkeypatch.setattr(V, "_read_snapshot_subset", spy)
    v = V.delete_version(
        spark, path, "k <= 2", prune_between=("k", 1, 2)
    )
    n_files = len(_load_manifest(path, 1)["files"])
    # discovery scanned a strict subset of the snapshot's files
    assert 0 < len(opened[0]) < n_files
    assert {r.k for r in read_version(spark, path, v).collect()} == set(
        range(3, 17)
    )


def test_restore_across_schema_evolution_is_exact(spark, tmp_path):
    """RESTORE composes with schema evolution (r11): rolling back to a
    pre-evolution snapshot reads with THAT snapshot's schema, and
    restoring forward to the evolved tip re-materializes the evolved
    read (rename map + typed NULLs) byte-for-byte."""
    from etl_dag_spark.sources.versions import restore_version

    path = str(tmp_path / "evo_restore")
    write_version(
        spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"), path
    )  # v1: (k, v)
    write_version(
        spark.createDataFrame([(3, "c", "x")], "k int, v string, tag string"),
        path,
        op="append",
    )  # v2: evolved (adds tag)
    v3 = restore_version(path, 1)
    assert v3 == 3
    got = read_version(spark, path)
    assert got.columns == ["k", "v"]  # pre-evolution schema restored
    assert sorted((r.k, r.v) for r in got.collect()) == [(1, "a"), (2, "b")]
    v4 = restore_version(path, 2)
    evolved = read_version(spark, path, v4)
    assert evolved.columns == ["k", "v", "tag"]
    assert sorted(
        (r.k, r.v, r.tag) for r in evolved.collect()
    ) == [(1, "a", None), (2, "b", None), (3, "c", "x")]


def test_partial_rewrite_race_raises_instead_of_recomputing(spark, tmp_path):
    """expected_parent guard (r11): a merge/delete computed against tip
    vN must not silently re-apply its replace_files against a tip a
    concurrent writer moved — it raises ConcurrentCommitError so the
    caller re-runs the read-rewrite cycle (the Delta
    ConcurrentModificationException contract)."""
    from etl_dag_spark.sources.versions import ConcurrentCommitError

    path = str(tmp_path / "race_tbl")
    base = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    write_version(base, path)  # v1
    m1 = _load_manifest(path, 1)
    # a concurrent writer lands v2 after this merge "computed" its plan
    write_version(
        spark.createDataFrame([(3, "c")], "k int, v string"), path, op="append"
    )
    rewrite = spark.createDataFrame([(1, "A")], "k int, v string")
    with pytest.raises(ConcurrentCommitError, match="v1.*v2"):
        write_version(
            rewrite, path, op="merge",
            replace_files=m1["files"], expected_parent=1,
        )
    # the guarded failure committed nothing
    assert history(path)[-1]["version"] == 2


def test_incremental_read_survives_rename_then_optimize(spark, tmp_path):
    """r11 review fix: an OPTIMIZE resets the cumulative rename map,
    but appends from BEFORE the reset still read their renamed columns
    through their own segment's map — previously the post-reset tip
    map silently returned NULLs for every pre-rename delta row."""
    from etl_dag_spark.sources.versions import compact_version, read_version_delta

    path = str(tmp_path / "evo_delta_tbl")
    write_version(
        spark.createDataFrame([(1, "a")], "k int, v string"), path
    )  # v1
    write_version(
        spark.createDataFrame([(2, "b")], "k int, v string"), path, op="append"
    )  # v2: delta rows under the OLD name
    write_version(
        spark.createDataFrame([(3, "c")], "k int, label string"),
        path,
        op="append",
        rename={"v": "label"},
    )  # v3: rename commit
    compact_version(spark, path)  # v4: optimize, map resets
    assert not _load_manifest(path, 4).get("rename")
    got = sorted(
        (r.k, r.label)
        for r in read_version_delta(spark, path, 1, 4).collect()
    )
    assert got == [(2, "b"), (3, "c")]  # v2's 'v' surfaced as label, not NULL
    # append after the reset under the new schema: still one clean read
    write_version(
        spark.createDataFrame([(4, "d")], "k int, label string"),
        path,
        op="append",
    )  # v5
    got = sorted(
        (r.k, r.label)
        for r in read_version_delta(spark, path, 1, 5).collect()
    )
    assert got == [(2, "b"), (3, "c"), (4, "d")]


def test_cdc_across_reset_reads_old_side_with_its_own_state(spark, tmp_path):
    """r11 review fix: cdc_rows across a full rewrite that RESET the
    rename map must read the old side under the FROM version's own
    evolved state — reconciling it with the (empty) tip map read
    legacy-named files as NULL and misclassified every unchanged row
    as an update."""
    from etl_dag_spark.sources.versions import cdc_rows

    path = str(tmp_path / "cdc_evo_tbl")
    write_version(
        spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"), path
    )  # v1 (k, v)
    write_version(
        spark.createDataFrame([(3, "c")], "k int, label string"),
        path,
        op="append",
        rename={"v": "label"},
    )  # v2: evolved — v1-era files still physically named 'v'
    write_version(
        spark.createDataFrame(
            [(1, "a"), (2, "B"), (3, "c")], "k int, label string"
        ),
        path,
    )  # v3: overwrite materializes 'label' and RESETS the rename map
    assert not _load_manifest(path, 3).get("rename")
    got = sorted(
        (r.k, r.label, r._change_type)
        for r in cdc_rows(spark, path, 2, 3, key_cols=["k"]).collect()
    )
    # only k=2 actually changed; 1 and 3 are value-identical
    assert got == [
        (2, "B", "update_postimage"),
        (2, "b", "update_preimage"),
    ]


# ---------------------------------------------------------------------
# r12: O(delta) manifest log + checkpoints + LogStore seam + constraints
# ---------------------------------------------------------------------


def test_manifest_bytes_per_append_bounded_by_delta(spark, tmp_path):
    """The 100 TB metadata argument (VERDICT r11 #3): an append's
    on-disk manifest records only its own additions, so manifest size
    must NOT grow with the table's accumulated file count."""
    path = str(tmp_path / "tbl")
    one = spark.createDataFrame([(1, "a")], "k int, v string").coalesce(1)
    write_version(one, path, op="overwrite", stats_cols=["k"])
    sizes = []
    for i in range(2, 26):
        write_version(one, path, op="append", stats_cols=["k"])
        sizes.append(os.path.getsize(f"{path}/_manifests/v{i:08d}.json"))
    # 24 appends: file count grows 24x, manifest bytes stay flat (the
    # txn map and schema are constant here, so any growth would be the
    # file list leaking back in)
    assert max(sizes) <= sizes[0] + 200
    # checkpoints landed on the cadence and carry the FULL state
    ck = json.load(open(f"{path}/_manifests/v00000020.ckpt.json"))
    assert len(ck["files"]) == 20
    assert len(ck["stats"]) == 20  # per-file stats survive the fold
    # resolved view folds checkpoint + deltas: full list at the tip
    assert len(_load_manifest(path, 25)["files"]) == 25


def test_reads_and_cdc_equivalent_across_checkpoint_boundary(spark, tmp_path):
    """Time travel, incremental reads, CDC, and vacuum all behave
    identically whether resolution lands on a checkpoint, a delta
    chain, or a mix (VERDICT r11 #3 done-criterion b)."""
    from etl_dag_spark.sources.versions import cdc_rows, read_version_delta

    path = str(tmp_path / "tbl")
    for i in range(1, 13):
        df = spark.createDataFrame([(i, f"v{i}")], "k int, v string")
        write_version(
            df, path, op="overwrite" if i == 1 else "append"
        )
    # snapshots on both sides of the v10 checkpoint
    assert _rows(read_version(spark, path, 9)) == [
        (k, f"v{k}") for k in range(1, 10)
    ]
    assert _rows(read_version(spark, path, 10)) == [
        (k, f"v{k}") for k in range(1, 11)
    ]
    assert _rows(read_version(spark, path, 12)) == [
        (k, f"v{k}") for k in range(1, 13)
    ]
    # incremental read spanning the checkpoint
    assert _rows(read_version_delta(spark, path, 8, 12)) == [
        (k, f"v{k}") for k in range(9, 13)
    ]
    got = sorted(
        (r.k, r.v, r._change_type)
        for r in cdc_rows(spark, path, 9, 11).collect()
    )
    assert got == [(10, "v10", "insert"), (11, "v11", "insert")]
    # vacuum drops pre-checkpoint manifests; kept versions resolve
    # through the checkpoint vacuum wrote at the oldest kept version
    dropped = vacuum(path, keep_last=2, min_age_seconds=0)
    assert dropped == list(range(1, 11))
    assert os.path.exists(f"{path}/_manifests/v00000011.ckpt.json")
    assert _rows(read_version(spark, path, 11)) == [
        (k, f"v{k}") for k in range(1, 12)
    ]
    assert _rows(read_version(spark, path, 12)) == [
        (k, f"v{k}") for k in range(1, 13)
    ]
    assert [h["version"] for h in history(path)] == [11, 12]


def test_log_store_seam_concurrent_commit_race(spark, tmp_path):
    """The putIfAbsent seam (VERDICT r11 #4): a fake store injects a
    competing committer the instant before the claim — the loser must
    retry and land at the next version, and the winner's manifest must
    be exactly what the interloper published."""
    from etl_dag_spark.sources.versions import (
        HardLinkLogStore,
        set_log_store,
    )

    path = str(tmp_path / "tbl")
    base = spark.createDataFrame([(1, "a")], "k int, v string")
    write_version(base, path, op="overwrite")

    class RacingStore(HardLinkLogStore):
        """First manifest claim is preempted by a rival commit."""

        def __init__(self):
            self.raced = False

        def put_if_absent(self, p, body):
            if p.endswith(".json") and ".ckpt" not in p and not self.raced:
                self.raced = True
                rival = json.loads(body)
                rival["rival"] = True
                super().put_if_absent(p, json.dumps(rival))
            return super().put_if_absent(p, body)

    store = RacingStore()
    prev = set_log_store(store)
    try:
        v = write_version(
            spark.createDataFrame([(2, "b")], "k int, v string"),
            path,
            op="append",
        )
    finally:
        set_log_store(prev)
    assert store.raced
    # the rival claimed v2; our writer retried and landed at v3
    assert v == 3
    assert json.load(open(f"{path}/_manifests/v00000002.json"))["rival"]
    assert _rows(read_version(spark, path)) == [(1, "a"), (2, "b"), (2, "b")]


def test_log_store_expected_parent_race_raises(spark, tmp_path):
    """A partial rewrite that loses the race to a DIFFERENT parent must
    raise ConcurrentCommitError through the seam, not silently retry."""
    from etl_dag_spark.sources.versions import (
        ConcurrentCommitError,
        HardLinkLogStore,
        set_log_store,
    )

    path = str(tmp_path / "tbl")
    write_version(
        spark.createDataFrame([(1, "a")], "k int, v string"), path
    )

    class RacingStore(HardLinkLogStore):
        def __init__(self):
            self.raced = False

        def put_if_absent(self, p, body):
            if p.endswith(".json") and ".ckpt" not in p and not self.raced:
                self.raced = True
                super().put_if_absent(p, body)  # rival takes the slot
            return super().put_if_absent(p, body)

    prev = set_log_store(RacingStore())
    try:
        with pytest.raises(ConcurrentCommitError):
            write_version(
                spark.createDataFrame([(9, "z")], "k int, v string"),
                path,
                op="merge",
                replace_files=[],
                expected_parent=1,
            )
    finally:
        set_log_store(prev)


def test_commit_constraints_refuse_and_keep_txn_replayable(spark, tmp_path):
    """CHECK/NOT-NULL at commit (VERDICT r11 #6): a violating commit is
    refused BEFORE any manifest lands, and the txn token is NOT
    consumed — the repaired batch replays under the same token; a
    replay AFTER success is still a no-op."""
    from etl_dag_spark.sources.versions import ConstraintViolationError

    path = str(tmp_path / "tbl")
    write_version(
        spark.createDataFrame([(1, "a")], "k int, v string"), path
    )
    bad = spark.createDataFrame([(2, "b"), (None, "c")], "k int, v string")
    with pytest.raises(ConstraintViolationError, match="k IS NOT NULL"):
        write_version(
            bad, path, op="append", not_null=["k"], txn_id="batch-7"
        )
    with pytest.raises(ConstraintViolationError, match="k > 0"):
        write_version(
            spark.createDataFrame([(-1, "n")], "k int, v string"),
            path,
            op="append",
            check="k > 0",
            txn_id="batch-7",
        )
    # no manifest landed, tip untouched, token unconsumed
    assert [h["version"] for h in history(path)] == [1]
    good = spark.createDataFrame([(2, "b")], "k int, v string")
    assert (
        write_version(
            good, path, op="append", not_null=["k"], check="k > 0",
            txn_id="batch-7",
        )
        == 2
    )
    # the token is now consumed: a replay is a manifest no-op
    assert (
        write_version(good, path, op="append", txn_id="batch-7") == 2
    )
    assert _rows(read_version(spark, path)) == [(1, "a"), (2, "b")]


def test_merge_version_forwards_constraints(spark, tmp_path):
    """merge_version enforces check/not_null on the incoming batch and
    refuses without consuming the txn token."""
    from etl_dag_spark.sources.versions import (
        ConstraintViolationError,
        merge_version,
    )

    path = str(tmp_path / "tbl")
    write_version(
        spark.createDataFrame([(1, "a", 1)], "k int, v string, ts int"), path
    )
    bad = spark.createDataFrame([(2, None, 2)], "k int, v string, ts int")
    with pytest.raises(ConstraintViolationError):
        merge_version(
            spark, path, bad, ["k"], "ts", not_null=["v"], txn_id="m1"
        )
    assert [h["version"] for h in history(path)] == [1]
    good = spark.createDataFrame([(2, "b", 2)], "k int, v string, ts int")
    v = merge_version(
        spark, path, good, ["k"], "ts", not_null=["v"], txn_id="m1"
    )
    assert v == 2
    assert _rows(read_version(spark, path).select("k", "v")) == [
        (1, "a"), (2, "b"),
    ]


def test_layout_spec_evolves_without_touching_history(spark, tmp_path):
    """Partition-spec/layout evolution (r12, metadata level): every
    snapshot records ITS OWN physical layout; OPTIMIZE changes it for
    the tip only, old snapshots keep theirs, reads are layout-agnostic
    (stat-based file pruning), and RESTORE carries the restored
    snapshot's spec."""
    from etl_dag_spark.sources.versions import compact_version, restore_version

    path = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(40)], "k int, v string"
    ).repartition(4)
    write_version(df, path)  # v1: no declared layout
    v2 = compact_version(spark, path, target_files=2)  # v2: coalesce
    v3 = compact_version(
        spark, path, target_files=2, zorder_by=["k"]
    )  # v3: z-order — the spec EVOLVED, history untouched
    h = {e["version"]: e.get("layout") for e in history(path)}
    assert h[1] is None
    assert h[v2] == {"coalesce": 2}
    assert h[v3] == {"zorder": ["k"], "bits": 8, "target_files": 2}
    # identical rows under every layout generation
    want = sorted((i, f"v{i}") for i in range(40))
    for v in (1, v2, v3):
        assert _rows(read_version(spark, path, v)) == want
    # restore to the coalesce-era snapshot carries its spec forward
    v4 = restore_version(path, v2)
    assert {e["version"]: e.get("layout") for e in history(path)}[v4] == {
        "coalesce": 2
    }


def test_vacuum_report_dry_run_touches_nothing(spark, table):
    """VACUUM DRY RUN: report matches what vacuum() would do, nothing
    on disk changes; the retention window shows up as held dirs."""
    from etl_dag_spark.sources.versions import vacuum_report

    before = sorted(os.listdir(os.path.join(table, "data")))
    rep = vacuum_report(table, keep_last=2, min_age_seconds=0)
    assert rep["dropped_versions"] == [1] and rep["kept_versions"] == [2, 3]
    # v1's base dir is SHARED with kept v2 → nothing reclaimable at age 0
    assert rep["reclaim_dirs"] == [] and rep["reclaim_bytes"] == 0
    assert sorted(os.listdir(os.path.join(table, "data"))) == before
    assert _rows(read_version(spark, table, 1)) == [(1, "a"), (2, "b")]
    # an orphan dir is reclaimable when old, held when young
    orphan = spark.createDataFrame([(99, "x")], "k int, v string")
    orphan.write.parquet(os.path.join(table, "data", "orphan_run"))
    young = vacuum_report(table, keep_last=2, min_age_seconds=3600)
    assert any("orphan_run" in d for d in young["held_young_dirs"])
    old = vacuum_report(table, keep_last=2, min_age_seconds=0)
    assert any("orphan_run" in d for d in old["reclaim_dirs"])
    assert old["reclaim_bytes"] > 0


def test_fsck_reports_missing_files_and_orphans(spark, table):
    """FSCK: healthy table is ok; a deleted data file is reported per
    version; crashed-writer debris shows as an orphan, never an error."""
    import shutil

    from etl_dag_spark.sources.versions import fsck

    rep = fsck(table)
    assert rep["ok"] and rep["versions"] == [1, 2, 3]
    spark.createDataFrame([(99, "x")], "k int, v string").write.parquet(
        os.path.join(table, "data", "orphan_run")
    )
    rep = fsck(table)
    assert rep["ok"] and any("orphan_run" in d for d in rep["orphan_data_dirs"])
    # delete v3's data dir: v3 (and only v3) reports missing files
    m3 = _load_manifest(table, 3)
    shutil.rmtree(os.path.dirname(m3["files"][0]))
    rep = fsck(table)
    assert not rep["ok"]
    assert set(rep["missing_files"]) == {3}
    assert rep["unresolvable_versions"] == []


def test_deep_clone_survives_source_vacuum(spark, table, tmp_path):
    """DEEP CLONE: the clone owns byte-copies of the referenced files,
    so vacuuming (even destroying) the source cannot touch it —
    closing the shallow-clone caveat."""
    import shutil

    from etl_dag_spark.sources.versions import clone_table, fsck

    dst = str(tmp_path / "deep_clone")
    assert clone_table(table, dst, version=2, deep=True) == 1
    # every clone file lives under the CLONE's data root
    files = _load_manifest(dst, 1)["files"]
    assert files and all(f.startswith(dst) for f in files)
    assert _rows(read_version(spark, dst)) == [(1, "a"), (2, "b"), (3, "c")]
    # obliterate the source: the clone is untouched and fsck-clean
    shutil.rmtree(table)
    assert _rows(read_version(spark, dst)) == [(1, "a"), (2, "b"), (3, "c")]
    assert fsck(dst)["ok"]
    # the clone evolves independently
    write_version(
        spark.createDataFrame([(7, "g")], "k int, v string"), dst, op="append"
    )
    assert _rows(read_version(spark, dst)) == [
        (1, "a"), (2, "b"), (3, "c"), (7, "g"),
    ]


def test_cdc_across_checkpoint_with_merge(spark, tmp_path):
    """cdc_rows must resolve BOTH endpoints' file states through the
    checkpoint/delta fold when a merge sits past the checkpoint
    boundary (the non-row-preserving path reads file diffs of resolved
    states, not raw manifests)."""
    from etl_dag_spark.sources.versions import cdc_rows, merge_version

    path = str(tmp_path / "tbl")
    for i in range(1, 12):  # v1..v11 appends; checkpoint lands at v10
        write_version(
            spark.createDataFrame([(i, f"v{i}", i)], "k int, v string, ts int"),
            path,
            op="overwrite" if i == 1 else "append",
        )
    upd = spark.createDataFrame(
        [(3, "V3", 99), (50, "v50", 99)], "k int, v string, ts int"
    )
    v12 = merge_version(spark, path, upd, ["k"], "ts")
    assert v12 == 12
    got = sorted(
        (r.k, r.v, r._change_type)
        for r in cdc_rows(spark, path, 9, 12, key_cols=["k"]).collect()
    )
    assert got == [
        (3, "V3", "update_postimage"),
        (3, "v3", "update_preimage"),
        (10, "v10", "insert"),
        (11, "v11", "insert"),
        (50, "v50", "insert"),
    ]


def test_constraints_persist_across_commits(spark, tmp_path):
    """Declared-with-a-commit constraints are table metadata: later
    bare appends enforce them automatically; drop_constraints clears;
    clone and restore carry them."""
    from etl_dag_spark.sources.versions import (
        ConstraintViolationError,
        clone_table,
        _load_raw,
    )

    path = str(tmp_path / "tbl")
    write_version(
        spark.createDataFrame([(1, "a")], "k int, v string"),
        path,
        not_null=["k"],
        check="k > 0",
    )
    # a later commit with NO params still enforces the persisted set
    with pytest.raises(ConstraintViolationError, match="k IS NOT NULL"):
        write_version(
            spark.createDataFrame([(None, "x")], "k int, v string"),
            path,
            op="append",
        )
    with pytest.raises(ConstraintViolationError, match="k > 0"):
        write_version(
            spark.createDataFrame([(-5, "x")], "k int, v string"),
            path,
            op="append",
        )
    assert [h["version"] for h in history(path)] == [1]
    v2 = write_version(
        spark.createDataFrame([(2, "b")], "k int, v string"), path, op="append"
    )
    assert v2 == 2
    assert _load_raw(path, 2)["constraints"] == {
        "check": ["k > 0"],
        "not_null": ["k"],
    }
    # clone inherits the constraint set
    dst = str(tmp_path / "cl")
    clone_table(path, dst)
    with pytest.raises(ConstraintViolationError):
        write_version(
            spark.createDataFrame([(-1, "x")], "k int, v string"),
            dst,
            op="append",
        )
    # drop_constraints clears: the same row now commits
    v3 = write_version(
        spark.createDataFrame([(-1, "x")], "k int, v string"),
        path,
        op="append",
        drop_constraints=True,
    )
    assert v3 == 3 and "constraints" not in _load_raw(path, 3)
    v4 = write_version(
        spark.createDataFrame([(None, "y")], "k int, v string"),
        path,
        op="append",
    )
    assert v4 == 4


def test_constraints_enforced_on_merge_and_cdc_batches_not_legacy_rows(
    spark, tmp_path
):
    """Partial-rewrite verbs validate their INCOMING batch against the
    persisted set; legacy rows predating the constraint never block a
    delete (no retroactive refusal)."""
    from etl_dag_spark.sources.versions import (
        ConstraintViolationError,
        apply_cdc_version,
        delete_version,
        merge_version,
    )

    path = str(tmp_path / "tbl")
    # v1 BEFORE any constraint: contains a NULL v (legacy data)
    write_version(
        spark.createDataFrame(
            [(1, "a", 1), (2, None, 1)], "k int, v string, ts int"
        ),
        path,
    )
    # v2 declares the constraint with a clean append
    write_version(
        spark.createDataFrame([(3, "c", 1)], "k int, v string, ts int"),
        path,
        op="append",
        not_null=["v"],
    )
    # merge with a violating batch: refused via the INHERITED set
    with pytest.raises(ConstraintViolationError):
        merge_version(
            spark,
            path,
            spark.createDataFrame([(4, None, 2)], "k int, v string, ts int"),
            ["k"],
            "ts",
        )
    # CDC apply with a violating upsert: refused via the inherited set
    with pytest.raises(ConstraintViolationError):
        apply_cdc_version(
            spark,
            path,
            spark.createDataFrame(
                [(5, None, 2, "U")], "k int, v string, ts int, op string"
            ),
            ["k"],
            "ts",
        )
    # deleting rows from the file holding the LEGACY NULL row succeeds
    v = delete_version(spark, path, "k = 1")
    got = sorted(
        (r.k, r.v) for r in read_version(spark, path, v).collect()
    )
    assert got == [(2, None), (3, "c")]


def test_replayed_commit_is_noop_even_under_later_constraints(spark, tmp_path):
    """Exactly-once replay must win over constraints added AFTER the
    original commit: the replay is a manifest no-op BEFORE enforcement
    or any data write (a restarted streaming ingest would otherwise
    crash-loop on its own already-applied batch)."""
    from etl_dag_spark.sources.versions import merge_version

    path = str(tmp_path / "tbl")
    write_version(
        spark.createDataFrame([(1, "a", 1)], "k int, v string, ts int"), path
    )
    batch = spark.createDataFrame(
        [(2, None, 2)], "k int, v string, ts int"  # violates the LATER rule
    )
    v2 = write_version(batch, path, op="append", txn_id="b1")
    assert v2 == 2
    # the constraint arrives after b1 landed
    write_version(
        spark.createDataFrame([(3, "c", 3)], "k int, v string, ts int"),
        path,
        op="append",
        not_null=["v"],
    )
    # replays of b1 are no-ops (returning the tip), not violations,
    # and no new version is created
    tip = history(path)[-1]["version"]
    assert write_version(batch, path, op="append", txn_id="b1") == tip
    assert history(path)[-1]["version"] == tip
    # the merge-path replay behaves the same
    m = spark.createDataFrame([(9, None, 9)], "k int, v string, ts int")
    # (first application BEFORE constraints existed is simulated by a
    # fresh table)
    path2 = str(tmp_path / "tbl2")
    write_version(
        spark.createDataFrame([(1, "a", 1)], "k int, v string, ts int"), path2
    )
    vm = merge_version(spark, path2, m, ["k"], "ts", txn_id="m1")
    write_version(
        spark.createDataFrame([(4, "d", 4)], "k int, v string, ts int"),
        path2,
        op="append",
        not_null=["v"],
    )
    tip2 = history(path2)[-1]["version"]
    assert merge_version(spark, path2, m, ["k"], "ts", txn_id="m1") == tip2
    assert history(path2)[-1]["version"] == tip2
    assert vm <= tip2


# --- r13: constraint races, merge-declared persistence, interleavings ---


def test_concurrent_merge_delete_interleaving_converges(spark, tmp_path):
    """Two writers racing partial rewrites through the LogStore seam
    (VERDICT r12 #6): a real DELETE lands between a merge's
    read-rewrite cycle and its commit claim — the merge must raise
    ConcurrentCommitError, and the documented recovery (re-run the
    cycle against the new tip) must converge to the serial
    delete-then-merge result."""
    from etl_dag_spark.sources.versions import (
        ConcurrentCommitError,
        HardLinkLogStore,
        delete_version,
        merge_version,
        set_log_store,
    )

    path = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(k, f"v{k}", 1) for k in range(1, 6)], "k int, v string, ts int"
    )
    write_version(base, path)  # v1

    class InterleavingStore(HardLinkLogStore):
        """A rival writer lands a real DELETE the instant before the
        merge claims its manifest."""

        def __init__(self):
            self.raced = False

        def put_if_absent(self, p, body):
            if p.endswith(".json") and ".ckpt" not in p and not self.raced:
                self.raced = True
                delete_version(spark, path, "k = 2")  # claims v2 first
            return super().put_if_absent(p, body)

    updates = spark.createDataFrame(
        [(3, "V3", 9), (6, "v6", 9)], "k int, v string, ts int"
    )
    store = InterleavingStore()
    prev = set_log_store(store)
    try:
        with pytest.raises(ConcurrentCommitError):
            merge_version(spark, path, updates, ["k"], "ts")
        v = merge_version(spark, path, updates, ["k"], "ts")
    finally:
        set_log_store(prev)
    assert store.raced
    assert v == 3
    assert _rows(read_version(spark, path)) == [
        (1, "v1"), (3, "V3"), (4, "v4"), (5, "v5"), (6, "v6")
    ]
    # time travel still exact: v2 is the delete-only snapshot
    assert _rows(read_version(spark, path, 2)) == [
        (1, "v1"), (3, "v3"), (4, "v4"), (5, "v5")
    ]


def test_concurrent_delete_loses_to_merge_then_converges(spark, tmp_path):
    """The mirror interleaving: a MERGE lands while a delete is
    claiming. The delete raises; re-running it against the new tip
    yields the serial merge-then-delete state."""
    from etl_dag_spark.sources.versions import (
        ConcurrentCommitError,
        HardLinkLogStore,
        delete_version,
        merge_version,
        set_log_store,
    )

    path = str(tmp_path / "tbl")
    write_version(
        spark.createDataFrame(
            [(k, f"v{k}", 1) for k in range(1, 6)], "k int, v string, ts int"
        ),
        path,
    )
    updates = spark.createDataFrame([(2, "V2", 9)], "k int, v string, ts int")

    class InterleavingStore(HardLinkLogStore):
        def __init__(self):
            self.raced = False

        def put_if_absent(self, p, body):
            if p.endswith(".json") and ".ckpt" not in p and not self.raced:
                self.raced = True
                merge_version(spark, path, updates, ["k"], "ts")
            return super().put_if_absent(p, body)

    store = InterleavingStore()
    prev = set_log_store(store)
    try:
        with pytest.raises(ConcurrentCommitError):
            delete_version(spark, path, "k >= 4")
        v = delete_version(spark, path, "k >= 4")
    finally:
        set_log_store(prev)
    assert store.raced
    assert v == 3
    assert _rows(read_version(spark, path)) == [
        (1, "v1"), (2, "V2"), (3, "v3")
    ]


def test_constraint_race_carries_rival_constraint_forward(spark, tmp_path):
    """ADVICE r12 (medium): a writer that loses the commit race to a
    rival that DECLARED a constraint must not erase it — the retry
    re-reads the tip's constraint set, enforces the new rule over its
    own (already written) rows, and persists the rival's set forward."""
    from etl_dag_spark.sources.versions import (
        HardLinkLogStore,
        _table_constraints,
        set_log_store,
    )

    path = str(tmp_path / "tbl")
    write_version(spark.createDataFrame([(1, "a")], "k int, v string"), path)

    class ConstraintRival(HardLinkLogStore):
        """The rival's v2 is a constraint-only append (the ALTER TABLE
        ADD CONSTRAINT shape): no data files, check: k > 0."""

        def __init__(self):
            self.raced = False

        def put_if_absent(self, p, body):
            if p.endswith(".json") and ".ckpt" not in p and not self.raced:
                self.raced = True
                rival = json.loads(body)
                rival["n_files"] -= len(rival["add"])
                rival["add"] = []
                rival["stats_add"] = {}
                rival["constraints"] = {"check": ["k > 0"]}
                super().put_if_absent(p, json.dumps(rival))
            return super().put_if_absent(p, body)

    store = ConstraintRival()
    prev = set_log_store(store)
    try:
        v = write_version(
            spark.createDataFrame([(2, "b")], "k int, v string"),
            path,
            op="append",
        )
    finally:
        set_log_store(prev)
    assert store.raced and v == 3
    # the loser's manifest carries the rival's constraint forward...
    assert _table_constraints(path) == {"check": ["k > 0"]}
    # ...and it is enforced on the next commit
    from etl_dag_spark.sources.versions import ConstraintViolationError

    with pytest.raises(ConstraintViolationError, match="k > 0"):
        write_version(
            spark.createDataFrame([(-1, "n")], "k int, v string"),
            path,
            op="append",
        )


def test_constraint_race_refuses_violating_loser(spark, tmp_path):
    """Same race, but the loser's rows VIOLATE the rival's new
    constraint: the retry must refuse the commit (the rival's rule was
    never enforced on these rows) instead of landing them."""
    from etl_dag_spark.sources.versions import (
        ConstraintViolationError,
        HardLinkLogStore,
        set_log_store,
    )

    path = str(tmp_path / "tbl")
    write_version(spark.createDataFrame([(1, "a")], "k int, v string"), path)

    class ConstraintRival(HardLinkLogStore):
        def __init__(self):
            self.raced = False

        def put_if_absent(self, p, body):
            if p.endswith(".json") and ".ckpt" not in p and not self.raced:
                self.raced = True
                rival = json.loads(body)
                rival["n_files"] -= len(rival["add"])
                rival["add"] = []
                rival["stats_add"] = {}
                rival["constraints"] = {"check": ["k > 0"]}
                super().put_if_absent(p, json.dumps(rival))
            return super().put_if_absent(p, body)

    store = ConstraintRival()
    prev = set_log_store(store)
    try:
        with pytest.raises(ConstraintViolationError, match="k > 0"):
            write_version(
                spark.createDataFrame([(-5, "n")], "k int, v string"),
                path,
                op="append",
            )
    finally:
        set_log_store(prev)
    assert store.raced
    # the rival's commit is the tip; the loser landed nothing
    assert history(path)[-1]["version"] == 2
    assert _rows(read_version(spark, path)) == [(1, "a")]


def test_merge_declared_constraint_persists(spark, tmp_path):
    """ADVICE r12: a string check / not_null declared through
    merge_version persists in the manifest exactly like one declared
    through write_version (ADD CONSTRAINT semantics)."""
    from etl_dag_spark.sources.versions import (
        ConstraintViolationError,
        _table_constraints,
        merge_version,
    )

    path = str(tmp_path / "tbl")
    merge_version(
        spark,
        path,
        spark.createDataFrame([(1, "a", 1)], "k int, v string, ts int"),
        ["k"],
        "ts",
        check="k > 0",
        not_null=["v"],
    )
    assert _table_constraints(path) == {
        "check": ["k > 0"], "not_null": ["v"]
    }
    # enforced on a later plain append...
    with pytest.raises(ConstraintViolationError, match="k > 0"):
        write_version(
            spark.createDataFrame([(-1, "x", 2)], "k int, v string, ts int"),
            path,
            op="append",
        )
    # ...and on a later merge batch, via inheritance
    with pytest.raises(ConstraintViolationError, match="v IS NOT NULL"):
        merge_version(
            spark,
            path,
            spark.createDataFrame(
                [(2, None, 3)], "k int, v string, ts int"
            ),
            ["k"],
            "ts",
        )
    # declared again on the non-empty-table merge path: still persists
    merge_version(
        spark,
        path,
        spark.createDataFrame([(3, "c", 4)], "k int, v string, ts int"),
        ["k"],
        "ts",
        check="ts > 0",
    )
    assert _table_constraints(path) == {
        "check": ["k > 0", "ts > 0"], "not_null": ["v"]
    }


def test_column_check_alongside_persisted_string_checks(spark, tmp_path):
    """ADVICE r12: a Column check on a table that already persists
    string checks must enforce both, not crash on Column truth-testing
    — and the Column check stays batch-scoped (never persisted)."""
    from etl_dag_spark.sources.versions import (
        ConstraintViolationError,
        _table_constraints,
        merge_version,
    )

    path = str(tmp_path / "tbl")
    write_version(
        spark.createDataFrame([(1, "a")], "k int, v string"),
        path,
        check="k > 0",
    )
    # passes both the persisted string check and the Column check
    v = write_version(
        spark.createDataFrame([(2, "b")], "k int, v string"),
        path,
        op="append",
        check=F.col("v").isNotNull(),
    )
    assert v == 2
    # the Column check actually fires...
    with pytest.raises(ConstraintViolationError):
        write_version(
            spark.createDataFrame([(3, None)], "k int, v string"),
            path,
            op="append",
            check=F.col("v").isNotNull(),
        )
    # ...but is not persisted
    assert _table_constraints(path) == {"check": ["k > 0"]}
    # same pattern through merge_version on a constrained table
    pathm = str(tmp_path / "tblm")
    write_version(
        spark.createDataFrame([(1, "a", 1)], "k int, v string, ts int"),
        pathm,
        check="k > 0",
    )
    vm = merge_version(
        spark,
        pathm,
        spark.createDataFrame([(2, "b", 2)], "k int, v string, ts int"),
        ["k"],
        "ts",
        check=F.col("v").isNotNull(),
    )
    assert vm == 2
    assert _table_constraints(pathm) == {"check": ["k > 0"]}


def test_true_concurrent_append_writers_all_land(spark, tmp_path):
    """REAL concurrency (r13, beyond the injected-rival simulations):
    8 threads race 3 appends each through the actual LogStore
    putIfAbsent on one table — every batch must land exactly once,
    versions must be contiguous, and the final table must hold all 24
    batches' rows."""
    import threading

    path = str(tmp_path / "tbl")
    write_version(spark.createDataFrame([(0, "base")], "k int, v string"), path)
    errs: list[Exception] = []

    def writer(w: int) -> None:
        try:
            for b in range(3):
                df = spark.createDataFrame(
                    [(w * 100 + b, f"w{w}b{b}")], "k int, v string"
                )
                write_version(
                    df, path, op="append",
                    txn_id=f"b{b}", writer_id=f"w{w}",
                    max_retries=100,
                )
        except Exception as e:  # surfaced after join
            errs.append(e)

    threads = [threading.Thread(target=writer, args=(w,)) for w in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errs == []
    assert [h["version"] for h in history(path)] == list(range(1, 26))
    rows = sorted(r.v for r in read_version(spark, path).collect())
    assert rows == sorted(
        ["base"] + [f"w{w}b{b}" for w in range(8) for b in range(3)]
    )
    # and every writer's replay is a txn-map no-op at the final tip
    tip = history(path)[-1]["version"]
    assert write_version(
        spark.createDataFrame([(1, "dup")], "k int, v string"),
        path, op="append", txn_id="b2", writer_id="w3",
    ) == tip


def test_version_delta_refuses_vacuumed_range(spark, tmp_path):
    """r13 retention guard: a delta read spanning vacuumed versions
    must FAIL, not silently hand back a hole (9 of 11 appends used to
    vanish from the 'delta' without a whisper)."""
    path = str(tmp_path / "tbl")
    write_version(spark.createDataFrame([(1, "a")], "k int, v string"), path)
    for k in range(2, 13):
        write_version(
            spark.createDataFrame([(k, f"v{k}")], "k int, v string"),
            path,
            op="append",
        )
    vacuum(path, keep_last=2, min_age_seconds=0)
    from etl_dag_spark.sources.versions import read_version_delta

    with pytest.raises(FileNotFoundError, match="vacuumed"):
        read_version_delta(spark, path, 1, 12)
    # inside the retained window the delta still reads fine
    assert _rows(read_version_delta(spark, path, 11, 12)) == [(12, "v12")]
    # and a snapshot read at the retention floor is the re-seed path
    assert len(_rows(read_version(spark, path, 11))) == 11


def test_update_version_partial_rewrite_and_replay(spark, tmp_path):
    """r14 (VERDICT r13 #2): update_version rewrites ONLY the touched
    files (untouched files manifest-shared with the parent), its txn
    token makes replays a manifest no-op, and cdc_rows classifies the
    update as exact pre/post images."""
    from etl_dag_spark.sources.versions import cdc_rows, update_version

    path = str(tmp_path / "tbl")
    # two files: k=1..4 split by range so touched-file discovery prunes
    base = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30), (4, 40)], "k int, amt int"
    ).repartitionByRange(2, "k")
    write_version(base, path)
    m1 = _load_manifest(path, 1)
    v = update_version(
        spark, path, {"amt": F.col("amt") + 1}, "k = 1",
        txn_id="u1", writer_id="upd",
    )
    assert v == 2
    m2 = _load_manifest(path, 2)
    replaced = set(json.loads(open(
        os.path.join(path, "_manifests", "v00000002.json")
    ).read())["replaced"])
    # only the file holding k=1 was rewritten; the other is SHARED
    assert len(replaced) == 1
    assert (set(m1["files"]) - replaced) <= set(m2["files"])
    got = sorted((r.k, r.amt) for r in read_version(spark, path).collect())
    assert got == [(1, 11), (2, 20), (3, 30), (4, 40)]
    # replay: same (writer, txn) is a no-op returning the tip
    assert update_version(
        spark, path, {"amt": F.col("amt") + 1}, "k = 1",
        txn_id="u1", writer_id="upd",
    ) == 2
    assert sorted(
        (r.k, r.amt) for r in read_version(spark, path).collect()
    ) == got
    # CDC across the update: exact pre/post images for k=1 only
    changes = cdc_rows(spark, path, 1, 2, key_cols=["k"]).collect()
    tagged = sorted((r.k, r.amt, r._change_type) for r in changes)
    assert tagged == [
        (1, 10, "update_preimage"), (1, 11, "update_postimage"),
    ]


def test_update_version_enforces_persisted_constraints(spark, tmp_path):
    """A persisted CHECK refuses an UPDATE whose post-image violates it
    (Delta's rule) — and the refusal commits nothing."""
    from etl_dag_spark.sources.versions import (
        ConstraintViolationError,
        update_version,
    )

    path = str(tmp_path / "tbl")
    write_version(
        spark.createDataFrame([(1, 10), (2, 20)], "k int, amt int"),
        path,
        check="amt >= 0",
    )
    with pytest.raises(ConstraintViolationError):
        update_version(spark, path, {"amt": "-amt"}, "k = 1")
    assert history(path)[-1]["version"] == 1
    # a compliant update passes and the constraint persists after it
    update_version(spark, path, {"amt": "amt + 5"}, "k = 1")
    assert sorted(
        (r.k, r.amt) for r in read_version(spark, path).collect()
    ) == [(1, 15), (2, 20)]
    with pytest.raises(ConstraintViolationError):
        write_version(
            spark.createDataFrame([(3, -1)], "k int, amt int"),
            path,
            op="append",
        )


def test_merge_delete_version_python_api(spark, tmp_path):
    """merge_delete_version: matched keys (narrowed by a both-sides
    condition) are removed as an O(touched) partial rewrite; NULL-key
    target rows never match (SQL ON semantics)."""
    from etl_dag_spark.sources.versions import merge_delete_version

    path = str(tmp_path / "tbl")
    write_version(
        spark.createDataFrame(
            [(1, 10), (2, 20), (None, 30), (4, 40)], "k int, amt int"
        ),
        path,
    )
    src = spark.createDataFrame(
        [(1, 15), (2, 5), (None, 99)], "k int, cap int"
    )
    merge_delete_version(spark, path, src, ["k"], "t.amt < s.cap")
    got = sorted(
        ((r.k, r.amt) for r in read_version(spark, path).collect()),
        key=lambda t: (t[0] is None, t[0]),
    )
    # k=1 deleted (10<15); k=2 kept (20<5 false); NULL key never
    # matches; k=4 unmatched
    assert got == [(2, 20), (4, 40), (None, 30)]


def test_timestamp_time_travel_resolution(spark, tmp_path, monkeypatch):
    """r14 (VERDICT r13 #4): TIMESTAMP AS OF — every version is
    reachable by its commit wall-time, between-commit timestamps
    resolve to the preceding version, version/timestamp reads are
    EQUAL, and writer clock skew is healed by the monotone
    max-so-far view (Delta's adjustment rule)."""
    from etl_dag_spark.sources import versions as ver

    clock = iter([1000.0, 3000.0, 2000.0])  # v3's writer clock lags!
    monkeypatch.setattr(ver, "_now", lambda: next(clock))
    path = str(tmp_path / "tbl")
    write_version(
        spark.createDataFrame([(1, "a")], "k int, v string"), path
    )  # v1 @ 1000
    write_version(
        spark.createDataFrame([(2, "b")], "k int, v string"),
        path,
        op="append",
    )  # v2 @ 3000
    write_version(
        spark.createDataFrame([(3, "c")], "k int, v string"),
        path,
        op="append",
    )  # v3 @ 2000 recorded, 3000 effective (monotone view)
    vat = ver.version_at_timestamp
    assert vat(path, 1000.0) == 1
    assert vat(path, 2500.0) == 1  # v3's raw 2000 must NOT win here
    assert vat(path, 3000.0) == 3  # equal effective times: latest wins
    assert vat(path, 9999.0) == 3
    with pytest.raises(ValueError, match="predates"):
        vat(path, 999.0)
    # version/timestamp equivalence through read_version
    assert _rows(read_version(spark, path, timestamp=2500.0)) == _rows(
        read_version(spark, path, 1)
    )
    with pytest.raises(ValueError, match="not both"):
        read_version(spark, path, 1, timestamp=1000.0)
    # ISO-string input (naive = UTC)
    from datetime import datetime, timezone

    iso = datetime.fromtimestamp(2500.0, tz=timezone.utc).replace(
        tzinfo=None
    ).isoformat()
    assert vat(path, iso) == 1
    # restore by timestamp commits a manifest-only rollback
    from etl_dag_spark.sources.versions import restore_version

    monkeypatch.setattr(ver, "_now", lambda: 5000.0)
    v = restore_version(path, timestamp=2500.0)
    assert v == 4
    assert _rows(read_version(spark, path)) == [(1, "a")]
    assert vat(path, 5000.0) == 4


def test_timestamp_travel_vacuum_horizon(spark, tmp_path, monkeypatch):
    """The vacuum retention window IS the timestamp time-travel
    horizon: a timestamp older than the oldest RETAINED commit fails
    fast instead of silently answering with the floor version."""
    from etl_dag_spark.sources import versions as ver

    clock = iter([1000.0, 2000.0, 3000.0])
    monkeypatch.setattr(ver, "_now", lambda: next(clock))
    path = str(tmp_path / "tbl")
    write_version(spark.createDataFrame([(1, "a")], "k int, v string"), path)
    for k, tag in ((2, "b"), (3, "c")):
        write_version(
            spark.createDataFrame([(k, tag)], "k int, v string"),
            path,
            op="append",
        )
    vacuum(path, keep_last=2, min_age_seconds=0)
    assert ver.version_at_timestamp(path, 2000.0) == 2
    with pytest.raises(ValueError, match="predates"):
        ver.version_at_timestamp(path, 1500.0)  # v1's slot was vacuumed


def test_alter_table_constraints_metadata_only(spark, tmp_path):
    """r14: ALTER TABLE ADD/DROP CONSTRAINT as a metadata-only commit —
    existing data validates first (Delta's rule), the commit adds no
    files, later writes enforce the declared set, incremental readers
    skip the alter version, and DROP clears."""
    from etl_dag_spark.sources.versions import (
        ConstraintViolationError,
        _load_raw,
        alter_table_constraints,
        read_version_delta,
    )

    path = str(tmp_path / "tbl")
    write_version(
        spark.createDataFrame([(1, 10), (2, 20)], "k int, amt int"), path
    )
    # adding a check the EXISTING data violates refuses, commits nothing
    with pytest.raises(ConstraintViolationError):
        alter_table_constraints(spark, path, add_check="amt > 15")
    assert history(path)[-1]["version"] == 1
    # a satisfiable check commits metadata-only
    v = alter_table_constraints(spark, path, add_check="amt > 0")
    assert v == 2
    m = _load_raw(path, 2)
    assert m["op"] == "alter" and m["add"] == []
    assert m["constraints"] == {"check": ["amt > 0"]}
    assert history(path)[-1]["n_files"] == history(path)[0]["n_files"]
    # the declared set now gates every later write
    with pytest.raises(ConstraintViolationError):
        write_version(
            spark.createDataFrame([(3, -1)], "k int, amt int"),
            path,
            op="append",
        )
    write_version(
        spark.createDataFrame([(3, 5)], "k int, amt int"), path, op="append"
    )  # v3
    # incremental readers skip the alter (dataChange=false)
    got = sorted(
        (r.k, r.amt) for r in read_version_delta(spark, path, 1, 3).collect()
    )
    assert got == [(3, 5)]
    # SET NOT NULL validates existing rows too
    alter_table_constraints(spark, path, add_not_null=["amt"])  # clean
    with pytest.raises(ConstraintViolationError):
        write_version(
            spark.createDataFrame([(4, None)], "k int, amt int"),
            path,
            op="append",
        )
    # DROP clears the whole (unnamed) set
    alter_table_constraints(spark, path, drop_all=True)
    write_version(
        spark.createDataFrame([(4, None)], "k int, amt int"),
        path,
        op="append",
    )
    assert len(read_version(spark, path).collect()) == 4


def test_alter_does_not_break_the_table_stream(spark, tmp_path):
    """An ALTER landing mid-stream is skipped like OPTIMIZE — the
    subscriber keeps flowing (a metadata commit must never force a
    restart)."""
    from etl_dag_spark.sources.versions import alter_table_constraints
    from etl_dag_spark.streaming.table_stream import read_table_stream

    path = str(tmp_path / "tbl")
    write_version(
        spark.createDataFrame([(1, "a")], "k int, v string"), path
    )
    q = (
        read_table_stream(spark, path)
        .writeStream.format("memory")
        .queryName("vt_alter")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        alter_table_constraints(spark, path, add_check="k > 0")
        write_version(
            spark.createDataFrame([(2, "b")], "k int, v string"),
            path,
            op="append",
        )
        q.processAllAvailable()
        got = sorted((r.k, r.v) for r in spark.table("vt_alter").collect())
        assert got == [(1, "a"), (2, "b")]
    finally:
        q.stop()


def test_alter_table_schema_add_and_drop_columns(spark, tmp_path):
    """r14: ADD COLUMNS / DROP COLUMN as metadata-only commits — added
    columns read as typed NULLs from pre-alter files, appends carry
    them forward, dropped columns project out of later reads while
    time travel still sees them, OPTIMIZE materializes the narrowed
    schema, and constraint-referenced columns refuse to drop."""
    from etl_dag_spark.sources.versions import (
        _load_raw,
        alter_table_constraints,
        alter_table_schema,
        compact_version,
        read_version_delta,
    )

    path = str(tmp_path / "tbl")
    write_version(
        spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"), path
    )  # v1
    v = alter_table_schema(spark, path, add_columns="score double")  # v2
    assert v == 2
    m = _load_raw(path, 2)
    assert m["op"] == "alter" and m["add"] == [] and m["evolved"]
    got = sorted(
        (r.k, r.v, r.score) for r in read_version(spark, path).collect()
    )
    assert got == [(1, "a", None), (2, "b", None)]
    # an append under the WIDENED schema flows through
    write_version(
        spark.createDataFrame(
            [(3, "c", 9.5)], "k int, v string, score double"
        ),
        path,
        op="append",
    )  # v3
    got = sorted(
        (r.k, r.score) for r in read_version(spark, path).collect()
    )
    assert got == [(1, None), (2, None), (3, 9.5)]
    # incremental read across the alter: only the appended rows
    inc = read_version_delta(spark, path, 1, 3)
    assert [(r.k, r.score) for r in inc.collect()] == [(3, 9.5)]
    # DROP COLUMN projects it out of later reads; time travel intact
    v = alter_table_schema(spark, path, drop_columns=["v"])  # v4
    assert read_version(spark, path).columns == ["k", "score"]
    assert "v" in read_version(spark, path, 3).columns
    # duplicate-add and unknown-drop refuse
    with pytest.raises(ValueError, match="already exist"):
        alter_table_schema(spark, path, add_columns="score double")
    with pytest.raises(ValueError, match="unknown"):
        alter_table_schema(spark, path, drop_columns=["nope"])
    # a constraint-referenced column refuses to drop
    alter_table_constraints(spark, path, add_check="k > 0")  # v5
    with pytest.raises(ValueError, match="constraint-referenced"):
        alter_table_schema(spark, path, drop_columns=["k"])
    # OPTIMIZE materializes the narrowed schema (no legacy bytes left)
    compact_version(spark, path)  # v6
    m6 = _load_raw(path, 6)
    assert not m6.get("evolved")
    assert read_version(spark, path).columns == ["k", "score"]



_KV = "k int, v string"
_CDC = "k int, v string, seq int, op string"

# One call per partial-rewrite verb (plus ALTER): (spark, path) -> version.
_VERBS = {
    "merge": lambda s, p, rows: merge_version(
        s, p, s.createDataFrame(rows, _KV), ["k"], "k"
    ),
    "delete": lambda s, p, where: delete_version(s, p, where),
    "update": lambda s, p, where: update_version(
        s, p, {"v": "upper(v)"}, where
    ),
    "merge_delete": lambda s, p, keys: merge_delete_version(
        s, p, s.createDataFrame([(k,) for k in keys], "k int"), ["k"]
    ),
    "merge_update": lambda s, p, rows, ins=False: merge_update_version(
        s, p, s.createDataFrame(rows, _KV), ["k"], {"v": "s.v"},
        insert_unmatched=ins,
    ),
    "cdc_apply": lambda s, p, rows: apply_cdc_version(
        s, p, s.createDataFrame(rows, _CDC), ["k"], "seq",
        drop_order_col=True,
    ),
}


def _kv_table(spark, path):
    """A 4-file table: keys 0-39, ten per file (one overwrite plus
    three appends, each written as a single file)."""
    for i in range(4):
        rows = [(k, f"v{k}") for k in range(10 * i, 10 * i + 10)]
        write_version(
            spark.createDataFrame(rows, _KV).coalesce(1),
            path,
            op="overwrite" if i == 0 else "append",
        )
    assert len(_load_manifest(path, 4)["files"]) == 4


# case -> (verb call on the 4-file table, Spark jobs it launches). The
# counts cover the touched-file discovery scan, the rewrite's write,
# any verb-specific aggregate (duplicate-key refusal, constraint
# check), and the exchanges AQE materializes as jobs of their own.
# merge_update_insert_no_match guards against a rewrite that builds a
# join over the empty touched frame, which Spark does not fold away.
_VERB_JOBS = {
    "merge": (lambda s, p: _VERBS["merge"](s, p, [(3, "x"), (99, "n")]), 6),
    "delete": (lambda s, p: _VERBS["delete"](s, p, "k = 3"), 3),
    "delete_nothing": (lambda s, p: _VERBS["delete"](s, p, "k < 0"), 2),
    "update": (lambda s, p: _VERBS["update"](s, p, "k = 3"), 3),
    "update_nothing": (lambda s, p: _VERBS["update"](s, p, "k < 0"), 2),
    "merge_delete": (lambda s, p: _VERBS["merge_delete"](s, p, [3]), 8),
    "merge_update": (
        lambda s, p: _VERBS["merge_update"](s, p, [(3, "x")]), 9
    ),
    "merge_update_insert_no_match": (
        lambda s, p: _VERBS["merge_update"](s, p, [(100, "x")], True), 7
    ),
    "cdc_apply": (
        lambda s, p: _VERBS["cdc_apply"](
            s, p, [(3, "x", 1, "U"), (4, None, 1, "D"), (99, "n", 1, "I")]
        ),
        9,
    ),
    "alter_constraints": (
        lambda s, p: alter_table_constraints(s, p, add_check="k >= 0"), 2
    ),
}


@pytest.mark.parametrize("case", sorted(_VERB_JOBS))
def test_verb_job_counts(spark, tmp_path, case):
    path = str(tmp_path / "tbl")
    _kv_table(spark, path)
    call, want = _VERB_JOBS[case]
    sc = spark.sparkContext
    group = f"versions-jobs-{case}"
    sc.setJobGroup(group, f"{case} job count")
    try:
        assert call(spark, path) == 5
    finally:
        sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) == want, f"{case} launched {len(jobs)} Spark jobs: {sorted(jobs)}"


_PCT_CASES = {
    "merge": (
        lambda s, p: _VERBS["merge"](s, p, [(2, "B"), (4, "d")]),
        [(1, "a"), (2, "B"), (3, "c"), (4, "d")],
    ),
    "delete": (
        lambda s, p: _VERBS["delete"](s, p, "k = 2"), [(1, "a"), (3, "c")]
    ),
    "update": (
        lambda s, p: _VERBS["update"](s, p, "k = 2"),
        [(1, "a"), (2, "B"), (3, "c")],
    ),
    "merge_delete": (
        lambda s, p: _VERBS["merge_delete"](s, p, [2]), [(1, "a"), (3, "c")]
    ),
    "merge_update": (
        lambda s, p: _VERBS["merge_update"](s, p, [(2, "B")]),
        [(1, "a"), (2, "B"), (3, "c")],
    ),
    "cdc_apply": (
        lambda s, p: _VERBS["cdc_apply"](
            s, p, [(2, "B", 1, "U"), (3, None, 1, "D")]
        ),
        [(1, "a"), (2, "B")],
    ),
}


@pytest.mark.parametrize("verb", sorted(_PCT_CASES))
def test_verbs_on_percent_encoded_table_path(spark, tmp_path, verb):
    """``_metadata.file_path`` is a URI: a table under a directory with
    a space or a ``%`` must still match its touched files against the
    manifest's plain paths."""
    path = str(tmp_path / "a b%41" / "t")
    write_version(
        spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], _KV), path
    )
    call, want = _PCT_CASES[verb]
    assert call(spark, path) == 2
    assert _rows(read_version(spark, path)) == want
    assert _load_manifest(path, 2)["replaced"]


def test_restore_publishes_checkpoint_on_cadence(spark, tmp_path):
    """A RESTORE that lands on a ``_CHECKPOINT_EVERY`` version writes the
    full-state sidecar like every other commit, and reads and CDC across
    it are the same with or without the sidecar."""
    from etl_dag_spark.sources.versions import cdc_rows, restore_version

    path = str(tmp_path / "tbl")
    for i in range(1, 10):
        write_version(
            spark.createDataFrame([(i, f"v{i}")], _KV),
            path,
            op="overwrite" if i == 1 else "append",
        )
    assert restore_version(path, 5) == 10
    ckpt = f"{path}/_manifests/v00000010.ckpt.json"
    assert os.path.exists(ckpt)
    write_version(spark.createDataFrame([(11, "v11")], _KV), path, op="append")

    def observe():
        return (
            [_rows(read_version(spark, path, v)) for v in (9, 10, 11)],
            sorted(
                (r.k, r._change_type)
                for r in cdc_rows(spark, path, 8, 11, key_cols=["k"]).collect()
            ),
        )

    with_ckpt = observe()
    assert with_ckpt[0][1] == [(k, f"v{k}") for k in range(1, 6)]
    assert with_ckpt[1] == [
        (6, "delete"), (7, "delete"), (8, "delete"), (11, "insert"),
    ]
    os.unlink(ckpt)
    assert observe() == with_ckpt
