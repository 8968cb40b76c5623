"""io/manifest.py: snapshot isolation, idempotent retries, optimistic
version racing, and time travel."""

from __future__ import annotations

import json
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from automated_etl_pipeline_spark.io.manifest import (
    commit_append,
    current_version,
    read_table,
)


@pytest.fixture()
def root():
    d = tempfile.mkdtemp(prefix="manifest_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(F.col("id").alias("k"))


def test_commits_accumulate_and_version_increments(spark, root):
    assert current_version(root) == 0
    v1 = commit_append(_df(spark, 0, 10), root, "r1")
    v2 = commit_append(_df(spark, 10, 30), root, "r2")
    assert (v1, v2) == (1, 2)
    assert read_table(spark, root).count() == 30


def test_orphan_files_are_invisible(spark, root):
    commit_append(_df(spark, 0, 10), root, "r1")
    _df(spark, 1000, 2000).write.parquet(os.path.join(root, "data", "orphan"))
    assert read_table(spark, root).count() == 10


def test_retry_same_run_id_is_noop(spark, root):
    commit_append(_df(spark, 0, 10), root, "r1")
    v = commit_append(_df(spark, 0, 10), root, "r1")
    assert v == 1
    assert current_version(root) == 1
    assert read_table(spark, root).count() == 10


def test_time_travel_pins_old_snapshot(spark, root):
    commit_append(_df(spark, 0, 10), root, "r1")
    commit_append(_df(spark, 10, 30), root, "r2")
    assert read_table(spark, root, version=1).count() == 10
    assert read_table(spark, root, version=2).count() == 30


def test_version_race_retries_not_overwrites(spark, root):
    """A competing writer grabs the next version file between our
    staging and publish; the commit must land at a HIGHER version with
    the competitor's manifest intact."""
    commit_append(_df(spark, 0, 5), root, "r1")
    # competitor publishes v2 out from under us
    with open(os.path.join(root, "_manifest", "v0000000001.json")) as f:
        competitor = {
            **json.load(f),
            "version": 2,
            "run_ids": ["r1", "competitor"],
        }
    with open(os.path.join(root, "_manifest", "v0000000002.json"), "x") as f:
        json.dump(competitor, f)
    v = commit_append(_df(spark, 5, 9), root, "r2")
    assert v == 3
    # competitor's manifest untouched, our commit builds on it
    assert read_table(spark, root).count() == 9
    assert current_version(root) == 3


def test_read_empty_table_raises(spark, root):
    with pytest.raises(FileNotFoundError):
        read_table(spark, root)


def test_rewrite_replaces_snapshot_keeps_history(spark, root):
    from automated_etl_pipeline_spark.io.manifest import (
        commit_rewrite,
        manifest_files,
    )

    commit_append(_df(spark, 0, 10), root, "r1")
    commit_append(_df(spark, 10, 20), root, "r2")
    n_before = len(manifest_files(root))
    commit_rewrite(
        read_table(spark, root).repartition(1), root, "compact"
    )
    assert len(manifest_files(root)) == 1 < n_before
    assert read_table(spark, root).count() == 20
    # pre-compaction snapshot still readable, fragmented
    assert read_table(spark, root, version=2).count() == 20
    assert len(manifest_files(root, version=2)) == n_before


def test_rewrite_retry_is_noop(spark, root):
    from automated_etl_pipeline_spark.io.manifest import commit_rewrite

    commit_append(_df(spark, 0, 10), root, "r1")
    commit_rewrite(_df(spark, 0, 5), root, "rw")
    v = commit_rewrite(_df(spark, 0, 5), root, "rw")
    assert v == 2 and current_version(root) == 2
    assert read_table(spark, root).count() == 5


def test_zone_map_prunes_and_is_conservative(spark, root):
    from automated_etl_pipeline_spark.io.manifest import read_table_pruned

    # three files with disjoint ranges, stats recorded
    for lo, hi, rid in [(0, 10, "a"), (100, 110, "b"), (200, 210, "c")]:
        commit_append(
            _df(spark, lo, hi).coalesce(1), root, rid, stats_cols=["k"]
        )
    df, total, scanned = read_table_pruned(
        spark, root, predicates={"k": (100, 105)}
    )
    assert (total, scanned) == (3, 1)
    assert df.count() == 10  # whole middle file; caller applies row filter
    # statless commit must be scanned conservatively
    commit_append(_df(spark, 500, 505).coalesce(1), root, "nostats")
    df2, total2, scanned2 = read_table_pruned(
        spark, root, predicates={"k": (100, 105)}
    )
    assert (total2, scanned2) == (4, 2)
    # empty selection keeps the schema
    df3, _, scanned3 = read_table_pruned(
        spark, root, predicates={"k": (-50, -10)}
    )
    assert scanned3 == 1  # only the statless file survives pruning
    assert df3.columns == ["k"]


def test_read_changes_tails_appends(spark, root):
    from automated_etl_pipeline_spark.io.manifest import (
        commit_rewrite,
        read_changes,
    )

    commit_append(_df(spark, 0, 10), root, "r1")
    commit_append(_df(spark, 10, 25), root, "r2")
    commit_append(_df(spark, 25, 30), root, "r3")
    assert read_changes(spark, root, 1, 2).count() == 15
    assert read_changes(spark, root, 1, 3).count() == 20
    assert read_changes(spark, root, 0, 1).count() == 10
    assert read_changes(spark, root, 2, 2).count() == 0
    # a rewrite breaks append-tailing across it
    commit_rewrite(read_table(spark, root).repartition(1), root, "c")
    with pytest.raises(ValueError):
        read_changes(spark, root, 3, 4)
    # but tailing resumes past the rewrite
    commit_append(_df(spark, 30, 33), root, "r4")
    assert read_changes(spark, root, 4, 5).count() == 3


def test_vacuum_reclaims_unreferenced_keeps_retained(spark, root):
    from automated_etl_pipeline_spark.io.manifest import (
        commit_rewrite,
        manifest_files,
        vacuum,
    )

    commit_append(_df(spark, 0, 10), root, "r1")
    commit_append(_df(spark, 10, 20), root, "r2")
    # an orphan stage that never committed
    _df(spark, 900, 910).coalesce(1).write.parquet(
        os.path.join(root, "data", "orphan")
    )
    commit_rewrite(read_table(spark, root).repartition(1), root, "compact")
    # min_orphan_age_s=-1: treat the just-written orphan as aged out
    # (production default is a day — in-flight stages must survive)
    deleted = vacuum(root, keep_last=1, min_orphan_age_s=-1)
    # fragmented files + the orphan are gone; the compacted file lives
    assert deleted and all("orphan" in p or p not in manifest_files(root) for p in deleted)
    assert read_table(spark, root).count() == 20
    # pre-compaction manifests are dropped with their files
    with pytest.raises(FileNotFoundError):
        read_table(spark, root, version=1).count()


def test_vacuum_respects_retention_window(spark, root):
    from automated_etl_pipeline_spark.io.manifest import vacuum

    commit_append(_df(spark, 0, 10), root, "r1")
    commit_append(_df(spark, 10, 20), root, "r2")
    deleted = vacuum(root, keep_last=2)
    assert deleted == []  # both versions retained -> all files live
    assert read_table(spark, root, version=1).count() == 10
    assert read_table(spark, root, version=2).count() == 20


def test_vacuum_spares_young_inflight_stage(spark, root):
    """A staged-but-unpublished commit (a concurrent writer between
    staging and manifest create) must survive vacuum: unreferenced
    files are swept only past min_orphan_age_s."""
    from automated_etl_pipeline_spark.io.manifest import vacuum

    commit_append(_df(spark, 0, 10), root, "r1")
    # simulate a writer mid-commit: staged files, no manifest yet
    _df(spark, 50, 60).coalesce(1).write.parquet(
        os.path.join(root, "data", "inflight")
    )
    deleted = vacuum(root, keep_last=1)  # default: one-day orphan age
    assert deleted == []
    assert os.path.isdir(os.path.join(root, "data", "inflight"))


def test_rewrite_trims_stale_stats_and_manifest_stays_bounded(spark, root):
    """r12 ADVICE: a rewrite must drop zone-map stats for files it
    unreferences — the manifest is O(live files + idempotence window),
    not O(history)."""
    from automated_etl_pipeline_spark.io.manifest import (
        _resolve_state,
        commit_rewrite,
    )

    commit_append(_df(spark, 0, 10), root, "r1", stats_cols=["k"])
    commit_append(_df(spark, 10, 20), root, "r2", stats_cols=["k"])
    v = commit_rewrite(_df(spark, 0, 20).coalesce(1), root, "compact-1")
    m = _resolve_state(root, v)
    # every stats key references a live file; the superseded files'
    # stats are gone
    assert set(m.get("stats", {})) <= set(m["files"])
    old = _resolve_state(root, v - 1)
    stale = set(old["files"]) - set(m["files"])
    assert stale and not (stale & set(m.get("stats", {})))


def test_run_id_ledger_is_bounded(spark, root, monkeypatch):
    """The idempotence ledger keeps only the newest RUN_ID_RETENTION
    entries (r12 ADVICE: unbounded growth, rewritten on every commit).
    Outside the window a duplicate run_id re-commits — the documented
    retention trade."""
    import automated_etl_pipeline_spark.io.manifest as mf

    monkeypatch.setattr(mf, "RUN_ID_RETENTION", 3)
    for i in range(5):
        commit_append(_df(spark, i, i + 1), root, f"run-{i}")
    m = mf._resolve_state(root, current_version(root))
    assert m["run_ids"] == ["run-2", "run-3", "run-4"]
    # inside the window: still a no-op
    v = current_version(root)
    assert commit_append(_df(spark, 0, 1), root, "run-3") == v
    # outside the window: re-commits (the retention contract)
    assert commit_append(_df(spark, 0, 1), root, "run-0") == v + 1


def test_vacuum_survives_concurrently_removed_stage(spark, root, monkeypatch):
    """r12 ADVICE: a stage directory vanishing between listdir and
    stat must not abort the vacuum pass."""
    import os as _os

    from automated_etl_pipeline_spark.io.manifest import vacuum

    commit_append(_df(spark, 0, 10), root, "r1")
    # plant an empty stage dir, then make stat on it raise as if a
    # concurrent writer removed it mid-pass
    ghost = os.path.join(root, "data", "ghost-stage")
    os.makedirs(ghost)
    real_getmtime = _os.path.getmtime

    def flaky_getmtime(p):
        if p == ghost:
            raise OSError("concurrently removed")
        return real_getmtime(p)

    monkeypatch.setattr(_os.path, "getmtime", flaky_getmtime)
    deleted = vacuum(root, keep_last=1, min_orphan_age_s=0.0)
    assert deleted == []  # no live file touched, no crash
    assert os.path.isdir(ghost)  # treated as young, spared this pass


def test_rewrite_conflict_detection(spark, root):
    """r13: a REPLACE commit computed from version B must refuse to
    publish once the table advanced past B — without the check it
    would silently drop the interleaved append's files from the new
    snapshot (the lost-update anomaly).  Recomputing from the current
    snapshot succeeds."""
    from automated_etl_pipeline_spark.io.manifest import (
        CommitConflictError,
        commit_rewrite,
        read_table,
    )

    commit_append(_df(spark, 0, 10), root, "r1")
    base = current_version(root)
    compacted = read_table(spark, root).coalesce(1)
    # a concurrent append lands between the read and the publish
    commit_append(_df(spark, 10, 15), root, "r2")
    with pytest.raises(CommitConflictError, match="computed from v1"):
        commit_rewrite(compacted, root, "compact-1", expected_base=base)
    # table unchanged by the failed attempt
    assert current_version(root) == 2
    got = sorted(r["k"] for r in read_table(spark, root).collect())
    assert got == list(range(15))
    # recompute from the CURRENT snapshot: conflict clears
    v = commit_rewrite(
        read_table(spark, root).coalesce(1),
        root,
        "compact-2",
        expected_base=current_version(root),
    )
    assert v == 3
    got = sorted(r["k"] for r in read_table(spark, root).collect())
    assert got == list(range(15))


def test_rewrite_without_base_is_last_writer_wins(spark, root):
    """expected_base=None keeps the documented replacement semantics:
    the publish succeeds and the snapshot is exactly df's content."""
    from automated_etl_pipeline_spark.io.manifest import (
        commit_rewrite,
        read_table,
    )

    commit_append(_df(spark, 0, 10), root, "r1")
    commit_append(_df(spark, 10, 15), root, "r2")
    commit_rewrite(_df(spark, 100, 103), root, "replace-all")
    got = sorted(r["k"] for r in read_table(spark, root).collect())
    assert got == [100, 101, 102]


def test_vacuum_sweeps_aged_publish_tmp(spark, root):
    """A writer that died between writing its temp manifest and the
    hard-link leaves a v*.json.tmp-* file; vacuum reclaims it only
    past the orphan-age gate, and readers never see it either way."""
    from automated_etl_pipeline_spark.io.manifest import vacuum

    commit_append(_df(spark, 0, 5), root, "r1")
    tmp = os.path.join(root, "_manifest", "v0000000002.json.tmp-deadbeef")
    with open(tmp, "w") as f:
        f.write("{}")
    assert current_version(root) == 1  # invisible to version resolution
    vacuum(root, keep_last=1, min_orphan_age_s=3600.0)
    assert os.path.exists(tmp)  # young: spared
    vacuum(root, keep_last=1, min_orphan_age_s=0.0)
    assert not os.path.exists(tmp)  # aged: reclaimed


def test_multicol_stats_prune_conjunctively(spark, root):
    """r14 multi-column zone maps: files skip only when DISJOINT on at
    least one predicate column; a file intersecting every column is
    read.  Partition-value semantics (min == max) ride the same
    mechanism."""
    from automated_etl_pipeline_spark.io.manifest import (
        _resolve_state,
        read_table_pruned,
    )

    # 4 files: (part p, values v) = (0, 0..9), (0, 10..19), (1, 0..9),
    # (1, 10..19)
    for p in (0, 1):
        for lo in (0, 10):
            df = (
                spark.range(lo, lo + 10)
                .select(
                    F.lit(p).cast("long").alias("part"),
                    F.col("id").alias("v"),
                )
                .coalesce(1)
            )
            commit_append(
                df, root, f"c-{p}-{lo}", stats_cols=["part", "v"]
            )
    m = _resolve_state(root, 4)
    # every file carries dict-format stats for both columns; the
    # partition column's stats degenerate to min == max
    for f, s in m["stats"].items():
        assert set(s) == {"part", "v"} and s["part"][0] == s["part"][1]

    # conjunctive prune: part = 1 AND v in [2, 5] -> exactly 1 file
    got, total, scanned = read_table_pruned(
        spark, root, predicates={"part": (1, 1), "v": (2, 5)}
    )
    assert (total, scanned) == (4, 1)
    rows = sorted(
        r["v"]
        for r in got.filter(
            (F.col("part") == 1) & F.col("v").between(2, 5)
        ).collect()
    )
    assert rows == [2, 3, 4, 5]

    # a column with no recorded stats can never cause a skip
    got2, total2, scanned2 = read_table_pruned(
        spark, root, predicates={"no_such_stats": (0, 0), "part": (0, 0)}
    )
    assert (total2, scanned2) == (4, 2)

    # a single-column predicate is the one-entry case
    _, total3, scanned3 = read_table_pruned(
        spark, root, predicates={"v": (12, 13)}
    )
    assert (total3, scanned3) == (4, 2)


# ---- merge-on-read equality deletes (r14) --------------------------------


def _keys(spark, *ks):
    return spark.createDataFrame([(k,) for k in ks], "k long")


def test_delete_hides_matching_rows_without_touching_data(spark, root):
    from automated_etl_pipeline_spark.io.manifest import (
        commit_delete,
        manifest_delete_files,
        manifest_files,
    )

    commit_append(_df(spark, 0, 10), root, "a1")
    files_before = manifest_files(root)
    commit_delete(_keys(spark, 2, 5, 7, 99), root, "d1", ["k"])
    assert manifest_files(root) == files_before  # zero data files touched
    assert len(manifest_delete_files(root)) >= 1
    got = sorted(r["k"] for r in read_table(spark, root).collect())
    assert got == [0, 1, 3, 4, 6, 8, 9]  # 99 was a no-op key


def test_later_append_survives_earlier_delete(spark, root):
    """Iceberg sequence rule: delete.at > file.added_at — a re-insert
    of a deleted key AFTER the delete commit must survive, and must
    appear exactly once (the pre-delete copy stays hidden)."""
    from automated_etl_pipeline_spark.io.manifest import commit_delete

    commit_append(_df(spark, 0, 6), root, "a1")  # v1: 0..5
    commit_delete(_keys(spark, 1, 3), root, "d1", ["k"])  # v2
    commit_append(_df(spark, 3, 4), root, "a2")  # v3: re-insert 3
    got = sorted(r["k"] for r in read_table(spark, root).collect())
    assert got == [0, 2, 3, 4, 5]
    assert got.count(3) == 1


def test_time_travel_before_delete_sees_all_rows(spark, root):
    from automated_etl_pipeline_spark.io.manifest import (
        commit_delete,
        manifest_files,
    )

    commit_append(_df(spark, 0, 5), root, "a1")
    commit_delete(_keys(spark, 0, 1), root, "d1", ["k"])
    assert read_table(spark, root, version=1).count() == 5
    assert read_table(spark, root).count() == 3
    # the raw committed rows, deletes not applied (an audit read)
    assert spark.read.parquet(*manifest_files(root)).count() == 5


def test_rewrite_materializes_and_clears_deletes(spark, root):
    from automated_etl_pipeline_spark.io.manifest import (
        commit_delete,
        commit_rewrite,
        current_version,
        manifest_delete_files,
    )

    commit_append(_df(spark, 0, 8), root, "a1")
    commit_delete(_keys(spark, 0, 4), root, "d1", ["k"])
    base = current_version(root)
    commit_rewrite(read_table(spark, root), root, "c1", expected_base=base)
    assert manifest_delete_files(root) == []
    got = sorted(r["k"] for r in read_table(spark, root).collect())
    assert got == [1, 2, 3, 5, 6, 7]


def test_delete_retry_same_run_id_is_noop(spark, root):
    from automated_etl_pipeline_spark.io.manifest import (
        commit_delete,
        current_version,
        manifest_delete_files,
    )

    commit_append(_df(spark, 0, 5), root, "a1")
    v = commit_delete(_keys(spark, 2), root, "d1", ["k"])
    assert commit_delete(_keys(spark, 2), root, "d1", ["k"]) == v
    assert current_version(root) == v
    assert len(manifest_delete_files(root)) == 1
    assert read_table(spark, root).count() == 4


def test_mixed_key_column_groups_apply_independently(spark, root):
    from automated_etl_pipeline_spark.io.manifest import commit_delete

    df = spark.createDataFrame(
        [(i, f"u{i % 3}") for i in range(9)], "k long, u string"
    )
    commit_append(df, root, "a1")
    commit_delete(_keys(spark, 1, 2), root, "d1", ["k"])
    commit_delete(
        spark.createDataFrame([("u0",)], "u string"), root, "d2", ["u"]
    )
    got = sorted(r["k"] for r in read_table(spark, root).collect())
    # k in {1,2} gone; u0 = k%3==0 -> {0,3,6} gone
    assert got == [4, 5, 7, 8]


def test_read_changes_raises_across_delete_commit(spark, root):
    from automated_etl_pipeline_spark.io.manifest import (
        commit_delete,
        read_changes,
    )

    commit_append(_df(spark, 0, 5), root, "a1")  # v1
    commit_delete(_keys(spark, 2), root, "d1", ["k"])  # v2
    commit_append(_df(spark, 5, 7), root, "a2")  # v3
    with pytest.raises(ValueError, match="delete commit"):
        read_changes(spark, root, 1, 3)
    # tailing AFTER the delete is pure appends again
    assert read_changes(spark, root, 2, 3).count() == 2


def test_vacuum_keeps_live_delete_files_reclaims_after_compaction(
    spark, root
):
    from automated_etl_pipeline_spark.io.manifest import (
        commit_delete,
        commit_rewrite,
        current_version,
        manifest_delete_files,
        vacuum,
    )

    commit_append(_df(spark, 0, 8), root, "a1")
    commit_delete(_keys(spark, 0), root, "d1", ["k"])
    del_path = manifest_delete_files(root)[0]["path"]
    vacuum(root, keep_last=1, min_orphan_age_s=0.0)
    assert os.path.exists(del_path)  # live delete file must survive
    assert read_table(spark, root).count() == 7
    base = current_version(root)
    commit_rewrite(read_table(spark, root), root, "c1", expected_base=base)
    vacuum(root, keep_last=1, min_orphan_age_s=0.0)
    assert not os.path.exists(del_path)  # materialized: reclaimable
    assert read_table(spark, root).count() == 7


def test_pruned_read_applies_pending_deletes(spark, root):
    from automated_etl_pipeline_spark.io.manifest import (
        commit_delete,
        read_table_pruned,
    )

    commit_append(_df(spark, 0, 100), root, "a1", stats_cols=["k"])
    commit_append(_df(spark, 100, 200), root, "a2", stats_cols=["k"])
    commit_delete(_keys(spark, 150, 199, 10), root, "d1", ["k"])
    df, total, scanned = read_table_pruned(
        spark, root, predicates={"k": (100, 250)}
    )
    assert scanned < total
    got = sorted(r["k"] for r in df.filter(F.col("k") >= 100).collect())
    assert len(got) == 98 and 150 not in got and 199 not in got


def test_marker_column_collision_raises(spark, root):
    from automated_etl_pipeline_spark.io.manifest import commit_delete

    df = spark.range(3).select(F.col("id").alias("__added_at"))
    commit_append(df, root, "a1")
    commit_delete(
        spark.createDataFrame([(1,)], "__added_at bigint"),
        root,
        "d1",
        ["__added_at"],
    )
    with pytest.raises(ValueError, match="collide"):
        read_table(spark, root).collect()


# ---- change-data-feed with retractions (r14) ------------------------------


def test_recorded_delete_serves_cdf_rows(spark, root):
    from automated_etl_pipeline_spark.io.manifest import (
        commit_delete,
        read_changes_cdf,
    )

    commit_append(_df(spark, 0, 6), root, "a1")  # v1
    commit_delete(
        _keys(spark, 1, 4), root, "d1", ["k"], record_changes=True
    )  # v2
    commit_append(_df(spark, 6, 8), root, "a2")  # v3
    ch = read_changes_cdf(spark, root, 1, 3)
    got = sorted(
        (r["k"], r["_change_type"]) for r in ch.collect()
    )
    assert got == [
        (1, "delete"),
        (4, "delete"),
        (6, "insert"),
        (7, "insert"),
    ]


def test_cdf_insert_then_delete_in_range_nets_zero(spark, root):
    from automated_etl_pipeline_spark.io.manifest import (
        commit_delete,
        read_changes_cdf,
    )
    from pyspark.sql import functions as SF

    commit_append(_df(spark, 0, 3), root, "a1")  # v1
    commit_append(_df(spark, 3, 6), root, "a2")  # v2: inserts 3,4,5
    commit_delete(
        _keys(spark, 4), root, "d1", ["k"], record_changes=True
    )  # v3
    ch = read_changes_cdf(spark, root, 1, 3)
    net = (
        ch.groupBy("k")
        .agg(
            SF.sum(
                SF.when(SF.col("_change_type") == "delete", -1).otherwise(1)
            ).alias("d")
        )
        .filter(SF.col("d") != 0)
    )
    assert sorted(r["k"] for r in net.collect()) == [3, 5]


def test_cdf_raises_on_unrecorded_delete(spark, root):
    from automated_etl_pipeline_spark.io.manifest import (
        commit_delete,
        read_changes_cdf,
    )

    commit_append(_df(spark, 0, 5), root, "a1")
    commit_delete(_keys(spark, 2), root, "d1", ["k"])  # no CDF record
    with pytest.raises(ValueError, match="did not record its changes"):
        read_changes_cdf(spark, root, 1, 2)


def test_recorded_delete_conflict_checks_its_base(spark, root):
    """The victims were computed from a snapshot; a commit landing in
    between would make the recorded changes stale — same lost-update
    rule as rewrites."""
    from automated_etl_pipeline_spark.io.manifest import (
        CommitConflictError,
        commit_delete,
        current_version,
    )

    commit_append(_df(spark, 0, 5), root, "a1")
    base = current_version(root)
    commit_append(_df(spark, 5, 7), root, "a2")  # interleaved
    with pytest.raises(CommitConflictError):
        commit_delete(
            _keys(spark, 1),
            root,
            "d1",
            ["k"],
            record_changes=True,
            expected_base=base,
        )


def test_vacuum_keeps_cdf_victim_files(spark, root):
    from automated_etl_pipeline_spark.io.manifest import (
        commit_delete,
        manifest_delete_files,
        vacuum,
    )

    commit_append(_df(spark, 0, 5), root, "a1")
    commit_delete(
        _keys(spark, 2, 3), root, "d1", ["k"], record_changes=True
    )
    removed = manifest_delete_files(root)[0]["removed"]
    assert removed  # victims were materialized
    vacuum(root, keep_last=1, min_orphan_age_s=0.0)
    for p in removed:
        assert os.path.exists(p)


# ---- partial compaction / replace-files commits (r14) ----------------------


def test_partial_compaction_swaps_only_named_files(spark, root):
    from automated_etl_pipeline_spark.io.manifest import (
        compact_small_files,
        manifest_files,
    )

    commit_append(_df(spark, 0, 10).repartition(4), root, "a1")
    commit_append(_df(spark, 10, 20).coalesce(1), root, "a2")
    before = manifest_files(root)
    v, n = compact_small_files(spark, root, "c1", max_bytes=10**9)
    after = manifest_files(root)
    assert n == len(before) and len(after) == 1 and v == 3
    got = sorted(r["k"] for r in read_table(spark, root).collect())
    assert got == list(range(20))


def test_interleaved_append_does_not_conflict_with_replace(spark, root):
    """The point of replace-files vs full rewrite: an append landing
    between plan and publish touches disjoint files and must coexist."""
    from automated_etl_pipeline_spark.io.manifest import (
        commit_replace_files,
        current_version,
        manifest_files,
        read_table_subset,
    )

    commit_append(_df(spark, 0, 10).repartition(3), root, "a1")
    base = current_version(root)
    targets = manifest_files(root)
    merged = read_table_subset(spark, root, targets).coalesce(1)
    commit_append(_df(spark, 10, 15), root, "a2")  # interleaves
    v = commit_replace_files(merged, root, "c1", targets, expected_base=base)
    assert v == 3
    got = sorted(r["k"] for r in read_table(spark, root).collect())
    assert got == list(range(15))


def test_replace_conflicts_when_target_file_gone(spark, root):
    from automated_etl_pipeline_spark.io.manifest import (
        CommitConflictError,
        commit_replace_files,
        commit_rewrite,
        current_version,
        manifest_files,
        read_table_subset,
    )

    commit_append(_df(spark, 0, 10).repartition(3), root, "a1")
    base = current_version(root)
    targets = manifest_files(root)
    merged = read_table_subset(spark, root, targets).coalesce(1)
    commit_rewrite(read_table(spark, root), root, "rw", expected_base=base)
    with pytest.raises(CommitConflictError, match="no longer live"):
        commit_replace_files(merged, root, "c1", targets, expected_base=base)


def test_replace_conflicts_when_delete_lands_in_between(spark, root):
    from automated_etl_pipeline_spark.io.manifest import (
        CommitConflictError,
        commit_delete,
        commit_replace_files,
        current_version,
        manifest_files,
        read_table_subset,
    )

    commit_append(_df(spark, 0, 10).repartition(3), root, "a1")
    base = current_version(root)
    targets = manifest_files(root)
    merged = read_table_subset(spark, root, targets).coalesce(1)
    commit_delete(_keys(spark, 3), root, "d1", ["k"])  # interleaves
    with pytest.raises(CommitConflictError, match="delete commit landed"):
        commit_replace_files(merged, root, "c1", targets, expected_base=base)


def test_compaction_applies_pending_deletes_permanently(spark, root):
    from automated_etl_pipeline_spark.io.manifest import (
        commit_delete,
        compact_small_files,
        manifest_delete_files,
    )

    commit_append(_df(spark, 0, 10).repartition(2), root, "a1")
    commit_delete(_keys(spark, 1, 8), root, "d1", ["k"])
    v, n = compact_small_files(spark, root, "c1", max_bytes=10**9)
    assert n == 2
    # delete entries stay (other files could still need them) but the
    # rewritten rows no longer contain the victims...
    got = sorted(r["k"] for r in read_table(spark, root).collect())
    assert got == [0, 2, 3, 4, 5, 6, 7, 9]
    # ...and the time-traveled pre-compaction snapshot still works
    assert read_table(spark, root, version=2).count() == 8
    assert len(manifest_delete_files(root)) == 1


def test_change_feed_skips_partial_compaction(spark, root):
    """A replace commit preserves content — the change feed (and the
    MV riding it) must pass over it instead of forcing a snapshot
    resume."""
    from automated_etl_pipeline_spark.io.manifest import (
        compact_small_files,
        read_changes,
        read_changes_cdf,
    )

    commit_append(_df(spark, 0, 6).repartition(2), root, "a1")  # v1
    compact_small_files(spark, root, "c1", max_bytes=10**9)  # v2
    commit_append(_df(spark, 6, 9), root, "a2")  # v3
    ch = read_changes(spark, root, 1, 3)
    assert sorted(r["k"] for r in ch.collect()) == [6, 7, 8]
    cdf = read_changes_cdf(spark, root, 1, 3)
    assert sorted((r["k"], r["_change_type"]) for r in cdf.collect()) == [
        (6, "insert"),
        (7, "insert"),
        (8, "insert"),
    ]


def test_walk_raises_when_range_manifest_vacuumed(spark, root):
    from automated_etl_pipeline_spark.io.manifest import (
        read_changes,
        vacuum,
    )

    # 9 commits: checkpoints at v1 and v8, deltas between — vacuum's
    # anchor rule keeps v8+ for keep_last=1 and drops v1..v7
    for i in range(9):
        commit_append(_df(spark, 3 * i, 3 * i + 3), root, f"a{i}")
    vacuum(root, keep_last=1, min_orphan_age_s=0.0)
    with pytest.raises(ValueError, match="expired"):
        read_changes(spark, root, 1, 3)
    # the retained tip stays fully resolvable
    assert read_table(spark, root).count() == 27


# ---- schema evolution (r14) ------------------------------------------------


def test_additive_column_evolves_and_backfills_null(spark, root):
    from automated_etl_pipeline_spark.io.manifest import table_schema

    commit_append(_df(spark, 0, 3), root, "a1")  # k only
    commit_append(
        _df(spark, 3, 6).withColumn("tag", F.lit("new")), root, "a2"
    )
    got = {(r["k"], r["tag"]) for r in read_table(spark, root).collect()}
    assert got == {(0, None), (1, None), (2, None)} | {
        (3, "new"), (4, "new"), (5, "new")
    }
    assert table_schema(root).fieldNames() == ["k", "tag"]
    # time travel: v1 predates the column entirely
    assert read_table(spark, root, version=1).columns == ["k"]


def test_append_missing_column_fills_null(spark, root):
    commit_append(
        _df(spark, 0, 2).withColumn("tag", F.lit("x")), root, "a1"
    )
    commit_append(_df(spark, 2, 4), root, "a2")  # no tag column
    got = {(r["k"], r["tag"]) for r in read_table(spark, root).collect()}
    assert got == {(0, "x"), (1, "x"), (2, None), (3, None)}


def test_type_conflict_rejected_before_staging(spark, root):
    from automated_etl_pipeline_spark.io.manifest import (
        SchemaEvolutionError,
        manifest_files,
    )

    commit_append(_df(spark, 0, 2), root, "a1")  # k: long
    n_files = len(manifest_files(root))
    bad = spark.createDataFrame([("oops",)], "k string")
    with pytest.raises(SchemaEvolutionError, match="column 'k'"):
        commit_append(bad, root, "a2")
    assert len(manifest_files(root)) == n_files  # nothing staged/committed


def test_rewrite_redefines_schema_drops_column(spark, root):
    from automated_etl_pipeline_spark.io.manifest import (
        commit_rewrite,
        current_version,
        table_schema,
    )

    commit_append(
        _df(spark, 0, 4).withColumn("tag", F.lit("x")), root, "a1"
    )
    base = current_version(root)
    commit_rewrite(
        read_table(spark, root).drop("tag"), root, "rw", expected_base=base
    )
    assert table_schema(root).fieldNames() == ["k"]
    assert read_table(spark, root).columns == ["k"]
    # and a later append may re-add it as a fresh evolution
    commit_append(
        _df(spark, 4, 5).withColumn("tag", F.lit("y")), root, "a2"
    )
    assert table_schema(root).fieldNames() == ["k", "tag"]


def test_evolution_composes_with_deletes_and_feed(spark, root):
    from automated_etl_pipeline_spark.io.manifest import (
        commit_delete,
        read_changes,
    )

    commit_append(_df(spark, 0, 4), root, "a1")
    commit_append(
        _df(spark, 4, 8).withColumn("tag", F.lit("t")), root, "a2"
    )
    commit_delete(_keys(spark, 1, 5), root, "d1", ["k"])
    got = {(r["k"], r["tag"]) for r in read_table(spark, root).collect()}
    assert got == {
        (0, None), (2, None), (3, None), (4, "t"), (6, "t"), (7, "t")
    }
    # feed across the evolution (appends only) serves the NEW schema
    ch = read_changes(spark, root, 1, 2)
    assert set(ch.columns) == {"k", "tag"}


def test_read_without_deletes_stays_a_plain_scan(spark, root):
    """The delete machinery must cost NOTHING until used: a snapshot
    with no pending deletes reads as a plain multi-file parquet scan —
    no union-by-commit, no anti-join in the plan."""
    commit_append(_df(spark, 0, 10), root, "a1")
    commit_append(_df(spark, 10, 20), root, "a2")
    plan = (
        read_table(spark, root)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Join" not in plan and "Union" not in plan


def test_delete_key_column_validated_against_schema(spark, root):
    """Review r14: a typo'd delete key column must fail at commit time
    — published, it would make every later read (and the rewrite
    repair path) raise inside the anti-join."""
    from automated_etl_pipeline_spark.io.manifest import (
        SchemaEvolutionError,
        commit_delete,
        current_version,
    )

    commit_append(_df(spark, 0, 5), root, "a1")
    with pytest.raises(SchemaEvolutionError, match="not a table column"):
        commit_delete(
            spark.createDataFrame([(1,)], "key long"), root, "d1", ["key"]
        )
    with pytest.raises(SchemaEvolutionError, match="table type"):
        commit_delete(
            spark.createDataFrame([("1",)], "k string"), root, "d2", ["k"]
        )
    assert current_version(root) == 1
    assert read_table(spark, root).count() == 5


def test_stats_commit_works_under_uri_hostile_root(spark):
    """Review r14: the one-pass stats collection maps
    input_file_name()'s percent-encoded URI back to the staged path —
    a root containing a space (URI '%20') must still record per-file
    stats and prune.  (Relative roots are out of scope for any Spark
    path: the JVM and the Python process resolve them against
    different working directories even before stats enter the
    picture.)"""
    from automated_etl_pipeline_spark.io.manifest import read_table_pruned

    root = tempfile.mkdtemp(prefix="manifest test with space ")
    try:
        commit_append(
            _df(spark, 0, 10).coalesce(1), root, "a1", stats_cols=["k"]
        )
        commit_append(
            _df(spark, 100, 110).coalesce(1), root, "a2", stats_cols=["k"]
        )
        df, total, scanned = read_table_pruned(
            spark, root, predicates={"k": (0, 50)}
        )
        assert (total, scanned) == (2, 1)
        assert df.count() == 10
    finally:
        shutil.rmtree(root, ignore_errors=True)


# ---- delta manifests + checkpoints (r14) -----------------------------------


def test_delta_manifests_small_checkpoints_full(spark, root):
    """v1, every CHECKPOINT_EVERY-th version, and rewrites publish the
    full state; versions between publish only their delta — the JSON
    written per append must not grow with the table's file count."""
    import json as _json

    from automated_etl_pipeline_spark.io.manifest import (
        CHECKPOINT_EVERY,
        _manifest_dir,
    )

    for i in range(CHECKPOINT_EVERY + 2):
        commit_append(_df(spark, i, i + 1).repartition(2), root, f"a{i}")
    sizes = {}
    kinds = {}
    for v in range(1, CHECKPOINT_EVERY + 3):
        path = os.path.join(_manifest_dir(root), f"v{v:010d}.json")
        sizes[v] = os.path.getsize(path)
        kinds[v] = (
            "full" if "files" in _json.loads(open(path).read()) else "delta"
        )
    assert kinds[1] == "full" and kinds[CHECKPOINT_EVERY] == "full"
    deltas = [v for v, k in kinds.items() if k == "delta"]
    assert len(deltas) == CHECKPOINT_EVERY
    # a late delta is no bigger than an early one grew: O(commit), not
    # O(table) — compare against the growing checkpoint
    assert max(sizes[v] for v in deltas) < sizes[CHECKPOINT_EVERY]
    # and the resolved tip reads everything
    assert read_table(spark, root).count() == CHECKPOINT_EVERY + 2


def test_resolution_equals_per_version_reads_across_commit_kinds(
    spark, root, monkeypatch
):
    """Every version of a mixed append/delete/replace/rewrite history
    must resolve to the same logical content whether it landed as a
    checkpoint or a delta (CHECKPOINT_EVERY=3 exercises both paths in
    seven commits)."""
    import automated_etl_pipeline_spark.io.manifest as mf

    monkeypatch.setattr(mf, "CHECKPOINT_EVERY", 3)
    from automated_etl_pipeline_spark.io.manifest import (
        commit_delete,
        commit_replace_files,
        commit_rewrite,
        manifest_files,
        read_table_subset,
    )

    commit_append(_df(spark, 0, 10), root, "a1")  # v1 full
    commit_append(_df(spark, 10, 20), root, "a2")  # v2 delta
    commit_delete(  # v3 checkpoint (every 3rd)
        spark.createDataFrame([(5,), (15,)], "k long"), root, "d1", ["k"]
    )
    commit_append(_df(spark, 20, 25), root, "a3")  # v4 delta
    frag = manifest_files(root, 1)
    merged = read_table_subset(spark, root, frag).coalesce(1)
    commit_replace_files(  # v5 delta (replace)
        merged, root, "c1", frag, expected_base=4
    )
    commit_rewrite(  # v6 full (rewrites always checkpoint)
        read_table(spark, root), root, "rw", expected_base=5
    )
    commit_append(_df(spark, 100, 102), root, "a4")  # v7 delta
    expected = {
        1: 10,
        2: 20,
        3: 18,  # 5 and 15 hidden
        4: 23,
        5: 23,  # replace preserves content
        6: 23,  # rewrite materializes
        7: 25,
    }
    for v, n in expected.items():
        assert read_table(spark, root, version=v).count() == n, v


def test_vacuum_never_strands_a_surviving_manifest(spark, root):
    """Review r14 late wave: versions between the checkpoint anchor
    and the retention floor keep their manifests — so their FILES must
    stay live too.  A surviving manifest naming a vacuumed file is a
    silently-wrong audit and an opaque mid-scan crash."""
    from automated_etl_pipeline_spark.io.manifest import (
        commit_replace_files,
        manifest_files,
        read_table_subset,
        vacuum,
    )

    for i in range(4):
        commit_append(_df(spark, 3 * i, 3 * i + 3), root, f"a{i}")
    frag = manifest_files(root, 1)
    merged = read_table_subset(spark, root, frag).coalesce(1)
    commit_replace_files(merged, root, "c1", frag, expected_base=4)  # v5
    for i in range(4, 6):
        commit_append(_df(spark, 3 * i, 3 * i + 3), root, f"a{i}")  # v6,v7
    vacuum(root, keep_last=1, min_orphan_age_s=0.0)
    # the v1 checkpoint anchors the whole chain: every version is
    # still readable AND every file a readable manifest names exists
    for v in range(1, 8):
        for f in manifest_files(root, v):
            assert os.path.exists(f), (v, f)
        assert read_table(spark, root, version=v).count() > 0
    assert read_table(spark, root).count() == 18


def test_resolve_state_absorbs_backend_visibility_lag(spark, root):
    """Review r14 late wave: resolving a delta version walks back to
    its checkpoint; on an eventually-consistent store an OLDER
    manifest can lag this client's visibility.  A bounded retry must
    absorb the lag; a permanently missing base still raises."""
    from automated_etl_pipeline_spark.io.manifest import (
        InMemoryCASBackend,
        _publish,
        _resolve_state,
    )

    inner = InMemoryCASBackend()

    class LaggyReads(InMemoryCASBackend):
        def __init__(self, inner, lag_version, misses):
            self.inner = inner
            self.lag_version = lag_version
            self.misses = misses

        def publish(self, root, version, payload):
            return self.inner.publish(root, version, payload)

        def latest_version(self, root):
            return self.inner.latest_version(root)

        def read(self, root, version):
            if version == self.lag_version and self.misses > 0:
                self.misses -= 1
                raise FileNotFoundError(f"{root} v{version} (lagging)")
            return self.inner.read(root, version)

    f1 = os.path.join(root, "x1.parquet")
    f2 = os.path.join(root, "x2.parquet")
    open(f1, "wb").close()
    open(f2, "wb").close()
    _publish(root, "r1", [f1], {}, lambda c, n: c + n, backend=inner)  # v1 full
    _publish(root, "r2", [f2], {}, lambda c, n: c + n, backend=inner)  # v2 delta
    laggy = LaggyReads(inner, lag_version=1, misses=2)
    st = _resolve_state(root, 2, backend=laggy)
    assert set(st["files"]) == {f1, f2}
    never = LaggyReads(inner, lag_version=1, misses=10**9)
    with pytest.raises(FileNotFoundError, match="delta chain"):
        _resolve_state(root, 2, backend=never)


def test_writer_format_pin(spark, root):
    """The one on-disk manifest format, pinned key by key.  Checkpoints
    (v1, every CHECKPOINT_EVERY-th version, renames, rewrites) carry
    the full state plus a ``commit`` record; the versions between carry
    one ``delta`` record.  Every manifest carries ``ts``; zone-map
    stats are ``{col: [mn, mx]}`` dicts; Bloom bitmaps live in sidecar
    files named by ``bloom_refs``, never inline."""
    from automated_etl_pipeline_spark.io.manifest import (
        _manifest_dir,
        commit_delete,
        commit_rename,
        commit_replace_files,
        commit_rewrite,
        manifest_files,
        read_table_subset,
    )

    def kv(lo, hi, v="v"):
        return (
            spark.range(lo, hi)
            .select(F.col("id").alias("k"), (F.col("id") * 10).alias(v))
            .repartition(2)
        )

    commit_append(  # v1 checkpoint
        kv(0, 20), root, "a1", stats_cols=["k"], bloom_cols=["k"],
        bloom_bits=2048,
    )
    commit_delete(  # v2 delta
        spark.createDataFrame([(3,)], "k long"), root, "d1", ["k"],
        record_changes=True,
    )
    frag = manifest_files(root, 2)
    commit_replace_files(  # v3 delta
        read_table_subset(spark, root, frag).coalesce(1), root, "c1", frag,
        expected_base=2, stats_cols=["k"],
    )
    commit_rename(root, "r1", {"v": "value"})  # v4 checkpoint
    commit_append(  # v5 delta
        kv(20, 30, "value"), root, "a2", stats_cols=["k"], bloom_cols=["k"],
        bloom_bits=2048,
    )
    commit_rewrite(  # v6 checkpoint
        read_table(spark, root), root, "rw", expected_base=5
    )

    state = {
        "version", "files", "schema", "commit", "added_at", "deletes",
        "run_ids", "stats", "ts", "bloom_refs", "bloom_meta",
    }
    ids = {"field_ids", "file_fields"}
    expected = {
        1: ("append", state, {"added", "kind"}),
        2: ("delete", None,
            {"kind", "run_id", "schema", "entries", "recorded"}),
        3: ("replace", None,
            {"kind", "run_id", "schema", "added", "stats", "removed"}),
        4: ("rename", state | ids, {"added", "kind", "renames"}),
        5: ("append", None,
            {"kind", "run_id", "schema", "added", "stats", "bloom_refs",
             "bloom_meta", "field_ids", "file_fields"}),
        6: ("rewrite", state | ids, {"added", "kind"}),
    }
    entry_keys = {2: {"path", "cols", "at", "removed"},
                  4: {"path", "cols", "at", "removed", "as"}}
    for v, (kind, top, rec) in expected.items():
        path = os.path.join(_manifest_dir(root), f"v{v:010d}.json")
        with open(path) as f:
            m = json.load(f)
        assert isinstance(m["ts"], float), v
        if top is None:
            assert set(m) == {"version", "delta", "ts"}, v
            body = m["delta"]
            assert set(body) == rec and body["kind"] == kind, v
            entries = body.get("entries", [])
        else:
            assert set(m) == top, v
            body = m
            assert set(m["commit"]) == rec and m["commit"]["kind"] == kind, v
            entries = m["deletes"]
        assert "blooms" not in body, v
        for e in entries:
            assert set(e) == entry_keys[v], v
        for s in body.get("stats", {}).values():
            assert isinstance(s, dict) and set(s) == {"k"}, v
            assert all(isinstance(b, list) and len(b) == 2 for b in s.values())
    with open(os.path.join(_manifest_dir(root), f"v{6:010d}.json")) as f:
        assert json.load(f)["deletes"] == []  # the rewrite materialized them
