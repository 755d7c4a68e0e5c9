"""Commit-protocol tests for the manifest table format
(pypiper_spark/tableformat.py): snapshot isolation, time travel,
crash-between-write-and-swap recovery, optimistic-concurrency
conflict, and orphan GC."""

import json
import os

import pytest
from pyspark.sql import functions as F

from pypiper_spark import tableformat as tf


@pytest.fixture()
def small_df(spark):
    return spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )


def test_create_read_roundtrip(spark, small_df, tmp_path):
    root = str(tmp_path / "t")
    snap = tf.create(spark, root, small_df)
    assert snap == 1 and tf.current_id(root) == 1
    got = tf.read(spark, root).orderBy("k").collect()
    assert [(r.k, r.v) for r in got] == [(i, 2 * i) for i in range(100)]


def test_append_and_time_travel(spark, small_df, tmp_path):
    root = str(tmp_path / "t")
    tf.create(spark, root, small_df)
    extra = spark.range(100, 150).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    assert tf.append(spark, root, extra) == 2
    assert tf.read(spark, root).count() == 150
    # time travel: snapshot 1 is byte-identical history, not a diff replay
    assert tf.read(spark, root, snapshot_id=1).count() == 100
    hist = tf.snapshots(root)
    assert [m["operation"] for m in hist] == ["create", "append"]
    assert [m["n_records"] for m in hist] == [100, 150]


def test_merge_updates_and_inserts(spark, small_df, tmp_path):
    root = str(tmp_path / "t")
    tf.create(spark, root, small_df)
    changes = spark.createDataFrame(
        [(0, 999), (1, 998), (500, 5)], "k long, v long"
    )
    tf.merge(spark, root, changes, key="k")
    got = {r.k: r.v for r in tf.read(spark, root).collect()}
    assert got[0] == 999 and got[1] == 998        # matched -> update
    assert got[500] == 5                          # unmatched -> insert
    assert got[50] == 100 and len(got) == 101     # untouched pass through
    # parent snapshot unchanged (readers under snapshot isolation)
    old = {r.k: r.v for r in tf.read(spark, root, snapshot_id=1).collect()}
    assert old[0] == 0 and 500 not in old


def test_crash_between_write_and_swap_recovers(spark, small_df, tmp_path):
    """Simulate a writer dying after data+manifest writes but before
    the pointer swap: CURRENT still serves the old snapshot, the
    orphan scanner finds exactly the dead writer's residue, gc clears
    it, and the retried commit lands as the same snapshot id."""
    root = str(tmp_path / "t")
    tf.create(spark, root, small_df)
    extra = spark.range(100, 120).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    # steps 1-2 of the protocol by hand, then "crash" before the swap
    files, _stats = tf._write_data_files(extra, root)
    mpath = tf._snap_path(root, 2)
    os.makedirs(os.path.dirname(mpath), exist_ok=True)
    with open(mpath, "w") as fh:
        json.dump(
            {"snapshot_id": 2, "parent_id": 1, "operation": "append",
             "files": tf.read_manifest(root, 1)["files"] + files,
             "n_files": len(files), "n_records": 120},
            fh,
        )
    # reader sees the committed world only
    assert tf.current_id(root) == 1
    assert tf.read(spark, root).count() == 100
    # residue is visible and precisely scoped
    assert set(tf.orphan_files(root)) == set(files)
    assert tf.uncommitted_manifests(root) == [2]
    # the blocked commit id surfaces as a conflict, not corruption
    with pytest.raises(tf.CommitConflict):
        tf.append(spark, root, extra)
    removed = tf.gc_orphans(root)
    # gc clears the crash residue AND the failed retry's data files
    # (a conflicted commit leaves its step-1 writes as orphans too)
    assert set(files) | {"snapshots/snap-00000002.json"} <= set(removed)
    assert tf.orphan_files(root) == [] and tf.uncommitted_manifests(root) == []
    # retry lands
    assert tf.append(spark, root, extra) == 2
    assert tf.read(spark, root).count() == 120


def _counted_steps(spark, root, fail_first_call_of: int):
    """Three tf.build steps over spark.range frames (ids 0-29, ten per
    snapshot) with a per-step call count; step ``fail_first_call_of``
    raises on its first call, before it commits."""
    calls = [0, 0, 0]

    def step(k):
        def run():
            calls[k] += 1
            if k == fail_first_call_of and calls[k] == 1:
                raise RuntimeError("injected step failure")
            df = spark.range(10 * k, 10 * k + 10)
            (tf.create if k == 0 else tf.append)(spark, root, df)

        return run

    return [step(k) for k in range(3)], calls


def test_build_resumes_with_the_remaining_steps(spark, tmp_path):
    """tf.build: a step that raises leaves the table at the previous
    snapshot; the next build aborts a staged snapshot left above
    CURRENT (it would hold the next commit id), then runs only the
    remaining steps; a finished table runs no step."""
    root = str(tmp_path / "t")
    steps, calls = _counted_steps(spark, root, fail_first_call_of=1)
    with pytest.raises(RuntimeError, match="injected step failure"):
        tf.build(root, steps)
    assert tf.current_id(root) == 1 and calls == [1, 1, 0]
    staged = tf.stage_append(spark, root, spark.range(100, 110))
    assert tf.staged_snapshots(root) == [staged] == [2]
    assert tf.build(root, steps) == root
    assert calls == [1, 2, 1]
    assert tf.current_id(root) == 3 and tf.staged_snapshots(root) == []
    assert tf.orphan_files(root) == []
    got = sorted(r.id for r in tf.read(spark, root).collect())
    assert got == list(range(30))
    assert [m["operation"] for m in tf.snapshots(root)] == [
        "create", "append", "append"
    ]
    assert tf.build(root, steps) == root
    assert calls == [1, 2, 1]


def test_build_clears_crash_residue_before_the_replay(
    spark, tmp_path, monkeypatch
):
    """A step that dies between its manifest write and the pointer
    swap leaves an uncommitted manifest that blocks its snapshot id;
    the next build gc's it and replays that step alone."""
    root = str(tmp_path / "t")
    steps, calls = _counted_steps(spark, root, fail_first_call_of=-1)
    real_swap = tf._swap_current

    def crash_at_2(r, snap_id):
        if snap_id == 2:
            raise RuntimeError("injected crash between write and swap")
        real_swap(r, snap_id)

    monkeypatch.setattr(tf, "_swap_current", crash_at_2)
    with pytest.raises(RuntimeError, match="injected crash"):
        tf.build(root, steps)
    assert tf.current_id(root) == 1 and tf.uncommitted_manifests(root) == [2]
    monkeypatch.setattr(tf, "_swap_current", real_swap)
    tf.build(root, steps)
    assert calls == [1, 2, 1]
    assert tf.current_id(root) == 3 and tf.orphan_files(root) == []
    got = sorted(r.id for r in tf.read(spark, root).collect())
    assert got == list(range(30))


def test_build_rejects_a_step_that_does_not_commit(spark, tmp_path):
    root = str(tmp_path / "t")
    steps = [lambda: tf.create(spark, root, spark.range(3)), lambda: None]
    with pytest.raises(RuntimeError, match="build step 2 .* left CURRENT at 1"):
        tf.build(root, steps)


def test_concurrent_commit_conflict(spark, small_df, tmp_path):
    """Two writers race from the same parent: the second commit (same
    snapshot id) must raise CommitConflict, and the winner's data must
    be untouched by the loser's attempt."""
    root = str(tmp_path / "t")
    tf.create(spark, root, small_df)
    a = spark.range(200, 210).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    # writer A wins
    tf.append(spark, root, a)
    # writer B read parent=1 before A committed; its manifest claim fails
    files_b, _stats_b = tf._write_data_files(a, root)
    with pytest.raises(tf.CommitConflict):
        tf._commit(root, 1, files_b, "append", 110)
    assert tf.current_id(root) == 2
    assert tf.read(spark, root).count() == 110
    # B's data files are orphans, reclaimable
    assert set(files_b) <= set(tf.orphan_files(root))


def test_overwrite_keeps_history(spark, small_df, tmp_path):
    root = str(tmp_path / "t")
    tf.create(spark, root, small_df)
    replacement = spark.range(5).select(
        F.col("id").alias("k"), F.lit(0).cast("long").alias("v")
    )
    tf.overwrite(spark, root, replacement)
    assert tf.read(spark, root).count() == 5
    assert tf.read(spark, root, snapshot_id=1).count() == 100


def test_empty_table_read_raises(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        tf.read(spark, str(tmp_path / "nope"))


def test_manifest_stats_pruning_skips_files(spark, tmp_path):
    """Three appends with disjoint key ranges -> three file groups with
    per-file min/max in the manifest; a range read opens ONLY the
    overlapping files, and the pruned read returns exactly the rows a
    full-scan filter would."""
    root = str(tmp_path / "t")
    mk = lambda lo, hi: spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")
    ).coalesce(1)
    tf.create(spark, root, mk(0, 100), stats_cols=("k",))
    tf.append(spark, root, mk(100, 200))
    tf.append(spark, root, mk(200, 300))
    all_files = tf.files_for(root)
    assert len(all_files) == 3
    # stats recorded for every file
    m = tf.read_manifest(root, tf.current_id(root))
    assert all("k" in m["stats"][f] for f in all_files)
    # a point-range read prunes to one file
    pruned = tf.files_for(root, prune=("k", 150, 160))
    assert len(pruned) == 1
    got = (
        tf.read(spark, root, prune=("k", 150, 160))
        .filter((F.col("k") >= 150) & (F.col("k") <= 160))
        .orderBy("k")
        .collect()
    )
    assert [r.k for r in got] == list(range(150, 161))
    # pruning everything still yields a readable empty frame
    assert tf.read(spark, root, prune=("k", 9999, 10000)).count() == 0


def test_compaction_preserves_rows_and_history(spark, tmp_path):
    root = str(tmp_path / "t")
    mk = lambda lo, hi: spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")
    ).coalesce(1)
    tf.create(spark, root, mk(0, 50), stats_cols=("k",))
    tf.append(spark, root, mk(50, 100))
    tf.append(spark, root, mk(100, 150))
    assert len(tf.files_for(root)) == 3
    snap = tf.compact(spark, root, target_files=1)
    assert tf.read_manifest(root, snap)["operation"] == "compact"
    assert len(tf.files_for(root)) == 1
    assert tf.read(spark, root).count() == 150
    # rows identical to pre-compaction snapshot
    a = sorted((r.k, r.v) for r in tf.read(spark, root).collect())
    b = sorted((r.k, r.v) for r in tf.read(spark, root, snapshot_id=snap - 1).collect())
    assert a == b
    # compacted file carries stats too (pruning keeps working)
    m = tf.read_manifest(root, snap)
    assert all("k" in m["stats"][f] for f in m["files"])


def test_expire_snapshots_bounds_history(spark, tmp_path):
    """After expiration only the retained window is readable; data
    files referenced by no retained snapshot are deleted; CURRENT
    always survives. (Policy op — not safe concurrent with an
    in-flight writer, same as any orphan cleanup.)"""
    root = str(tmp_path / "t")
    mk = lambda lo, hi: spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")
    ).coalesce(1)
    tf.create(spark, root, mk(0, 10))
    tf.overwrite(spark, root, mk(0, 20))
    tf.overwrite(spark, root, mk(0, 30))
    tf.overwrite(spark, root, mk(0, 40))
    removed = tf.expire_snapshots(root, keep_last=2)
    # snapshots 1-2 gone (manifests + their unshared data files)
    assert "snapshots/snap-00000001.json" in removed
    assert "snapshots/snap-00000002.json" in removed
    assert [m["snapshot_id"] for m in tf.snapshots(root)] == [3, 4]
    assert tf.read(spark, root).count() == 40
    assert tf.read(spark, root, snapshot_id=3).count() == 30
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        tf.read(spark, root, snapshot_id=1)
    # retained files all still exist on disk
    import os as _os

    for f in tf.files_for(root):
        assert _os.path.exists(_os.path.join(root, f))


def test_pruning_query_actually_skips_files(spark, sf_dir):
    """q_table_manifest_pruning's demo table: the 1995 range read must
    open exactly ONE of the three year-band files (the docstring's
    claim, asserted here because the oracle hash can't see file
    counts)."""
    from pypiper_spark.queries.snapshots import ensure_pruning_table

    root = ensure_pruning_table(spark, sf_dir)
    assert len(tf.files_for(root)) == 3
    assert len(tf.files_for(root, prune=("o_year", 1995, 1995))) == 1


def test_stream_table_ingest_replayed_batch_is_noop(spark, sf_dir):
    """Exactly-once contract of the ingest sink: once a batch's
    snapshot is committed, re-delivering the same batch id must not
    commit again (current_id > batch_id -> skip)."""
    from pypiper_spark import tableformat as tformat

    import tempfile as _tempfile
    import uuid as _uuid

    root = _tempfile.mkdtemp(prefix=f"tbi_replay_{_uuid.uuid4().hex[:6]}_")
    df = spark.range(5).select(F.col("id").alias("k"))

    def ingest(batch_df, batch_id):
        if tformat.current_id(root) > batch_id:
            return
        if tformat.current_id(root) == 0:
            tformat.create(batch_df.sparkSession, root, batch_df)
        else:
            tformat.append(batch_df.sparkSession, root, batch_df)

    ingest(df, 0)
    assert tformat.current_id(root) == 1
    ingest(df, 0)  # retry replay of the same micro-batch
    assert tformat.current_id(root) == 1  # no double-commit
    assert tformat.read(spark, root).count() == 5
    ingest(df, 1)
    assert tformat.current_id(root) == 2
    assert tformat.read(spark, root).count() == 10


def test_merge_partial_rewrites_only_touched_files(spark, tmp_path):
    """Partial MERGE: with three key-banded files and a change set
    confined to band 2 (plus inserts beyond every band), bands 1 and
    3 must carry into the new snapshot as the SAME file names
    (unrewritten, stats intact), and the table's rows must equal what
    a full-table merge produces."""
    root = str(tmp_path / "t")
    mk = lambda lo, hi: spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")
    ).coalesce(1)
    tf.create(spark, root, mk(0, 100), stats_cols=("k",))
    tf.append(spark, root, mk(100, 200))
    tf.append(spark, root, mk(200, 300))
    before = tf.files_for(root)
    assert len(before) == 3
    changes = spark.createDataFrame(
        [(150, 999), (160, 998), (5000, 1)], "k long, v long"
    )
    snap = tf.merge_partial(spark, root, changes, key="k")
    m = tf.read_manifest(root, snap)
    assert m["operation"] == "merge_partial"
    after = set(m["files"])
    # bands 1 and 3 carried byte-identical (same names); band 2 rewritten
    band1, band2, band3 = before
    assert band1 in after and band3 in after and band2 not in after
    # carried files keep their stats (pruning still works post-merge)
    assert m["stats"][band1]["k"] == [0, 99]
    got = {r.k: r.v for r in tf.read(spark, root).collect()}
    assert got[150] == 999 and got[160] == 998 and got[5000] == 1
    assert got[0] == 0 and got[250] == 750 and len(got) == 301
    assert m["n_records"] == 301


def test_merge_partial_pure_insert_carries_everything(spark, tmp_path):
    """A change set whose keys fall outside every file's range (pure
    insert) must carry ALL existing files and only add new ones."""
    root = str(tmp_path / "t")
    mk = lambda lo, hi: spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")
    ).coalesce(1)
    tf.create(spark, root, mk(0, 50), stats_cols=("k",))
    tf.append(spark, root, mk(50, 100))
    before = set(tf.files_for(root))
    inserts = spark.createDataFrame([(9000, 1), (9001, 2)], "k long, v long")
    snap = tf.merge_partial(spark, root, inserts, key="k")
    after = set(tf.read_manifest(root, snap)["files"])
    assert before <= after
    assert tf.read(spark, root).count() == 102


def test_merge_partial_without_key_stats_falls_back(spark, small_df, tmp_path):
    """No stats on the merge key -> the safe full-table merge runs
    (operation recorded as 'merge'), answers identical."""
    root = str(tmp_path / "t")
    tf.create(spark, root, small_df)  # no stats_cols
    changes = spark.createDataFrame([(0, 999)], "k long, v long")
    snap = tf.merge_partial(spark, root, changes, key="k")
    assert tf.read_manifest(root, snap)["operation"] == "merge"
    assert {r.v for r in tf.read(spark, root).filter(F.col("k") == 0).collect()} == {999}


def test_partial_merge_query_carried_bands(spark, sf_dir):
    """q_table_merge_partial's demo: of the 12 range-split band files,
    the merge_partial commit must carry every file whose key range
    misses the change set — all 8 of bands 1/3 plus band 2's upper
    half (>= 9 of 12; the exact count depends on repartitionByRange's
    sampled split points). Pinned here because the oracle hash can't
    see file identity."""
    from pypiper_spark.queries.snapshots import ensure_partial_merge_table

    root = ensure_partial_merge_table(spark, sf_dir)
    m3 = tf.read_manifest(root, 3)   # pre-merge: the 12 band files
    m4 = tf.read_manifest(root, 4)   # after merge_partial
    assert m4["operation"] == "merge_partial"
    assert len(m3["files"]) == 12
    carried = set(m3["files"]) & set(m4["files"])
    assert len(carried) >= 9, (m3["files"], m4["files"])


# ---------------------------------------------------------------------------
# round 8: schema evolution, pointer recovery, gc grace window, diff scans
# ---------------------------------------------------------------------------

def test_torn_current_pointer_recovers(spark, small_df, tmp_path):
    """An empty/garbage CURRENT (torn pointer) rolls forward to the
    highest fsync-durable manifest instead of crashing (ADVICE r7),
    and the repaired pointer persists."""
    root = str(tmp_path / "t")
    tf.create(spark, root, small_df)
    tf.append(spark, root, small_df)
    with open(os.path.join(root, "CURRENT"), "w") as fh:
        fh.write("")  # torn
    assert tf.current_id(root) == 2
    with open(os.path.join(root, "CURRENT")) as fh:
        assert fh.read().strip() == "2"
    assert tf.read(spark, root).count() == 200
    with open(os.path.join(root, "CURRENT"), "w") as fh:
        fh.write("garbage\n")
    assert tf.current_id(root) == 2


def test_gc_orphans_grace_window_spares_fresh_residue(spark, small_df, tmp_path):
    """gc_orphans with a grace window must NOT delete fresh residue —
    under concurrency fresh 'orphans' are someone's in-flight commit
    (ADVICE r7). Aged residue (simulated via utime) is collected."""
    root = str(tmp_path / "t")
    tf.create(spark, root, small_df)
    orphan = os.path.join(root, "data", "deadbeef0000-99999.parquet")
    with open(orphan, "wb") as fh:
        fh.write(b"not really parquet")
    assert tf.gc_orphans(root, min_age_sec=3600) == []
    assert os.path.exists(orphan)
    os.utime(orphan, (1, 1))  # age it past any window
    assert tf.gc_orphans(root, min_age_sec=3600) == [
        "data/deadbeef0000-99999.parquet"
    ]


def test_read_of_pruned_everything_and_empty_snapshot(spark, small_df, tmp_path):
    """Pruning away every file returns an EMPTY frame with the table
    schema; a snapshot committed from an empty DataFrame reads back
    empty instead of raising IndexError (ADVICE r7: the schema lives
    in the manifest now)."""
    root = str(tmp_path / "t")
    tf.create(spark, root, small_df.coalesce(1), stats_cols=("k",))
    pruned = tf.read(spark, root, prune=("k", 10_000, 20_000))
    assert pruned.count() == 0 and set(pruned.columns) == {"k", "v"}
    root2 = str(tmp_path / "empty")
    tf.create(spark, root2, small_df.filter(F.col("k") < 0))
    got = tf.read(spark, root2)
    assert got.count() == 0 and set(got.columns) == {"k", "v"}


def test_schema_evolution_add_rename_drop(spark, small_df, tmp_path):
    """add/rename/drop are metadata-only commits: zero data files
    written, old files NULL-fill added columns and serve renamed
    columns from their original physical name, and time travel
    returns each snapshot under its own schema."""
    root = str(tmp_path / "t")
    tf.create(spark, root, small_df)  # (k, v)
    files_before = set(tf.files_for(root, 1))

    assert tf.add_column(root, "tag", "string") == 2
    assert tf.rename_column(root, "v", "val") == 3
    assert set(tf.files_for(root, 3)) == files_before  # metadata-only

    cur = tf.read(spark, root)
    assert cur.columns == ["k", "val", "tag"]
    rows = {r.k: (r.val, r.tag) for r in cur.collect()}
    assert rows[7] == (14, None)  # rename serves old data; add NULL-fills

    # cross-epoch append under the NEW names, then drop a column
    extra = spark.createDataFrame([(1000, 1, "new")], "k long, val long, tag string")
    assert tf.append(spark, root, extra) == 4
    assert tf.drop_column(root, "k") == 5
    cur = tf.read(spark, root)
    assert cur.columns == ["val", "tag"]
    assert cur.count() == 101

    # time travel: snapshot 1 still reads under ITS schema
    old = tf.read(spark, root, snapshot_id=1)
    assert old.columns == ["k", "v"] and old.count() == 100
    # and snapshot 4 (pre-drop) still has k
    assert tf.read(spark, root, snapshot_id=4).columns == ["k", "val", "tag"]

    # schema catalog
    assert [f["name"] for f in tf.table_schema(root)] == ["val", "tag"]
    assert [f["name"] for f in tf.table_schema(root, 1)] == ["k", "v"]


def test_evolution_commit_schema_mismatch_rejected(spark, small_df, tmp_path):
    root = str(tmp_path / "t")
    tf.create(spark, root, small_df)
    tf.add_column(root, "tag", "string")
    with pytest.raises(ValueError, match="evolve the table first"):
        tf.append(spark, root, small_df)  # missing the added column


def test_pruning_survives_rename(spark, tmp_path):
    """Manifest stats are keyed by physical names; pruning on the
    RENAMED logical name must resolve through the field id."""
    root = str(tmp_path / "t")
    a = spark.createDataFrame([(i, i) for i in range(10)], "k long, v long")
    b = spark.createDataFrame([(i, i) for i in range(100, 110)], "k long, v long")
    tf.create(spark, root, a.coalesce(1), stats_cols=("k",))
    tf.append(spark, root, b.coalesce(1))
    tf.rename_column(root, "k", "key")
    kept = tf.files_for(root, prune=("key", 105, 106))
    assert len(kept) == 1
    got = tf.read(spark, root, prune=("key", 105, 106)).filter(
        (F.col("key") >= 105) & (F.col("key") <= 106)
    )
    assert sorted(r.key for r in got.collect()) == [105, 106]


def test_snapshot_diff_scans_only_changed_files(spark, tmp_path):
    """The manifest-diff pin for q_table_time_travel (VERDICT r7 #4):
    after a key-localized merge_partial, snapshot_file_diff reports
    the carried files as common — so a diff query scans them once,
    not once per side — and read_subset over the three parts
    reconstructs both snapshots exactly."""
    root = str(tmp_path / "t")
    a = spark.createDataFrame([(i, i) for i in range(10)], "k long, v long")
    b = spark.createDataFrame([(i, i) for i in range(100, 110)], "k long, v long")
    c = spark.createDataFrame([(i, i) for i in range(200, 210)], "k long, v long")
    tf.create(spark, root, a.coalesce(1), stats_cols=("k",))
    tf.append(spark, root, b.coalesce(1))
    tf.append(spark, root, c.coalesce(1))
    changes = spark.createDataFrame([(105, 9999)], "k long, v long")
    tf.merge_partial(spark, root, changes, key="k")

    d = tf.snapshot_file_diff(root, 3, 4)
    m3, m4 = tf.read_manifest(root, 3), tf.read_manifest(root, 4)
    assert len(d["common"]) == 2                      # bands a and c carried
    assert set(d["common"]) == set(m3["files"]) & set(m4["files"])
    assert len(d["only1"]) == 1                       # band b rewritten

    # algebra check: common + only1 == snapshot 3, common + only2 == snapshot 4
    v1 = tf.read_subset(spark, root, 3, d["common"]).unionByName(
        tf.read_subset(spark, root, 3, d["only1"])
    )
    v2 = tf.read_subset(spark, root, 4, d["common"]).unionByName(
        tf.read_subset(spark, root, 4, d["only2"])
    )
    assert v1.count() == 30
    assert {r.k: r.v for r in v2.collect()}[105] == 9999

    with pytest.raises(ValueError, match="not in snapshot"):
        tf.read_subset(spark, root, 3, d["only2"])


def test_evolution_demo_table_query_shape(spark, sf_dir):
    """The q_table_schema_evolution demo: evolution commits are
    metadata-only (file identity pinned), NULL bucket == pre-1996
    rows, and time travel across the schema change works."""
    from pypiper_spark.queries.snapshots import ensure_evolution_table

    root = ensure_evolution_table(spark, sf_dir)
    ms = [tf.read_manifest(root, i) for i in range(1, 6)]
    assert [m["operation"] for m in ms] == [
        "create", "add_column", "rename_column", "append", "drop_column"
    ]
    assert ms[0]["files"] == ms[1]["files"] == ms[2]["files"]  # metadata-only
    assert set(ms[2]["files"]) < set(ms[3]["files"])           # append adds
    assert ms[3]["files"] == ms[4]["files"]                    # drop metadata-only
    # snapshot 1 reads under the original schema
    s1 = tf.read(spark, root, snapshot_id=1)
    assert s1.columns == ["o_orderkey", "o_orderstatus", "cents"]
    cur = tf.read(spark, root)
    # add_column appends at the end of the logical order
    assert cur.columns == ["o_orderkey", "price_cents", "year_bucket"]
    assert cur.filter(F.col("year_bucket").isNull()).count() == s1.count()


def test_rollback_restores_rows_and_keeps_history(spark, small_df, tmp_path):
    """rollback is a metadata-only commit: CURRENT reads the target
    snapshot's exact rows, zero data files are written, the rolled-
    back snapshot stays time-travel-readable, and history shows the
    rollback operation."""
    root = str(tmp_path / "t")
    tf.create(spark, root, small_df)
    changes = spark.createDataFrame([(0, 999), (500, 5)], "k long, v long")
    tf.merge(spark, root, changes, key="k")
    files_before = sorted(os.listdir(os.path.join(root, "data")))
    snap = tf.rollback(root, to_snapshot=1)
    assert snap == 3
    assert sorted(os.listdir(os.path.join(root, "data"))) == files_before
    got = {r.k: r.v for r in tf.read(spark, root).collect()}
    assert got[0] == 0 and 500 not in got and len(got) == 100
    # the bad snapshot is still readable for forensics
    bad = {r.k: r.v for r in tf.read(spark, root, snapshot_id=2).collect()}
    assert bad[0] == 999 and bad[500] == 5
    assert [m["operation"] for m in tf.snapshots(root)] == [
        "create", "merge", "rollback"
    ]
    with pytest.raises(ValueError):
        tf.rollback(root, to_snapshot=9)


def test_rollback_across_schema_evolution(spark, small_df, tmp_path):
    """Rolling back past an add_column restores the OLD schema."""
    root = str(tmp_path / "t")
    tf.create(spark, root, small_df)
    tf.add_column(root, "tag", "string")
    tf.rollback(root, to_snapshot=1)
    assert tf.read(spark, root).columns == ["k", "v"]
    assert [f["name"] for f in tf.table_schema(root)] == ["k", "v"]


def test_incremental_read_returns_exactly_appended_rows(spark, tmp_path):
    """read_incremental over an append-only history: between any two
    snapshots it returns exactly the appended rows; across a rewrite
    commit it returns the rewritten files (documented superset)."""
    root = str(tmp_path / "t")
    mk = lambda lo, hi: spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    tf.create(spark, root, mk(0, 100))
    tf.append(spark, root, mk(100, 150))
    tf.append(spark, root, mk(150, 175))
    inc = tf.read_incremental(spark, root, since=1, until=2)
    assert sorted(r.k for r in inc.collect()) == list(range(100, 150))
    inc2 = tf.read_incremental(spark, root, since=1)  # until=CURRENT
    assert sorted(r.k for r in inc2.collect()) == list(range(100, 175))
    assert tf.read_incremental(spark, root, since=3, until=3).count() == 0


# ---------------------------------------------------------------------------
# round 9: torn-manifest recovery, commit type validation, epoch fallback
# ---------------------------------------------------------------------------

def test_torn_current_skips_torn_manifest(spark, small_df, tmp_path):
    """Torn-pointer recovery must roll forward to the highest VALID
    manifest (ADVICE r8): a claimed-but-truncated snap-N.json (crash
    between the O_EXCL claim and the manifest fsync) must never become
    the durable table state — rolling forward to it would brick every
    subsequent read."""
    root = str(tmp_path / "t")
    tf.create(spark, root, small_df)
    tf.append(spark, root, small_df)
    # a torn (empty) claimed manifest above CURRENT
    with open(tf._snap_path(root, 3), "w") as fh:
        fh.write('{"snapshot_id": 3, "parent')  # truncated mid-write
    with open(os.path.join(root, "CURRENT"), "w") as fh:
        fh.write("")  # torn pointer
    assert tf.current_id(root) == 2  # NOT 3
    assert tf.read(spark, root).count() == 200
    # the torn manifest still blocks id 3 until gc clears it
    assert tf.uncommitted_manifests(root) == [3]


def test_torn_current_recovery_survives_readonly_root(spark, small_df, tmp_path):
    """The pointer repair is best-effort (ADVICE r8): on a read-only
    mount/replica current_id() must still serve the recovered id from
    memory instead of raising OSError from the repair write."""
    root = str(tmp_path / "t")
    tf.create(spark, root, small_df)
    with open(os.path.join(root, "CURRENT"), "w") as fh:
        fh.write("garbage")
    os.chmod(root, 0o555)  # directory read-only: no temp file creatable
    try:
        assert tf.current_id(root) == 1
        assert tf.read(spark, root).count() == 100
    finally:
        os.chmod(root, 0o755)
    # CURRENT is still torn (repair was skipped), and a later writable
    # read repairs it durably
    assert tf.current_id(root) == 1
    with open(os.path.join(root, "CURRENT")) as fh:
        assert fh.read().strip() == "1"


def test_commit_rejects_type_drift(spark, small_df, tmp_path):
    """A commit whose column TYPE drifted from the declared schema must
    fail at commit time (ADVICE r8), not silently NULL-corrupt at read
    time via the epoch cast."""
    root = str(tmp_path / "t")
    tf.create(spark, root, small_df)  # k bigint, v bigint
    drifted = spark.createDataFrame([("oops", "bad")], "k string, v string")
    with pytest.raises(ValueError, match="type mismatch"):
        tf.append(spark, root, drifted)
    # safe widening the OTHER way is allowed: int data into bigint field
    narrow = spark.createDataFrame([(200, 400)], "k int, v int")
    before = set(tf.read_manifest(root, tf.current_id(root))["files"])
    tf.append(spark, root, narrow)
    m = tf.read_manifest(root, tf.current_id(root))
    got = tf.read(spark, root)
    assert got.schema["k"].dataType.simpleString() == "bigint"
    assert got.count() == 101  # every file in the epoch stays readable
    assert got.filter(F.col("k") == 200).collect()[0].v == 400
    # the widened commit's file must carry the DECLARED physical type:
    # a narrow INT32 file inside the bigint epoch makes the epoch's
    # single-scan schema depend on which footer Spark's inference
    # samples — the intermittent read failure this test caught (r9)
    new_files = [f for f in m["files"] if f not in before]
    assert new_files
    for f in new_files:
        phys = spark.read.parquet(os.path.join(root, f)).schema
        assert phys["k"].dataType.simpleString() == "bigint", f
        assert phys["v"].dataType.simpleString() == "bigint", f


def test_read_files_identity_fallback_for_untracked_file(spark, small_df, tmp_path):
    """A data file missing from file_epoch reads through the identity
    mapping (physical = logical), not as all-NULLs (ADVICE r8); a
    tracked epoch key with no mapping raises loudly."""
    root = str(tmp_path / "t")
    tf.create(spark, root, small_df)
    mpath = tf._snap_path(root, 1)
    with open(mpath) as fh:
        m = json.load(fh)
    assert m.get("file_epoch")
    # simulate an adopted/legacy file: drop its epoch tracking entirely
    m["file_epoch"] = {}
    with open(mpath, "w") as fh:
        json.dump(m, fh)
    got = tf.read(spark, root).orderBy("k").collect()
    assert [(r.k, r.v) for r in got] == [(i, 2 * i) for i in range(100)]
    # now corrupt differently: epoch key tracked but mapping missing
    ek = next(iter(m["epochs"]))
    m["file_epoch"] = {f: ek for f in m["files"]}
    m["epochs"] = {}
    with open(mpath, "w") as fh:
        json.dump(m, fh)
    with pytest.raises(ValueError, match="no\\s+column mapping|no column mapping"):
        tf.read(spark, root).collect()


def test_multiprocess_commit_contention(spark, small_df, tmp_path):
    """REAL optimistic-concurrency race (VERDICT r8 next #7): four OS
    processes each retry-commit five pre-written data files against
    the same table, racing the O_EXCL snapshot claims concurrently.
    Every writer must eventually land every file exactly once, the
    history must be a gapless parent chain, and at least one genuine
    lost race (CommitConflict retry) must have occurred across the
    run — this is the multi-writer story the single-process conflict
    test above can only simulate."""
    import subprocess
    import sys as _sys
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    def run_trial(root):
        tf.create(spark, root, small_df)

        n_procs, n_files = 4, 5
        # step 1 of the protocol done up front: immutable data files on disk
        all_files = []
        for p in range(n_procs):
            mine = []
            for i in range(n_files):
                rel = f"data/race-{p}-{i:02d}.parquet"
                pq.write_table(
                    pa.table({"k": [10_000 + p * 100 + i], "v": [0]}),
                    os.path.join(root, rel),
                )
                mine.append(rel)
            all_files.append(mine)

        os.mkdir(root + ".gate")
        worker = f"""
import json, os, sys, time
sys.path.insert(0, {os.path.dirname(os.path.dirname(os.path.abspath(tf.__file__)))!r})
from pypiper_spark import tableformat as tf

root, files = sys.argv[1], sys.argv[2:]
# start gate: commit only once every writer has imported, so the
# writers race instead of running one after another
open(os.path.join(root + ".gate", f"ready-{{os.getpid()}}"), "w").close()
while not os.path.exists(os.path.join(root + ".gate", "go")):
    time.sleep(0.001)
conflicts = 0
for fp in files:
    while True:
        parent = tf.current_id(root)
        pm = tf.read_manifest(root, parent)
        ek = next(iter(pm["epochs"]))
        sm = {{
            "fields": pm["fields"],
            "next_field_id": pm["next_field_id"],
            "epochs": dict(pm["epochs"]),
            "file_epoch": {{**pm["file_epoch"], fp: ek}},
        }}
        try:
            tf._commit(
                root, parent, pm["files"] + [fp], "append",
                pm["n_records"] + 1, stats=pm.get("stats"),
                stats_cols=tuple(pm.get("stats_cols", ())), schema_meta=sm,
            )
            break
        except tf.CommitConflict:
            conflicts += 1
print(json.dumps({{"conflicts": conflicts}}))
"""
        procs = [
            subprocess.Popen(
                [_sys.executable, "-c", worker, root, *all_files[p]],
                stdout=subprocess.PIPE,
                stderr=subprocess.PIPE,
                text=True,
            )
            for p in range(n_procs)
        ]
        deadline = time.monotonic() + 120
        while len(os.listdir(root + ".gate")) < n_procs and time.monotonic() < deadline:
            time.sleep(0.01)
        open(os.path.join(root + ".gate", "go"), "w").close()
        total_conflicts = 0
        for p in procs:
            out, err = p.communicate(timeout=120)
            assert p.returncode == 0, err[-2000:]
            total_conflicts += json.loads(out)["conflicts"]

        # every commit landed: gapless chain, every file exactly once
        assert tf.current_id(root) == 1 + n_procs * n_files
        hist = tf.snapshots(root)
        assert [m["snapshot_id"] for m in hist] == list(
            range(1, 2 + n_procs * n_files)
        )
        assert [m["parent_id"] for m in hist] == list(range(0, 1 + n_procs * n_files))
        final = tf.read_manifest(root, tf.current_id(root))
        raced = [f for f in final["files"] if f.startswith("data/race-")]
        assert sorted(raced) == sorted(f for fs in all_files for f in fs)
        assert final["n_records"] == 100 + n_procs * n_files
        # the table reads back whole, and nothing is left to GC
        assert tf.read(spark, root).count() == 100 + n_procs * n_files
        assert tf.uncommitted_manifests(root) == []
        assert tf.orphan_files(root) == []
        return total_conflicts

    # Under full-suite CPU load the four workers can start seconds
    # apart and serialize perfectly — zero conflicts is then an
    # INCONCLUSIVE trial (nothing raced), not a failure of the
    # commit protocol. Re-roll on a fresh root, bounded.
    total_conflicts = 0
    for trial in range(3):
        total_conflicts = run_trial(str(tmp_path / f"t{trial}"))
        if total_conflicts >= 1:
            break
    # 20 commits x 4 concurrent writers x up to 3 trials: at least
    # one real lost race
    assert total_conflicts >= 1, "race never materialized in 3 trials; raise n_files"


def test_pipeline_table_snapshots_and_shards(spark, sf_dir):
    """Structural invariants of the r11 snapshot-pipeline flagship:
    five commits (create / overwrite / add_column x2 / overwrite),
    dedup snapshot is a subset of the ingest snapshot, historical
    snapshots resolve the evolved columns to NULL (Iceberg add-column
    semantics), and the sharded output packs <= _PIPE_SHARD_DOCS docs
    per (split, shard) with contiguous shard ids from 0."""
    from pypiper_spark import tableformat as tf
    from pypiper_spark.queries import snapshots as S

    root = S.ensure_pipeline_table(spark, sf_dir)
    assert tf.current_id(root) == 5
    ops = [s["operation"] for s in tf.snapshots(root)]
    assert ops == ["create", "overwrite", "add_column", "add_column", "overwrite"]

    ingest = tf.read(spark, root, 1)
    dedup = tf.read(spark, root, 2)
    n1, n2 = ingest.count(), dedup.count()
    assert 0 < n2 <= n1
    assert dedup.join(ingest, "doc_id", "left_anti").isEmpty()

    # time travel across the schema evolution: snapshot 2 read AFTER
    # the add_column commits must expose its own (pre-split) schema
    assert "split" not in dedup.columns and "shard" not in dedup.columns

    final = tf.read(spark, root, 5)
    assert {"split", "shard"} <= set(final.columns)
    import pyspark.sql.functions as F

    sizes = final.groupBy("split", "shard").count()
    assert sizes.filter(F.col("count") > S._PIPE_SHARD_DOCS).isEmpty()
    per_split = final.groupBy("split").agg(
        F.min("shard").alias("lo"),
        F.max("shard").alias("hi"),
        F.countDistinct("shard").alias("nd"),
    )
    for r in per_split.collect():
        assert r.lo == 0 and r.nd == r.hi + 1


# ---------------------------------------------------------------------------
# Writer transactions (r12): the Delta-txn-style idempotence stamp
# that q_stream_concurrent_ingest's multi-writer sinks rely on.
# ---------------------------------------------------------------------------


def test_txn_watermark_tracks_per_app(spark, small_df, tmp_path):
    """txn stamps land in the manifest; last_txn_version is a per-app
    high-water mark, -1 for unknown writers, and survives interleaved
    commits from other writers and untagged commits."""
    root = str(tmp_path / "t")
    tf.create(spark, root, small_df)
    assert tf.last_txn_version(root, "a") == -1
    tf.append(spark, root, small_df, txn=("a", 0))
    tf.append(spark, root, small_df, txn=("b", 0))
    tf.append(spark, root, small_df)  # untagged commit: no watermark change
    tf.append(spark, root, small_df, txn=("a", 1))
    assert tf.last_txn_version(root, "a") == 1
    assert tf.last_txn_version(root, "b") == 0
    assert tf.last_txn_version(root, "nobody") == -1
    assert tf.read_manifest(root, 2)["txn"] == {"app": "a", "version": 0}
    assert "txn" not in tf.read_manifest(root, 4)


def test_txn_commit_conflict_loser_retries_with_stamp(spark, small_df, tmp_path):
    """A loser of the optimistic-concurrency race retries and its txn
    stamp lands on the RETRY commit — the multi-writer sink loop."""
    root = str(tmp_path / "t")
    tf.create(spark, root, small_df)
    # simulate: writer a read parent=1, then writer b committed 2
    tf.append(spark, root, small_df, txn=("b", 0))
    with pytest.raises(tf.CommitConflict):
        tf._commit(root, 1, [], "append", 0, txn=("a", 0))
    # retry path: plain append on the NEW current succeeds with stamp
    snap = tf.append(spark, root, small_df, txn=("a", 0))
    assert tf.read_manifest(root, snap)["txn"] == {"app": "a", "version": 0}
    assert tf.last_txn_version(root, "a") == 0


def test_txn_watermark_retention_caveat(spark, small_df, tmp_path):
    """Documented Delta-style retention caveat: expiring the manifest
    that carried a writer's last stamp loses the watermark (size
    retention to writer cadence)."""
    root = str(tmp_path / "t")
    tf.create(spark, root, small_df)
    tf.append(spark, root, small_df, txn=("a", 5))
    tf.append(spark, root, small_df)
    tf.append(spark, root, small_df)
    assert tf.last_txn_version(root, "a") == 5
    tf.expire_snapshots(root, keep_last=2)
    assert tf.last_txn_version(root, "a") == -1


def test_tableformat_hardlink_clone_isolated(spark, tmp_path):
    """r13 pin (cdc-upsert pristine-table lifecycle): committing to a
    hardlink clone must never disturb the pristine table — the format
    only ever creates new files and os.replace's the CURRENT pointer."""
    import shutil

    from pypiper_spark import tableformat as tf

    pristine = str(tmp_path / "base")
    df = spark.createDataFrame(
        [(1, "A", 10), (2, "B", 20), (3, "A", 30)],
        "o_orderkey long, o_orderstatus string, cents long",
    )
    tf.create(spark, pristine, df)
    clone = str(tmp_path / "work")
    shutil.copytree(pristine, clone, copy_function=os.link)
    changes = spark.createDataFrame(
        [(2, "U", 999), (9, "I", 1)],
        "o_orderkey long, o_orderstatus string, cents long",
    )
    tf.merge_on_read(spark, clone, changes, key="o_orderkey", txn=("t", 0))
    assert tf.current_id(clone) == 2
    # pristine untouched: still snapshot 1, original content
    assert tf.current_id(pristine) == 1
    base_rows = {
        r.o_orderkey: r.cents for r in tf.read(spark, pristine).collect()
    }
    assert base_rows == {1: 10, 2: 20, 3: 30}
    clone_rows = {
        r.o_orderkey: r.cents for r in tf.read(spark, clone).collect()
    }
    assert clone_rows == {1: 10, 2: 999, 3: 30, 9: 1}
