"""Streaming twins: the same transformation run batch and via
Structured Streaming must agree (SURVEY.md section 5.2.5); plus the
watermark late-data demo and the custom stateful operator."""

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from pypiper_spark.catalog import load_table
from pypiper_spark.queries.events_streaming import (
    dedup_transform,
    session_transform,
    tumbling_transform,
)
from pypiper_spark.streaming.twins import (
    run_stateful_counter,
    run_streaming_twin,
    run_watermarked_count,
)
from tests.parity import assert_query_matches


def _pdf(df) -> pd.DataFrame:
    return df.toPandas()


@pytest.mark.parametrize(
    "transform", [tumbling_transform, session_transform], ids=["tumbling", "session"]
)
def test_streaming_agg_twin_matches_batch(spark, sf_dir, transform):
    batch = transform(load_table(spark, sf_dir, "events"))
    stream = run_streaming_twin(spark, sf_dir, transform, output_mode="complete")
    assert_query_matches(stream, _pdf(batch), name=f"twin:{transform.__name__}")


def test_streaming_dedup_twin_matches_batch(spark, sf_dir):
    # Streaming cannot run row_number windows; its native dedup is the
    # state-store-backed dropDuplicates, whose SURVIVOR is arrival-order
    # dependent. The invariant shared with the batch query is the key
    # set: one row per (user_id, event_type).
    batch = dedup_transform(load_table(spark, sf_dir, "events"))
    stream = run_streaming_twin(
        spark,
        sf_dir,
        lambda ev: ev.dropDuplicates(["user_id", "event_type"]),
        output_mode="append",
    )
    b = _pdf(batch)[["user_id", "event_type"]].sort_values(["user_id", "event_type"])
    s = _pdf(stream)[["user_id", "event_type"]].sort_values(["user_id", "event_type"])
    assert b.reset_index(drop=True).equals(s.reset_index(drop=True))


def test_watermark_demo_emits_closed_windows(spark, sf_dir):
    out = _pdf(run_watermarked_count(spark, sf_dir))
    # availableNow + append: all windows whose end precedes the final
    # watermark are emitted; the trailing window(s) may be withheld.
    assert len(out) > 0
    assert (out["n_events"] > 0).all()


def test_stream_stream_join_matches_batch_interval_join(spark, sf_dir):
    from pypiper_spark.registry import all_queries
    from pypiper_spark.streaming.twins import run_stream_stream_join

    batch = (
        all_queries()["q_join_interval"]
        .fn(spark, sf_dir)
        .select("signup_id", "error_id", "user_id")
    )
    stream = run_stream_stream_join(spark, sf_dir)
    b = sorted(map(tuple, batch.collect()))
    s = sorted(map(tuple, stream.collect()))
    assert b == s, f"stream-stream join drifted: {len(b)} batch vs {len(s)} stream rows"


def test_stateful_counter_matches_batch_agg(spark, sf_dir):
    from pyspark.sql import functions as F

    got = run_stateful_counter(spark, sf_dir)
    exp = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .toPandas()
    )
    gp = _pdf(got)[["user_id", "n_events"]].sort_values("user_id").reset_index(drop=True)
    ep = exp.sort_values("user_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(gp, ep, check_dtype=False)


def test_tws_user_stats_matches_batch_agg(spark, sf_dir):
    import pytest

    from pyspark.sql import functions as F

    from pypiper_spark.streaming.twins import run_tws_user_stats, tws_available

    if not tws_available():
        pytest.skip("transformWithStateInPandas needs the protobuf package")

    got = run_tws_user_stats(spark, sf_dir)
    exp = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("total_cents"),
            F.max("value").alias("max_value"),
        )
        .toPandas()
    )
    gp = (
        _pdf(got)[["user_id", "n_events", "total_cents", "max_value"]]
        .sort_values("user_id")
        .reset_index(drop=True)
    )
    ep = exp.sort_values("user_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(gp, ep, check_dtype=False)


def test_stream_static_enrich_matches_batch(spark, sf_dir):
    from pyspark.sql import functions as F

    from pypiper_spark.streaming.twins import run_stream_static_enrich

    got = run_stream_static_enrich(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    profile = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("spend_cents"))
        .withColumn(
            "tier",
            F.when(F.col("spend_cents") >= 100000, "big")
            .when(F.col("spend_cents") >= 20000, "mid")
            .otherwise("small"),
        )
    )
    exp = (
        ev.join(profile.select("user_id", "tier"), "user_id", "left")
        .select(
            "event_id",
            "event_type",
            F.coalesce("tier", F.lit("none")).alias("tier"),
        )
        .groupBy("tier", "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    b = sorted(map(tuple, exp.collect()))
    s = sorted(map(tuple, got.collect()))
    assert b == s, f"stream-static enrich drifted: batch {len(b)} vs stream {len(s)}"


def test_late_accounting_twin(spark, sf_dir):
    """The registered batch query q_stream_late_accounting must
    reconstruct Structured Streaming's watermark drop rule EXACTLY:
    replay the same 4-micro-batch arrival schedule through
    readStream+withWatermark and compare.

    - emitted window set == batch windows whose end <= final watermark
      (max event time - 10 min; append mode finalizes only those)
    - every emitted window's count == the batch query's n_on_time
      (rows the batch model says were dropped as late really were)
    """
    from pypiper_spark.registry import all_queries
    from pypiper_spark.streaming.twins import run_late_accounting_stream

    got = {
        r["window_start"]: r["n_on_time"]
        for r in run_late_accounting_stream(spark, sf_dir).collect()
    }
    batch = all_queries()["q_stream_late_accounting"].fn(spark, sf_dir)
    rows = batch.collect()
    ev = load_table(spark, sf_dir, "events")
    final_wm = ev.agg(
        (F.max("ts") - F.expr("INTERVAL 10 MINUTES")).alias("wm")
    ).collect()[0]["wm"]
    import datetime as dt

    # a window whose EVERY row was dropped late never had state, so
    # streaming emits nothing for it — the batch query still reports
    # it (n_on_time=0, n_late>0), which is the accounting's point
    expected = {
        r["window_start"]: r["n_on_time"]
        for r in rows
        if r["window_start"] + dt.timedelta(hours=1) <= final_wm
        and r["n_on_time"] > 0
    }
    assert set(got) == set(expected), (
        f"emitted-window set drifted: {len(got)} streamed vs "
        f"{len(expected)} expected"
    )
    diffs = {k: (got[k], expected[k]) for k in expected if got[k] != expected[k]}
    assert not diffs, f"on-time counts drifted: {dict(list(diffs.items())[:5])}"
    # the replay must actually exercise lateness at this sf
    assert sum(r["n_late"] for r in rows) > 0


# --- stream shuffle-partition sizing (twins._stream_shuffle_partitions):
# the formula, its floor, its session cap and per-table sizing.


def test_stream_partitions_floor_for_tiny_input(spark, tmp_path):
    from pypiper_spark.streaming.twins import (
        _STREAM_PARTITION_FLOOR,
        _stream_shuffle_partitions,
    )

    (tmp_path / "events.parquet").write_bytes(b"x" * 1024)  # 1 KB
    assert _stream_shuffle_partitions(spark, str(tmp_path)) == (
        _STREAM_PARTITION_FLOOR
    )


def test_stream_partitions_scale_with_input_capped_at_session(spark, tmp_path):
    from pypiper_spark.streaming.twins import (
        _STREAM_PARTITION_TARGET_BYTES,
        _stream_shuffle_partitions,
    )

    # 5 targets worth of bytes -> 5 partitions (below the session cap of 8)
    with open(tmp_path / "events.parquet", "wb") as fh:
        fh.seek(5 * _STREAM_PARTITION_TARGET_BYTES - 1)
        fh.write(b"\0")
    assert _stream_shuffle_partitions(spark, str(tmp_path)) == 5
    # 100 targets worth -> capped at the session default (8 here)
    with open(tmp_path / "events.parquet", "wb") as fh:
        fh.seek(100 * _STREAM_PARTITION_TARGET_BYTES - 1)
        fh.write(b"\0")
    assert _stream_shuffle_partitions(spark, str(tmp_path)) == 8


def test_stream_partitions_missing_table_falls_back_to_session(spark, tmp_path):
    from pypiper_spark.streaming.twins import _stream_shuffle_partitions

    assert _stream_shuffle_partitions(spark, str(tmp_path / "nope")) == 8


def test_stream_partitions_never_exceed_small_session(spark, tmp_path):
    """ADVICE r12: session default BELOW the floor must win (the old
    formula returned the floor, exceeding the session's own cap)."""
    from pypiper_spark.streaming.twins import _stream_shuffle_partitions

    (tmp_path / "events.parquet").write_bytes(b"x" * 1024)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "2")
        assert _stream_shuffle_partitions(spark, str(tmp_path)) == 2
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    # (the non-numeric-conf fallback in the formula is unreachable via
    # spark.conf — Spark validates the value at set() time — and stays
    # as defense only)


def test_stream_partitions_size_from_named_table(spark, tmp_path):
    """ADVICE r12: streams staged from other tables (orders for CDC
    upsert, documents for corpus build) must size from THAT file."""
    from pypiper_spark.streaming.twins import (
        _STREAM_PARTITION_TARGET_BYTES,
        _stream_shuffle_partitions,
    )

    with open(tmp_path / "orders.parquet", "wb") as fh:
        fh.seek(6 * _STREAM_PARTITION_TARGET_BYTES - 1)
        fh.write(b"\0")
    # events.parquet absent: the events-keyed call falls back to the
    # session default, the orders-keyed call sizes from orders
    assert _stream_shuffle_partitions(spark, str(tmp_path)) == 8
    assert _stream_shuffle_partitions(spark, str(tmp_path), table="orders") == 6


def test_stage_slices_reuses_complete_dir_and_rebuilds_incomplete(spark, tmp_path):
    from pypiper_spark.streaming.twins import _stage_slices

    df = spark.range(100).select(F.col("id").alias("event_id"))
    stage = str(tmp_path / "stage")
    _stage_slices(df, stage, 2, lambda k: F.col("event_id") % 2 == k)
    names = sorted(os.listdir(stage))
    assert names == ["batch0.parquet", "batch1.parquet"]
    mtimes = [os.stat(os.path.join(stage, n)).st_mtime_ns for n in names]
    # deterministic ascending mtimes (the replay-order contract)
    assert mtimes[0] < mtimes[1]
    # second call: complete dir is reused untouched (no rewrite)
    inodes = [os.stat(os.path.join(stage, n)).st_ino for n in names]
    _stage_slices(df, stage, 2, lambda k: F.col("event_id") % 2 == k)
    assert [os.stat(os.path.join(stage, n)).st_ino for n in names] == inodes
    # incomplete dir (one file missing) is rebuilt whole
    os.unlink(os.path.join(stage, "batch1.parquet"))
    _stage_slices(df, stage, 2, lambda k: F.col("event_id") % 2 == k)
    assert sorted(os.listdir(stage)) == ["batch0.parquet", "batch1.parquet"]
    # content round-trips: both slices together are the input set
    got = sorted(
        r.event_id for r in spark.read.parquet(stage).collect()
    )
    assert got == list(range(100))


def test_stage_slices_rebuilds_on_extra_stale_file(spark, tmp_path):
    """ADVICE r12: a staging dir holding batches beyond the requested n
    (e.g. left by an older run with a larger batch count) must be
    rebuilt — the directory readStream would ingest the stale extras."""
    from pypiper_spark.streaming.twins import _stage_slices

    df = spark.range(100).select(F.col("id").alias("event_id"))
    stage = str(tmp_path / "stage")
    _stage_slices(df, stage, 3, lambda k: F.col("event_id") % 3 == k)
    assert sorted(os.listdir(stage)) == [
        "batch0.parquet", "batch1.parquet", "batch2.parquet"
    ]
    # now request n=2 over the same dir: batch2 is stale and must go
    _stage_slices(df, stage, 2, lambda k: F.col("event_id") % 2 == k)
    assert sorted(os.listdir(stage)) == ["batch0.parquet", "batch1.parquet"]
    got = sorted(r.event_id for r in spark.read.parquet(stage).collect())
    assert got == list(range(100))


def test_concurrent_ingest_rebuilds_a_stale_extra_slice(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The concurrent-ingest writers stage through _stage_slices'
    exact-set check: a stale extra file in a writer's staging dir is
    rebuilt away, not replayed as a third batch (which would stamp a
    txn version past the writer's two batches)."""
    import glob
    import shutil
    import tempfile

    from pypiper_spark.streaming.twins import run_concurrent_ingest_streams

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    first = sorted(run_concurrent_ingest_streams(spark, sf_dir).collect())
    (stage,) = glob.glob(str(tmp_path / "pypiper_cci_src_*_writerA"))
    shutil.copy(
        os.path.join(stage, "batch0.parquet"),
        os.path.join(stage, "batch2.parquet"),
    )
    assert sorted(run_concurrent_ingest_streams(spark, sf_dir).collect()) == first


def test_cdc_pristine_path_without_current_raises(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A failed publish of the CDC pristine base table counts as a lost
    build race only when the winner's table is complete (CURRENT
    exists). A non-empty directory without CURRENT at the pristine
    path raises before any clone, staging or stream."""
    import glob
    import tempfile

    from pypiper_spark.streaming import twins

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    key = twins._staging_key(sf_dir, "orders")
    stray = tmp_path / f"pypiper_cdcu_base_{key}" / "data"
    stray.mkdir(parents=True)
    (stray / "part.parquet").write_bytes(b"")
    with pytest.raises(OSError):
        twins.run_cdc_upsert_stream(spark, sf_dir)
    left = sorted(os.path.basename(p) for p in glob.glob(str(tmp_path / "*")))
    assert left == [f"pypiper_cdcu_base_{key}"], left
