"""Restart / recovery semantics of the incremental pipeline API:
the exactly-once bookkeeping a periodic 100 TB ingestion job leans
on (checkpointed file-source progress + idempotent sinks).
"""

import os

import pandas as pd
from pyspark.sql import functions as F

from pypiper_spark.catalog import load_table
from pypiper_spark.streaming.incremental import (
    incremental_foreach_batch,
    incremental_parquet_pipeline,
)


def _stage(pdf: pd.DataFrame, path: str) -> None:
    pdf.to_parquet(path, index=False, coerce_timestamps="us")


def _events_pdf(spark, sf_dir) -> pd.DataFrame:
    return load_table(spark, sf_dir, "events").toPandas()


def test_incremental_run_picks_up_only_new_files(spark, sf_dir, tmp_path):
    """Run 1 sees file A; run 2 (same checkpoint) sees only file B;
    output holds every row exactly once; run 3 is a no-op."""
    pdf = _events_pdf(spark, sf_dir)
    inp, out, cp = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "cp")
    os.makedirs(inp)
    a = pdf[pdf.event_id % 2 == 0]
    b = pdf[pdf.event_id % 2 == 1]
    _stage(a, f"{inp}/a.parquet")

    def xf(df):
        return df.filter(F.col("value") >= 0).withColumn(
            "value_bucket", F.floor(F.col("value") / 10)
        )

    n1 = incremental_parquet_pipeline(spark, inp, out, cp, transform=xf)
    assert n1 >= 1
    got1 = spark.read.parquet(out)
    assert got1.count() == len(a)

    _stage(b, f"{inp}/b.parquet")
    n2 = incremental_parquet_pipeline(spark, inp, out, cp, transform=xf)
    assert n2 >= 1
    got2 = spark.read.parquet(out)
    # every event exactly once across the two runs — no replay of file A
    assert got2.count() == len(pdf)
    assert got2.select("event_id").distinct().count() == len(pdf)

    n3 = incremental_parquet_pipeline(spark, inp, out, cp, transform=xf)
    assert n3 == 0, "no new files -> no batches"
    assert spark.read.parquet(out).count() == len(pdf)


def test_foreach_batch_ids_stable_and_exactly_once(spark, sf_dir, tmp_path):
    """foreachBatch delivery: all rows exactly once across batches,
    and a drained checkpoint delivers nothing on rerun."""
    pdf = _events_pdf(spark, sf_dir)
    inp, cp = str(tmp_path / "in"), str(tmp_path / "cp")
    os.makedirs(inp)
    for i in range(3):
        _stage(pdf[pdf.event_id % 3 == i], f"{inp}/f{i}.parquet")

    seen: dict[int, int] = {}

    def sink(batch_df, batch_id):
        seen[batch_id] = batch_df.count()

    n = incremental_foreach_batch(
        spark, inp, cp, sink, max_files_per_trigger=1
    )
    assert n == len(seen) == 3
    assert sum(seen.values()) == len(pdf)
    assert sorted(seen) == [0, 1, 2], "batch ids are a dense restart-stable sequence"

    seen.clear()
    n_again = incremental_foreach_batch(spark, inp, cp, sink)
    assert n_again == 0 and seen == {}, "drained checkpoint redelivers nothing"


def test_sink_failure_then_restart_redelivers_same_batch_id(spark, sf_dir, tmp_path):
    """Crash mid-run: the failed batch is redelivered on restart with
    the SAME batch_id (the idempotent-upsert contract), and committed
    batches are not replayed."""
    pdf = _events_pdf(spark, sf_dir)
    inp, cp = str(tmp_path / "in"), str(tmp_path / "cp")
    os.makedirs(inp)
    for i in range(3):
        _stage(pdf[pdf.event_id % 3 == i], f"{inp}/f{i}.parquet")

    delivered: list[int] = []

    def failing_sink(batch_df, batch_id):
        batch_df.count()  # force evaluation before the crash
        if batch_id == 1:
            raise RuntimeError("sink exploded mid-pipeline")
        delivered.append(batch_id)

    try:
        incremental_foreach_batch(
            spark, inp, cp, failing_sink, max_files_per_trigger=1
        )
        raise AssertionError("expected the streaming query to fail")
    except Exception as e:  # noqa: BLE001 — Spark wraps it
        assert "sink exploded" in str(e)
    assert delivered == [0], "batch 0 committed before the crash"

    redelivered: list[int] = []

    def ok_sink(batch_df, batch_id):
        redelivered.append(batch_id)

    incremental_foreach_batch(spark, inp, cp, ok_sink, max_files_per_trigger=1)
    assert redelivered[0] == 1, "failed batch comes back first, same id"
    assert 0 not in redelivered, "committed batch 0 is never replayed"
    assert sorted(delivered + redelivered) == [0, 1, 2]


# ---------------------------------------------------------------------------
# q_pipeline_stream_corpus (r12 flagship): crash recovery, classify
# semantics, and the signature-only pruned corpus scan.
# ---------------------------------------------------------------------------


def _spipe_rollup(spark, root):
    from pypiper_spark import tableformat as tf

    return sorted(
        map(
            tuple,
            tf.read(spark, root)
            .groupBy("batch", "status")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_tok").alias("total_tokens"),
                F.sum("n_exact").alias("n_exact_hits"),
                F.sum("n_near").alias("n_near_hits"),
            )
            .collect(),
        )
    )


def test_stream_corpus_crash_between_write_and_swap_recovers(
    spark, sf_dir, tmp_path, monkeypatch
):
    """VERDICT r11 #4's restart-stability gate: kill the batch-2 commit
    BETWEEN manifest write and pointer swap (the narrowest crash window
    the format has), restart the stream on the same checkpoint, and
    prove the recovered table is identical to an uninterrupted build.
    Recovery path: foreachBatch redelivers batch 2 with the same id,
    the ingest sink finds current_id == batch_id with crash residue
    (uncommitted snap-3 manifest + orphan data files), gc's it, and
    recommits — exactly-once carried by the commit protocol."""
    from pypiper_spark import tableformat as tf
    from pypiper_spark.queries import snapshots as S

    crashed = str(tmp_path / "crashed_root")
    monkeypatch.setattr(S, "_root", lambda *_: crashed)

    real_swap = tf._swap_current

    def poisoned_swap(root, snap_id):
        if snap_id == 3:
            raise RuntimeError("injected crash between write and swap")
        return real_swap(root, snap_id)

    monkeypatch.setattr(tf, "_swap_current", poisoned_swap)
    try:
        S.ensure_stream_corpus_table(spark, sf_dir)
        raise AssertionError("expected the poisoned build to fail")
    except Exception as e:  # noqa: BLE001 — Spark wraps the sink error
        assert "injected crash" in str(e)
    assert tf.current_id(crashed) == 2, "batches 0-1 committed before the crash"
    assert tf.uncommitted_manifests(crashed) == [3], "snap-3 residue present"

    monkeypatch.setattr(tf, "_swap_current", real_swap)
    S.ensure_stream_corpus_table(spark, sf_dir)
    assert tf.current_id(crashed) == 4

    clean = str(tmp_path / "clean_root")
    monkeypatch.setattr(S, "_root", lambda *_: clean)
    S.ensure_stream_corpus_table(spark, sf_dir)
    assert _spipe_rollup(spark, crashed) == _spipe_rollup(spark, clean)


def test_spipe_classify_statuses_hand_oracle(spark):
    """Classify semantics on a 4-doc hand case: same text in an earlier
    batch -> exact; same distinct-token SET but different text (md5
    differs, Jaccard 1.0) -> near; fresh content -> unique. The batch
    ids come from the md5(doc_id) slicer, so pick ids landing in
    distinct batches and classify the later batch against the earlier."""
    from pypiper_spark.queries.snapshots import (
        _spipe_batch_col,
        _spipe_classify,
        _spipe_enrich,
    )

    # md5-slicer batches: doc_id 3 -> batch 2, others -> batch 0/1/3;
    # compute them live so the test can't drift from the slicer
    docs = spark.createDataFrame(
        [
            (1, "en", "web", "alpha beta gamma"),
            (2, "en", "web", "delta epsilon zeta"),
            (3, "en", "web", "alpha beta gamma"),       # exact dup of 1
            (4, "en", "web", "gamma beta alpha extra"),  # 3/4 jaccard: unique
            (5, "en", "web", "gamma beta alpha"),        # same set as 1: near
        ],
        "doc_id long, lang string, source string, text string",
    ).withColumn("batch", _spipe_batch_col())
    rows = {r.doc_id: r.batch for r in docs.collect()}
    earlier = [i for i in rows if rows[i] == min(rows.values())]
    later = [i for i in rows if i not in earlier]
    corpus = _spipe_classify(
        _spipe_enrich(docs.filter(F.col("doc_id").isin(earlier))), None
    )
    out = _spipe_classify(
        _spipe_enrich(docs.filter(F.col("doc_id").isin(later))), corpus
    )
    got = {r.doc_id: (r.status, r.n_exact, r.n_near) for r in out.collect()}
    # derive expectations from the live batch assignment
    import collections

    texts = {1: "alpha beta gamma", 2: "delta epsilon zeta",
             3: "alpha beta gamma", 4: "gamma beta alpha extra",
             5: "gamma beta alpha"}
    for i in later:
        n_exact = sum(1 for j in earlier if texts[j] == texts[i])
        sets = lambda t: set(t.split())
        n_near = sum(
            1
            for j in earlier
            if 10 * len(sets(texts[j]) & sets(texts[i]))
            >= 9 * len(sets(texts[j]) | sets(texts[i]))
        )
        want = (
            "exact" if n_exact else ("near" if n_near else "unique"),
            n_exact,
            n_near,
        )
        assert got[i] == want, (i, got[i], want)


def test_stream_corpus_dedup_scan_prunes_text(spark, sf_dir):
    """The 100 TB design claim in code: a later batch's dedup joins
    read ONLY the signature columns (doc_id/lang/source/h/th/nw) from
    the committed table — text is never re-scanned for dedup. Visible
    in the executed plan: the corpus-side FileScan's ReadSchema must
    exclude text."""
    from pypiper_spark import tableformat as tf
    from pypiper_spark.queries.snapshots import (
        _spipe_classify,
        _spipe_enrich,
        ensure_stream_corpus_table,
    )

    root = ensure_stream_corpus_table(spark, sf_dir)
    batch = load_table(spark, sf_dir, "documents").limit(50).select(
        "doc_id", "lang", "source", "text"
    )
    out = _spipe_classify(_spipe_enrich(batch), tf.read(spark, root))
    plan = out._jdf.queryExecution().executedPlan().toString()
    corpus_scans = [
        l for l in plan.splitlines()
        if "ReadSchema" in l and os.path.basename(root) in l
    ]
    assert corpus_scans, plan[:2000]
    assert all("text" not in l.split("ReadSchema")[1] for l in corpus_scans), (
        corpus_scans
    )


def test_txn_sink_crash_after_commit_before_checkpoint_no_duplicates(
    spark, sf_dir, tmp_path
):
    """The exactly-once hole the writer-transaction stamp closes (r12,
    q_stream_concurrent_ingest's contract): a sink that COMMITS its
    append and then dies before the stream checkpoint advances gets
    the same batch redelivered on restart. Without the txn watermark
    the replay double-appends; with it the replay no-ops and the final
    table holds every row exactly once."""
    from pypiper_spark import tableformat as tf

    pdf = _events_pdf(spark, sf_dir)[
        ["event_id", "user_id", "event_type", "value"]
    ]
    inp, cp = str(tmp_path / "in"), str(tmp_path / "cp")
    root = str(tmp_path / "tbl")
    os.makedirs(inp)
    for i in range(3):
        _stage(pdf[pdf.event_id % 3 == i], f"{inp}/f{i}.parquet")
    tf.create(spark, root, spark.createDataFrame([], spark.read.parquet(inp).schema))

    def make_sink(crash_on: int | None):
        def sink(batch_df, batch_id):
            if tf.last_txn_version(root, "w") >= batch_id:
                return  # replayed after a commit the checkpoint missed
            tf.append(batch_df.sparkSession, root, batch_df, txn=("w", batch_id))
            if batch_id == crash_on:
                raise RuntimeError("crashed AFTER commit, BEFORE checkpoint")

        return sink

    try:
        incremental_foreach_batch(
            spark, inp, cp, make_sink(1), max_files_per_trigger=1
        )
        raise AssertionError("expected the poisoned run to fail")
    except Exception as e:  # noqa: BLE001 — Spark wraps it
        assert "AFTER commit" in str(e)
    assert tf.last_txn_version(root, "w") == 1, "batch 1 COMMITTED before the crash"

    incremental_foreach_batch(
        spark, inp, cp, make_sink(None), max_files_per_trigger=1
    )
    assert tf.last_txn_version(root, "w") == 2
    got = tf.read(spark, root)
    assert got.count() == len(pdf)
    assert got.select("event_id").distinct().count() == len(pdf), (
        "replayed batch 1 double-appended"
    )
