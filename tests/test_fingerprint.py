"""Corpus stats and artifact lifecycle (pypiper_spark/fingerprint.py).

Every size gate and corpus key must read a directory-style dataset by
its part files, and every memoized artifact must follow its source
table when that table is rewritten in place.
"""

from __future__ import annotations

import math
import os
import shutil

import pyarrow.parquet as pq
import pytest

from pypiper_spark import fingerprint as FP
from pypiper_spark.catalog import TABLES, fits_broadcast
from pypiper_spark.session import scoped_confs
from pypiper_spark.streaming import twins


def _split_copy(sf_dir: str, dest, tables=TABLES) -> str:
    """Directory-style copy of ``tables``: two part files each, plus
    the marker files Spark writes (which readers must ignore)."""
    for t in tables:
        tbl = pq.read_table(os.path.join(sf_dir, f"{t}.parquet"))
        d = dest / f"{t}.parquet"
        d.mkdir()
        half = tbl.num_rows // 2
        pq.write_table(tbl.slice(0, half), d / "part-00000.parquet")
        pq.write_table(tbl.slice(half), d / "part-00001.parquet")
        (d / "_SUCCESS").write_bytes(b"")
        (d / ".part-00000.parquet.crc").write_bytes(b"crc")
    return str(dest)


@pytest.fixture(scope="module")
def dir_copy(sf_dir, tmp_path_factory):
    return _split_copy(sf_dir, tmp_path_factory.mktemp("dir_copy"))


def _parts_bytes(dir_sf: str, table: str) -> int:
    d = os.path.join(dir_sf, f"{table}.parquet")
    return sum(
        os.path.getsize(os.path.join(d, f))
        for f in os.listdir(d)
        if f.startswith("part-")
    )


def test_table_bytes_and_rows_read_part_files(sf_dir, dir_copy):
    for t in TABLES:
        assert FP.table_bytes(dir_copy, t) == _parts_bytes(dir_copy, t), t
        assert FP.table_num_rows(dir_copy, t) == FP.table_num_rows(sf_dir, t), t
        assert FP.table_bytes(sf_dir, t) == os.path.getsize(
            os.path.join(sf_dir, f"{t}.parquet")
        )
    with pytest.raises(OSError):
        FP.table_bytes(dir_copy, "nope")


def test_size_gates_agree_on_directory_copy(spark, sf_dir, dir_copy, monkeypatch):
    """The stream partition sizing, the broadcast gate and the persist
    gate give the same answer for the directory copy as for the single
    file. Thresholds sit where a gate that read the directory entry's
    own size (4096 bytes) would answer differently."""
    # stream partitions: a target that puts both sizes at 3 partitions
    single, copy = FP.table_bytes(sf_dir, "events"), FP.table_bytes(dir_copy, "events")
    target = int(max(single, copy) / 2.9)
    assert target > 4096
    monkeypatch.setattr(twins, "_STREAM_PARTITION_FLOOR", 1)
    monkeypatch.setattr(twins, "_STREAM_PARTITION_TARGET_BYTES", target)
    expected = math.ceil(single / target)
    assert expected == 3
    assert twins._stream_shuffle_partitions(spark, sf_dir) == expected
    assert twins._stream_shuffle_partitions(spark, dir_copy) == expected

    # broadcast gate: lineitem does not fit under half its expanded size
    small = min(FP.table_bytes(sf_dir, "lineitem"), FP.table_bytes(dir_copy, "lineitem"))
    big = max(FP.table_bytes(sf_dir, "lineitem"), FP.table_bytes(dir_copy, "lineitem"))
    assert 4 * 4096 <= 2 * small
    for threshold, fits in ((2 * small, False), (4 * big, True)):
        with scoped_confs(spark, {"spark.sql.autoBroadcastJoinThreshold": str(threshold)}):
            assert fits_broadcast(spark, sf_dir, "lineitem") is fits
            assert fits_broadcast(spark, dir_copy, "lineitem") is fits

    # persist gate
    for limit, cached in ((small // 2, False), (2 * big, True)):
        monkeypatch.setattr(FP, "_PERSIST_MAX_BYTES", limit)
        for d in (sf_dir, dir_copy):
            df = FP.persist_if_small(spark.range(3), d, "lineitem")
            try:
                assert df.is_cached is cached, (d, limit)
            finally:
                df.unpersist()
    assert not FP.persist_if_small(spark.range(3), dir_copy, "nope").is_cached


def test_keys_follow_part_file_rewrite(sf_dir, tmp_path):
    """Rewriting one part file in place, with the dataset directory
    left alone, changes every key derived from the table."""
    base = _split_copy(sf_dir, tmp_path, tables=("events",))
    before = (
        FP.table_fingerprint(base, "events"),
        FP.corpus_key(base, "x", ("events",)),
        twins._staging_key(base),
    )
    part = os.path.join(base, "events.parquet", "part-00001.parquet")
    tbl = pq.read_table(part)
    pq.write_table(tbl.slice(0, tbl.num_rows // 2), part)
    after = (
        FP.table_fingerprint(base, "events"),
        FP.corpus_key(base, "x", ("events",)),
        twins._staging_key(base),
    )
    assert all(a != b for a, b in zip(after, before))
    # a missing source still gets a stable staging key
    assert twins._staging_key(str(tmp_path / "gone")) == twins._staging_key(
        str(tmp_path / "gone")
    )


def test_index_artifacts_follow_in_place_rewrite(spark, sf_dir, tmp_path, monkeypatch):
    """A long-lived process must not serve the centroids or codebooks
    of a corpus that was rewritten in place: the next build returns
    the new corpus's artifacts, the same ones a fresh process loads."""
    from pypiper_spark.queries import vectors as V

    corpus = tmp_path / "corpus"
    corpus.mkdir()
    emb = corpus / "embeddings.parquet"
    shutil.copyfile(os.path.join(sf_dir, "embeddings.parquet"), emb)
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "index"))

    def build():
        cents = V.build_ivf_index(spark, str(corpus), k=16)
        return (
            cents,
            V.build_pq_codebooks(spark, str(corpus)),
            V.build_ivfpq_codebooks(spark, str(corpus), cents),
        )

    FP._MEMO.clear()
    before = build()
    tbl = pq.read_table(emb)
    pq.write_table(tbl.slice(tbl.num_rows // 3), emb)
    after = build()
    for name, a, b in zip(("ivf", "pq", "ivfpq"), after, before):
        assert a != b, f"{name} served the pre-rewrite artifact"
    FP._MEMO.clear()
    assert build() == after


def test_artifact_memo_follows_index_root(spark, sf_dir, tmp_path, monkeypatch):
    """A process that moves SPARK_GRAFT_INDEX_DIR must load or build
    its artifacts under the new root: the memo must not hand back what
    it found under the old one."""
    from pypiper_spark.queries import vectors as V

    params = "k=16:frac=0.25:seed=42"
    first, second = tmp_path / "first", tmp_path / "second"
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(first))
    cents = V.build_ivf_index(spark, sf_dir, k=16)
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(second))
    assert V.build_ivf_index(spark, sf_dir, k=16) == cents
    path = FP.index_path(FP.artifact_key("ivf", sf_dir, params, ("embeddings",)))
    assert os.path.dirname(path) == str(second)
    assert os.path.exists(path), "the memo served the old root's artifact"
