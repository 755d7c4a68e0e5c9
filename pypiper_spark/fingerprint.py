"""Corpus stats and artifact lifecycle: the one module that knows how
big a source table is, what it currently is, and where an artifact
derived from it lives.

- **Size.** ``table_bytes`` and ``table_num_rows`` read part-file
  stats and parquet footers only, never the data. Every size gate goes
  through them (``catalog.fits_broadcast``, ``persist_if_small``, the
  stream partition sizing in ``streaming.twins``), so a
  directory-style dataset is sized by its part files, not by its
  directory entry.
- **Identity.** ``table_fingerprint`` hashes name+size+mtime_ns of
  every part file; ``corpus_key`` folds the fingerprints of a purpose's
  source tables into one short key. Anything derived from a source
  table keys on WHAT the source currently is, not just where it lives:
  a path-only key serves stale state after the source is rewritten in
  place (ADVICE r6 for the BPE memo, ADVICE r7 for the tableformat demo
  roots), including a rewrite of part files that leaves the directory
  entry alone.
- **Artifacts.** ``artifact`` is the one per-process memo. Its key is
  ``<kind>_<corpus_key>``, and persisted artifacts are named after the
  same key (``index_path``), so the memo key and the on-disk key cannot
  drift apart. ``atomic_write_table`` / ``atomic_write_df`` publish
  index artifacts under ``index_dir()`` so that a crash never leaves a
  truncated file at a key's path.
"""

from __future__ import annotations

import functools
import hashlib
import os


def _part_files(sf_dir: str, table: str) -> list[tuple[str, str]]:
    """(name, path) of every file Spark reads for one table: each
    non-hidden file under a directory-style dataset, sorted by path, or
    the table's single file with an empty name. Raises OSError when the
    table does not exist."""
    path = os.path.join(sf_dir, f"{table}.parquet")
    if not os.path.isdir(path):
        os.stat(path)  # a missing table raises here
        return [("", path)]
    return [
        (os.path.basename(p), p)
        for p in sorted(
            os.path.join(dp, f)
            for dp, _, fs in os.walk(path)
            for f in fs
            if not f.startswith((".", "_"))
        )
    ]


def table_bytes(sf_dir: str, table: str) -> int:
    """On-disk bytes of one table: the sum over its part files. Raises
    OSError for a missing table; each size gate picks its own fallback."""
    return sum(os.path.getsize(p) for _, p in _part_files(sf_dir, table))


def table_fingerprint(sf_dir: str, table: str = "documents") -> str:
    """Raw stat fingerprint of one table's parquet file/directory."""
    out = []
    for name, p in _part_files(sf_dir, table):
        st = os.stat(p)
        out.append(f"{name + ':' if name else ''}{st.st_size}:{st.st_mtime_ns}")
    return "|".join(out)


def table_num_rows(sf_dir: str, table: str) -> int:
    """Exact row count of one table from parquet FOOTERS only (no
    scan) — the input to every size-adaptive geometry decision
    (simhash band width, IVFPQ nprobe, PQ shortlist). Handles
    directory-style parquet (sum over part-file footers): ADVICE r10
    found the single-file-only version swallowed IsADirectoryError
    into n=0 and silently selected the small-corpus geometry at any
    scale — reintroducing the corpus-quadratic band self-join the
    adaptive geometry exists to prevent. Returns 0 only for a truly
    missing/unreadable table."""
    import pyarrow as pa_
    import pyarrow.parquet as pq_

    try:
        return sum(
            pq_.ParquetFile(p).metadata.num_rows
            for _, p in _part_files(sf_dir, table)
            if p.endswith(".parquet")
        )
    except (OSError, pa_.ArrowException):
        # pyarrow raises ArrowInvalid (not OSError) for a zero-byte or
        # corrupt part file — same "unreadable table" contract (ADVICE r11)
        return 0


def corpus_key(sf_dir: str, label: str, tables: tuple = ("documents",)) -> str:
    """Short stable key for (corpus contents, purpose): md5 over the
    sf_dir path, a purpose label, and each source table's stat
    fingerprint. Regenerating any source table in place changes the
    key, so long-lived processes and on-disk demo/index roots can't
    serve stale state."""
    blob = "\x1f".join(
        [sf_dir, label, *(table_fingerprint(sf_dir, t) for t in tables)]
    )
    return hashlib.md5(blob.encode()).hexdigest()[:12]


_PERSIST_MAX_BYTES = 256 * 1024 * 1024


def persist_if_small(df, sf_dir: str, table: str):
    """``df.persist()`` when source ``table`` is under 256 MB on disk,
    else ``df`` unchanged — the plan-time size gate of the pagerank and
    LPA caches (the 100 TB analog is the catalog's table statistics).
    A table of unknown size counts as big: never cache."""
    try:
        small = table_bytes(sf_dir, table) < _PERSIST_MAX_BYTES
    except OSError:
        return df
    return df.persist() if small else df


# key -> artifact value (centroids, codebooks, artifact paths, merges)
_MEMO: dict[str, object] = {}


def artifact_key(kind: str, sf_dir: str, params: str, tables: tuple = ("documents",)) -> str:
    """``<kind>_<corpus_key>``: the artifact's kind, every parameter
    that shapes it, and the fingerprint of every source table."""
    return f"{kind}_{corpus_key(sf_dir, params, tables)}"


def artifact(kind: str, sf_dir: str, params: str, make, tables: tuple = ("documents",)):
    """The per-process memo over one corpus-derived artifact.

    ``make(key)`` runs once per ``artifact_key`` per process. A
    persisted artifact takes its file name from the key
    (``index_path(key)``), so ``make`` loads it when it already exists
    and otherwise builds and publishes it. Rewriting a source table in
    place changes the key, so a long-lived process never serves an
    artifact of the old corpus. Two threads that miss at once both run
    ``make``: builds are deterministic and published atomically, so the
    second one is redundant, not wrong."""
    key = artifact_key(kind, sf_dir, params, tables)
    if key not in _MEMO:
        _MEMO[key] = make(key)
    return _MEMO[key]


def memoized(kind: str, params: str, tables: tuple = ("documents",)):
    """``artifact`` as a decorator, for an in-memory-only artifact
    computed by ``fn(spark, sf_dir)``."""

    def wrap(fn):
        @functools.wraps(fn)
        def inner(spark, sf_dir: str):
            return artifact(kind, sf_dir, params, lambda _key: fn(spark, sf_dir), tables)

        return inner

    return wrap


def index_dir() -> str:
    """Artifact root for persisted indexes (centroids, codebooks, graph
    and truth tables). Repo-local by default; a real deployment points
    this at the object store next to the corpus."""
    d = os.environ.get(
        "SPARK_GRAFT_INDEX_DIR",
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".ann_index"),
    )
    os.makedirs(d, exist_ok=True)
    return d


def index_path(key: str, suffix: str = "") -> str:
    """Path of the parquet artifact named after an ``artifact`` key."""
    return os.path.join(index_dir(), f"{key}{suffix}.parquet")


def atomic_write_table(table, path: str) -> None:
    """Write a parquet artifact atomically: temp file in the same
    directory, then os.replace() into place. A crash mid-write must
    never leave a truncated file at the fingerprint-stable path (the
    exists() check would treat it as valid forever); replace() also
    makes concurrent writers last-wins-safe."""
    import tempfile

    import pyarrow.parquet as pq_

    fd, tmp = tempfile.mkstemp(
        dir=os.path.dirname(path), prefix=".tmp_", suffix=".parquet"
    )
    os.close(fd)
    try:
        pq_.write_table(table, tmp)
        os.replace(tmp, path)
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)


def atomic_write_df(df, path: str) -> None:
    """Spark-side atomic artifact write for CORPUS-SIZED artifacts
    (the HNSW posting assignment, the dedup truth pairs): executors
    write directory-style parquet with df.write — the frame never lands
    on the driver — then one rename() publishes it at the
    fingerprint-stable path (atomic on the same filesystem; pyarrow and
    spark.read both handle the directory form). If a concurrent builder
    won the publish race, this build's output is discarded —
    last-writer semantics identical to atomic_write_table's replace()."""
    import shutil
    import tempfile

    parent = os.path.dirname(path)
    staging = tempfile.mkdtemp(dir=parent, prefix=".tmpdir_")
    try:
        out = os.path.join(staging, "data")
        df.write.mode("overwrite").parquet(out)
        try:
            os.rename(out, path)
        except OSError:
            # EEXIST/ENOTEMPTY = a concurrent builder won the publish
            # race (last-writer semantics, fine). Any OTHER failure
            # (perms, stale plain file at path → ENOTDIR) must NOT be
            # swallowed: callers cache (path, ...) tuples and every
            # later read would fail confusingly — ADVICE r11.
            if not os.path.exists(path):
                raise
    finally:
        shutil.rmtree(staging, ignore_errors=True)
