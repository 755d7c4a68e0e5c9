"""Minimal snapshot/manifest table format (VERDICT r6 "What's missing"
#1): ACID-ish incremental writes over plain parquet, the poor-man's
Iceberg a production pipeline needs on day one of incremental ingest.

Layout (one directory per table)::

    <root>/
      data/<writer-uuid>-<seq>.parquet   immutable data files
      snapshots/snap-<N>.json            manifest: data-file list + meta
      CURRENT                            text pointer to the live snapshot

Commit protocol (the os.replace discipline from fingerprint.atomic_write_table,
applied to a pointer file):

1. write new data files under ``data/`` (unique names — never reused,
   never overwritten);
2. write ``snapshots/snap-N.json`` listing the EXACT file set of the new
   snapshot (full file list, not a delta — reads never chase chains);
3. atomically swap ``CURRENT`` from N-1 to N via temp-file +
   ``os.replace`` — the only mutation of shared state in the protocol.

Guarantees under this protocol:

- **snapshot isolation for readers**: a reader resolves CURRENT once and
  then touches only immutable files; a concurrent commit cannot change
  the file set under it.
- **crash safety**: a crash anywhere before step 3 leaves CURRENT at
  N-1 and the table fully readable; steps 1-2 only created orphan files
  (``orphan_files`` finds them, ``gc_orphans`` removes them). A crash
  DURING step 3 is atomic by os.replace (POSIX rename).
- **optimistic concurrency (single-winner)**: commit re-reads CURRENT
  at swap time and raises ``CommitConflict`` if another writer advanced
  it — the loser retries on the new snapshot. (os.replace alone cannot
  do a true compare-and-swap, so two writers racing within the
  read-check-to-replace window are last-wins; a real deployment puts
  the pointer in a CAS-capable store — the protocol is otherwise
  unchanged, which is the point of the manifest design.)
- **time travel**: every snapshot's manifest is retained; ``read(...,
  snapshot_id=k)`` reconstructs exactly snapshot k's rows.

Beyond the minimal core, the format carries the three lifecycle
operations a table format earns its keep with at 100 TB:

- **manifest stats pruning**: every commit records per-file min/max
  for requested columns (read from parquet footers — free); ``read``
  with a ``prune=`` predicate opens only overlapping files. This is
  the Iceberg/Delta file-skipping win: a point or range query on a
  sorted/clustered key touches O(matching files), not O(table).
- **compaction** (``compact``): rewrite the current file set into
  fewer, larger files as a new snapshot — same rows, same history;
  the small-files answer for streaming/incremental ingest.
- **snapshot expiration** (``expire_snapshots``): drop manifests
  older than the retention window and delete data files no retained
  snapshot references — bounded history, bounded storage.

- **partial-rewrite MERGE** (``merge_partial``): the per-file stats
  select exactly the files that can contain a change key; everything
  else carries into the new snapshot unrewritten — the
  partition-grained MERGE cost model without requiring a partitioned
  layout.

- **schema evolution** (``add_column`` / ``rename_column`` /
  ``drop_column``, VERDICT r7 #5): Iceberg's field-id model, minimal.
  Every manifest records the table's logical schema as
  ``fields = [{id, name, type}]`` (ids are stable for the life of the
  column, names are labels), and maps each data file to the
  *physical* column names it was written with (``file_epoch`` →
  ``epochs``; files from one commit share an epoch). Evolution ops
  are METADATA-ONLY commits — same files, new fields list: add
  assigns a fresh id (old files resolve it to NULL on read), rename
  rebinds the label (old files still resolve through the id to their
  original physical name — no NULL hole, no rewrite), drop removes
  the field (the physical column stays in old files, unread). Reads
  normalize every file group to the snapshot's logical schema, so
  time travel across a schema change returns each snapshot under ITS
  OWN schema. At 100 TB this is the only affordable model: a rename
  or added column on a million-file table is one manifest write.

- **snapshot diff scans** (``snapshot_file_diff`` / ``read_subset``):
  manifests diff file-wise, so "what changed between snapshots"
  queries scan only the files the snapshots do NOT share — carried
  files cancel algebraically for group-aggregable measures. After a
  partial-rewrite MERGE on a 100 TB table the diff touches the
  rewritten 0.1%, not two full copies.

- **deletion vectors** (``delete_where``, r12): row-level DELETE
  without rewriting a single data file — Delta's deletion vectors /
  Iceberg v2 positional deletes, minimal. A delete commit scans
  CURRENT once, records the (file, row-position) of every matched
  row as a parquet artifact under ``dv/`` (executor-written — the
  deleted-row refs never pass through the driver), and commits the
  SAME file list with the manifest keys ``dv`` (cumulative vector,
  parent's deletes merged in so reads chase no chains) and
  ``dv_rows``. Positions come from Spark's parquet reader itself
  (``_metadata.row_index``) and are split-invariant, so they mean
  the same row no matter how a later scan partitions the file.
  Reads apply the vector as one anti-join on (file, pos) — absent a
  dv key the read path is byte-for-byte the old plan; AQE broadcasts
  the vector side while it fits (the common case: deletes ≪ data).
  ``append`` carries the parent's vector verbatim (it touches no old
  files); rewrite commits (``overwrite``/``merge``/``compact``)
  materialize the deletes naturally and drop the vector;
  ``merge_partial`` falls back to the full merge on a dv-bearing
  table (a partial rewrite would have to split the vector per file —
  correct first, partial later); ``rollback`` restores the target's
  vector; ``expire_snapshots``/``gc_orphans`` collect unreferenced
  vectors like data files. ``merge_on_read`` composes the same
  machinery into the MOR upsert: matched rows marked replaced in the
  vector, change rows as delta files, zero rewrites (whole-row
  replacement semantics — see its docstring vs ``merge``'s
  coalescing copy-on-write). At 100 TB this is the only affordable
  DELETE: a 0.01% GDPR erasure on a million-file table writes one
  small artifact instead of rewriting ~every file. File-grain diff
  reads (``read_diff``/``read_incremental``) see delete commits as
  no-ops by construction — row-grain deltas across a delete need
  ``read`` at both snapshots.

- **write-audit-publish staging** (``stage_append`` / ``publish`` /
  ``abort_staged``, r12): the WAP workflow (Iceberg's
  ``stage-only`` commits / audit branches, minimal). A staged commit
  writes its data files AND its manifest (claiming the next snapshot
  id via the same O_EXCL) but does NOT swap CURRENT — production
  readers are untouched while an audit job reads the staged snapshot
  BY ID and runs its quality gates. ``publish`` strips the staged
  mark and performs the standard atomic pointer swap; ``abort``
  frees the id and gc's the staged files. The staged mark is what
  separates deliberate unpublished work from crash residue: gc
  spares marked manifests and their files, collects unmarked ones
  exactly as before. One commit lane, not branches: a staged
  snapshot holds the slot, so concurrent commits conflict until
  publish/abort — keep audit windows short. At 100 TB this is how
  bad data stays out of production: the gate runs on committed-shape
  files at full fidelity, and rejecting a batch costs one manifest
  delete, not a rollback rewrite.

- **writer transactions** (``txn=`` on ``append``,
  ``last_txn_version``, r12): Delta's ``txn`` action / Iceberg's
  snapshot-summary idempotence key, minimal. A commit may carry an
  ``{app, version}`` stamp in its manifest; ``last_txn_version(root,
  app)`` is that writer's high-water mark. This is what makes
  CONCURRENT exactly-once streaming sinks possible: with several
  writers interleaving commits, "snapshot id == my batch id" (the
  single-writer alignment q_stream_table_ingest uses) no longer
  holds, but "skip if my app's version >= this batch id" does — a
  sink that crashed after committing but before checkpointing its
  offset sees the replayed batch and no-ops. Retention caveat
  (same as Delta's transaction retention): ``expire_snapshots``
  drops old manifests, so a writer idle past the retention window
  loses its watermark — size retention to writer cadence.

- **resumable builds** (``build``): a table defined as a list of
  steps, one commit each, builds once and resumes after a crash — a
  finished table costs one CURRENT read; an interrupted one has its
  staged leftovers aborted and its crash residue gc'd, then replays
  only the missing steps. Every demo table in queries/snapshots.py is
  such a step list.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class CommitConflict(RuntimeError):
    """Another writer advanced CURRENT between read and swap."""


def _snap_path(root: str, snap_id: int) -> str:
    return os.path.join(root, "snapshots", f"snap-{snap_id:08d}.json")


def current_id(root: str) -> int:
    """The live snapshot id (0 = empty table / nothing committed).

    An empty/unparsable CURRENT (torn pointer — possible only on
    filesystems where rename durability needs a directory fsync the
    crash skipped; the writer fsyncs the temp file itself) is treated
    as recoverable, not fatal (ADVICE r7): the highest VALID manifest
    is the recovery point, because a manifest is always fsync-durable
    BEFORE the pointer swap that publishes it — rolling forward to it
    loses nothing and matches the committing writer's intent. "Valid"
    means the manifest parses as JSON (ADVICE r8): _commit can crash
    between the O_EXCL claim and the manifest fsync, leaving a
    truncated snap-N.json that must never become the table's durable
    state. The pointer repair itself is BEST-EFFORT (ADVICE r8): a
    read must stay a read on read-only mounts/replicas, so an OSError
    from the rewrite is swallowed and the recovered id returned from
    memory — only write paths durably republish."""
    try:
        with open(os.path.join(root, "CURRENT")) as fh:
            txt = fh.read().strip()
    except FileNotFoundError:
        return 0
    try:
        return int(txt)
    except ValueError:
        recovered = _max_manifest_id(root)
        try:
            _swap_current(root, recovered)
        except OSError:
            pass  # read-only mount: serve the recovered id, repair later
        return recovered


def _max_manifest_id(root: str) -> int:
    """Highest snapshot id whose manifest PARSES (json.load succeeds).
    A claimed-but-torn snap-N.json (crash between O_EXCL claim and
    fsync) is skipped, so torn-pointer recovery can never durably
    point CURRENT at a manifest no reader could open (ADVICE r8). A
    valid-JSON manifest is safe to roll forward to even if written by
    another in-flight writer: _commit fsyncs the manifest immediately
    before the pointer swap, so a complete manifest means its writer
    reached (or was about to reach) publish."""
    sdir = os.path.join(root, "snapshots")
    ids = [0]
    if os.path.isdir(sdir):
        for f in os.listdir(sdir):
            if f.startswith("snap-") and f.endswith(".json"):
                try:
                    sid = int(f[5:-5])
                except ValueError:
                    continue
                try:
                    with open(os.path.join(sdir, f)) as fh:
                        json.load(fh)
                except (OSError, json.JSONDecodeError):
                    continue
                ids.append(sid)
    return max(ids)


def _swap_current(root: str, snap_id: int) -> None:
    """Durable pointer swap: temp file fsynced BEFORE os.replace, and
    the directory fsynced after, so a crash at any instant leaves
    CURRENT either at the old value or the new one — never empty
    (ADVICE r7: rename atomicity alone does not cover the temp file's
    CONTENT reaching disk)."""
    fd, tmp = tempfile.mkstemp(dir=root, prefix=".tmp_CURRENT_")
    with os.fdopen(fd, "w") as fh:
        fh.write(str(snap_id))
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, os.path.join(root, "CURRENT"))
    try:
        dfd = os.open(root, os.O_RDONLY)
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)
    except OSError:
        pass  # directory fsync unsupported on some filesystems


def read_manifest(root: str, snap_id: int) -> dict:
    with open(_snap_path(root, snap_id)) as fh:
        return json.load(fh)


def snapshots(root: str) -> list[dict]:
    """All RETAINED committed manifests, oldest first (time-travel
    catalog). Expired snapshots (expire_snapshots) are simply absent —
    the catalog never errors on a bounded-history table."""
    out = []
    for i in range(1, current_id(root) + 1):
        try:
            out.append(read_manifest(root, i))
        except FileNotFoundError:
            continue
    return out


def files_for(
    root: str,
    snapshot_id: int | None = None,
    prune: tuple | None = None,
) -> list[str]:
    """The table-relative file list a read would open — after manifest
    stats pruning when ``prune=(col, lo, hi)`` is given. A file is
    skipped only when its recorded [min, max] for ``col`` provably
    cannot overlap [lo, hi]; files without stats for the column are
    always kept (pruning is an optimization, never a filter)."""
    snap = current_id(root) if snapshot_id is None else snapshot_id
    if snap < 1:
        raise FileNotFoundError(f"table at {root} has no committed snapshot")
    m = read_manifest(root, snap)
    files = list(m["files"])
    if prune is None:
        return files
    col, lo, hi = prune
    stats = m.get("stats", {})
    kept = []
    for f in files:
        fs = stats.get(f, {})
        if fs.get("__rows") == 0:
            continue  # empty file: no predicate can match it
        # stats are keyed by the file's PHYSICAL column name; resolve
        # the logical name through the field id for renamed columns
        s = fs.get(_physical_name(m, f, col))
        if s is None or (s[0] <= hi and s[1] >= lo):
            kept.append(f)
    return kept


def _physical_name(m: dict, file: str, col: str) -> str:
    """The physical column name ``col`` had when ``file`` was written
    (identity for legacy manifests without field tracking)."""
    fields = m.get("fields")
    if not fields:
        return col
    fid = next((str(f["id"]) for f in fields if f["name"] == col), None)
    if fid is None:
        return col
    epoch = m.get("epochs", {}).get(m.get("file_epoch", {}).get(file, ""), {})
    return epoch.get(fid, col)


def read(
    spark: SparkSession,
    root: str,
    snapshot_id: int | None = None,
    prune: tuple | None = None,
) -> DataFrame:
    """Read the table at CURRENT or at a historical snapshot.

    ``prune=(col, lo, hi)`` applies manifest file-skipping (see
    files_for); the caller still applies the row-level filter — prune
    bounds which FILES are opened, exactly like Iceberg manifest
    pruning ahead of parquet row-group pruning."""
    snap = current_id(root) if snapshot_id is None else snapshot_id
    if snap < 1:
        raise FileNotFoundError(f"table at {root} has no committed snapshot")
    m = read_manifest(root, snap)
    return _apply_dv(
        spark, root, m, _read_files, files_for(root, snap, prune)
    )


def _dv_frame(spark: SparkSession, root: str, m: dict) -> DataFrame | None:
    """The snapshot's cumulative deletion vector as (_POS_FILE,
    _POS_ROW), or None when the snapshot carries no deletes."""
    rel = m.get("dv")
    if not rel:
        return None
    return spark.read.parquet(os.path.join(root, rel)).select(
        F.col("file").alias(_POS_FILE), F.col("pos").alias(_POS_ROW)
    )


def _apply_dv(spark, root: str, m: dict, reader, files: list[str]) -> DataFrame:
    """Read ``files`` through ``reader`` with the manifest's deletion
    vector applied. No dv key → the exact pre-dv plan (zero overhead
    for the overwhelmingly common case). With one → the scan carries
    row identity and one anti-join on (file, pos) drops deleted rows;
    the vector is the build side, so AQE broadcasts it while it fits
    (deletes ≪ data is the design point — a vector that outgrows
    broadcast degrades to a shuffled anti-join, never a wrong
    answer)."""
    dv = _dv_frame(spark, root, m)
    if dv is None:
        return reader(spark, root, m, files)
    base = reader(spark, root, m, files, with_pos=True)
    return base.join(dv, [_POS_FILE, _POS_ROW], "left_anti").drop(
        _POS_FILE, _POS_ROW
    )


_POS_FILE = "__tf_file"
_POS_ROW = "__tf_pos"


def _pos_cols() -> list:
    """Row-identity columns straight from the parquet reader: the
    table-relative file path (data-file basenames are writer-uuid
    unique, so ``data/<basename>`` is the manifest key) and the
    split-invariant in-file row index. These name the same physical
    row on every read — the coordinate system deletion vectors are
    keyed in. Must be selected directly on a scan frame
    (``_metadata`` is reader-produced, not derivable later)."""
    rel = F.concat(
        F.lit("data/"),
        F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1),
    )
    return [
        rel.alias(_POS_FILE),
        F.col("_metadata.row_index").alias(_POS_ROW),
    ]


def _read_files(
    spark: SparkSession,
    root: str,
    m: dict,
    files: list[str],
    with_pos: bool = False,
) -> DataFrame:
    """Read a file subset of one snapshot, normalized to that
    snapshot's logical schema. Files are grouped by write-time schema
    epoch; each group is one parquet scan projected field-id-wise
    onto the logical schema (renamed columns read their original
    physical name; columns added after the file was written fill
    NULL), then the groups union. One epoch — the overwhelmingly
    common case — is a single scan with a pass-through projection.

    ``with_pos`` appends the (_POS_FILE, _POS_ROW) row-identity
    columns from the reader metadata (see _pos_cols) — the hook
    deletion-vector reads and delete_where build on."""
    fields = m.get("fields")
    if fields is None:
        # legacy manifest (pre-schema-tracking): physical = logical
        if not files:
            all_files = [
                f
                for f in m["files"]
                if m.get("stats", {}).get(f, {}).get("__rows") != 0
            ] or m["files"]
            if not all_files:
                raise ValueError(
                    f"snapshot {m.get('snapshot_id')} at {root} is empty and "
                    "stores no schema (legacy manifest — re-commit to adopt "
                    "schema tracking)"
                )
            out = spark.read.parquet(os.path.join(root, all_files[0])).limit(0)
            if with_pos:
                out = out.select("*", *_pos_cols())
            return out
        out = spark.read.parquet(*[os.path.join(root, f) for f in files])
        if with_pos:
            out = out.select("*", *_pos_cols())
        return out
    ddl = ", ".join(f"`{f['name']}` {f['type']}" for f in fields)
    if not files:
        if with_pos:
            ddl += f", `{_POS_FILE}` string, `{_POS_ROW}` bigint"
        return spark.createDataFrame([], schema=ddl)
    epochs = m.get("epochs", {})
    groups: dict[str, list[str]] = {}
    for f in files:
        groups.setdefault(m.get("file_epoch", {}).get(f, ""), []).append(f)
    identity = {str(fld["id"]): fld["name"] for fld in fields}
    parts = []
    for ek in sorted(groups):
        df = spark.read.parquet(*[os.path.join(root, g) for g in groups[ek]])
        if ek == "":
            # file absent from file_epoch (adopted legacy file): its
            # physical names equal the logical names, same identity
            # fallback _physical_name applies — NOT an all-NULL read
            # (ADVICE r8).
            mapping = identity
        else:
            mapping = epochs.get(ek)
            if mapping is None:
                # a tracked epoch key with no mapping is manifest
                # corruption; a silent all-NULL read would hide it
                raise ValueError(
                    f"manifest epoch {ek!r} (files {groups[ek]}) has no "
                    "column mapping — corrupt manifest"
                )
        phys_cols = set(df.columns)
        sel = []
        for fld in fields:
            phys = mapping.get(str(fld["id"]))
            if phys is not None and phys in phys_cols:
                sel.append(F.col(phys).cast(fld["type"]).alias(fld["name"]))
            else:
                sel.append(F.lit(None).cast(fld["type"]).alias(fld["name"]))
        if with_pos:
            sel.extend(_pos_cols())
        parts.append(df.select(*sel))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _footer_stats(path: str, cols: tuple) -> dict:
    """Per-file min/max for ``cols`` from parquet row-group footers —
    metadata only, no data pages read (the same place Spark's own
    row-group pruning looks; the manifest lifts it one level up so
    file skipping needs no file opens at all)."""
    import pyarrow.parquet as pq_

    md = pq_.ParquetFile(path).metadata
    idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
    out = {"__rows": md.num_rows}  # 0-row files prune under ANY predicate
    for c in cols:
        if c not in idx:
            continue
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx[c]).statistics
            if st is None or not st.has_min_max:
                mins, maxs = [], []
                break
            mins.append(st.min)
            maxs.append(st.max)
        if mins:
            out[c] = [min(mins), max(maxs)]
    return out


def _write_data_files(
    df: DataFrame, root: str, stats_cols: tuple = (),
    options: dict | None = None,
) -> tuple[list[str], dict]:
    """Materialize df as immutable files under data/, return their
    table-relative paths plus per-file column stats. Spark writes to a
    scratch dir; the parts are then renamed to collision-free names
    (writer uuid + seq) so no two commits can ever contend on a file
    name. ``options`` pass through to the parquet writer (e.g.
    parquet.block.size to bound row-group size: row groups are the
    scan-split unit, so a few-file table wants small-enough groups to
    parallelize reads)."""
    os.makedirs(os.path.join(root, "data"), exist_ok=True)
    scratch = tempfile.mkdtemp(prefix=".commit_", dir=root)
    try:
        w = df.write.mode("overwrite")
        for k, v in (options or {}).items():
            w = w.option(k, v)
        w.parquet(scratch)
        wid = uuid.uuid4().hex[:12]
        rel: list[str] = []
        stats: dict = {}
        seq = 0
        for f in sorted(os.listdir(scratch)):
            if not f.endswith(".parquet"):
                continue
            name = f"data/{wid}-{seq:05d}.parquet"
            os.replace(os.path.join(scratch, f), os.path.join(root, name))
            rel.append(name)
            if stats_cols:
                stats[name] = _footer_stats(os.path.join(root, name), stats_cols)
            seq += 1
        return rel, stats
    finally:
        for f in os.listdir(scratch):
            try:
                os.remove(os.path.join(scratch, f))
            except OSError:
                pass
        os.rmdir(scratch)


# Value-preserving type widenings a commit may carry without evolving
# the table schema (Iceberg's type-promotion rule). The data is
# PHYSICALLY widened to the declared type before writing
# (_conform_types) — files inside one schema epoch must share one
# physical type, because _read_files scans an epoch's files with a
# single parquet schema (a narrow INT32 file mixed into a BIGINT
# epoch made the scan schema depend on which footer Spark's inference
# sampled: an intermittent PARQUET_COLUMN_DATA_TYPE_MISMATCH at read
# time, caught round 9). Everything else is a commit-time error.
_SAFE_PROMOTIONS = frozenset(
    {
        ("tinyint", "smallint"),
        ("tinyint", "int"),
        ("tinyint", "bigint"),
        ("smallint", "int"),
        ("smallint", "bigint"),
        ("int", "bigint"),
        ("float", "double"),
        ("date", "timestamp"),
    }
)


def _conform_types(spark: SparkSession, df: DataFrame, root: str, parent: int) -> DataFrame:
    """Physically widen safe-promoted columns to the table's declared
    types before the data files are written (what Iceberg writers do):
    every file in a schema epoch then carries one physical type, so
    _read_files' single-scan-per-epoch stays valid. Only documented
    safe promotions are cast here — anything else is left for
    _schema_meta's commit-time validation to reject loudly."""
    if not parent:
        return df
    fields = read_manifest(root, parent).get("fields")
    if not fields:
        return df
    declared = {f["name"]: f["type"] for f in fields}
    got = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    if not any(
        (got[c], declared[c]) in _SAFE_PROMOTIONS
        for c in df.columns
        if c in declared
    ):
        return df
    return df.select(
        *[
            F.col(c).cast(declared[c]).alias(c)
            if c in declared and (got[c], declared[c]) in _SAFE_PROMOTIONS
            else F.col(c)
            for c in df.columns
        ]
    )


def _epoch_key(mapping: dict) -> str:
    return hashlib.md5(
        json.dumps(mapping, sort_keys=True).encode()
    ).hexdigest()[:10]


def _fields_of(df: DataFrame, start_id: int = 1) -> list[dict]:
    return [
        {"id": start_id + i, "name": f.name, "type": f.dataType.simpleString()}
        for i, f in enumerate(df.schema.fields)
    ]


def _schema_meta(
    root: str,
    parent: int,
    new_files: list[str],
    df: DataFrame,
    carried_files: list[str] = (),
) -> dict:
    """fields/epochs/file_epoch bookkeeping for a data commit that
    writes ``new_files`` from ``df`` (physical names = current logical
    names) and carries ``carried_files`` from the parent unrewritten.

    A legacy parent (manifest without field tracking) is adopted in
    place: its files' physical names equal the logical names at
    adoption time, so they join the identity epoch — no rewrite."""
    pm = read_manifest(root, parent) if parent else {}
    fields = pm.get("fields")
    epochs = dict(pm.get("epochs", {}))
    file_epoch = dict(pm.get("file_epoch", {}))
    if fields is None:
        fields = _fields_of(df)
        next_id = len(fields) + 1
        epochs, file_epoch = {}, {}
        if carried_files:
            ident = {str(f["id"]): f["name"] for f in fields}
            ek = _epoch_key(ident)
            epochs[ek] = ident
            for fp in carried_files:
                file_epoch[fp] = ek
    else:
        next_id = pm.get("next_field_id", max(f["id"] for f in fields) + 1)
        want = {f["name"] for f in fields}
        got = set(df.columns)
        if got != want:
            raise ValueError(
                f"commit schema {sorted(got)} != table schema {sorted(want)}; "
                "evolve the table first (add_column/rename_column/drop_column)"
            )
        # Names matching is not enough (ADVICE r8): a drifted type
        # (string where the field declares bigint) would commit
        # silently, and _read_files' cast-to-declared-type would then
        # turn the bad values into NULLs at read time. Validate each
        # field's type at commit time, allowing only the documented
        # SAFE promotions (value-preserving widenings, the Iceberg
        # rule); _conform_types already widened those physically at
        # write time, so this branch only fires for frames that
        # bypassed the public commit paths.
        got_types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
        bad = [
            f"{f['name']}: df has {got_types[f['name']]}, table declares {f['type']}"
            for f in fields
            if got_types[f["name"]] != f["type"]
            and (got_types[f["name"]], f["type"]) not in _SAFE_PROMOTIONS
        ]
        if bad:
            raise ValueError(
                "commit type mismatch (only safe widenings are allowed): "
                + "; ".join(bad)
            )
    mapping = {str(f["id"]): f["name"] for f in fields}
    ek = _epoch_key(mapping)
    epochs.setdefault(ek, mapping)
    for fp in new_files:
        file_epoch[fp] = ek
    return {
        "fields": fields,
        "next_field_id": next_id,
        "epochs": epochs,
        "file_epoch": file_epoch,
    }


def _commit(
    root: str,
    parent: int,
    files: list[str],
    operation: str,
    n_records: int,
    stats: dict | None = None,
    stats_cols: tuple = (),
    schema_meta: dict | None = None,
    txn: tuple[str, int] | None = None,
    extra: dict | None = None,
    swap: bool = True,
) -> int:
    """Steps 2-3 of the protocol: manifest write, then pointer swap.
    ``extra`` merges additional manifest keys (deletion-vector
    pointers, rollback-carried schema) verbatim. ``swap=False`` stops
    after the manifest write — the write-audit-publish staging step:
    the manifest is claimed (O_EXCL) but CURRENT is untouched, so the
    snapshot is readable by id yet invisible to every CURRENT reader
    until ``publish`` swaps the pointer.

    Creating ``snap-N.json`` with O_CREAT|O_EXCL is the exclusive
    claim on snapshot id N: of two racing writers with the same
    parent, exactly one creates the manifest; the other gets
    ``CommitConflict`` and retries on the new snapshot. A crash
    between manifest creation and pointer swap leaves an uncommitted
    manifest that blocks id N until ``gc_orphans`` clears it — the
    recovery path the crash test exercises."""
    snap_id = parent + 1
    if current_id(root) != parent:
        raise CommitConflict(
            f"CURRENT moved to {current_id(root)} (expected {parent}); "
            "retry the commit on the new snapshot"
        )
    os.makedirs(os.path.join(root, "snapshots"), exist_ok=True)
    manifest = {
        "snapshot_id": snap_id,
        "parent_id": parent,
        "operation": operation,
        "files": files,
        "n_files": len(files),
        "n_records": n_records,
        "stats": stats or {},
        "stats_cols": list(stats_cols),
    }
    if txn is not None:
        manifest["txn"] = {"app": str(txn[0]), "version": int(txn[1])}
    if extra:
        manifest.update(extra)
    if schema_meta is not None:
        fe = {
            f: schema_meta["file_epoch"][f]
            for f in files
            if f in schema_meta["file_epoch"]
        }
        live_epochs = set(fe.values())
        manifest.update(
            {
                "fields": schema_meta["fields"],
                "next_field_id": schema_meta["next_field_id"],
                "epochs": {
                    k: v
                    for k, v in schema_meta["epochs"].items()
                    if k in live_epochs
                },
                "file_epoch": fe,
            }
        )
    mpath = _snap_path(root, snap_id)
    try:
        fd = os.open(mpath, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError:
        raise CommitConflict(
            f"snapshot {snap_id} already claimed (concurrent commit or "
            "crash residue; run gc_orphans to clear residue)"
        ) from None
    with os.fdopen(fd, "w") as fh:
        json.dump(manifest, fh)
        fh.flush()
        os.fsync(fh.fileno())
    if swap:
        _swap_current(root, snap_id)
    return snap_id


def create(
    spark: SparkSession, root: str, df: DataFrame, stats_cols: tuple = (),
    options: dict | None = None,
) -> int:
    """Create the table (snapshot 1). Fails if one already exists.
    ``stats_cols`` opts columns into per-file min/max manifest stats;
    the choice sticks — later commits read it from the parent
    manifest, so every snapshot stays prunable on the same keys."""
    os.makedirs(root, exist_ok=True)
    if current_id(root) != 0:
        raise CommitConflict(f"table at {root} already exists")
    files, stats = _write_data_files(df, root, stats_cols, options)
    n = read_files_count(spark, root, files)
    return _commit(
        root, 0, files, "create", n, stats, stats_cols,
        _schema_meta(root, 0, files, df),
    )


def _inherited_stats_cols(root: str, parent: int) -> tuple:
    if not parent:
        return ()
    return tuple(read_manifest(root, parent).get("stats_cols", ()))


def _append_commit(
    spark: SparkSession, root: str, df: DataFrame,
    options: dict | None, txn: tuple[str, int] | None, staged: bool,
) -> int:
    parent = current_id(root)
    pm = read_manifest(root, parent) if parent else {}
    cols = _inherited_stats_cols(root, parent)
    df = _conform_types(spark, df, root, parent)
    files, stats = _write_data_files(df, root, cols, options)
    n = read_files_count(spark, root, files)
    # append never touches old files, so the parent's deletion vector
    # carries verbatim (new files have no deleted rows by definition)
    extra = (
        {"dv": pm["dv"], "dv_rows": pm.get("dv_rows", 0)}
        if pm.get("dv")
        else {}
    )
    if staged:
        extra["staged"] = True
    return _commit(
        root, parent, pm.get("files", []) + files, "append",
        pm.get("n_records", 0) + n,
        {**pm.get("stats", {}), **stats}, cols,
        _schema_meta(root, parent, files, df, pm.get("files", [])),
        txn=txn,
        extra=extra or None,
        swap=not staged,
    )


def append(
    spark: SparkSession, root: str, df: DataFrame,
    options: dict | None = None,
    txn: tuple[str, int] | None = None,
) -> int:
    """Append-only commit: parent's files + the new files (parent's
    per-file stats carry over untouched — append never rewrites).
    ``txn=(app, version)`` stamps the manifest with a writer
    transaction for idempotent multi-writer sinks (module docstring,
    "writer transactions")."""
    return _append_commit(spark, root, df, options, txn, staged=False)


def stage_append(
    spark: SparkSession, root: str, df: DataFrame,
    options: dict | None = None,
    txn: tuple[str, int] | None = None,
) -> int:
    """STAGE an append for write-audit-publish: data files and the
    ``snap-N.json`` manifest are written (id N claimed via O_EXCL,
    manifest marked ``staged``) but CURRENT is NOT swapped. The
    staged snapshot is readable by id — ``read(spark, root,
    snapshot_id=N)`` is the audit read — and invisible to every
    CURRENT reader until ``publish(root, N)``; ``abort_staged``
    discards it. While a staged snapshot exists it HOLDS the commit
    slot: any other writer's commit raises CommitConflict until
    publish/abort (this minimal format has one commit lane, not
    branches — keep audit windows short, or abort+restage on
    conflict). gc_orphans recognizes the staged mark and spares both
    the manifest and its files (a crash-residue manifest has no such
    mark and is collected as before)."""
    return _append_commit(spark, root, df, options, txn, staged=True)


def staged_snapshots(root: str) -> list[int]:
    """Ids of staged (written, unpublished) snapshots — manifests
    above CURRENT carrying the ``staged`` mark. Unmarked manifests
    above CURRENT are crash residue, not staged work."""
    out = []
    for n in uncommitted_manifests(root):
        try:
            if read_manifest(root, n).get("staged"):
                out.append(n)
        except (OSError, json.JSONDecodeError):
            continue
    return out


def publish(root: str, snap_id: int) -> int:
    """Publish a staged snapshot: verify the parent is still CURRENT,
    strip the staged mark (an in-place manifest rewrite — safe, the
    manifest is invisible until the swap and has exactly one
    publisher: the stager holding the id claim), fsync, then the
    usual atomic pointer swap. After publish the manifest is
    indistinguishable from a directly-committed one."""
    m = read_manifest(root, snap_id)
    if not m.get("staged"):
        raise ValueError(f"snapshot {snap_id} is not staged")
    if current_id(root) != m["parent_id"]:
        raise CommitConflict(
            f"CURRENT moved to {current_id(root)} (staged parent "
            f"{m['parent_id']}); abort and re-stage on the new snapshot"
        )
    m.pop("staged")
    mpath = _snap_path(root, snap_id)
    tmp = mpath + ".publish"
    with open(tmp, "w") as fh:
        json.dump(m, fh)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, mpath)
    _swap_current(root, snap_id)
    return snap_id


def abort_staged(root: str, snap_id: int) -> list[str]:
    """Discard a staged snapshot: remove its manifest (freeing the
    commit slot for the next writer) and gc the data files only it
    referenced. Returns what was removed."""
    m = read_manifest(root, snap_id)
    if not m.get("staged"):
        raise ValueError(f"snapshot {snap_id} is not staged")
    os.remove(_snap_path(root, snap_id))
    removed = [f"snapshots/snap-{snap_id:08d}.json"]
    removed.extend(gc_orphans(root))
    return removed


def last_txn_version(root: str, app: str) -> int:
    """Highest ``txn.version`` any RETAINED committed manifest records
    for writer ``app``; -1 if none. The idempotence check of a
    concurrent exactly-once sink: skip a (re)delivered batch whose id
    is <= this watermark. O(retained snapshots) driver-side manifest
    reads — the same cost class as ``snapshots()``/history."""
    best = -1
    for m in snapshots(root):
        t = m.get("txn")
        if t and t.get("app") == app:
            best = max(best, int(t["version"]))
    return best


def overwrite(spark: SparkSession, root: str, df: DataFrame) -> int:
    """Full-replace commit (old files stay for time travel)."""
    parent = current_id(root)
    cols = _inherited_stats_cols(root, parent)
    df = _conform_types(spark, df, root, parent)
    files, stats = _write_data_files(df, root, cols)
    n = read_files_count(spark, root, files)
    return _commit(
        root, parent, files, "overwrite", n, stats, cols,
        _schema_meta(root, parent, files, df),
    )


def merge(
    spark: SparkSession,
    root: str,
    changes: DataFrame,
    key: str,
    merged_builder=None,
) -> int:
    """MERGE (upsert) through the format: read CURRENT, full-outer join
    with the change set on ``key`` (the q_upsert_merge shape — one
    shuffle per side), write the merged rows as a new snapshot. With
    ``merged_builder`` the caller supplies the coalesce logic
    ``(base_df, changes_df) -> merged_df``; the default coalesces every
    change column over the base column (change rows win, unmatched
    change rows insert, untouched base rows pass through)."""
    base = read(spark, root)
    if merged_builder is not None:
        merged = merged_builder(base, changes)
    else:
        b, u = base.alias("b"), changes.alias("u")
        cond = F.col(f"b.{key}") == F.col(f"u.{key}")
        cols = [
            F.coalesce(F.col(f"u.{c}"), F.col(f"b.{c}")).alias(c)
            if c in changes.columns
            else F.col(f"b.{c}").alias(c)
            for c in base.columns
        ]
        merged = b.join(u, cond, "full_outer").select(*cols)
    parent = current_id(root)
    cols = _inherited_stats_cols(root, parent)
    merged = _conform_types(spark, merged, root, parent)
    files, stats = _write_data_files(merged, root, cols)
    n = read_files_count(spark, root, files)
    return _commit(
        root, parent, files, "merge", n, stats, cols,
        _schema_meta(root, parent, files, merged),
    )


def _write_dv_files(dv_df: DataFrame, root: str) -> str:
    """Materialize a deletion vector (file string, pos long) as an
    immutable parquet directory under ``dv/`` and return its
    table-relative path. Same discipline as _write_data_files:
    executor-side distributed write into a scratch dir inside the
    table root, then ONE atomic directory rename to a writer-uuid
    name no two commits can contend on. The deleted-row refs never
    pass through the driver (the r10/r11 artifact-builder rule)."""
    os.makedirs(os.path.join(root, "dv"), exist_ok=True)
    scratch = tempfile.mkdtemp(prefix=".dv_", dir=root)
    rel = f"dv/{uuid.uuid4().hex[:12]}"
    try:
        dv_df.write.mode("overwrite").parquet(scratch)
        os.replace(scratch, os.path.join(root, rel))
    except BaseException:
        shutil.rmtree(scratch, ignore_errors=True)
        raise
    return rel


def delete_where(spark: SparkSession, root: str, condition) -> int:
    """Row-level DELETE as a deletion-vector commit: no data file is
    rewritten, touched, or even fully re-listed — the commit carries
    the parent's exact file list plus a ``dv`` artifact naming the
    deleted rows by (file, in-file row index).

    ``condition`` is a SQL boolean string or a Column over the
    table's logical schema. The matched set is evaluated against the
    VISIBLE rows (parent's deletes excluded first), so the new vector
    is the disjoint union of the parent's — cumulative by
    construction, reads chase no chains, and ``dv_rows`` arithmetic
    stays exact. Cost at 100 TB: one predicate scan of the table
    (with every pushdown the predicate allows), one anti-join against
    the parent vector, one small distributed artifact write; the
    count that updates ``n_records`` comes from the written vector's
    parquet footers, not a driver collect.

    Concurrency: standard optimistic commit — a loser's dv directory
    becomes residue that ``gc_orphans`` collects, exactly like a
    loser's data files."""
    parent = current_id(root)
    if parent < 1:
        raise FileNotFoundError(f"table at {root} has no committed snapshot")
    m = read_manifest(root, parent)
    base = _read_files(spark, root, m, m["files"], with_pos=True)
    old = _dv_frame(spark, root, m)
    if old is not None:
        base = base.join(old, [_POS_FILE, _POS_ROW], "left_anti")
    cond = F.expr(condition) if isinstance(condition, str) else condition
    dels = base.filter(cond).select(
        F.col(_POS_FILE).alias("file"), F.col(_POS_ROW).alias("pos")
    )
    if old is not None:
        dels = dels.unionByName(
            old.select(
                F.col(_POS_FILE).alias("file"), F.col(_POS_ROW).alias("pos")
            )
        )
    rel = _write_dv_files(dels, root)
    dv_rows = read_files_count(spark, root, [rel])
    n_new = dv_rows - int(m.get("dv_rows", 0))
    meta = None
    if m.get("fields") is not None:
        meta = {
            "fields": m["fields"],
            "next_field_id": m.get(
                "next_field_id", max(f["id"] for f in m["fields"]) + 1
            ),
            "epochs": m.get("epochs", {}),
            "file_epoch": m.get("file_epoch", {}),
        }
    return _commit(
        root,
        parent,
        list(m["files"]),
        "delete",
        int(m.get("n_records", 0)) - n_new,
        dict(m.get("stats", {})),
        tuple(m.get("stats_cols", ())),
        meta,
        extra={"dv": rel, "dv_rows": dv_rows},
    )


def merge_on_read(
    spark: SparkSession,
    root: str,
    changes: DataFrame,
    key: str,
    options: dict | None = None,
    txn: tuple[str, int] | None = None,
) -> int:
    """MERGE as a merge-on-read commit (Iceberg v2 MOR / Delta DV
    upsert): the matched base rows are MARKED REPLACED in the
    deletion vector and the change rows land as new delta files —
    no existing file is rewritten. One commit carries parent files +
    delta files + the extended vector, so reads stay one anti-join.

    Semantics: WHOLE-ROW replacement — ``changes`` must carry full
    rows under the table schema; a NULL in a change row WINS (the
    row is replaced, not coalesced). This differs from ``merge``'s
    column-coalescing copy-on-write exactly when change rows carry
    NULLs. Duplicate keys in the base all match and are all
    replaced.

    Cost at 100 TB: a 0.1% daily upsert = one predicate/semi-join
    scan of the table, a vector write sized by the REPLACED rows,
    and delta files sized by the CHANGE set — vs merge's full-table
    rewrite or merge_partial's touched-file rewrite. The read-side
    tax is the vector anti-join; ``compact`` pays it off by
    materializing (drops the vector, rewrites once). ``txn=(app,
    version)`` stamps the manifest like ``append``'s — the
    exactly-once hook for streaming CDC-upsert sinks."""
    parent = current_id(root)
    if parent < 1:
        raise FileNotFoundError(f"table at {root} has no committed snapshot")
    m = read_manifest(root, parent)
    base = _read_files(spark, root, m, m["files"], with_pos=True)
    old = _dv_frame(spark, root, m)
    if old is not None:
        base = base.join(old, [_POS_FILE, _POS_ROW], "left_anti")
    keys = changes.select(key).distinct()
    replaced = base.join(keys, on=key, how="left_semi").select(
        F.col(_POS_FILE).alias("file"), F.col(_POS_ROW).alias("pos")
    )
    if old is not None:
        replaced = replaced.unionByName(
            old.select(
                F.col(_POS_FILE).alias("file"), F.col(_POS_ROW).alias("pos")
            )
        )
    rel = _write_dv_files(replaced, root)
    dv_rows = read_files_count(spark, root, [rel])
    n_replaced = dv_rows - int(m.get("dv_rows", 0))
    cols = _inherited_stats_cols(root, parent)
    changes = _conform_types(spark, changes, root, parent)
    files, stats = _write_data_files(changes, root, cols, options)
    n_new = read_files_count(spark, root, files)
    return _commit(
        root,
        parent,
        m["files"] + files,
        "merge_on_read",
        int(m.get("n_records", 0)) - n_replaced + n_new,
        {**m.get("stats", {}), **stats},
        cols,
        _schema_meta(root, parent, files, changes, m["files"]),
        txn=txn,
        extra={"dv": rel, "dv_rows": dv_rows},
    )


def read_files_count(spark: SparkSession, root: str, files: list[str]) -> int:
    """Row count of a file set from parquet footers (metadata-only —
    Spark's count() over parquet compiles to a footer scan)."""
    if not files:
        return 0
    return spark.read.parquet(*[os.path.join(root, f) for f in files]).count()


def orphan_files(root: str) -> list[str]:
    """Data files (and deletion-vector directories) referenced by NO
    committed snapshot — the residue of a crash between data write
    and pointer swap (or an aborted commit). Table-relative paths,
    sorted within each kind."""
    live: set[str] = set()
    for m in snapshots(root):
        live.update(m["files"])
        if m.get("dv"):
            live.add(m["dv"])
    # staged (write-audit-publish) snapshots are deliberate unpublished
    # work, not residue — their files are live until publish/abort
    for n in staged_snapshots(root):
        sm = read_manifest(root, n)
        live.update(sm["files"])
        if sm.get("dv"):
            live.add(sm["dv"])
    out = []
    data_dir = os.path.join(root, "data")
    if os.path.isdir(data_dir):
        for f in sorted(os.listdir(data_dir)):
            rel = f"data/{f}"
            if rel not in live and not f.startswith("."):
                out.append(rel)
    dv_dir = os.path.join(root, "dv")
    if os.path.isdir(dv_dir):
        for f in sorted(os.listdir(dv_dir)):
            rel = f"dv/{f}"
            if rel not in live and not f.startswith("."):
                out.append(rel)
    # a manifest above CURRENT with no pointer is also crash residue
    return out


def uncommitted_manifests(root: str) -> list[int]:
    """snap-N.json files above CURRENT: written but never swapped in."""
    cur = current_id(root)
    out = []
    sdir = os.path.join(root, "snapshots")
    if os.path.isdir(sdir):
        for f in sorted(os.listdir(sdir)):
            if f.startswith("snap-") and f.endswith(".json"):
                n = int(f[5:-5])
                if n > cur:
                    out.append(n)
    return out


def gc_orphans(root: str, min_age_sec: float = 0.0) -> list[str]:
    """Delete orphan data files and uncommitted manifests; return what
    was removed.

    NOT safe concurrently with writers at min_age_sec=0 (ADVICE r7):
    between a racing writer's data write / O_EXCL manifest claim and
    its pointer swap, that commit's files ARE orphans by this
    function's definition — gc'ing them aborts the commit, and gc'ing
    its claimed snap-N.json while the swap proceeds would leave
    CURRENT pointing at a deleted manifest. Single-writer maintenance
    windows may use the 0 default (crash-residue cleanup, the recovery
    path the crash test exercises); concurrent deployments MUST pass a
    grace window longer than any plausible in-flight commit (Iceberg's
    orphan-file retention interval — hours, not seconds): only residue
    OLDER than min_age_sec is touched."""
    import time

    cutoff = time.time() - min_age_sec

    def _old_enough(path: str) -> bool:
        try:
            return os.stat(path).st_mtime <= cutoff
        except OSError:
            return False  # vanished: a racing writer/gc got it first

    removed = []
    for rel in orphan_files(root):
        p = os.path.join(root, rel)
        if _old_enough(p):
            if os.path.isdir(p):  # a deletion-vector directory
                shutil.rmtree(p, ignore_errors=True)
            else:
                os.remove(p)
            removed.append(rel)
    staged = set(staged_snapshots(root))
    for n in uncommitted_manifests(root):
        if n in staged:  # deliberate WAP work, not crash residue
            continue
        p = _snap_path(root, n)
        if _old_enough(p):
            os.remove(p)
            removed.append(f"snapshots/snap-{n:08d}.json")
    return removed


def build(root: str, steps) -> str:
    """Build, or resume building, the table at ``root`` from ``steps``:
    zero-argument callables where ``steps[k]`` commits exactly snapshot
    k + 1. A finished table costs one CURRENT read and runs no step.
    Otherwise the leftovers of an interrupted build are cleared first
    (staged snapshots aborted, crash residue gc'd — either would hold
    the next commit id) and only ``steps[current_id(root):]`` run, so a
    crash mid-build replays the missing commits and nothing else. Steps
    build their own inputs, so a finished table builds none. Returns
    ``root``; raises if a step does not advance CURRENT by exactly
    one."""
    cur = current_id(root)
    if cur >= len(steps):
        return root
    for sid in staged_snapshots(root):
        abort_staged(root, sid)
    if uncommitted_manifests(root):
        gc_orphans(root)
    for k in range(cur, len(steps)):
        steps[k]()
        got = current_id(root)
        if got != k + 1:
            raise RuntimeError(
                f"build step {k + 1} of {root} left CURRENT at {got}"
            )
    return root


def compact(spark: SparkSession, root: str, target_files: int = 1) -> int:
    """Compaction commit: rewrite the CURRENT file set into
    ``target_files`` larger files — identical rows (asserted via
    footer row counts), new snapshot, history preserved. The
    small-files answer for streaming/incremental ingest: readers of
    the new snapshot open O(target) files instead of O(commits); old
    snapshots still read their original files until expired."""
    parent = current_id(root)
    cols = _inherited_stats_cols(root, parent)
    before = read_manifest(root, parent)["n_records"]
    rows = read(spark, root).coalesce(target_files)
    files, stats = _write_data_files(rows, root, cols)
    n = read_files_count(spark, root, files)
    if n != before:
        raise RuntimeError(
            f"compaction row-count drift: {before} -> {n} (refusing to commit)"
        )
    return _commit(
        root, parent, files, "compact", n, stats, cols,
        _schema_meta(root, parent, files, rows),
    )


def expire_snapshots(root: str, keep_last: int) -> list[str]:
    """Bounded history: drop all but the newest ``keep_last`` snapshot
    manifests and delete data files no retained snapshot references.
    Returns what was removed (table-relative paths). CURRENT is never
    expired; time travel to an expired snapshot raises
    FileNotFoundError (the contract: retention is a policy decision,
    reads past it are errors, not silent fallbacks)."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1 (CURRENT is never expired)")
    cur = current_id(root)
    keep = set(range(max(1, cur - keep_last + 1), cur + 1))
    live: set[str] = set()
    expired_ids = []
    for m in snapshots(root):
        if m["snapshot_id"] in keep:
            live.update(m["files"])
            if m.get("dv"):
                live.add(m["dv"])
        else:
            expired_ids.append(m["snapshot_id"])
    # a staged (unpublished WAP) snapshot's files are live too — its
    # parent is CURRENT, which retention never expires
    for n in staged_snapshots(root):
        sm = read_manifest(root, n)
        live.update(sm["files"])
        if sm.get("dv"):
            live.add(sm["dv"])
    removed = []
    for sid in expired_ids:
        os.remove(_snap_path(root, sid))
        removed.append(f"snapshots/snap-{sid:08d}.json")
    data_dir = os.path.join(root, "data")
    if os.path.isdir(data_dir):
        for f in sorted(os.listdir(data_dir)):
            rel = f"data/{f}"
            if rel not in live and not f.startswith("."):
                os.remove(os.path.join(root, rel))
                removed.append(rel)
    dv_dir = os.path.join(root, "dv")
    if os.path.isdir(dv_dir):
        for f in sorted(os.listdir(dv_dir)):
            rel = f"dv/{f}"
            if rel not in live and not f.startswith("."):
                shutil.rmtree(os.path.join(root, rel), ignore_errors=True)
                removed.append(rel)
    return removed


def merge_partial(
    spark: SparkSession,
    root: str,
    changes: DataFrame,
    key: str,
    options: dict | None = None,
    target_files: int | None = None,
) -> int:
    """MERGE that rewrites ONLY the files that can contain a change
    key — the partition-grained rewrite a 100 TB table needs (a full
    MERGE rewriting every file on a daily 0.1% change set is the
    single biggest cost bug in naive incremental ingest).

    File selection is exact and bounded: the parent manifest's
    per-file [min, max] stats for ``key`` become a tiny ranges frame;
    one broadcast range-join against the change set marks each file
    touched/untouched (a file whose recorded key range provably
    cannot contain any change key — including inserts, which fall
    outside every range or inside a touched one — carries into the
    new snapshot UNREWRITTEN, stats and all). Touched files merge
    with the full change set via the usual full-outer join; unmatched
    change rows insert there exactly once (any base row sharing a
    change key lives in a touched file by construction, so carried
    files can never hide a matched row).

    Requires the table to have ``stats_cols`` including ``key``;
    falls back to the full-table ``merge`` otherwise. Row-for-row
    equality with the full merge is asserted in
    tests/test_tableformat.py."""
    parent = current_id(root)
    m = read_manifest(root, parent)
    if m.get("dv"):
        # a partial rewrite of a dv-bearing table would have to split
        # the vector per carried/rewritten file; the full merge reads
        # dv-aware and materializes the deletes — correct, just not
        # partial (module docstring, deletion vectors)
        return merge(spark, root, changes, key=key)
    stats = m.get("stats", {})
    phys = {f: _physical_name(m, f, key) for f in m["files"]}
    if key not in m.get("stats_cols", []) or not all(
        phys[f] in stats.get(f, {}) or stats.get(f, {}).get("__rows") == 0
        for f in m["files"]
    ):
        return merge(spark, root, changes, key=key)

    ranges = [
        (i, stats[f][phys[f]][0], stats[f][phys[f]][1])
        for i, f in enumerate(m["files"])
        if stats[f].get("__rows") != 0
    ]
    if not all(
        isinstance(v, int) for _, lo, hi in ranges for v in (lo, hi)
    ):
        return merge(spark, root, changes, key=key)  # non-integer key stats
    rdf = spark.createDataFrame(ranges, "fid int, lo long, hi long")
    touched_ids = {
        r.fid
        for r in changes.alias("u")
        .join(
            F.broadcast(rdf),
            (F.col(f"u.{key}") >= F.col("lo")) & (F.col(f"u.{key}") <= F.col("hi")),
        )
        .select("fid")
        .distinct()
        .collect()  # bounded by the manifest's file count
    }
    touched = [f for i, f in enumerate(m["files"]) if i in touched_ids]
    carried = [
        f
        for i, f in enumerate(m["files"])
        if i not in touched_ids and stats.get(f, {}).get("__rows") != 0
    ]

    base = _read_files(spark, root, m, touched)
    b, u = base.alias("b"), changes.alias("u")
    cols = [
        F.coalesce(F.col(f"u.{c}"), F.col(f"b.{c}")).alias(c)
        if c in changes.columns
        else F.col(f"b.{c}").alias(c)
        for c in base.columns
    ]
    merged = b.join(u, F.col(f"b.{key}") == F.col(f"u.{key}"), "full_outer").select(
        *cols
    )
    cols_cfg = _inherited_stats_cols(root, parent)
    merged = _conform_types(spark, merged, root, parent)
    if target_files is not None:
        # bound the rewrite's output file count (otherwise one file per
        # shuffle partition — 32 small files for a 2-file rewrite)
        merged = merged.coalesce(target_files)
    new_files, new_stats = _write_data_files(merged, root, cols_cfg, options)
    n = read_files_count(spark, root, new_files) + sum(
        stats[f]["__rows"] for f in carried
    )
    return _commit(
        root,
        parent,
        carried + new_files,
        "merge_partial",
        n,
        {**{f: stats[f] for f in carried}, **new_stats},
        cols_cfg,
        _schema_meta(root, parent, new_files, merged, carried),
    )


# ---------------------------------------------------------------------------
# Schema evolution: metadata-only commits (VERDICT r7 #5)
# ---------------------------------------------------------------------------

def _evolution_base(root: str) -> tuple[int, dict, dict]:
    """Parent manifest + schema meta for a metadata-only commit.
    Requires field tracking (any table created/committed since schema
    tracking landed has it; a legacy table adopts it on its next DATA
    commit)."""
    parent = current_id(root)
    if parent < 1:
        raise FileNotFoundError(f"table at {root} has no committed snapshot")
    pm = read_manifest(root, parent)
    if pm.get("fields") is None:
        raise ValueError(
            f"table at {root} predates schema tracking; run any data "
            "commit (append/overwrite/compact) to adopt field ids first"
        )
    return parent, pm, {
        "fields": [dict(f) for f in pm["fields"]],
        "next_field_id": pm.get(
            "next_field_id", max(f["id"] for f in pm["fields"]) + 1
        ),
        "epochs": dict(pm.get("epochs", {})),
        "file_epoch": dict(pm.get("file_epoch", {})),
    }


def _meta_commit(
    root: str, parent: int, pm: dict, op: str, meta: dict,
    stats_cols: tuple | None = None,
) -> int:
    return _commit(
        root,
        parent,
        list(pm["files"]),
        op,
        pm.get("n_records", 0),
        dict(pm.get("stats", {})),
        tuple(pm.get("stats_cols", ())) if stats_cols is None else stats_cols,
        meta,
        # metadata-only commits keep the same physical rows, so the
        # parent's deletion vector MUST carry (dropping it would
        # resurrect every deleted row across a rename — caught by the
        # r12 lifecycle test)
        extra=(
            {"dv": pm["dv"], "dv_rows": pm.get("dv_rows", 0)}
            if pm.get("dv")
            else None
        ),
    )


def add_column(root: str, name: str, dtype: str) -> int:
    """Add a column as a metadata-only commit: a fresh field id joins
    the logical schema; no data file is touched. Files written before
    this commit resolve the new id to NULL on read (the Iceberg
    add-column semantics); files written after carry it physically.
    ``dtype`` is a Spark DDL type string ('bigint', 'string', ...)."""
    parent, pm, meta = _evolution_base(root)
    if any(f["name"] == name for f in meta["fields"]):
        raise ValueError(f"column {name!r} already exists")
    meta["fields"].append(
        {"id": meta["next_field_id"], "name": name, "type": dtype}
    )
    meta["next_field_id"] += 1
    return _meta_commit(root, parent, pm, "add_column", meta)


def rename_column(root: str, old: str, new: str) -> int:
    """Rename a column as a metadata-only commit: the field id keeps
    pointing at every file's original physical column, so old files
    read their real values under the new name — no NULL hole, no
    rewrite. stats_cols tracking follows the rename (pruning keeps
    working through the id -> physical-name resolution)."""
    parent, pm, meta = _evolution_base(root)
    if any(f["name"] == new for f in meta["fields"]):
        raise ValueError(f"column {new!r} already exists")
    fld = next((f for f in meta["fields"] if f["name"] == old), None)
    if fld is None:
        raise KeyError(old)
    fld["name"] = new
    cols = tuple(new if c == old else c for c in pm.get("stats_cols", ()))
    return _meta_commit(root, parent, pm, "rename_column", meta, cols)


def drop_column(root: str, name: str) -> int:
    """Drop a column as a metadata-only commit: the field leaves the
    logical schema; its physical data stays in existing files, unread
    (and remains readable via time travel to pre-drop snapshots)."""
    parent, pm, meta = _evolution_base(root)
    before = len(meta["fields"])
    meta["fields"] = [f for f in meta["fields"] if f["name"] != name]
    if len(meta["fields"]) == before:
        raise KeyError(name)
    if not meta["fields"]:
        raise ValueError("cannot drop the last column")
    cols = tuple(c for c in pm.get("stats_cols", ()) if c != name)
    return _meta_commit(root, parent, pm, "drop_column", meta, cols)


def table_schema(root: str, snapshot_id: int | None = None) -> list[dict]:
    """The logical schema of a snapshot as [{id, name, type}] — the
    catalog answer to DESCRIBE at any point in history."""
    snap = current_id(root) if snapshot_id is None else snapshot_id
    m = read_manifest(root, snap)
    if m.get("fields") is not None:
        return [dict(f) for f in m["fields"]]
    raise ValueError(f"snapshot {snap} predates schema tracking")


# ---------------------------------------------------------------------------
# Manifest-wise snapshot diff (VERDICT r7 #4)
# ---------------------------------------------------------------------------

def snapshot_file_diff(root: str, s1: int, s2: int) -> dict:
    """File-wise diff of two snapshots from their manifests alone —
    O(files) driver-side set arithmetic, no data file opened. Data
    files are immutable and never reused, so a path common to both
    manifests IS byte-identical content in both snapshots; only the
    symmetric difference can change any group-aggregable measure."""
    f1 = set(read_manifest(root, s1)["files"])
    f2 = set(read_manifest(root, s2)["files"])
    return {
        "common": sorted(f1 & f2),
        "only1": sorted(f1 - f2),
        "only2": sorted(f2 - f1),
    }


def read_subset(
    spark: SparkSession, root: str, snapshot_id: int, files: list[str]
) -> DataFrame:
    """Read a subset of one snapshot's files, normalized to that
    snapshot's logical schema — the scan primitive under diff queries:
    aggregate the common files ONCE and each side's unique files, then
    combine algebraically (sum/count groups cancel on the common
    part). At 100 TB, a diff after a partial-rewrite MERGE scans the
    rewritten files, not two full snapshots."""
    m = read_manifest(root, snapshot_id)
    extra = set(files) - set(m["files"])
    if extra:
        raise ValueError(
            f"files not in snapshot {snapshot_id}: {sorted(extra)[:3]}..."
        )
    return _apply_dv(spark, root, m, _read_files, list(files))


def read_diff(
    spark: SparkSession, root: str, s1: int, s2: int
) -> DataFrame:
    """Diff read: the union of two snapshots' files, every file
    scanned exactly once, each row tagged ``__part`` in {'common',
    'only1', 'only2'}. The part tag is attached as a LITERAL column on
    each part's scan — zero per-row work (an input_file_name ->
    broadcast-join tagging variant was measured 3.4x slower at the
    100x corpus: per-row path-string materialization + a 15M-row
    string-keyed join, all to recover information the manifest already
    had at plan time). A downstream diff aggregate collapses to three
    parallel scans feeding ONE map-side-combined shuffle.

    Requires both snapshots to carry field tracking with IDENTICAL
    logical schemas (a diff compares like with like; diffing across a
    schema change is a caller decision — use read_subset per part and
    normalize explicitly). FILE-grain by design: a deletion-vector
    commit keeps the file set, so its deletes do not appear here —
    row-grain deltas across a delete need ``read`` at both
    snapshots."""
    m1, m2 = read_manifest(root, s1), read_manifest(root, s2)
    f1, f2 = m1.get("fields"), m2.get("fields")
    if f1 is None or f2 is None or f1 != f2:
        raise ValueError(
            "read_diff requires identical field-tracked schemas; "
            "use read_subset + snapshot_file_diff for the general case"
        )
    d = snapshot_file_diff(root, s1, s2)
    parts = [
        _read_files(spark, root, m, d[part]).withColumn("__part", F.lit(part))
        for part, m in (("common", m2), ("only1", m1), ("only2", m2))
    ]
    return parts[0].unionByName(parts[1]).unionByName(parts[2])


def rollback(root: str, to_snapshot: int) -> int:
    """Roll CURRENT back to an earlier snapshot as a NEW commit
    (Iceberg rollback semantics): the manifest is a copy of the
    target's file list / stats / schema under a fresh snapshot id, so
    the bad history stays readable (time travel to the rolled-back
    snapshots still works; expire_snapshots is the tool that actually
    discards them). Metadata-only — zero data files touched — which
    is what makes rollback an O(1) emergency lever on a 100 TB
    table."""
    parent = current_id(root)
    if not 1 <= to_snapshot <= parent:
        raise ValueError(
            f"cannot roll back to snapshot {to_snapshot} "
            f"(CURRENT is {parent})"
        )
    tm = read_manifest(root, to_snapshot)
    meta = None
    if tm.get("fields") is not None:
        meta = {
            "fields": tm["fields"],
            "next_field_id": tm.get(
                "next_field_id", max(f["id"] for f in tm["fields"]) + 1
            ),
            "epochs": tm.get("epochs", {}),
            "file_epoch": tm.get("file_epoch", {}),
        }
    return _commit(
        root,
        parent,
        list(tm["files"]),
        "rollback",
        tm.get("n_records", 0),
        dict(tm.get("stats", {})),
        tuple(tm.get("stats_cols", ())),
        meta,
        extra=(
            {"dv": tm["dv"], "dv_rows": tm.get("dv_rows", 0)}
            if tm.get("dv")
            else None
        ),
    )


def read_incremental(
    spark: SparkSession, root: str, since: int, until: int | None = None
) -> DataFrame:
    """Rows ADDED between two snapshots: the files of ``until``
    (default CURRENT) that ``since`` does not reference, read under
    ``until``'s schema. For append-only histories this is EXACTLY the
    appended rows — the incremental-consumption contract a downstream
    pipeline polls ("give me what landed since my last checkpoint")
    at O(new files) cost, no diff join, no full scan. Across rewrite
    commits (merge/compact) the new files contain rewritten old rows
    too, so the result is a SUPERSET of logical inserts — callers
    consuming across rewrites should key-dedupe downstream or consume
    the snapshot-delta query instead."""
    until = current_id(root) if until is None else until
    m_new = read_manifest(root, until)
    old_files = set(read_manifest(root, since)["files"])
    fresh = [f for f in m_new["files"] if f not in old_files]
    # dv-aware: ``until``'s deletion vector drops any appended rows a
    # later delete removed (delete commits add no files, so a pure
    # delete window yields an empty increment — file-grain contract)
    return _apply_dv(spark, root, m_new, _read_files, fresh)
