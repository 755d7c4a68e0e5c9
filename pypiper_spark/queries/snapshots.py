"""Snapshot-table queries: time travel and history over the minimal
manifest-pointer table format (pypiper_spark/tableformat.py — VERDICT
r6 "What's missing" #1).

Every demo table here is a ``tableformat.build`` step list, one commit
per step: built once per corpus under the system temp dir (``_root``)
and resumed after a crash. The first one:

    snapshot 1  "create"  orders projected to (o_orderkey,
                          o_orderstatus, cents)  [integer cents —
                          exact arithmetic end-to-end]
    snapshot 2  "merge"   the q_upsert_merge change set written
                          THROUGH the format: every 3rd key gets
                          +10.00, synthetic keys insert with status
                          'N' — a MERGE commit whose parent snapshot
                          stays readable (time travel)

Every query here (time travel, snapshot delta, history, manifest
pruning, lifecycle, partial merge, schema evolution, streaming
ingest) is exact-oracled the same way: DuckDB recomputes the expected
answer from the SOURCE tables with the same deterministic change set,
never looking at the table's files — so a hash match checks the
format's write+read round-trip, not just the query math.
"""

from __future__ import annotations

import functools
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pypiper_spark import tableformat as tf
from pypiper_spark.catalog import load_table
from pypiper_spark.fingerprint import corpus_key
from pypiper_spark.registry import register

# Change-set CTEs shared by both oracles: v1 = snapshot 1's rows,
# v2 = snapshot 2's rows, recomputed from orders.
_SNAP_CTES = """
  v1 AS (
    SELECT o_orderkey, o_orderstatus,
           CAST(round(o_totalprice * 100) AS BIGINT) AS cents
    FROM orders
  ), changes AS (
    SELECT o_orderkey, o_orderstatus,
           CAST(round(o_totalprice * 100) + 1000 AS BIGINT) AS cents
    FROM orders WHERE o_orderkey % 3 = 0
    UNION ALL
    SELECT o_orderkey + 2000000000, 'N', CAST(5000 AS BIGINT)
    FROM orders WHERE o_orderkey % 1000 = 0
  ), v2 AS (
    SELECT coalesce(u.o_orderkey, b.o_orderkey) AS o_orderkey,
           coalesce(u.o_orderstatus, b.o_orderstatus) AS o_orderstatus,
           coalesce(u.cents, b.cents) AS cents
    FROM v1 b FULL OUTER JOIN changes u ON b.o_orderkey = u.o_orderkey
  )
"""


def _root(sf_dir: str, label: str, table: str) -> str:
    """Where a demo table lives: ``<tempdir>/pypiper_<label>_<key>``.
    The key stat-hashes the source ``table`` (ADVICE r7), so
    regenerating it in place moves the table to a fresh root instead
    of serving stale snapshots against a fresh oracle; the label names
    the recipe, and bumping it (``pmerge_demo_v4``) does the same for
    a changed recipe."""
    key = corpus_key(sf_dir, label, tables=(table,))
    return os.path.join(tempfile.gettempdir(), f"pypiper_{label}_{key}")


def _orders_cents(
    spark: SparkSession, sf_dir: str, year: bool = False
) -> DataFrame:
    """orders as (o_orderkey, o_orderstatus[, o_year], cents): integer
    cents, exact arithmetic end to end."""
    year_col = [F.year("o_orderdate").alias("o_year")] if year else []
    return load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        *year_col,
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )


def _synthetic(
    spark: SparkSession, sf_dir: str, offset: int, status: str, cents: int
) -> DataFrame:
    """One synthetic row per 1000th order: its key shifted past every
    real key by ``offset``, a fixed status and fixed cents."""
    o = load_table(spark, sf_dir, "orders")
    return o.filter(F.col("o_orderkey") % 1000 == 0).select(
        (F.col("o_orderkey") + offset).alias("o_orderkey"),
        F.lit(status).alias("o_orderstatus"),
        F.lit(cents).cast("long").alias("cents"),
    )


def _changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q_upsert_merge change set: every 3rd key gets +10.00,
    synthetic keys insert with status 'N'."""
    updates = _orders_cents(spark, sf_dir).filter(
        F.col("o_orderkey") % 3 == 0
    ).select("o_orderkey", "o_orderstatus", (F.col("cents") + 1000).alias("cents"))
    return updates.unionByName(_synthetic(spark, sf_dir, 2000000000, "N", 5000))


def _create_and_merge(spark: SparkSession, sf_dir: str, root: str) -> list:
    """Snapshots 1-2 of the demo table, as tf.build steps."""
    return [
        lambda: tf.create(spark, root, _orders_cents(spark, sf_dir)),
        lambda: tf.merge(spark, root, _changes(spark, sf_dir), key="o_orderkey"),
    ]


def ensure_demo_table(spark: SparkSession, sf_dir: str) -> str:
    """Build (or resume building, tf.build) the two-snapshot demo
    table."""
    root = _root(sf_dir, "snap_demo", "orders")
    return tf.build(root, _create_and_merge(spark, sf_dir, root))


_HISTORY_ORACLE = """
  SELECT CAST(1 AS BIGINT) AS snapshot_id, 'create' AS operation,
         CAST((SELECT count(*) FROM orders) AS BIGINT) AS n_records
  UNION ALL
  SELECT 2, 'merge',
         (SELECT count(*) FROM orders)
           + (SELECT count(*) FROM orders WHERE o_orderkey % 1000 = 0)
"""


@register(
    "q_table_snapshot_history",
    oracle=_HISTORY_ORACLE,
    tags=("maintenance", "tableformat", "history"),
)
def table_snapshot_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The table's commit log from its manifests: snapshot id,
    operation, exact row count per snapshot — the `DESCRIBE HISTORY`
    a table format owes its users. n_records comes from the manifest
    (stamped at commit from parquet footer counts), and the oracle
    derives the expected counts from the source table: create =
    |orders|, merge = |orders| + inserted keys (updates replace rows
    1:1 in the full-outer-join MERGE, inserts add |orders|/1000 keys).

    Driver-side metadata only (two manifest files) — the table's data
    files are never opened, which is the point: history/inspection
    queries on a 100 TB table cost O(snapshots), not O(data)."""
    root = ensure_demo_table(spark, sf_dir)
    rows = [
        (int(m["snapshot_id"]), str(m["operation"]), int(m["n_records"]))
        for m in tf.snapshots(root)
    ]
    return spark.createDataFrame(
        rows, "snapshot_id bigint, operation string, n_records bigint"
    )


# ---------------------------------------------------------------------------
# q_table_manifest_pruning: file-skipping via manifest min/max stats
# ---------------------------------------------------------------------------

def ensure_pruning_table(spark: SparkSession, sf_dir: str) -> str:
    """Orders laid out the way a clustered 100 TB table is: three
    year-banded appends (pre-1994, 1994-1996, post-1996), one file
    each, with per-file min/max on o_year in every manifest. The
    year bands make file-level pruning REAL: a single-year query
    provably overlaps exactly one file."""
    root = _root(sf_dir, "prune_demo", "orders")

    def band(cond: str) -> DataFrame:
        return _orders_cents(spark, sf_dir, year=True).filter(cond).coalesce(1)

    return tf.build(root, [
        lambda: tf.create(
            spark, root, band("o_year < 1994"), stats_cols=("o_year",)
        ),
        lambda: tf.append(spark, root, band("o_year >= 1994 AND o_year <= 1996")),
        lambda: tf.append(spark, root, band("o_year > 1996")),
    ])


_PRUNING_ORACLE = """
  SELECT o_orderstatus,
         count(*) AS n_orders,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS total_cents
  FROM orders
  WHERE year(o_orderdate) = 1995
  GROUP BY o_orderstatus
"""


@register(
    "q_table_manifest_pruning",
    oracle=_PRUNING_ORACLE,
    tags=("maintenance", "tableformat", "pruning", "scan"),
)
def table_manifest_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest file-skipping: a single-year aggregate over the
    year-banded snapshot table reads ONLY the file whose [min, max]
    o_year band overlaps 1995 — the manifest answers "which files"
    before any file is opened (Iceberg's win over directory listing +
    footer reads; at 100 TB with thousands of files per snapshot,
    this is the difference between a driver-side dict lookup and a
    metadata storm). The row-level filter still applies after the
    file cut (pruning is a superset guarantee, not a filter); the
    pruned-file-count assertion lives in tests/test_tableformat_queries
    — this query's hash only proves the answers are right.

    The oracle computes the same aggregate from the source table —
    a hash match proves band-split write + stats capture + pruned
    read compose to exactly the full-scan semantics."""
    root = ensure_pruning_table(spark, sf_dir)
    return (
        tf.read(spark, root, prune=("o_year", 1995, 1995))
        .filter(F.col("o_year") == 1995)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").alias("total_cents"),
        )
    )


_INGEST_ORACLE = """
  SELECT event_type,
         count(*) AS n_events,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events
  GROUP BY event_type
"""


@register(
    "q_stream_table_ingest",
    oracle=_INGEST_ORACLE,
    tags=("streaming", "tableformat", "exactly-once", "real-stream"),
)
def stream_table_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest through the table format, run FOR REAL (the
    eighth real-stream registration): four availableNow micro-batches
    append into a snapshot table inside foreachBatch, exactly-once
    via the batch-id/snapshot-id alignment (a replayed batch finds
    its snapshot already committed and no-ops — the idempotent-sink
    contract carried by the commit protocol itself, not a hand-rolled
    version directory). The final per-type aggregate over the TABLE
    equals the one-shot batch aggregate over the source regardless of
    batch slicing — which is what the exact oracle states. Runner:
    streaming/twins.run_table_ingest_stream."""
    from pypiper_spark.streaming.twins import run_table_ingest_stream

    return run_table_ingest_stream(spark, sf_dir)


# ---------------------------------------------------------------------------
# q_table_lifecycle: the composed ACID flagship — every lifecycle
# operation in sequence, answers still exact
# ---------------------------------------------------------------------------

def ensure_lifecycle_table(spark: SparkSession, sf_dir: str) -> str:
    """create (pre-1996 orders) -> append (1996+ orders) -> merge (the
    q_upsert_merge change set) -> compact (file consolidation) ->
    expire (keep the last 2 snapshots). Five commits, four operation
    kinds, ending in a bounded-history compacted table whose CURRENT
    rows must still equal the plain-SQL merge recompute."""
    root = _root(sf_dir, "lifecycle_demo", "orders")

    def half(cond: str) -> DataFrame:
        return _orders_cents(spark, sf_dir, year=True).filter(cond).coalesce(2)

    def compact_and_expire() -> None:
        tf.compact(spark, root, target_files=2)
        tf.expire_snapshots(root, keep_last=2)

    return tf.build(root, [
        lambda: tf.create(spark, root, half("o_year < 1996")),
        lambda: tf.append(spark, root, half("o_year >= 1996")),
        lambda: tf.merge(spark, root, _changes(spark, sf_dir), key="o_orderkey"),
        compact_and_expire,
    ])


_LIFECYCLE_ORACLE = f"""
  WITH {_SNAP_CTES}
  SELECT o_orderstatus,
         count(*) AS n_rows,
         CAST(sum(cents) AS BIGINT) AS total_cents
  FROM v2 GROUP BY o_orderstatus
"""


@register(
    "q_table_lifecycle",
    oracle=_LIFECYCLE_ORACLE,
    tags=("maintenance", "tableformat", "flagship", "compaction"),
)
def table_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed ACID flagship: create -> append -> merge ->
    compact -> expire_snapshots(keep 2), then aggregate CURRENT. The
    oracle recomputes only the MERGE semantics from the source table
    (the change-set CTEs shared with q_table_time_travel) — so a hash
    match proves the append composed with create, the merge picked up
    both, compaction rewrote files without touching a row, and
    expiration deleted history without touching the live snapshot.
    Every lifecycle operation a production incremental table performs,
    behind one exact gate.

    Scale shape: each commit is the already-audited shape (appends:
    pass-through writes; merge: one shuffle per side; compact: one
    coalesce write with a footer row-count guard; expire: driver-side
    manifest arithmetic). The final read scans the 2 compacted files
    only."""
    root = ensure_lifecycle_table(spark, sf_dir)
    return (
        tf.read(spark, root)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("cents").alias("total_cents"),
        )
    )


# ---------------------------------------------------------------------------
# q_table_merge_partial: stats-driven partial-rewrite MERGE
# ---------------------------------------------------------------------------

# Row groups are the parquet scan-split unit: with one coalesced file
# per band (the shape the carry tests pin), default ~128 MB groups
# leave a 100x-corpus band scan at 1-2 tasks on 32 cores. 8 MB groups
# restore read parallelism without changing file identity semantics.
_PM_WRITE_OPTS = {"parquet.block.size": 8 * 1024 * 1024}


_PM_INSERTS = 50


def ensure_partial_merge_table(spark: SparkSession, sf_dir: str) -> str:
    """Orders keyed into three o_orderkey tertile bands, each band
    range-split into 4 key-disjoint files (repartitionByRange — the
    clustered layout a 100 TB table actually has; 12 files total,
    stats on o_orderkey), then a change set LOCALIZED to the lower
    half of band 2 (+10.00) plus _PM_INSERTS synthetic inserts beyond
    the max key, applied via tableformat.merge_partial. All of bands
    1 and 3 plus band 2's upper-half files must carry unrewritten
    (>= 9 of 12, pinned in tests) — rewrite granularity is now ~1/6
    of the table, so the partial-rewrite and snapshot-delta claims
    are exercised at a realistic locality. The ROWS equal a full
    merge, which is what the oracle checks."""
    root = _root(sf_dir, "pmerge_demo_v4", "orders")

    @functools.cache
    def orders() -> tuple[DataFrame, int, int, int]:
        """orders, its max key and the two tertile cuts; the max is a
        1-row bounded job, run once per build."""
        o = _orders_cents(spark, sf_dir)
        mx = int(o.agg(F.max("o_orderkey")).first()[0])
        return o, mx, mx // 3, 2 * (mx // 3)

    def band(i: int) -> DataFrame:
        """Key tertile i, range-split into 4 key-disjoint files."""
        o, _, k1, k2 = orders()
        key = F.col("o_orderkey")
        cond = [key < k1, (key >= k1) & (key < k2), key >= k2][i]
        return o.filter(cond).repartitionByRange(4, "o_orderkey")

    def merge() -> None:
        o, mx, k1, k2 = orders()
        lo, hi = k1, k1 + (k2 - k1) // 2
        updates = o.filter(
            (F.col("o_orderkey") >= lo) & (F.col("o_orderkey") < hi)
        ).select(
            "o_orderkey", "o_orderstatus", (F.col("cents") + 1000).alias("cents")
        )
        inserts = spark.range(1, _PM_INSERTS + 1).select(
            (F.col("id") + mx).alias("o_orderkey"),
            F.lit("N").alias("o_orderstatus"),
            F.lit(5000).cast("long").alias("cents"),
        )
        tf.merge_partial(
            spark, root, updates.unionByName(inserts), key="o_orderkey",
            options=_PM_WRITE_OPTS, target_files=4,
        )

    return tf.build(root, [
        lambda: tf.create(
            spark, root, band(0),
            stats_cols=("o_orderkey",), options=_PM_WRITE_OPTS,
        ),
        lambda: tf.append(spark, root, band(1), options=_PM_WRITE_OPTS),
        lambda: tf.append(spark, root, band(2), options=_PM_WRITE_OPTS),
        merge,
    ])


# pmerge change-set CTEs shared by the partial-merge and time-travel
# oracles: base = snapshot 3's rows, v2 = snapshot 4's rows, both
# recomputed from the source table.
_PM_CTES = f"""
  mx AS (SELECT max(o_orderkey) AS m FROM orders),
  base AS (
    SELECT o_orderkey, o_orderstatus,
           CAST(round(o_totalprice * 100) AS BIGINT) AS cents
    FROM orders
  ), chg AS (
    SELECT b.o_orderkey, b.o_orderstatus, b.cents + 1000 AS cents
    FROM base b, mx
    WHERE b.o_orderkey >= mx.m // 3
      AND b.o_orderkey < mx.m // 3 + (2 * (mx.m // 3) - mx.m // 3) // 2
    UNION ALL
    SELECT mx.m + unnest(range(1, {_PM_INSERTS} + 1)), 'N', CAST(5000 AS BIGINT)
    FROM mx
  ), v2 AS (
    SELECT coalesce(u.o_orderkey, b.o_orderkey) AS o_orderkey,
           coalesce(u.o_orderstatus, b.o_orderstatus) AS o_orderstatus,
           coalesce(u.cents, b.cents) AS cents
    FROM base b FULL OUTER JOIN chg u ON b.o_orderkey = u.o_orderkey
  )
"""

_PMERGE_ORACLE = f"""
  WITH {_PM_CTES}
  SELECT o_orderstatus,
         count(*) AS n_rows,
         CAST(sum(cents) AS BIGINT) AS total_cents
  FROM v2 GROUP BY o_orderstatus
"""


@register(
    "q_table_merge_partial",
    oracle=_PMERGE_ORACLE,
    tags=("maintenance", "tableformat", "merge", "partial-rewrite"),
)
def table_merge_partial(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-rewrite MERGE through the table format: the change set
    is key-localized, so the per-file min/max stats in the parent
    manifest select exactly ONE of the three band files for rewrite —
    bands 1 and 3 carry into the new snapshot unrewritten (file
    identity pinned in tests/test_tableformat.py). At 100 TB this is
    THE merge cost model: a 0.1% daily change set rewrites 0.1% of
    the files, not the table. The oracle recomputes the full-merge
    semantics from the source — a hash match proves the partial
    rewrite produced exactly the rows a full rewrite would."""
    root = ensure_partial_merge_table(spark, sf_dir)
    return (
        tf.read(spark, root)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("cents").alias("total_cents"),
        )
    )


# ---------------------------------------------------------------------------
# q_table_time_travel: manifest-diff time travel (scans changed files only)
# ---------------------------------------------------------------------------

_TIME_TRAVEL_ORACLE = f"""
  WITH {_PM_CTES},
  g1 AS (
    SELECT o_orderstatus, count(*) AS n, sum(cents) AS c FROM base GROUP BY 1
  ), g2 AS (
    SELECT o_orderstatus, count(*) AS n, sum(cents) AS c FROM v2 GROUP BY 1
  )
  SELECT coalesce(g2.o_orderstatus, g1.o_orderstatus) AS o_orderstatus,
         CAST(coalesce(g1.n, 0) AS BIGINT) AS n_rows_v1,
         CAST(coalesce(g2.n, 0) AS BIGINT) AS n_rows_v2,
         CAST(coalesce(g2.c, 0) - coalesce(g1.c, 0) AS BIGINT) AS delta_cents
  FROM g1 FULL OUTER JOIN g2 ON g1.o_orderstatus = g2.o_orderstatus
"""


@register(
    "q_table_time_travel",
    oracle=_TIME_TRAVEL_ORACLE,
    tags=("maintenance", "tableformat", "time-travel", "diff"),
)
def table_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel over the manifest table format, manifest-diff
    style (VERDICT r7 #4): diff the pre-MERGE snapshot (3) against the
    post-MERGE snapshot (4) of the partial-merge table per order
    status — the audit a pipeline runs after every incremental commit
    ("what did that MERGE actually change?").

    The r7 implementation read BOTH snapshots fully (12x the twin at
    the 100x corpus). Data files are immutable, so the manifests
    answer file-wise which content the snapshots share:
    tableformat.read_diff scans the UNION of both file lists exactly
    once, tags each scan's rows common / only1 / only2 with a literal
    __part column attached per file-group scan (a join against a file
    dimension was measured 3.4x slower and is rejected in read_diff's
    docstring; test_time_travel_scans_each_diff_part_once pins the
    join-free plan), and the per-status rollups fall out of ONE
    scan + ONE shuffle with conditional aggregates (v1 = common +
    only1, v2 = common + only2 — sums and counts are abelian-group
    measures, the common part cancels out of the delta entirely).
    After merge_partial carried bands 1 and 3 unrewritten, the diff
    scans each table byte exactly once instead of twice; after a 0.1%
    partial MERGE on a 100 TB table it scans the rewritten 0.1%
    twice-ish and everything else once — the manifest-stats machinery
    doing for time travel what it already did for MERGE. The
    carried-file skip is pinned in tests/test_tableformat.py.

    The oracle recomputes both snapshots from the source table without
    reading the format's files, so a hash match proves the commit
    protocol's write+read round-trip AND the diff algebra."""
    root = ensure_partial_merge_table(spark, sf_dir)
    u = tf.read_diff(spark, root, 3, 4)
    zero = F.lit(0).cast("long")
    one = F.lit(1).cast("long")
    return u.groupBy("o_orderstatus").agg(
        F.sum(F.when(F.col("__part") != "only2", one).otherwise(zero))
        .cast("long")
        .alias("n_rows_v1"),
        F.sum(F.when(F.col("__part") != "only1", one).otherwise(zero))
        .cast("long")
        .alias("n_rows_v2"),
        (
            F.sum(F.when(F.col("__part") == "only2", F.col("cents")).otherwise(zero))
            - F.sum(
                F.when(F.col("__part") == "only1", F.col("cents")).otherwise(zero)
            )
        )
        .cast("long")
        .alias("delta_cents"),
    )


# ---------------------------------------------------------------------------
# q_table_schema_evolution: add/rename/drop column, exact-oracled
# ---------------------------------------------------------------------------

def ensure_evolution_table(spark: SparkSession, sf_dir: str) -> str:
    """Five commits across three schema epochs:

      1 create   (o_orderkey, o_orderstatus, cents)  pre-1996 orders
      2 add_column  year_bucket bigint   [metadata-only]
      3 rename_column  cents -> price_cents  [metadata-only]
      4 append   1996+ orders WITH year_bucket, under the new names
      5 drop_column  o_orderstatus  [metadata-only]

    CURRENT therefore reads (o_orderkey, year_bucket, price_cents)
    where snapshot-1 files fill year_bucket with NULL and serve
    price_cents from their physical 'cents' column — while time
    travel to snapshot 1 still returns the ORIGINAL three columns."""
    root = _root(sf_dir, "schema_evo_demo", "orders")

    def orders(cond: str) -> DataFrame:
        return _orders_cents(spark, sf_dir, year=True).filter(cond)

    return tf.build(root, [
        lambda: tf.create(
            spark, root, orders("o_year < 1996").drop("o_year").coalesce(2)
        ),
        lambda: tf.add_column(root, "year_bucket", "bigint"),
        lambda: tf.rename_column(root, "cents", "price_cents"),
        lambda: tf.append(
            spark,
            root,
            orders("o_year >= 1996")
            .select(
                "o_orderkey",
                "o_orderstatus",
                F.col("o_year").cast("bigint").alias("year_bucket"),
                F.col("cents").alias("price_cents"),
            )
            .coalesce(2),
        ),
        lambda: tf.drop_column(root, "o_orderstatus"),
    ])


_EVOLUTION_ORACLE = """
  WITH rows_now AS (
    SELECT o_orderkey,
           CASE WHEN year(o_orderdate) >= 1996
                THEN CAST(year(o_orderdate) AS BIGINT) END AS year_bucket,
           CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
    FROM orders
  )
  SELECT coalesce(CAST(year_bucket AS VARCHAR), 'pre-evolution') AS bucket,
         count(*) AS n_rows,
         CAST(sum(price_cents) AS BIGINT) AS total_cents,
         bit_xor(o_orderkey) AS key_xor
  FROM rows_now GROUP BY 1
"""


@register(
    "q_table_schema_evolution",
    oracle=_EVOLUTION_ORACLE,
    tags=("maintenance", "tableformat", "schema-evolution"),
)
def table_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution through the table format (VERDICT r7 #5):
    aggregate CURRENT of a table that lived through add_column,
    rename_column, a cross-epoch append, and drop_column — per
    year_bucket with NULL (= the pre-evolution files) as its own
    group, with an order-independent key checksum.

    What the hash match proves, field by field: year_bucket is NULL
    exactly for rows whose files predate the add (NULL-fill through
    the field id), price_cents serves the RENAMED column's original
    physical data for epoch-1 files and the new physical column for
    epoch-2 files (no NULL hole — the id resolution), the dropped
    o_orderstatus is absent from CURRENT (the schema came from the
    manifest, not mergeSchema), and both epochs' rows land in one
    frame under one logical schema. Every evolution commit was
    metadata-only: file counts before/after each are pinned in
    tests/test_tableformat.py.

    Scale shape: one manifest-scoped scan per schema epoch (two
    here), pass-through projections, map-side partial agg on a
    bounded key. A rename/add on a million-file table costs one
    manifest write — the Iceberg cost model, which is the point."""
    root = ensure_evolution_table(spark, sf_dir)
    return (
        tf.read(spark, root)
        .groupBy(
            F.coalesce(F.col("year_bucket").cast("string"), F.lit("pre-evolution"))
            .alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("price_cents").cast("long").alias("total_cents"),
            F.expr("bit_xor(o_orderkey)").alias("key_xor"),
        )
    )


# ---------------------------------------------------------------------------
# q_table_snapshot_delta: carried files never scanned (the manifest win)
# ---------------------------------------------------------------------------

_SNAPSHOT_DELTA_ORACLE = f"""
  WITH {_PM_CTES},
  g1 AS (
    SELECT o_orderstatus, count(*) AS n, sum(cents) AS c FROM base GROUP BY 1
  ), g2 AS (
    SELECT o_orderstatus, count(*) AS n, sum(cents) AS c FROM v2 GROUP BY 1
  )
  SELECT coalesce(g2.o_orderstatus, g1.o_orderstatus) AS o_orderstatus,
         CAST(coalesce(g2.n, 0) - coalesce(g1.n, 0) AS BIGINT) AS delta_rows,
         CAST(coalesce(g2.c, 0) - coalesce(g1.c, 0) AS BIGINT) AS delta_cents
  FROM g1 FULL OUTER JOIN g2 ON g1.o_orderstatus = g2.o_orderstatus
  WHERE coalesce(g2.n, 0) <> coalesce(g1.n, 0)
     OR coalesce(g2.c, 0) <> coalesce(g1.c, 0)
"""


@register(
    "q_table_snapshot_delta",
    oracle=_SNAPSHOT_DELTA_ORACLE,
    tags=("maintenance", "tableformat", "diff", "time-travel"),
)
def table_snapshot_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NET change between two snapshots per order status — delta rows
    and delta cents — computed WITHOUT scanning any carried file.
    This is the manifest-aware diff payoff in its pure form (VERDICT
    r7 #4): files common to both snapshots are byte-identical
    (immutability), so they contribute zero to any net-delta measure;
    read_diff's per-part literal tag lets Catalyst fold the
    ``__part != 'common'`` filter to FALSE inside the common branch
    and prune that entire scan AT PLAN TIME (pinned via the plan test
    in tests/test_tableformat.py). After a 0.1% partial MERGE on a
    100 TB table this audit reads the 0.1% — while the oracle (and
    any engine without manifests) must recompute BOTH snapshots in
    full. Output is restricted to statuses with a nonzero delta on
    both sides, which makes the filtered-scan result exactly equal to
    the full recompute.

    Sign convention: rows in v1-only files count negative, v2-only
    positive; per-status sums telescope to (v2 - v1) because the
    carried mass cancels identically."""
    root = ensure_partial_merge_table(spark, sf_dir)
    u = tf.read_diff(spark, root, 3, 4).filter(F.col("__part") != "common")
    sign = F.when(F.col("__part") == "only2", F.lit(1)).otherwise(F.lit(-1))
    return (
        u.groupBy("o_orderstatus")
        .agg(
            F.sum(sign).cast("long").alias("delta_rows"),
            F.sum(sign * F.col("cents")).cast("long").alias("delta_cents"),
        )
        .filter((F.col("delta_rows") != 0) | (F.col("delta_cents") != 0))
    )


# ---------------------------------------------------------------------------
# q_table_incremental_read: consume only what landed since a checkpoint
# ---------------------------------------------------------------------------

_INCREMENTAL_ORACLE = """
  SELECT o_orderstatus,
         count(*) AS n_new,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS new_cents
  FROM orders
  WHERE year(o_orderdate) > 1996
  GROUP BY o_orderstatus
"""


@register(
    "q_table_incremental_read",
    oracle=_INCREMENTAL_ORACLE,
    tags=("maintenance", "tableformat", "incremental", "cdc"),
)
def table_incremental_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental consumption through the table format: a downstream
    pipeline that checkpointed at snapshot 2 of the year-banded table
    polls "what landed since?" — tableformat.read_incremental hands it
    EXACTLY the files snapshot 3 added (manifest set difference,
    O(new files), no diff join, no scan of the 2/3 of the table it
    already consumed). On an append-only history this is exact
    incremental semantics — the contract every warehouse-to-training
    ingest loop runs on; at 100 TB with daily appends the consumer
    reads the day, not the decade. The oracle recomputes the appended
    band (post-1996 orders) from the source, so a hash match proves
    the manifest diff selected precisely the appended rows."""
    root = ensure_pruning_table(spark, sf_dir)
    return (
        tf.read_incremental(spark, root, since=2, until=3)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_new"),
            F.sum("cents").alias("new_cents"),
        )
    )


# ---------------------------------------------------------------------------
# q_table_rollback: O(1) revert of a bad commit, history preserved
# ---------------------------------------------------------------------------

def ensure_rollback_table(spark: SparkSession, sf_dir: str) -> str:
    """create (v1 cents) -> merge (the q_upsert_merge change set —
    playing the 'bad deploy' commit) -> rollback to snapshot 1.
    CURRENT must read exactly v1 again while snapshot 2 stays
    time-travel-readable."""
    root = _root(sf_dir, "rollback_demo", "orders")
    return tf.build(root, [
        *_create_and_merge(spark, sf_dir, root),
        lambda: tf.rollback(root, to_snapshot=1),
    ])


_ROLLBACK_ORACLE = """
  SELECT o_orderstatus,
         count(*) AS n_rows,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS total_cents,
         bit_xor(o_orderkey) AS key_xor
  FROM orders
  GROUP BY o_orderstatus
"""


@register(
    "q_table_rollback",
    oracle=_ROLLBACK_ORACLE,
    tags=("maintenance", "tableformat", "rollback", "time-travel"),
)
def table_rollback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot rollback: a bad MERGE landed (every 3rd key bumped,
    synthetic inserts), the operator rolls CURRENT back to snapshot 1
    as a NEW metadata-only commit (tableformat.rollback — Iceberg
    semantics: zero data files touched, the bad snapshot stays
    readable for forensics until expired). The aggregate over CURRENT
    must equal the PRE-merge state recomputed from the source — the
    bit_xor key checksum catches any leftover inserted key, the cents
    sum any leftover update. Rollback being O(manifest) is the point:
    on a 100 TB table the emergency lever costs one JSON write, not a
    restore job."""
    root = ensure_rollback_table(spark, sf_dir)
    return (
        tf.read(spark, root)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("cents").alias("total_cents"),
            F.expr("bit_xor(o_orderkey)").alias("key_xor"),
        )
    )


# ---------------------------------------------------------------------------
# q_pipeline_table_shard (r11, VERDICT r10 #7): the seventh composed
# flagship — a training-data build that flows THROUGH the table format
# between stages, so the hash gate proves snapshot isolation, schema
# evolution and time travel compose with the LLM stack (each stage
# reads its input from the previous stage's COMMITTED snapshot, the
# way a real multi-job pipeline hands off state):
#
#   snapshot 1  create      INGEST: Gopher-gated documents
#                           (llm_prep.gopher_passed — the audited
#                           q_quality_gopher construction)
#   snapshot 2  overwrite   DEDUP: exact content dedup computed FROM
#                           tf.read(snap 1) (q_dedup_exact's
#                           min-struct survivor over md5(text))
#   snapshot 3  add_column  SPLIT: metadata-only schema evolution
#   snapshot 4  add_column  SHARD: ditto
#   snapshot 5  overwrite   content-hash leakage-safe split
#                           (q_split_leakage_safe's md5-bucket rule on
#                           the survivor text) + fixed-size shard
#                           assignment, computed FROM tf.read(snap 2)
#
# The registered query reads snapshots 1, 2 and 5 via time travel and
# rolls each stage up; DuckDB recomputes every stage from `documents`
# alone — a mismatch anywhere in the format's write/read round-trip,
# the gate, the dedup key space or the split/shard windows flips the
# hash. Scale shape: every stage is one map-only projection or one
# hash-group shuffle; the shard window shuffles on split (3 keys) with
# a per-split row_number — at 100 TB that key grain is the one
# deliberate serialization point (real shard writers do exactly this
# per output split), and the format's manifests keep each snapshot an
# O(files) metadata object.
# ---------------------------------------------------------------------------
_PIPE_SHARD_DOCS = 8


def ensure_pipeline_table(spark: SparkSession, sf_dir: str) -> str:
    """Build (or resume building) the five-snapshot pipeline table.
    Idempotent and crash-tolerant through tf.build: residue from an
    interrupted build is gc'd and only the missing commits replay."""
    from pyspark.sql.window import Window

    from pypiper_spark.queries.dedup import _HEX
    from pypiper_spark.queries.llm_prep import gopher_passed

    root = _root(sf_dir, "pipeline_demo_v1", "documents")

    def ingest() -> None:
        d = load_table(spark, sf_dir, "documents")
        tf.create(
            spark,
            root,
            gopher_passed(d).select("doc_id", "lang", "source", "n_tok", "text"),
        )

    def dedup() -> None:
        s1 = tf.read(spark, root, 1)
        surv = (
            s1.groupBy(F.md5(F.col("text").cast("binary")).alias("k"))
            .agg(
                F.min(
                    F.struct("doc_id", "lang", "source", "n_tok", "text")
                ).alias("s")
            )
            .select("s.*")
        )
        tf.overwrite(spark, root, surv)

    def split_and_shard() -> None:
        s2 = tf.read(spark, root, 2)
        md = "md5(cast(text as binary))"
        bucket = (
            (F.expr(f"instr('{_HEX}', substring({md}, 1, 1))") - 1) * 16
            + F.expr(f"instr('{_HEX}', substring({md}, 2, 1))")
            - 1
        )
        w = Window.partitionBy("split").orderBy("doc_id")
        final = (
            s2.select(
                "doc_id",
                "lang",
                "source",
                "n_tok",
                "text",
                F.when(bucket < 13, "val")
                .when(bucket < 26, "test")
                .otherwise("train")
                .alias("split"),
            )
            .withColumn(
                "shard",
                ((F.row_number().over(w) - 1) / F.lit(_PIPE_SHARD_DOCS))
                .cast("long"),
            )
        )
        tf.overwrite(spark, root, final)

    return tf.build(root, [
        ingest,
        dedup,
        lambda: tf.add_column(root, "split", "string"),
        lambda: tf.add_column(root, "shard", "bigint"),
        split_and_shard,
    ])


def _pipeline_table_oracle() -> str:
    from pypiper_spark.queries.llm_prep import _SW_SQL

    return f"""
  WITH t AS (
    SELECT doc_id, lang, source, n_chars, text,
           string_split(text, ' ') AS toks
    FROM documents
  ), m AS (
    SELECT doc_id, lang, source, n_chars, text,
           len(toks) AS n_tok,
           len(list_distinct(toks)) AS n_dis,
           len(list_filter(list_distinct(toks),
                           w -> w IN ({_SW_SQL}))) AS n_stopw,
           list_max(list_transform(list_distinct(toks),
                    d -> len(list_filter(toks, x -> x = d)))) AS max_cnt
    FROM t
  ), pass AS (
    SELECT doc_id, text, n_tok
    FROM m
    WHERE NOT (n_tok < 20 OR n_tok > 90)
      AND NOT (5 * n_tok > n_chars OR n_chars > 6 * n_tok)
      AND n_stopw >= 2
      AND 10 * n_dis >= 4 * n_tok
      AND 8 * max_cnt <= n_tok
  ), surv AS (
    SELECT doc_id, text, n_tok FROM (
      SELECT *, row_number() OVER (PARTITION BY md5(text)
                                   ORDER BY doc_id) AS rn
      FROM pass
    ) WHERE rn = 1
  ), finals AS (
    SELECT doc_id, n_tok,
           CASE WHEN b < 13 THEN 'val'
                WHEN b < 26 THEN 'test'
                ELSE 'train' END AS split
    FROM (
      SELECT *,
             (strpos('0123456789abcdef', substr(md5(text), 1, 1)) - 1) * 16
             + strpos('0123456789abcdef', substr(md5(text), 2, 1)) - 1 AS b
      FROM surv)
  ), sharded AS (
    SELECT split, n_tok,
           CAST((row_number() OVER (PARTITION BY split ORDER BY doc_id) - 1)
                // {_PIPE_SHARD_DOCS} AS BIGINT) AS shard
    FROM finals
  )
  SELECT 'ingest' AS stage, 'all' AS split, count(*) AS n_docs,
         CAST(sum(n_tok) AS BIGINT) AS total_tokens,
         CAST(0 AS BIGINT) AS n_shards
  FROM pass
  UNION ALL
  SELECT 'dedup', 'all', count(*), CAST(sum(n_tok) AS BIGINT),
         CAST(0 AS BIGINT)
  FROM surv
  UNION ALL
  SELECT 'final', split, count(*), CAST(sum(n_tok) AS BIGINT),
         CAST(max(shard) + 1 AS BIGINT)
  FROM sharded GROUP BY split
"""


@register(
    "q_pipeline_table_shard",
    oracle=_pipeline_table_oracle(),
    tags=("pipeline", "llm", "tableformat", "dedup", "split", "shard"),
)
def pipeline_table_shard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stage rollup of the snapshot pipeline, every stage read
    back THROUGH the format (time travel to snapshots 1 and 2, CURRENT
    for the sharded output): (stage, split, n_docs, total_tokens,
    n_shards). See the section comment for the five-commit build and
    what the hash gate proves."""
    root = ensure_pipeline_table(spark, sf_dir)
    ingest = tf.read(spark, root, 1)
    dedup = tf.read(spark, root, 2)
    final = tf.read(spark, root, 5)
    r1 = ingest.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("total_tokens"),
    ).select(
        F.lit("ingest").alias("stage"),
        F.lit("all").alias("split"),
        "n_docs",
        "total_tokens",
        F.lit(0).cast("long").alias("n_shards"),
    )
    r2 = dedup.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("total_tokens"),
    ).select(
        F.lit("dedup").alias("stage"),
        F.lit("all").alias("split"),
        "n_docs",
        "total_tokens",
        F.lit(0).cast("long").alias("n_shards"),
    )
    r3 = final.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("total_tokens"),
        (F.max("shard") + 1).alias("n_shards"),
    ).select(
        F.lit("final").alias("stage"),
        "split",
        "n_docs",
        "total_tokens",
        "n_shards",
    )
    return r1.unionByName(r2).unionByName(r3)


# ---------------------------------------------------------------------------
# q_pipeline_stream_corpus: the STREAMING corpus pipeline (r12 flagship
# — VERDICT r11 next #4). Composes the three families table_shard left
# batch-only: continuous ingest (readStream + foreachBatch, the
# q_stream_table_ingest exactly-once batch-id/snapshot-id alignment),
# per-batch INCREMENTAL dedup (the q_dedup_incremental new-vs-corpus
# construction, with the corpus side read back THROUGH the committed
# table), and one table-format snapshot commit per micro-batch.
#
# Semantics (deterministic, so DuckDB can recompute the whole run from
# `documents` alone): the corpus arrives as 4 micro-batches sliced by
# an md5(doc_id) hex bucket (doc_id % 4 would slice ALONG the
# generator's near-dup families — every 0.9-Jaccard pair in this
# corpus sits at a doc_id stride that is a multiple of 20, so any
# modulus dividing 20 keeps whole families in one batch and the 'near'
# class never fires; the content-independent hash slice is also the
# realistic arrival model), processed in batch order. Every document
# is classified
# against ALL documents of EARLIER batches — the committed table state
# at that point, regardless of their status (the seen-set model: a doc
# dropped as a dup still represents its content, the way a production
# content-key store retains every ingested signature):
#   'exact'  — an earlier doc has the same md5 content key;
#   'near'   — an earlier doc in the same (lang, source) block has
#              distinct-token Jaccard >= 0.9 (integer-cross-multiplied,
#              10*common >= 9*union — the q_dedup_incremental bar);
#   'unique' — neither.
# The table stores every row WITH its classification and its dedup
# signatures (h, th, nw) as columns: later batches' exact/near joins
# read ONLY the signature columns through the format's pruned scan —
# text is never re-read for dedup, which is the 100 TB design (state =
# signatures in the table, not a re-tokenization of the corpus).
#
# At scale: per-batch work is batch x overlap (content-key probe join +
# token-posting co-occurrence join against the table), never
# corpus x corpus; commits are append-only (no rewrite); exactly-once
# comes from the format's commit protocol (a replayed batch finds
# current_id > batch_id and no-ops). Crash between data-file write and
# pointer swap leaves an uncommitted manifest; the next delivery of the
# SAME batch id gc's the residue and recommits —
# tests/test_streaming_recovery.py::test_stream_corpus_crash_between_write_and_swap_recovers
# kills a commit mid-protocol and proves the restarted stream converges
# to the identical table.
# ---------------------------------------------------------------------------

_SPIPE_BATCHES = 4


def _spipe_batch_col():
    """Deterministic micro-batch id of a document: first hex digit of
    md5(doc_id-as-string), mod 4. Content-independent (identical texts
    may land in different batches, so the 'exact' class is reachable)
    and alignment-free (see the section comment on why doc_id % 4
    starves the 'near' class on this corpus). DuckDB twin:
    (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)),1,1))-1) % 4."""
    from pypiper_spark.queries.dedup import _HEX

    md = "md5(cast(cast(doc_id as string) as binary))"
    return (
        (F.expr(f"instr('{_HEX}', substring({md}, 1, 1))") - 1)
        % _SPIPE_BATCHES
    ).cast("long")


def _spipe_enrich(df: DataFrame) -> DataFrame:
    """Batch rows -> rows + dedup signatures: content key h (md5),
    distinct-token xxhash64 set th, its size nw, and raw token count
    n_tok. Computed ONCE at ingest; stored in the table so no later
    batch re-tokenizes committed text."""
    toks = F.array_distinct(
        F.transform(F.split("text", " "), lambda x: F.xxhash64(F.lit(0), x))
    )
    return df.select(
        "doc_id",
        "lang",
        "source",
        "text",
        F.md5(F.col("text").cast("binary")).alias("h"),
        toks.alias("th"),
        F.size(toks).cast("long").alias("nw"),
        F.size(F.split("text", " ")).cast("long").alias("n_tok"),
    )


_SPIPE_COLS = [
    "doc_id", "lang", "source", "text", "h", "th", "nw", "n_tok",
    "batch", "n_exact", "n_near", "status",
]


def _spipe_classify(b: DataFrame, corpus: DataFrame | None) -> DataFrame:
    """Classify an enriched batch against the committed corpus state
    (None for batch 0 = empty corpus). Pure function of its inputs —
    unit-tested directly (plan pruning + tiny hand oracle) in
    tests/test_streaming_recovery.py."""
    batch_col = _spipe_batch_col()
    if corpus is None:
        return b.select(
            "doc_id", "lang", "source", "text", "h", "th", "nw", "n_tok",
            batch_col.alias("batch"),
            F.lit(0).cast("long").alias("n_exact"),
            F.lit(0).cast("long").alias("n_near"),
            F.lit("unique").alias("status"),
        ).select(*_SPIPE_COLS)
    # signature columns ONLY — the select prunes the table scan; text
    # and th of committed rows are read for the posting join alone
    corp = corpus.select(
        F.col("doc_id").alias("cid"),
        F.col("lang").alias("clang"),
        F.col("source").alias("csource"),
        F.col("h").alias("ch"),
        F.col("th").alias("cth"),
        F.col("nw").alias("cnw"),
    )
    ex = (
        b.select("doc_id", "h")
        .join(corp.select("cid", "ch"), F.col("h") == F.col("ch"), "left")
        .groupBy("doc_id")
        .agg(F.count("cid").alias("n_exact"))
    )
    bt = b.select("doc_id", "lang", "source", "nw", F.explode("th").alias("t"))
    ct = corp.select(
        "cid",
        F.col("clang").alias("lang"),
        F.col("csource").alias("source"),
        "cnw",
        F.explode("cth").alias("t"),
    )
    pairs = (
        bt.join(ct, ["lang", "source", "t"])
        .groupBy("doc_id", "cid")
        .agg(
            F.max("nw").alias("nwn"),
            F.max("cnw").alias("nwc"),
            F.count(F.lit(1)).alias("common"),
        )
    )
    near = (
        pairs.filter(
            F.lit(10) * F.col("common")
            >= F.lit(9) * (F.col("nwn") + F.col("nwc") - F.col("common"))
        )
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_near"))
    )
    return (
        b.join(ex, "doc_id")
        .join(near, "doc_id", "left")
        .select(
            "doc_id", "lang", "source", "text", "h", "th", "nw", "n_tok",
            batch_col.alias("batch"),
            F.col("n_exact").cast("long").alias("n_exact"),
            F.coalesce("n_near", F.lit(0)).cast("long").alias("n_near"),
            F.when(F.col("n_exact") > 0, "exact")
            .when(F.coalesce("n_near", F.lit(0)) > 0, "near")
            .otherwise("unique")
            .alias("status"),
        )
        .select(*_SPIPE_COLS)
    )


def ensure_stream_corpus_table(spark: SparkSession, sf_dir: str) -> str:
    """Build (or resume) the 4-snapshot streaming-corpus table.
    Idempotent (run_stream_corpus_build): a finished table
    short-circuits; a half-built one resumes from its stream
    checkpoint with crash residue gc'd."""
    from pypiper_spark.streaming.twins import run_stream_corpus_build

    root = _root(sf_dir, "stream_corpus_v2", "documents")
    run_stream_corpus_build(spark, sf_dir, root)
    return root


_SPIPE_ORACLE = """
  WITH s AS (
    SELECT doc_id, lang, source,
           (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) % 4 AS batch,
           md5(text) AS h,
           list_distinct(string_split(text, ' ')) AS toks,
           len(string_split(text, ' ')) AS n_tok,
           len(list_distinct(string_split(text, ' '))) AS nw
    FROM documents
  ), ex AS (
    SELECT n.doc_id, count(c.doc_id) AS n_exact
    FROM s n LEFT JOIN s c ON c.h = n.h AND c.batch < n.batch
    GROUP BY n.doc_id
  ), ntok AS (
    SELECT doc_id, lang, source, batch, nw, unnest(toks) AS w FROM s
  ), pairs AS (
    SELECT n.doc_id AS nid, max(n.nw) AS nwn, c.doc_id AS cid,
           max(c.nw) AS nwc, count(*) AS common
    FROM ntok n JOIN ntok c
      ON n.w = c.w AND n.lang = c.lang AND n.source = c.source
     AND c.batch < n.batch
    GROUP BY n.doc_id, c.doc_id
  ), near AS (
    SELECT nid AS doc_id, count(*) AS n_near
    FROM pairs WHERE 10 * common >= 9 * (nwn + nwc - common)
    GROUP BY nid
  )
  SELECT CAST(s.batch AS BIGINT) AS batch,
         CASE WHEN e.n_exact > 0 THEN 'exact'
              WHEN coalesce(nr.n_near, 0) > 0 THEN 'near'
              ELSE 'unique' END AS status,
         count(*) AS n_docs,
         CAST(sum(s.n_tok) AS BIGINT) AS total_tokens,
         CAST(sum(e.n_exact) AS BIGINT) AS n_exact_hits,
         CAST(sum(coalesce(nr.n_near, 0)) AS BIGINT) AS n_near_hits
  FROM s
  JOIN ex e ON e.doc_id = s.doc_id
  LEFT JOIN near nr ON nr.doc_id = s.doc_id
  GROUP BY 1, 2
"""


@register(
    "q_pipeline_stream_corpus",
    oracle=_SPIPE_ORACLE,
    tags=("pipeline", "streaming", "tableformat", "dedup", "exactly-once",
          "real-stream", "llm"),
)
def pipeline_stream_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(batch, status) rollup of the streaming-corpus table, read
    from the CURRENT snapshot (id 4 = 4 committed micro-batches):
    (batch, status, n_docs, total_tokens, n_exact_hits, n_near_hits).
    The oracle recomputes the entire streamed, incrementally-deduped,
    snapshot-committed run from `documents` alone — a hash match
    proves batch slicing, delivery order, the per-batch new-vs-corpus
    classification, and the format's write+read round-trip all
    composed correctly. See the section comment above."""
    root = ensure_stream_corpus_table(spark, sf_dir)
    t = tf.read(spark, root)
    return t.groupBy("batch", "status").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("total_tokens"),
        F.sum("n_exact").alias("n_exact_hits"),
        F.sum("n_near").alias("n_near_hits"),
    )


# ---------------------------------------------------------------------------
# q_stream_concurrent_ingest: MULTI-WRITER exactly-once (r12). The
# ninth real-stream registration and the format's concurrency story
# under load: two Structured Streaming writers race appends into one
# table. Optimistic concurrency (CommitConflict + retry) serializes
# the commits; the writer-transaction stamp (tableformat txn=,
# last_txn_version — Delta's txn action, minimal) closes the
# replay-after-commit-before-checkpoint hole that snapshot-id/batch-id
# alignment cannot close once ids interleave across writers. The
# interleaving is nondeterministic; the final table content is not —
# every event exactly once — which is exactly what the oracle states.
# ---------------------------------------------------------------------------


@register(
    "q_stream_concurrent_ingest",
    oracle=_INGEST_ORACLE,
    tags=("streaming", "tableformat", "exactly-once", "concurrency",
          "real-stream"),
)
def stream_concurrent_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type rollup of a table built by TWO CONCURRENT streaming
    writers (2 micro-batches each, disjoint event halves, separate
    checkpoints, one shared table root): commits race and serialize
    via CommitConflict retry; exactly-once per (writer, batch) via the
    manifest txn stamp. Runner:
    streaming/twins.run_concurrent_ingest_streams. The oracle is the
    one-shot batch aggregate over events — a hash match proves no
    batch was lost, duplicated, or partially committed under
    contention. Unit pins: tests/test_tableformat.py (txn watermark,
    idempotent skip, conflict-loser retry) and
    tests/test_streaming_recovery.py (sink crash AFTER commit, before
    checkpoint — the replayed batch no-ops)."""
    from pypiper_spark.streaming.twins import run_concurrent_ingest_streams

    return run_concurrent_ingest_streams(spark, sf_dir)


# ---------------------------------------------------------------------------
# q_table_delete_vectors: row-level DELETE without file rewrites (r12).
# The missing verb in the format's DML story — create/append/merge/
# overwrite existed, but a 0.01% GDPR erasure on a 100 TB table had to
# rewrite files (merge) or whole snapshots (overwrite). delete_where
# (tableformat.py) commits the parent's EXACT file list plus a dv/
# artifact naming deleted rows by (file, in-file row index) — the
# split-invariant coordinates the parquet reader itself produces
# (_metadata.row_index). Reads apply the vector as one anti-join; the
# pre-delete snapshots stay readable (time travel), and appends carry
# the vector verbatim. Demo table (per corpus, tmp-dir cached):
#
#     snapshot 1  "create"  orders -> (o_orderkey, o_orderstatus, cents)
#     snapshot 2  "delete"  the erasure: status 'F' AND key % 10 < 3
#     snapshot 3  "delete"  the policy gate: cents >= 30 000 000
#                           (cumulative vector — reads chase no chains)
#     snapshot 4  "append"  synthetic 'N' rows, vector carried verbatim
#
# The query aggregates EVERY snapshot by time travel; the oracle
# recomputes all four states from `orders` alone, so a hash match
# proves the vector deleted exactly the predicate rows, the cumulative
# merge lost none, the carry-through-append resurrected none, and the
# pre-delete history stayed intact. Unit pins (split-invariance, GC,
# evolution carry, driver-boundedness): tests/test_deletion_vectors.py.
# ---------------------------------------------------------------------------

_DV_DEL1 = "o_orderstatus = 'F' AND o_orderkey % 10 < 3"
_DV_DEL2 = "cents >= 30000000"


def ensure_dv_table(spark: SparkSession, sf_dir: str) -> str:
    """Build (or resume building) the four-snapshot deletion-vector
    demo table. Idempotent and crash-tolerant through tf.build:
    residue is gc'd, remaining commits replay from current_id."""
    root = _root(sf_dir, "dv_demo", "orders")
    return tf.build(root, [
        lambda: tf.create(spark, root, _orders_cents(spark, sf_dir)),
        lambda: tf.delete_where(spark, root, _DV_DEL1),
        lambda: tf.delete_where(spark, root, _DV_DEL2),
        lambda: tf.append(
            spark, root, _synthetic(spark, sf_dir, 3000000000, "N", 4242)
        ),
    ])


_DV_ORACLE = f"""
  WITH v1 AS (
    SELECT o_orderkey, o_orderstatus,
           CAST(round(o_totalprice * 100) AS BIGINT) AS cents
    FROM orders
  ), v2 AS (
    SELECT * FROM v1 WHERE NOT ({_DV_DEL1})
  ), v3 AS (
    SELECT * FROM v2 WHERE NOT ({_DV_DEL2})
  ), v4 AS (
    SELECT * FROM v3
    UNION ALL
    SELECT o_orderkey + 3000000000, 'N', CAST(4242 AS BIGINT)
    FROM orders WHERE o_orderkey % 1000 = 0
  )
  SELECT CAST(1 AS BIGINT) AS snap, o_orderstatus,
         count(*) AS n_rows, CAST(sum(cents) AS BIGINT) AS sum_cents
  FROM v1 GROUP BY o_orderstatus
  UNION ALL
  SELECT 2, o_orderstatus, count(*), CAST(sum(cents) AS BIGINT)
  FROM v2 GROUP BY o_orderstatus
  UNION ALL
  SELECT 3, o_orderstatus, count(*), CAST(sum(cents) AS BIGINT)
  FROM v3 GROUP BY o_orderstatus
  UNION ALL
  SELECT 4, o_orderstatus, count(*), CAST(sum(cents) AS BIGINT)
  FROM v4 GROUP BY o_orderstatus
"""


@register(
    "q_table_delete_vectors",
    oracle=_DV_ORACLE,
    tags=("maintenance", "tableformat", "delete", "dv", "privacy"),
)
def table_delete_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(snapshot, status) rollup of all four snapshots of the
    deletion-vector table, each read by time travel: (snap,
    o_orderstatus, n_rows, sum_cents). Snapshots 2/3 read THROUGH the
    vector (same data files as snapshot 1 — zero rewritten; the
    anti-join's build side is the vector, broadcast while it fits);
    snapshot 4 proves the append carried it. Cost model at 100 TB:
    each delete was one predicate scan + one small artifact write —
    never a rewrite of the other ~100%% of the table (section comment
    above; tableformat.py module docstring, deletion vectors)."""
    root = ensure_dv_table(spark, sf_dir)
    parts = []
    for snap in (1, 2, 3, 4):
        parts.append(
            tf.read(spark, root, snapshot_id=snap)
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("cents").alias("sum_cents"),
            )
            .select(
                F.lit(snap).cast("long").alias("snap"),
                "o_orderstatus",
                "n_rows",
                "sum_cents",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# ---------------------------------------------------------------------------
# q_table_write_audit_publish: WAP staging (r12). The quality gate a
# 100 TB ingest runs BEFORE data reaches production readers:
# stage_append writes data files + a staged manifest without swapping
# CURRENT; the audit job reads the staged snapshot BY ID at full
# committed-shape fidelity; publish is one atomic pointer swap, abort
# one manifest delete + gc (never a rollback rewrite). Demo per
# corpus: a BAD batch (negative cents planted on every 3rd synthetic
# key) stages, fails the audit (count(cents < 0) > 0), aborts; the
# GOOD batch stages, passes, publishes. The oracle recomputes the
# final state from `orders` + the good batch alone — a hash match
# proves the bad rows never reached CURRENT and the good ones landed
# exactly once through the staged path. Unit pins (visibility, slot
# holding, gc sparing, dv carry, abort reclaim):
# tests/test_write_audit_publish.py.
# ---------------------------------------------------------------------------


def _audited_append(
    spark: SparkSession, root: str, bad: DataFrame, good: DataFrame,
    col: str, what: str,
) -> None:
    """One write-audit-publish delivery, the shared step of the WAP and
    GDPR demo tables: the corrupt first delivery ``bad`` (negative
    ``col`` values planted) stages, fails its audit and is aborted;
    the clean redelivery ``good`` stages, passes and is published.
    Only ``good`` ever reaches CURRENT."""
    for df, planted in ((bad, True), (good, False)):
        sid = tf.stage_append(spark, root, df)
        n_neg = (
            tf.read(spark, root, snapshot_id=sid).filter(F.col(col) < 0).count()
        )
        if (n_neg > 0) != planted:  # pragma: no cover - planted, deterministic
            raise RuntimeError(
                f"{what}: the planted bad rows are missing"
                if planted
                else f"{what}: the clean delivery failed its audit"
            )
        if planted:
            tf.abort_staged(root, sid)
        else:
            tf.publish(root, sid)


def _wap_batch(spark: SparkSession, sf_dir: str, bad: bool) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cents = (
        F.when(F.col("o_orderkey") % 3 == 0, F.lit(-100)).otherwise(F.lit(777))
        if bad
        else F.lit(777)
    )
    return o.filter(F.col("o_orderkey") % 700 == 0).select(
        (F.col("o_orderkey") + 4000000000).alias("o_orderkey"),
        F.lit("N").alias("o_orderstatus"),
        cents.cast("long").alias("cents"),
    )


def ensure_wap_table(spark: SparkSession, sf_dir: str) -> str:
    """Build (or resume building) the WAP demo table: create, then the
    bad-batch stage->audit->abort, then the good-batch
    stage->audit->publish. Crash-tolerant through tf.build: leftover
    staged snapshots from an interrupted run are aborted and the
    workflow replays."""
    root = _root(sf_dir, "wap_demo", "orders")
    return tf.build(root, [
        lambda: tf.create(spark, root, _orders_cents(spark, sf_dir)),
        lambda: _audited_append(
            spark, root,
            _wap_batch(spark, sf_dir, bad=True),
            _wap_batch(spark, sf_dir, bad=False),
            "cents", "WAP demo",
        ),
    ])


_WAP_ORACLE = """
  WITH cur AS (
    SELECT o_orderstatus,
           CAST(round(o_totalprice * 100) AS BIGINT) AS cents
    FROM orders
    UNION ALL
    SELECT 'N', CAST(777 AS BIGINT)
    FROM orders WHERE o_orderkey % 700 = 0
  )
  SELECT o_orderstatus,
         count(*) AS n_rows,
         CAST(sum(cents) AS BIGINT) AS sum_cents,
         CAST(min(cents) AS BIGINT) AS min_cents
  FROM cur GROUP BY o_orderstatus
"""


@register(
    "q_table_write_audit_publish",
    oracle=_WAP_ORACLE,
    tags=("maintenance", "tableformat", "wap", "quality"),
)
def table_write_audit_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-status rollup of CURRENT after the WAP workflow (section
    comment above): (o_orderstatus, n_rows, sum_cents, min_cents).
    min_cents ≥ 0 in every group is the audited invariant — the
    planted negative-cents batch staged, failed its gate, and was
    aborted without ever being visible to this read."""
    root = ensure_wap_table(spark, sf_dir)
    return (
        tf.read(spark, root)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("cents").alias("sum_cents"),
            F.min("cents").alias("min_cents"),
        )
    )


# ---------------------------------------------------------------------------
# q_pipeline_gdpr_erasure: the NINTH composed flagship (r12) — the
# governed-corpus lifecycle, end to end, through BOTH r12 table
# primitives: the existing corpus is CREATEd; the new-arrivals batch
# goes through WRITE-AUDIT-PUBLISH (the corrupted first delivery —
# planted negative token counts — stages, fails its audit, aborts
# without production visibility; the clean redelivery publishes);
# then a GDPR erasure lands as a DELETION-VECTOR commit (no data file
# rewritten). The query reads the pre-erasure snapshot (time travel)
# AND CURRENT (through the vector), so the oracle — which recomputes
# both states from `documents` alone — proves in one hash: the bad
# delivery never landed, the good one landed exactly once, the
# erasure removed exactly the victim set, and the pre-erasure history
# is intact. At 100 TB every step is the cheap form: audit-reject =
# one manifest delete, erasure = one predicate scan + a vector
# artifact, history = manifest reads.
# ---------------------------------------------------------------------------

_GDPR_VICTIMS = "doc_id % 53 = 0"


def _gdpr_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tok"),
    )


def ensure_gdpr_table(spark: SparkSession, sf_dir: str) -> str:
    """Build (or resume building) the GDPR-lifecycle table: create the
    base corpus (3/4 of documents), WAP the arrivals (bad delivery
    aborts, clean one publishes), erase the victim set as a
    deletion-vector commit. Crash-tolerant through tf.build: staged
    leftovers abort, unmarked residue gc's, remaining steps replay
    from current_id."""
    root = _root(sf_dir, "gdpr_demo", "documents")

    def arrivals() -> None:
        good = _gdpr_docs(spark, sf_dir).filter(F.col("doc_id") % 4 == 0)
        bad = good.withColumn(
            "n_tok",
            F.when(F.col("doc_id") % 20 == 0, F.lit(-1))
            .otherwise(F.col("n_tok"))
            .cast("long"),
        )
        _audited_append(spark, root, bad, good, "n_tok", "GDPR demo")

    return tf.build(root, [
        lambda: tf.create(
            spark, root, _gdpr_docs(spark, sf_dir).filter(F.col("doc_id") % 4 != 0)
        ),
        arrivals,
        lambda: tf.delete_where(spark, root, _GDPR_VICTIMS),
    ])


_GDPR_ORACLE = f"""
  WITH d AS (
    SELECT doc_id, lang, source, n_chars,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
    FROM documents
  ), v3 AS (
    SELECT * FROM d WHERE NOT ({_GDPR_VICTIMS})
  )
  SELECT CAST(2 AS BIGINT) AS snap, lang, source,
         count(*) AS n_docs,
         CAST(sum(n_tok) AS BIGINT) AS sum_tok,
         CAST(sum(n_chars) AS BIGINT) AS sum_chars
  FROM d GROUP BY lang, source
  UNION ALL
  SELECT 3, lang, source, count(*),
         CAST(sum(n_tok) AS BIGINT), CAST(sum(n_chars) AS BIGINT)
  FROM v3 GROUP BY lang, source
"""


@register(
    "q_pipeline_gdpr_erasure",
    oracle=_GDPR_ORACLE,
    tags=("pipeline", "tableformat", "wap", "dv", "privacy", "llm"),
)
def pipeline_gdpr_erasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(snapshot, lang, source) rollup of the GDPR-lifecycle
    table at the pre-erasure snapshot (2: base + published clean
    arrivals = ALL documents, by the %4 partition) and at CURRENT
    (3: victims erased through the deletion vector): (snap, lang,
    source, n_docs, sum_tok, sum_chars). Section comment above;
    builder crash-tolerance and the WAP/DV invariants are pinned by
    tests/test_write_audit_publish.py and
    tests/test_deletion_vectors.py."""
    root = ensure_gdpr_table(spark, sf_dir)
    parts = []
    for snap in (2, 3):
        parts.append(
            tf.read(spark, root, snapshot_id=snap)
            .groupBy("lang", "source")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_tok").alias("sum_tok"),
                F.sum("n_chars").alias("sum_chars"),
            )
            .select(
                F.lit(snap).cast("long").alias("snap"),
                "lang",
                "source",
                "n_docs",
                "sum_tok",
                "sum_chars",
            )
        )
    return parts[0].unionByName(parts[1])


# ---------------------------------------------------------------------------
# q_table_merge_on_read: the MOR upsert (r12) — the third corner of
# the DML cost triangle. merge = copy-on-write full rewrite;
# merge_partial = touched-file rewrite; merge_on_read = NO rewrite:
# matched rows are marked replaced in the deletion vector and the
# change rows land as delta files (Iceberg v2 MOR / Delta DV upsert,
# whole-row replacement semantics). Demo per corpus: two MOR commits
# over orders — the q_upsert_merge-shaped change set (update every
# 3rd key's cents, insert synthetic 'N' keys), then a second wave
# restatusing every 7th ORIGINAL key to 'M' at original cents
# (proving replacement composes across MOR commits and leaves the
# synthetic inserts alone). The query aggregates all three snapshots
# by time travel; the oracle recomputes each state from `orders` with
# NOT IN + UNION ALL (the whole-row-replacement algebra), so a hash
# match proves matched-mark/delta-land/cumulative-vector exactness
# AND that no history was disturbed. No-rewrite + driver-bounded
# invariants: tests/test_deletion_vectors.py (merge_on_read_*).
# ---------------------------------------------------------------------------


def ensure_mor_table(spark: SparkSession, sf_dir: str) -> str:
    """Build (or resume building) the three-snapshot merge-on-read
    demo table. Idempotent and crash-tolerant through tf.build (gc +
    replay from current_id)."""
    root = _root(sf_dir, "mor_demo", "orders")

    def restatus() -> None:
        wave2 = _orders_cents(spark, sf_dir).filter(
            F.col("o_orderkey") % 7 == 0
        ).select("o_orderkey", F.lit("M").alias("o_orderstatus"), "cents")
        tf.merge_on_read(spark, root, wave2, key="o_orderkey")

    return tf.build(root, [
        lambda: tf.create(spark, root, _orders_cents(spark, sf_dir)),
        lambda: tf.merge_on_read(
            spark, root, _changes(spark, sf_dir), key="o_orderkey"
        ),
        restatus,
    ])


_MOR_ORACLE = """
  WITH v1 AS (
    SELECT o_orderkey, o_orderstatus,
           CAST(round(o_totalprice * 100) AS BIGINT) AS cents
    FROM orders
  ), c1 AS (
    SELECT o_orderkey, o_orderstatus, cents + 1000 AS cents
    FROM v1 WHERE o_orderkey % 3 = 0
    UNION ALL
    SELECT o_orderkey + 2000000000, 'N', CAST(5000 AS BIGINT)
    FROM orders WHERE o_orderkey % 1000 = 0
  ), v2 AS (
    SELECT * FROM v1
    WHERE o_orderkey NOT IN (SELECT o_orderkey FROM c1)
    UNION ALL
    SELECT * FROM c1
  ), c2 AS (
    SELECT o_orderkey, 'M' AS o_orderstatus, cents
    FROM v1 WHERE o_orderkey % 7 = 0
  ), v3 AS (
    SELECT * FROM v2
    WHERE o_orderkey NOT IN (SELECT o_orderkey FROM c2)
    UNION ALL
    SELECT * FROM c2
  )
  SELECT CAST(1 AS BIGINT) AS snap, o_orderstatus,
         count(*) AS n_rows, CAST(sum(cents) AS BIGINT) AS sum_cents
  FROM v1 GROUP BY o_orderstatus
  UNION ALL
  SELECT 2, o_orderstatus, count(*), CAST(sum(cents) AS BIGINT)
  FROM v2 GROUP BY o_orderstatus
  UNION ALL
  SELECT 3, o_orderstatus, count(*), CAST(sum(cents) AS BIGINT)
  FROM v3 GROUP BY o_orderstatus
"""


@register(
    "q_table_merge_on_read",
    oracle=_MOR_ORACLE,
    tags=("maintenance", "tableformat", "merge", "dv", "mor"),
)
def table_merge_on_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(snapshot, status) rollup of all three snapshots of the
    merge-on-read table, each read by time travel: (snap,
    o_orderstatus, n_rows, sum_cents). Snapshots 2/3 read base files
    THROUGH the cumulative replacement vector plus the delta files —
    zero rewritten files across both upserts (section comment
    above)."""
    root = ensure_mor_table(spark, sf_dir)
    parts = []
    for snap in (1, 2, 3):
        parts.append(
            tf.read(spark, root, snapshot_id=snap)
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("cents").alias("sum_cents"),
            )
            .select(
                F.lit(snap).cast("long").alias("snap"),
                "o_orderstatus",
                "n_rows",
                "sum_cents",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# ---------------------------------------------------------------------------
# q_stream_cdc_upsert: streaming CDC UPSERT through merge-on-read —
# the TENTH real-stream registration (r12) and the capstone on the
# MOR machinery: three ordered micro-batches of change rows land via
# foreachBatch -> tableformat.merge_on_read, each commit stamped
# txn=("cdc_upsert", batch_id) for exactly-once under replay. Zero
# base-file rewrites across the whole stream (the foreachBatch-merge
# alternative rewrites the table every micro-batch — THE cost bug of
# naive streaming upserts at 100 TB). Overlapping change waves prove
# last-writer-wins composes across MOR commits; the oracle states the
# final table in closed form. Runner:
# streaming/twins.run_cdc_upsert_stream.
# ---------------------------------------------------------------------------

_CDCU_ORACLE = """
  WITH v1 AS (
    SELECT o_orderkey, o_orderstatus,
           CAST(round(o_totalprice * 100) AS BIGINT) AS cents
    FROM orders
  ), final AS (
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 100 = 0 THEN 'U'
                ELSE o_orderstatus END AS o_orderstatus,
           CASE WHEN o_orderkey % 100 = 0 THEN CAST(2331 AS BIGINT)
                WHEN o_orderkey % 5 = 1 THEN cents + 1000
                WHEN o_orderkey % 5 = 2 THEN cents + 2000
                WHEN o_orderkey % 5 = 3 THEN cents + 3000
                ELSE cents END AS cents
    FROM v1
    UNION ALL
    SELECT o_orderkey + 3000000000, 'I', CAST(999 AS BIGINT)
    FROM orders WHERE o_orderkey % 1000 = 0
  )
  SELECT o_orderstatus, count(*) AS n_rows,
         CAST(sum(cents) AS BIGINT) AS sum_cents
  FROM final GROUP BY o_orderstatus
"""


@register(
    "q_stream_cdc_upsert",
    oracle=_CDCU_ORACLE,
    tags=("streaming", "tableformat", "mor", "dv", "cdc", "exactly-once",
          "real-stream"),
)
def stream_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-status rollup of the table built by the streaming CDC
    upsert (section comment above): disjoint update waves (+1000/
    +2000/+3000 cents for keys %5 = 1/2/3 in batches 0/1/2), an
    overlap wave (keys %100 = 0 restated in EVERY batch — final state
    must be batch 2's 'U'/2331), and batch-1 inserts ('I'/999). The
    oracle's closed-form final state hash-checks ordering, whole-row
    replacement, exactly-once delivery, and the cumulative vector in
    one number."""
    from pypiper_spark.streaming.twins import run_cdc_upsert_stream

    return run_cdc_upsert_stream(spark, sf_dir)
