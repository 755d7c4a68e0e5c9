"""SparkSession factory tuned for this engine.

100 TB posture (tested on local[N], designed for a 1000-executor
cluster):

- **AQE on**: runtime join demotion to broadcast, skew-join splitting,
  shuffle-partition coalescing. At scale these matter more than any
  hand-tuned hint.
- **Arrow on**: every JVM<->Python crossing is batched; row-at-a-time
  Python UDFs are banned from hot paths (SURVEY.md section 4.2).
- **UTC session timezone**: deterministic timestamp semantics against
  external oracles regardless of host TZ.
- **nanosAsLong**: Spark cannot read parquet TIMESTAMP(NANOS) (an
  events.ts stored in ns); with this legacy conf it reads as LongType ns and
  catalog.load_table converts to timestamp_ntz at microsecond
  precision — bit-identical to DuckDB's own ns->us truncation.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _core_count() -> int:
    """Cores the engine sizes itself to (``local[N]`` and the default
    shuffle-partition count): ``SPARK_GRAFT_CPUS`` when it is a
    positive integer, else the cores this process may run on. Read at
    call time, so a value set after import is honored."""
    raw = os.environ.get("SPARK_GRAFT_CPUS", "").strip()
    if raw.isdigit() and int(raw) > 0:
        return int(raw)
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # no affinity API on this platform
        return os.cpu_count() or 1


# Confs that are safe (and required) to apply to any session at runtime,
# including a driver-provided session we didn't create.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.parquet.inferTimestampNTZ.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
}

# Shuffle-partition sizing is deliberately NOT in RUNTIME_CONFS:
# catalog.load_table re-applies RUNTIME_CONFS on every uncached table
# load, so putting it there silently stomps an explicit caller choice
# (get_spark(shuffle_partitions=8) for the test suite) back to the
# core-count default after the first load. Instead apply_runtime_confs
# sizes partitions ONLY when the session still carries Spark's stock
# default of 200 — i.e. a driver-provided session nobody has sized —
# and computes the core count lazily so SPARK_GRAFT_CPUS set after
# import is honored.
_SPARK_STOCK_SHUFFLE_PARTITIONS = "200"


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an externally created session.

    The driver hands us its own SparkSession; without nanosAsLong any
    read of events.parquet raises PARQUET_TYPE_ILLEGAL.
    """
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on some build — keep going, reads may still work
    # Driver-provided sessions arrive with the Spark default of 200
    # shuffle partitions — at sf0.01 that means 200-task stages of
    # near-empty partitions, which the r9 driver replay showed costs
    # the iterative queries (pagerank/label-prop) most. Only resize if
    # the conf is still the stock default: any other value is someone's
    # explicit choice (get_spark arg, bench harness) and must win.
    try:
        current = spark.conf.get("spark.sql.shuffle.partitions")
        if current == _SPARK_STOCK_SHUFFLE_PARTITIONS:
            sized = str(_core_count())
            spark.conf.set("spark.sql.shuffle.partitions", sized)
            spark.conf.set(
                "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
                sized,
            )
    except Exception:
        pass
    return spark


def get_spark(
    app_name: str = "pypiper-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[N]`` and ``shuffle_partitions`` to
    N, where N is ``_core_count()`` — on a real cluster you would size
    partitions to ~2-3x total cores and let AQE coalesce; locally
    core-count avoids tiny-partition overhead.
    """
    cpus = _core_count()
    if master is None:
        master = f"local[{cpus}]"

    # Before the JVM launches, put the pbcompat worker bootstrap on the
    # process PYTHONPATH: Spark's StreamingPythonRunner (the
    # transformWithState pre-init driver worker) builds its child env
    # from the JVM's inherited PYTHONPATH only — unlike the regular
    # worker daemon it ignores the per-function env map, so this is the
    # one hook that reaches EVERY python child. sitecustomize there is
    # a no-op unless google.protobuf is missing (pbcompat.py). The
    # package's parent directory goes at the end: workers unpickle
    # functions that live in pypiper_spark (the stateful counter's
    # state function), which fails with ModuleNotFoundError when the
    # process started outside the repo root.
    from pypiper_spark.pbcompat import worker_env_entry

    paths = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    entry = worker_env_entry()
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if entry not in paths:
        paths.insert(0, entry)
    if root not in paths:
        paths.append(root)
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    # getOrCreate may have returned a pre-existing session with other confs
    apply_runtime_confs(spark)
    # apply_runtime_confs sizes shuffle partitions to core count (its job
    # for driver-provided sessions); an explicit caller choice (e.g. the
    # test suite's 8) must win over that default
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    spark.conf.set(
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        str(shuffle_partitions),
    )
    return spark


def release_query_caches(spark: SparkSession) -> None:
    """Release every persisted intermediate a query left behind.

    PERSIST-LIFETIME POLICY (the one place it is stated; each
    ``persist()`` site points here): query functions persist
    multi-consumer intermediates (the MinHash group table, the SimHash
    signature table, the pagerank edge list, the tf / token streams)
    because their returned DataFrames are LAZY — the persist must still
    be alive when the caller finally runs an action, so the query
    itself can never unpersist. The contract is therefore:

    - bench.py and tools/driver_sim.py call ``spark.catalog.clearCache()``
      after consuming each query's result (both verified per-round);
    - any long-lived session embedding these queries must do the same —
      call this helper after consuming a result — or blocks accumulate
      across queries until executor storage pressure evicts them (safe,
      LRU, but needlessly occupies memory at suite scale).
    """
    spark.catalog.clearCache()


from contextlib import contextmanager


@contextmanager
def scoped_confs(spark, confs: dict):
    """Set session confs for the duration of a block and restore them
    exactly (unset keys go back to unset). Used by queries that
    demonstrate conf-gated engine capabilities (runtime bloom filters,
    V2 aggregate pushdown): the plan must be OPTIMIZED while the confs
    hold, so such queries materialize inside the block (eager
    localCheckpoint) before restore."""
    prev = {}
    for k, v in confs.items():
        try:
            prev[k] = spark.conf.get(k)
        except Exception:  # noqa: BLE001 — unset key
            prev[k] = None
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
