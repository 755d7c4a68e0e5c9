"""Table catalog for the driver testdata (TESTDATA.md / FIXTURES.md).

Ten parquet tables per scale-factor directory. ``load_table`` is the
single entry point every query uses; it owns the two normalizations
that make Spark results bit-comparable to the DuckDB oracle:

- ``events.ts`` arrives as parquet TIMESTAMP(NANOS); with
  ``spark.sql.legacy.parquet.nanosAsLong`` it reads as LongType ns and
  is converted here to timestamp_ntz at microsecond precision
  (floor-truncated — exactly what DuckDB does on read).
- All other timestamps already read as timestamp_ntz (parquet
  isAdjustedToUTC=false), matching DuckDB's naive TIMESTAMP.

At 100 TB these reads are plain parquet scans: column pruning and
predicate pushdown reach the scan automatically because every query
expresses filters/projections on the DataFrame before any action.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pypiper_spark.fingerprint import table_bytes
from pypiper_spark.session import apply_runtime_confs

TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Expected column names per table (FIXTURES.md, verified via pyarrow).
# load_table asserts on these so schema drift fails loudly, not subtly.
EXPECTED_COLUMNS: dict[str, tuple[str, ...]] = {
    "region": ("r_regionkey", "r_name"),
    "nation": ("n_nationkey", "n_name", "n_regionkey"),
    "customer": ("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"),
    "supplier": ("s_suppkey", "s_name", "s_nationkey", "s_acctbal"),
    "part": ("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"),
    "orders": (
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    ),
    "lineitem": (
        "l_orderkey",
        "l_partkey",
        "l_suppkey",
        "l_linenumber",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_tax",
        "l_returnflag",
        "l_linestatus",
        "l_shipdate",
    ),
    "events": ("event_id", "ts", "user_id", "event_type", "value", "props"),
    "documents": ("doc_id", "text", "lang", "source", "n_chars"),
    "embeddings": ("vec_id", "embedding", "label"),
}

EMBEDDING_DIM = 64

# DataFrame handles are immutable logical plans — memoize per
# (application, dir, table) so repeated queries skip the driver-side
# file listing + footer read (~0.1 s each on local disk; worse on
# object stores, where this is the standard "don't re-list the prefix"
# trick). applicationId is stable per SparkContext — unlike id() of a
# py4j wrapper, it cannot collide across recreated sessions.
_HANDLE_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table, normalized for oracle comparability."""
    if name not in EXPECTED_COLUMNS:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    key = (spark.sparkContext.applicationId, sf_dir.rstrip("/"), name)
    cached = _HANDLE_CACHE.get(key)
    if cached is not None:
        return cached
    apply_runtime_confs(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")

    missing = set(EXPECTED_COLUMNS[name]) - set(df.columns)
    if missing:
        raise ValueError(f"table {name!r} missing expected columns {sorted(missing)}")

    if name == "events":
        ts_type = dict(df.dtypes)["ts"]
        if ts_type == "bigint":
            # ns since epoch -> us (floor) -> naive timestamp. `div` is
            # integer division; session TZ is UTC so the LTZ->NTZ cast
            # preserves the wall-clock instant.
            df = df.withColumn(
                "ts", F.expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)")
            )
        elif ts_type == "timestamp":
            df = df.withColumn("ts", F.col("ts").cast(T.TimestampNTZType()))
    _HANDLE_CACHE[key] = df
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all tables as temp views (for spark.sql-style queries)."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def fits_broadcast(
    spark: SparkSession, sf_dir: str, tbl: str, expansion: int = 4
) -> bool:
    """Mechanical size gate for an explicit broadcast hint: compare the
    table's on-disk parquet size (x ``expansion`` for decompression +
    row overhead — conservative for these schemas) against the
    session's autoBroadcastJoinThreshold. The same decision AQE makes
    from runtime stats, made explicit so a hinted query degrades to
    the planner's choice instead of an executor OOM when the hinted
    side outgrows the threshold (the r5 q_market_share lesson)."""
    raw = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    s = raw.strip().lower().rstrip("b")
    mult = 1
    for suffix, m in (("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30)):
        if s.endswith(suffix):
            s, mult = s[:-1], m
            break
    threshold = int(s) * mult
    if threshold <= 0:  # broadcast disabled outright
        return False
    return table_bytes(sf_dir, tbl) * expansion <= threshold
