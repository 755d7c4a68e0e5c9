"""Data-quality audits — the checks a 100 TB warehouse runs before it
trusts a snapshot (referential integrity, key uniqueness, embedding
sanity). The reference has no analog; capability extension per the
driver contract, every audit exact-oracled.

Scale posture shared by all three: audits NEVER move fact-grain rows.
Keys are distinct-collapsed (or aggregated) per table first, so each
audit shuffles key-cardinality data; parent sides of FK checks are
key-only projections; per-table summaries union as single rows.
"""

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pypiper_spark.catalog import fits_broadcast, load_table
from pypiper_spark.functions.vectors import norm, sql_dot, to_double
from pypiper_spark.registry import register

# (child table, child fk col, parent table, parent key col)
_FK_EDGES = [
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
]

_RI_ORACLE = "\nUNION ALL\n".join(
    f"""
      SELECT '{child}.{fk} -> {parent}.{pk}' AS relation,
             count(*) AS n_keys,
             count(*) FILTER (WHERE NOT EXISTS (
               SELECT 1 FROM {parent} p WHERE p.{pk} = k.{fk}
             )) AS n_orphans
      FROM (SELECT DISTINCT {fk} FROM {child} WHERE {fk} IS NOT NULL) k
    """
    for child, fk, parent, pk in _FK_EDGES
)


@register("q_referential_integrity", oracle=_RI_ORACLE, tags=("quality", "audit", "anti"))
def referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: every FK edge in the star schema,
    one row per edge with (distinct child keys, orphan keys). A
    healthy snapshot reads all-zeros in n_orphans; a broken ingest
    shows exactly which edge leaked.

    Scale shape (r6 rewrite — single-consumption edges, join-free on
    the big edge): the r5 form consumed each edge's distinct key set
    TWICE (an n_keys aggregate branch plus an anti join) — 11.2 s vs
    the 2.2 s twin at 100x. Now each edge is ONE pass: broadcast-able
    parents (size-gated via catalog.fits_broadcast, never hinted on
    faith) LEFT-join map-side and the per-key match flag folds in the
    same distinct-collapsing groupBy that produces n_keys — orphan
    counting costs nothing beyond the distinct the audit already
    owed; parents over the threshold (orders at 100x) take the
    union-flag form instead (child keys tagged 1, parent keys tagged
    0, groupBy(key) -> max flags -> tiny rollup), which replaces the
    anti JOIN with an aggregate. Two shared-scan variants were
    measured and REJECTED at the 100x corpus (BENCH.md r6): a
    persisted distinct-then-anti-join shared key table (18.9 s — the
    50M-row sort-merge anti join + cache materialization) and a fully
    join-free tagged-explode union over every table's roles (9.0 s
    protocol / 6.0 s warm — the 215M-row struct explode feeds one
    giant hash agg); per-edge single-pass won at 4.7 s warm because
    each edge's hash table stays small and the seven edges overlap as
    independent stages."""
    out = None
    for child, fk, parent, pk in _FK_EDGES:
        c = (
            load_table(spark, sf_dir, child)
            .select(F.col(fk).cast("long").alias("k"))
            .filter(F.col("k").isNotNull())
        )
        p = load_table(spark, sf_dir, parent).select(
            F.col(pk).cast("long").alias("pk")
        )
        if fits_broadcast(spark, sf_dir, parent):
            j = c.join(F.broadcast(p), F.col("k") == F.col("pk"), "left")
            per_key = j.groupBy("k").agg(
                F.max(F.col("pk").isNotNull().cast("int")).alias("m")
            )
            row = per_key.agg(
                F.count(F.lit(1)).alias("n_keys"),
                F.sum(1 - F.col("m")).alias("n_orphans"),
            )
        else:
            u = c.withColumn("ic", F.lit(1)).unionAll(
                p.select(F.col("pk").alias("k")).withColumn("ic", F.lit(0))
            )
            per_key = u.groupBy("k").agg(
                F.max("ic").alias("c"), F.max(1 - F.col("ic")).alias("p")
            )
            row = per_key.agg(
                F.sum("c").alias("n_keys"),
                F.sum(
                    F.when((F.col("c") == 1) & (F.col("p") == 0), 1).otherwise(0)
                ).alias("n_orphans"),
            )
        row = row.select(
            F.lit(f"{child}.{fk} -> {parent}.{pk}").alias("relation"),
            "n_keys",
            "n_orphans",
        )
        out = row if out is None else out.unionAll(row)
    return out


# (table, key column list — native types, never stringified)
_PK_SPECS = [
    ("lineitem", ["l_orderkey", "l_linenumber"]),
    ("orders", ["o_orderkey"]),
    ("customer", ["c_custkey"]),
    ("part", ["p_partkey"]),
    ("supplier", ["s_suppkey"]),
    ("events", ["event_id"]),
    ("documents", ["doc_id"]),
    ("embeddings", ["vec_id"]),
]

_PK_ORACLE = "\nUNION ALL\n".join(
    f"""
      SELECT '{tbl}' AS table_name,
             count(*) AS n_rows,
             count(DISTINCT ({', '.join(cols)})) AS n_keys,
             count(*) - count(DISTINCT ({', '.join(cols)})) AS n_dup_rows
      FROM {tbl}
    """
    for tbl, cols in _PK_SPECS
)


@register("q_pk_uniqueness", oracle=_PK_ORACLE, tags=("quality", "audit", "aggregate"))
def pk_uniqueness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Primary-key uniqueness audit across every table: rows vs
    distinct keys vs surplus rows, one row per table. The audit that
    catches double-ingest before any downstream join silently fans
    out.

    Scale shape (r6 rewrite — mergeable word-bitmap rollup, the
    q_bitmap_distinct pattern applied to the audit): each table is
    ONE fully-codegen aggregate chain instead of a countDistinct
    pass. Keys pack to a long (composite lineitem key packs as
    orderkey*8 + linenumber — linenumber is 1..7, 3 bits; injective
    for any 0 <= minor < 8, and the exact-hash oracle at all three
    SFs re-proves it on real data), then groupBy(key >> 6) +
    bit_or(1L << (key % 64)) builds 64-key bitmap words and
    sum(bit_count(word)) + sum(per-word row count) folds both the
    distinct-key and row totals in one tiny second-level agg. Every
    operator (bit_or, bit_count, sum, count) is a
    DeclarativeAggregate, so the whole chain stays in whole-stage
    codegen — no ObjectHashAggregate, no distinct Expand — and the
    shuffle carries ~n_keys/64 words, not n_keys keys. The word
    partials are MERGEABLE (bit_or-combinable): the same first level
    computed per partition/per ingest batch and bit_or-merged is the
    incremental form of this audit a real warehouse runs per
    snapshot delta. 100x A/B (cold fresh-process, BENCH.md r6):
    word-bitmap 9.8 s vs shipped countDistinct 16.8 s over all 8
    tables; per-table lineitem 5.8 s (vs 10+); a natural-key variant
    (groupBy orderkey, linenumber mask — no pack shift) measured
    6.4 s on lineitem and was rejected. Keys must be non-negative
    longs (true of every PK in this corpus); dense or block-sparse
    domains keep the word count near n_keys/64 — only occupied words
    materialize, so sparse domains cost proportionally to data, not
    domain size."""
    out = None
    for tbl, cols in _PK_SPECS:
        t = load_table(spark, sf_dir, tbl)
        if len(cols) == 1:
            k = F.col(cols[0]).cast("long")
        else:
            k = F.col(cols[0]).cast("long") * 8 + F.col(cols[1]).cast("long")
        words = (
            t.select(k.alias("k"))
            .groupBy(F.shiftright("k", 6).alias("w"))
            .agg(
                F.bit_or(F.expr("shiftleft(1L, cast(k % 64 as int))")).alias("bits"),
                F.count(F.lit(1)).alias("n"),
            )
        )
        # coalesce: an empty table must audit as 0/0/0 (sum over no
        # rows is NULL), matching the oracle's count(*) = 0
        row = words.agg(
            F.coalesce(F.sum("n"), F.lit(0)).alias("n_rows"),
            F.coalesce(F.sum(F.bit_count("bits")), F.lit(0)).alias("n_keys"),
            F.coalesce(
                F.sum("n") - F.sum(F.bit_count("bits")), F.lit(0)
            ).alias("n_dup_rows"),
        ).select(F.lit(tbl).alias("table_name"), "n_rows", "n_keys", "n_dup_rows")
        out = row if out is None else out.unionAll(row)
    return out


_EMBQ_ORACLE = f"""
  WITH n AS (
    SELECT label,
           sqrt({sql_dot('embedding', 'embedding')}) AS nrm,
           len(embedding) AS dim
    FROM embeddings
  )
  SELECT label,
         count(*) AS n_vectors,
         count(*) FILTER (WHERE dim <> 64) AS n_bad_dim,
         count(*) FILTER (WHERE nrm < 0.5) AS n_low_norm,
         count(*) FILTER (WHERE nrm > 1.5) AS n_high_norm,
         round(min(nrm), 6) AS min_norm,
         round(max(nrm), 6) AS max_norm,
         round(avg(nrm), 6) AS avg_norm
  FROM n GROUP BY label
"""


@register("q_embedding_quality", oracle=_EMBQ_ORACLE, tags=("quality", "embedding"))
def embedding_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-column sanity audit per label: cardinality, wrong
    dimensionality, degenerate norms (collapsed or exploded vectors —
    the two classic signs of a broken encoder batch), and the norm
    envelope. The gate a pipeline runs before paying for ANN index
    builds over a fresh embedding drop.

    Scale shape: map-only JVM expression per row (higher-order-fn
    dot product — no Python crossing), then ONE map-side-combined
    aggregate on the tiny label key. min/max are exact; avg rounds
    at 6dp, ~6 orders above the float-sum error at any realistic
    partition count (compare.py rule for float reductions)."""
    e = load_table(spark, sf_dir, "embeddings")
    nrm = norm(to_double(F.col("embedding")))
    base = e.select(
        "label", nrm.alias("nrm"), F.size("embedding").alias("dim")
    )
    return base.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.sum(F.when(F.col("dim") != 64, 1).otherwise(0)).alias("n_bad_dim"),
        F.sum(F.when(F.col("nrm") < 0.5, 1).otherwise(0)).alias("n_low_norm"),
        F.sum(F.when(F.col("nrm") > 1.5, 1).otherwise(0)).alias("n_high_norm"),
        F.round(F.min("nrm"), 6).alias("min_norm"),
        F.round(F.max("nrm"), 6).alias("max_norm"),
        F.round(F.avg("nrm"), 6).alias("avg_norm"),
    )


_SKEW_ORACLE = """
  WITH per_key AS (
    SELECT l_orderkey, count(*) AS n FROM lineitem GROUP BY l_orderkey
  ),
  top10 AS (
    SELECT sum(n) AS top_n FROM (
      SELECT n FROM per_key ORDER BY n DESC, l_orderkey LIMIT 10
    )
  )
  SELECT count(*) AS n_keys,
         CAST(sum(n) AS BIGINT) AS n_rows,
         max(n) AS max_per_key,
         round(CAST(sum(n) AS DOUBLE) / count(*), 6) AS avg_per_key,
         round(CAST((SELECT top_n FROM top10) AS DOUBLE)
               / CAST(sum(n) AS DOUBLE), 6) AS top10_share,
         round(CAST(max(n) AS DOUBLE) * count(*)
               / CAST(sum(n) AS DOUBLE), 6) AS max_skew_factor
  FROM per_key
"""


@register("q_skew_diagnose", oracle=_SKEW_ORACLE, tags=("quality", "audit", "skew"))
def skew_diagnose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnosis on the fact table's hot key
    (lineitem.l_orderkey): key cardinality, heaviest key, mean fanout,
    top-10-key mass share, and the max/mean skew factor — the numbers
    that decide BETWEEN the engine's three skew tools (nothing, AQE
    skew-join split, explicit salting a la q_join_skew_salted) before
    a big join is launched. A skew factor near 1 means hash
    partitioning balances; a factor of 1000 means one task gets a
    thousand keys' worth of rows.

    Scale shape: one map-side-combined count per key, then a 1-row
    summary; the top-10 is a TakeOrdered over key-grain counts (with
    a key tiebreak so the cut is deterministic), never a global sort.
    All ratios derive from exact integers, rounded at 6dp."""
    li = load_table(spark, sf_dir, "lineitem")
    per_key = li.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("n"))
    top10 = (
        per_key.orderBy(F.desc("n"), "l_orderkey")
        .limit(10)
        .agg(F.sum("n").alias("top_n"))
    )
    return (
        per_key.agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum("n").alias("n_rows"),
            F.max("n").alias("max_per_key"),
        )
        .crossJoin(F.broadcast(top10))
        .select(
            "n_keys",
            "n_rows",
            "max_per_key",
            F.round(F.col("n_rows").cast("double") / F.col("n_keys"), 6).alias(
                "avg_per_key"
            ),
            F.round(
                F.col("top_n").cast("double") / F.col("n_rows").cast("double"), 6
            ).alias("top10_share"),
            F.round(
                F.col("max_per_key").cast("double")
                * F.col("n_keys")
                / F.col("n_rows").cast("double"),
                6,
            ).alias("max_skew_factor"),
        )
    )


_IQR_ORACLE = """
  WITH pc AS (
    SELECT o_orderpriority,
           CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
    FROM orders
  ),
  bounds AS (
    SELECT o_orderpriority,
           quantile_cont(price_c, 0.25) AS q1,
           quantile_cont(price_c, 0.75) AS q3
    FROM pc GROUP BY o_orderpriority
  )
  SELECT p.o_orderpriority,
         count(*) AS n_orders,
         round(b.q1 / 100, 6) AS q1,
         round(b.q3 / 100, 6) AS q3,
         count(*) FILTER (WHERE p.price_c < b.q1 - 1.5 * (b.q3 - b.q1))
           AS n_low_outliers,
         count(*) FILTER (WHERE p.price_c > b.q3 + 1.5 * (b.q3 - b.q1))
           AS n_high_outliers
  FROM pc p JOIN bounds b USING (o_orderpriority)
  GROUP BY p.o_orderpriority, b.q1, b.q3
"""


@register("q_outlier_iqr", oracle=_IQR_ORACLE, tags=("quality", "stats"))
def outlier_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier audit per order priority: exact
    interpolated quartiles of the price distribution (over integer
    cents) and counts outside [q1 - 1.5*IQR, q3 + 1.5*IQR] — the
    robust-statistics screen a pipeline runs before trusting value
    columns.

    Determinism: quartiles of INTEGER cents interpolate at dyadic
    factors (0.25/0.5/0.75), so q1/q3/fences are exactly
    representable doubles and the fence comparisons are exact on
    both engines — no epsilon, no rounding ambiguity at the cut.
    Scale shape: percentile is Spark's exact aggregate (a per-group
    sort of that group only); the fence pass re-joins bounds as a
    tiny broadcast and counts map-side."""
    o = load_table(spark, sf_dir, "orders")
    pc = o.select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("price_c"),
    )
    bounds = pc.groupBy("o_orderpriority").agg(
        F.percentile("price_c", F.lit(0.25)).alias("q1"),
        F.percentile("price_c", F.lit(0.75)).alias("q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    return (
        pc.join(F.broadcast(bounds), "o_orderpriority")
        .groupBy("o_orderpriority", "q1", "q3")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(
                F.when(F.col("price_c") < F.col("q1") - 1.5 * iqr, 1).otherwise(0)
            ).alias("n_low_outliers"),
            F.sum(
                F.when(F.col("price_c") > F.col("q3") + 1.5 * iqr, 1).otherwise(0)
            ).alias("n_high_outliers"),
        )
        .select(
            "o_orderpriority",
            "n_orders",
            F.round(F.col("q1") / 100, 6).alias("q1"),
            F.round(F.col("q3") / 100, 6).alias("q3"),
            "n_low_outliers",
            "n_high_outliers",
        )
    )


_INCR_ORACLE = """
  SELECT CAST(year(l_shipdate) AS VARCHAR) AS batch,
         count(*) AS n_rows,
         count(DISTINCT l_partkey) AS n_parts
  FROM lineitem
  GROUP BY year(l_shipdate)
  UNION ALL
  SELECT 'ALL' AS batch,
         count(*) AS n_rows,
         count(DISTINCT l_partkey) AS n_parts
  FROM lineitem
"""


@register(
    "q_audit_incremental",
    oracle=_INCR_ORACLE,
    tags=("quality", "audit", "bitmap", "incremental"),
)
def audit_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental distinct-audit composition (VERDICT r5 "missing"
    #3): per-ingest-batch audit partials that MERGE to the global
    audit without rescanning history. Batches are shipdate years (the
    ingest-partition analog); the audited key is l_partkey — parts
    recur across batches, so the global distinct is NOT the sum of
    per-batch distincts and the merge is doing real work.

    Scale shape: ONE scan builds 64-key word-bitmap partials per
    (batch, word) — groupBy(batch, key >> 6) + bit_or, all
    whole-stage-codegen DeclarativeAggregates (the q_pk_uniqueness
    r6 machinery). The persisted partials then answer BOTH questions:
    per-batch rows fold each batch's words (sum of bit_count); the
    global row bit_or-merges words ACROSS batches first — the exact
    OR-merge a real warehouse applies to stored per-snapshot bitmaps
    when a new batch lands, instead of re-reading every prior batch.
    At 100 TB the partials table IS the stored audit state: ingest
    appends its (batch, word, bits) rows, and the dashboard query
    merges words — shuffle width bounded by key-domain/64, never by
    history size. Oracle states the semantics (count DISTINCT per
    year + global); the bitmap form is the plan, not the answer."""
    li = load_table(spark, sf_dir, "lineitem")
    words = (
        li.select(
            F.year("l_shipdate").cast("string").alias("batch"),
            F.col("l_partkey").cast("long").alias("k"),
        )
        .groupBy("batch", F.shiftright("k", 6).alias("w"))
        .agg(
            F.bit_or(F.expr("shiftleft(1L, cast(k % 64 as int))")).alias("bits"),
            F.count(F.lit(1)).alias("n"),
        )
        .persist()  # lifetime: session.release_query_caches policy
    )
    per_batch = words.groupBy("batch").agg(
        F.sum("n").alias("n_rows"),
        F.sum(F.bit_count("bits")).alias("n_parts"),
    )
    merged = (
        words.groupBy("w")
        .agg(F.bit_or("bits").alias("bits"), F.sum("n").alias("n"))
        .agg(
            # coalesce: empty input must read 0/0, like the oracle's
            # count(*) over an empty table
            F.coalesce(F.sum("n"), F.lit(0)).alias("n_rows"),
            F.coalesce(F.sum(F.bit_count("bits")), F.lit(0)).alias("n_parts"),
        )
        .select(F.lit("ALL").alias("batch"), "n_rows", "n_parts")
    )
    return per_batch.unionAll(merged)


_MAD_ORACLE = """
  WITH pc AS (
    SELECT o_orderpriority,
           CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
    FROM orders
  ),
  med AS (
    SELECT o_orderpriority, quantile_cont(price_c, 0.5) AS med
    FROM pc GROUP BY o_orderpriority
  ),
  dev AS (
    SELECT p.o_orderpriority, p.price_c, m.med,
           abs(p.price_c - m.med) AS adev
    FROM pc p JOIN med m USING (o_orderpriority)
  ),
  mad AS (
    SELECT o_orderpriority, quantile_cont(adev, 0.5) AS mad
    FROM dev GROUP BY o_orderpriority
  )
  SELECT d.o_orderpriority,
         count(*) AS n_orders,
         round(d.med / 100, 6) AS median_price,
         round(a.mad / 100, 6) AS mad_price,
         count(*) FILTER (WHERE d.adev > a.mad * 5.1891) AS n_outliers
  FROM dev d JOIN mad a USING (o_orderpriority)
  GROUP BY d.o_orderpriority, d.med, a.mad
"""


@register("q_outlier_mad", oracle=_MAD_ORACLE, tags=("quality", "stats"))
def outlier_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAD-based robust outlier audit per order priority: median
    absolute deviation scaled by 1.4826 (the normal-consistency
    constant) with a 3.5-sigma fence — the robust-z screen that,
    unlike q_outlier_iqr's Tukey fences, stays meaningful when up to
    half the column is corrupted (50% breakdown point vs 25%).

    Determinism, the q_outlier_iqr discipline extended one level:
    medians of INTEGER cents interpolate at 0.5 -> exact .0/.5
    doubles; absolute deviations are then exact multiples of 0.5, so
    the second median (the MAD) lands on exact quarters; the fence is
    ONE multiply by the folded constant 5.1891 (= 3.5 x 1.4826,
    pre-multiplied so both engines run the identical single
    correctly-rounded op) and an exact compare. Scale shape: two
    bounded per-priority percentile aggregates broadcast back, counts
    map-side — three scan passes, zero data-scaled shuffles."""
    o = load_table(spark, sf_dir, "orders")
    pc = o.select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("price_c"),
    )
    med = pc.groupBy("o_orderpriority").agg(
        F.percentile("price_c", F.lit(0.5)).alias("med")
    )
    dev = pc.join(F.broadcast(med), "o_orderpriority").withColumn(
        "adev", F.abs(F.col("price_c") - F.col("med"))
    )
    mad = dev.groupBy("o_orderpriority").agg(
        F.percentile("adev", F.lit(0.5)).alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "o_orderpriority")
        .groupBy("o_orderpriority", "med", "mad")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(
                F.when(F.col("adev") > F.col("mad") * 5.1891, 1).otherwise(0)
            ).alias("n_outliers"),
        )
        .select(
            "o_orderpriority",
            "n_orders",
            F.round(F.col("med") / 100, 6).alias("median_price"),
            F.round(F.col("mad") / 100, 6).alias("mad_price"),
            "n_outliers",
        )
    )


# ---------------------------------------------------------------------------
# q_drift_psi: population-stability drift audit between two snapshots
# ---------------------------------------------------------------------------

_PSI_SPLIT = "1998-01-01"

_PSI_ORACLE = f"""
  WITH binned AS (
    SELECT feature, bucket,
           count(*) FILTER (WHERE o_orderdate <  TIMESTAMP '{_PSI_SPLIT}')
             AS ref_cnt,
           count(*) FILTER (WHERE o_orderdate >= TIMESTAMP '{_PSI_SPLIT}')
             AS cur_cnt
    FROM (
      SELECT o_orderdate, 'totalprice_25k' AS feature,
             CAST(CAST(floor(o_totalprice / 25000) AS BIGINT) AS VARCHAR)
               AS bucket
      FROM orders
      UNION ALL
      SELECT o_orderdate, 'orderpriority' AS feature, o_orderpriority
      FROM orders
    )
    GROUP BY feature, bucket
  ), tot AS (
    SELECT *,
           sum(ref_cnt) OVER (PARTITION BY feature) AS ref_tot,
           sum(cur_cnt) OVER (PARTITION BY feature) AS cur_tot,
           count(*) OVER (PARTITION BY feature) AS n_b
    FROM binned
  )
  SELECT feature, bucket, ref_cnt, cur_cnt,
         round((CAST(ref_cnt + 1 AS DOUBLE) / CAST(ref_tot + n_b AS DOUBLE)
                - CAST(cur_cnt + 1 AS DOUBLE) / CAST(cur_tot + n_b AS DOUBLE))
               * ln((CAST(ref_cnt + 1 AS DOUBLE)
                     / CAST(ref_tot + n_b AS DOUBLE))
                    / (CAST(cur_cnt + 1 AS DOUBLE)
                       / CAST(cur_tot + n_b AS DOUBLE))), 8)
           AS psi_contrib
  FROM tot
"""


@register(
    "q_drift_psi",
    oracle=_PSI_ORACLE,
    tags=("quality", "audit", "drift", "psi"),
)
def drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index drift audit between two order
    snapshots (pre/post 1998-01-01 — the corpus date midpoint): one
    numeric feature (o_totalprice in fixed 25k-wide bins — fixed
    width, not quantile bins, so the bin EDGES are snapshot-independent
    and the audit is mergeable across partitions/days) and one
    categorical (o_orderpriority). Emits per-(feature, bucket) counts
    plus the Laplace-smoothed PSI contribution (p-q)*ln(p/q); the +1
    smoothing keeps one-sided buckets finite without dropping them —
    a bucket that EXISTS only post-split is exactly the drift signal.

    Numeric discipline: counts stay bigint through the shuffle; the
    double math happens once per OUTPUT row with an identical
    expression tree in both engines (cast -> divide -> ln -> multiply
    -> round 8), the q_text_pmi/entropy rule.

    Scale shape: ONE scan of orders (stack() unpivots the two features
    map-side — the DuckDB twin's UNION ALL of two scans is the oracle
    formulation, not the plan), one exchange keyed (feature, bucket)
    with partial map-side counts, then the totals windows run on the
    ~bucket-cardinality aggregate (bounded by bin count, never
    data-scaled). At 100 TB this is the per-partition mergeable-count
    shape the incremental audit family (q_audit_incremental) uses."""
    o = load_table(spark, sf_dir, "orders")
    binned = (
        o.selectExpr(
            "o_orderdate",
            "stack(2, "
            " 'totalprice_25k',"
            " cast(cast(floor(o_totalprice / 25000) as bigint) as string),"
            " 'orderpriority', o_orderpriority"
            ") as (feature, bucket)",
        )
        .groupBy("feature", "bucket")
        .agg(
            F.count(
                F.when(F.col("o_orderdate") < F.lit(_PSI_SPLIT).cast("timestamp"), 1)
            ).alias("ref_cnt"),
            F.count(
                F.when(F.col("o_orderdate") >= F.lit(_PSI_SPLIT).cast("timestamp"), 1)
            ).alias("cur_cnt"),
        )
    )
    from pyspark.sql.window import Window

    wf = Window.partitionBy("feature")
    tot = binned.select(
        "feature",
        "bucket",
        "ref_cnt",
        "cur_cnt",
        F.sum("ref_cnt").over(wf).alias("ref_tot"),
        F.sum("cur_cnt").over(wf).alias("cur_tot"),
        F.count(F.lit(1)).over(wf).alias("n_b"),
    )
    p = (F.col("ref_cnt") + 1).cast("double") / (F.col("ref_tot") + F.col("n_b")).cast(
        "double"
    )
    q = (F.col("cur_cnt") + 1).cast("double") / (F.col("cur_tot") + F.col("n_b")).cast(
        "double"
    )
    return tot.select(
        "feature",
        "bucket",
        "ref_cnt",
        "cur_cnt",
        F.round((p - q) * F.log(p / q), 8).alias("psi_contrib"),
    )


# ---------------------------------------------------------------------------
# q_kanon_audit: k-anonymity audit over quasi-identifiers
# ---------------------------------------------------------------------------

# Shared quasi-identifier balance band: exact cents, +$100k offset so
# the division never crosses zero. Spark `div` AND DuckDB `//` both
# truncate toward zero (verified: -7 // 2 = -3 in DuckDB) — the actual
# hazard is Python's floor-division `//` if anyone re-derives expected
# values by hand (same lesson recorded at timeseries.q_forecast_holt).
# The offset makes all three semantics agree. ONE definition each
# side; both privacy audits interpolate it.
_BAL_BAND_SQL = (
    "(CAST(round(c_acctbal * 100) AS BIGINT) + 10000000) // 100000 - 100"
)
_BAL_BAND_EXPR = (
    "(cast(round(c_acctbal * 100) as bigint) + 10000000) div 100000 - 100"
)

_KANON_ORACLE = f"""
  WITH qi AS (
    SELECT c_custkey, c_mktsegment,
           c_nationkey,
           {_BAL_BAND_SQL} AS bal_band
    FROM customer
  ), classes AS (
    SELECT c_mktsegment, c_nationkey, bal_band, count(*) AS class_size
    FROM qi GROUP BY c_mktsegment, c_nationkey, bal_band
  )
  SELECT c_mktsegment,
         CASE WHEN class_size = 1 THEN 'k=1 (unique)'
              WHEN class_size < 5 THEN 'k=2-4'
              WHEN class_size < 10 THEN 'k=5-9'
              ELSE 'k>=10' END AS k_bucket,
         count(*) AS n_classes,
         CAST(sum(class_size) AS BIGINT) AS n_records,
         CAST(sum(CASE WHEN class_size < 5 THEN class_size ELSE 0 END)
              AS BIGINT) AS n_suppress_at_k5
  FROM classes
  GROUP BY c_mktsegment, k_bucket
"""


@register(
    "q_kanon_audit",
    oracle=_KANON_ORACLE,
    tags=("quality", "audit", "privacy", "kanon"),
)
def kanon_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-anonymity audit — the privacy check a training-data release
    runs next to q_pii_redact's scrubbing: treat (nation, market
    segment, $1000 balance band) as the quasi-identifier tuple, size
    every equivalence class, and report per-segment how many records
    sit in re-identifiable classes (k=1), sub-threshold classes
    (k<5, the records a k=5 release must suppress or generalize),
    and safe mass (k>=10).

    Integer discipline: the balance band is pure BIGINT arithmetic on
    exact cents with a +$100k offset so the division never crosses
    zero — Spark's `div` truncates toward zero while DuckDB's `//`
    floors, and they disagree exactly on negative operands (acctbal
    goes to -999.99); the offset makes both compute the same band.

    Scale shape: one scan, one exchange keyed by the QI tuple with
    map-side partial counts (class cardinality << row count), then
    the k-bucket rollup re-keys CLASS-cardinality rows only — the
    same two-tier mergeable shape as q_drift_psi, so the audit runs
    per-partition and merges at 100 TB."""
    c = load_table(spark, sf_dir, "customer")
    classes = (
        c.select(
            "c_mktsegment",
            "c_nationkey",
            F.expr(_BAL_BAND_EXPR).alias("bal_band"),
        )
        .groupBy("c_mktsegment", "c_nationkey", "bal_band")
        .agg(F.count(F.lit(1)).alias("class_size"))
    )
    kb = (
        F.when(F.col("class_size") == 1, "k=1 (unique)")
        .when(F.col("class_size") < 5, "k=2-4")
        .when(F.col("class_size") < 10, "k=5-9")
        .otherwise("k>=10")
    )
    return classes.groupBy("c_mktsegment", kb.alias("k_bucket")).agg(
        F.count(F.lit(1)).alias("n_classes"),
        F.sum("class_size").alias("n_records"),
        F.sum(
            F.when(F.col("class_size") < 5, F.col("class_size")).otherwise(0)
        ).alias("n_suppress_at_k5"),
    )


# ---------------------------------------------------------------------------
# q_ldiversity_audit: l-diversity companion to the k-anonymity audit
# ---------------------------------------------------------------------------

_LDIV_ORACLE = f"""
  WITH qi AS (
    SELECT c_custkey, c_mktsegment, c_nationkey,
           {_BAL_BAND_SQL} AS bal_band
    FROM customer
  ), sens AS (
    SELECT o_custkey, o_orderpriority FROM orders
  ), classes AS (
    SELECT q.c_mktsegment, q.c_nationkey, q.bal_band,
           count(*) AS n_orders,
           count(DISTINCT q.c_custkey) AS class_size,
           count(DISTINCT s.o_orderpriority) AS l_div
    FROM qi q JOIN sens s ON s.o_custkey = q.c_custkey
    GROUP BY q.c_mktsegment, q.c_nationkey, q.bal_band
  )
  SELECT c_mktsegment,
         CAST(l_div AS BIGINT) AS l_div,
         count(*) AS n_classes,
         CAST(sum(class_size) AS BIGINT) AS n_members,
         CAST(sum(n_orders) AS BIGINT) AS n_orders
  FROM classes
  GROUP BY c_mktsegment, l_div
"""


@register(
    "q_ldiversity_audit",
    oracle=_LDIV_ORACLE,
    tags=("quality", "audit", "privacy", "ldiversity"),
)
def ldiversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L-diversity audit — k-anonymity's necessary companion: a class
    can be large (k-safe) while every member shares the same sensitive
    value, so the release still leaks it. Here the quasi-identifier is
    q_kanon_audit's (nation, segment, balance band) and the sensitive
    attribute is order priority: per QI class, count DISTINCT
    sensitive values (l), then report the per-segment distribution of
    l — classes at l=1 are homogeneity attacks waiting to happen.

    Scale shape: the sensitive join is key-grain (orders shuffled once
    on custkey, customers once — the FK edge q_referential_integrity
    audits), the class aggregate carries TWO distinct counts in one
    grouping (Spark plans a single Expand, not two passes), and the
    l-rollup re-keys class-cardinality rows only. Integer band
    arithmetic identical to q_kanon_audit (offset div, truncation-
    safe)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    qi = c.select(
        "c_custkey",
        "c_mktsegment",
        "c_nationkey",
        F.expr(_BAL_BAND_EXPR).alias("bal_band"),
    )
    classes = (
        qi.join(o.select("o_custkey", "o_orderpriority"),
                F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_mktsegment", "c_nationkey", "bal_band")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.countDistinct("c_custkey").alias("class_size"),
            F.countDistinct("o_orderpriority").alias("l_div"),
        )
    )
    return classes.groupBy("c_mktsegment", F.col("l_div").cast("long").alias("l_div")).agg(
        F.count(F.lit(1)).alias("n_classes"),
        F.sum("class_size").alias("n_members"),
        F.sum("n_orders").alias("n_orders"),
    )


# ---------------------------------------------------------------------------
# q_dp_release: deterministic discrete-Laplace DP histogram release
# ---------------------------------------------------------------------------

_DP_DENOM = float(1 << 48)  # md5 12-hex-digit prefix domain

_DP_ORACLE = f"""
  WITH counts AS (
    SELECT o_orderpriority, count(*) AS true_count
    FROM orders GROUP BY o_orderpriority
  ), noised AS (
    SELECT o_orderpriority, true_count,
           CAST(floor(-ln(1.0 - CAST('0x' || substr(
                 md5('dp1:' || o_orderpriority), 1, 12) AS BIGINT)
                 / {_DP_DENOM})) AS BIGINT)
           - CAST(floor(-ln(1.0 - CAST('0x' || substr(
                 md5('dp2:' || o_orderpriority), 1, 12) AS BIGINT)
                 / {_DP_DENOM})) AS BIGINT) AS noise
    FROM counts
  )
  SELECT o_orderpriority, true_count, noise,
         true_count + noise AS released_count
  FROM noised
"""


@register(
    "q_dp_release",
    oracle=_DP_ORACLE,
    tags=("quality", "privacy", "dp", "audit"),
)
def dp_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private histogram release — the third member of
    the privacy family (q_pii_redact scrubs, q_kanon_audit/
    q_ldiversity_audit measure, this RELEASES): per-priority order
    counts plus two-sided geometric (discrete Laplace) noise, the
    standard integer mechanism for sensitivity-1 counts. Noise is
    derived from md5 uniforms keyed by the GROUP (content-addressed —
    a re-run or backfill releases the identical value, so repeated
    publication spends epsilon once, where rand() would both break
    the oracle and silently spend budget per retry; a production
    release would key on a secret salt + release id).

    Mechanism: G = floor(-ln(1-u)) is geometric with alpha = e^-1
    (inverse-CDF; ln(alpha) = -1 exactly, so no exp() enters the
    expression tree — ln is the one transcendental, already proven
    bit-stable cross-engine by q_text_pmi/entropy); noise = G1 - G2
    is symmetric discrete Laplace at epsilon = 1 per geometric. The
    true_count column rides along because this is the audit view of
    the release, not the public artifact.

    Scale shape: one map-side-combined count aggregate; the noise is
    per-GROUP arithmetic on the bounded histogram — at 100 TB the
    release costs exactly the underlying groupBy."""
    o = load_table(spark, sf_dir, "orders")
    counts = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("true_count")
    )

    def _geo(tag: str):
        u = F.conv(
            F.substring(
                F.md5(
                    F.concat(F.lit(tag), F.col("o_orderpriority")).cast("binary")
                ),
                1,
                12,
            ),
            16,
            10,
        ).cast("bigint") / F.lit(_DP_DENOM)
        return F.floor(-F.log(1.0 - u)).cast("bigint")

    noised = counts.select(
        "o_orderpriority",
        "true_count",
        (_geo("dp1:") - _geo("dp2:")).alias("noise"),
    )
    return noised.select(
        "o_orderpriority",
        "true_count",
        "noise",
        (F.col("true_count") + F.col("noise")).alias("released_count"),
    )


# ---------------------------------------------------------------------------
# q_pipeline_warehouse_audit: the composed nightly audit suite
# ---------------------------------------------------------------------------


def _warehouse_audit_oracle() -> str:
    """Union of the constituent audits' own oracles, each reshaped to
    the (audit, entity, n_checked, n_flagged) contract — the oracle is
    the stage oracles spliced, the q_pipeline_corpus_build rule."""
    from pypiper_spark.queries.llm_filters import _GOPHER_ORACLE

    return f"""
      SELECT 'referential_integrity' AS audit, relation AS entity,
             n_keys AS n_checked, n_orphans AS n_flagged
      FROM ({_RI_ORACLE})
      UNION ALL
      SELECT 'pk_uniqueness', table_name, n_rows, n_dup_rows
      FROM ({_PK_ORACLE})
      UNION ALL
      SELECT 'quality_gopher', lang || '/' || source, n_docs,
             n_docs - n_pass
      FROM ({_GOPHER_ORACLE})
      UNION ALL
      SELECT 'k_anonymity', c_mktsegment || '/' || k_bucket, n_records,
             n_suppress_at_k5
      FROM ({_KANON_ORACLE})
    """


@register(
    "q_pipeline_warehouse_audit",
    oracle=_warehouse_audit_oracle(),
    tags=("quality", "audit", "pipeline"),
)
def pipeline_warehouse_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The nightly warehouse close as ONE job — the audit-suite
    composition next to q_pipeline_corpus_build (documents) and
    q_pipeline_sft_build (interactions): referential integrity over
    all 7 FK edges, PK uniqueness over all 8 tables, the Gopher
    quality gate per (lang, source), and the k-anonymity release
    check per segment, every verdict normalized to ONE report
    contract — (audit, entity, n_checked, n_flagged), all-integer
    columns so the composite stays exactly hashable.

    Composition rule: each stage IS its registered operator (the
    DataFrames come from the same functions the standalone queries
    register; the oracle is the stage oracles spliced) — drift
    between the suite and its members is structurally impossible.
    Scale shape: the stages are independent subtrees under one
    union — Spark schedules their scans concurrently inside one
    job, which is the operational point (one nightly action, one
    report table, one SLA) rather than a new plan shape."""
    from pypiper_spark.queries.llm_filters import quality_gopher

    ri = referential_integrity(spark, sf_dir).select(
        F.lit("referential_integrity").alias("audit"),
        F.col("relation").alias("entity"),
        F.col("n_keys").alias("n_checked"),
        F.col("n_orphans").alias("n_flagged"),
    )
    pk = pk_uniqueness(spark, sf_dir).select(
        F.lit("pk_uniqueness").alias("audit"),
        F.col("table_name").alias("entity"),
        F.col("n_rows").alias("n_checked"),
        F.col("n_dup_rows").alias("n_flagged"),
    )
    gf = quality_gopher(spark, sf_dir).select(
        F.lit("quality_gopher").alias("audit"),
        F.concat_ws("/", "lang", "source").alias("entity"),
        F.col("n_docs").alias("n_checked"),
        (F.col("n_docs") - F.col("n_pass")).alias("n_flagged"),
    )
    ka = kanon_audit(spark, sf_dir).select(
        F.lit("k_anonymity").alias("audit"),
        F.concat_ws("/", "c_mktsegment", "k_bucket").alias("entity"),
        F.col("n_records").alias("n_checked"),
        F.col("n_suppress_at_k5").alias("n_flagged"),
    )
    return ri.unionByName(pk).unionByName(gf).unionByName(ka)


# ---------------------------------------------------------------------------
# q_right_to_erasure: deletion propagation across the FK graph
# ---------------------------------------------------------------------------

_ERASURE_ORACLE = """
  WITH victims AS (
    SELECT c_custkey FROM customer WHERE c_custkey % 53 = 0
  ),
  o_purge AS (
    SELECT o_orderkey FROM orders
    WHERE o_custkey IN (SELECT c_custkey FROM victims)
  )
  SELECT 'customer' AS table_name,
         (SELECT count(*) FROM customer) AS n_rows,
         (SELECT count(*) FROM victims) AS n_purged,
         (SELECT count(*) FROM customer
          WHERE c_custkey NOT IN (SELECT c_custkey FROM victims))
           AS n_retained
  UNION ALL
  SELECT 'orders',
         (SELECT count(*) FROM orders),
         (SELECT count(*) FROM o_purge),
         (SELECT count(*) FROM orders
          WHERE o_custkey NOT IN (SELECT c_custkey FROM victims))
  UNION ALL
  SELECT 'lineitem',
         (SELECT count(*) FROM lineitem),
         (SELECT count(*) FROM lineitem
          WHERE l_orderkey IN (SELECT o_orderkey FROM o_purge)),
         (SELECT count(*) FROM lineitem
          WHERE l_orderkey NOT IN (SELECT o_orderkey FROM o_purge))
"""


@register(
    "q_right_to_erasure",
    oracle=_ERASURE_ORACLE,
    tags=("quality", "privacy", "erasure", "anti"),
)
def right_to_erasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deletion propagation — the right-to-erasure operation that
    completes the privacy family (audit: q_kanon/q_ldiversity;
    release: q_dp_release; ERASE: this): a deterministic victim set
    (every 53rd customer — the erasure request batch) propagates down
    the FK graph customer -> orders -> lineitem, and the report
    proves the purge: per table, total rows, rows purged, rows
    retained (purged + retained == total is the conservation law the
    property test pins; in production the purge commits as a
    deletion-vector DELETE — tableformat.delete_where /
    q_table_delete_vectors, r12 — so no retained row is rewritten;
    q_partition_overwrite shows the rewrite-style file mechanics).

    Scale shape (r7 single-pass rewrite, VERDICT r6 #4): each fact
    table pays ONE scan — a left outer join against its purge-key set
    (keys are unique by construction: victims is a filter on the
    customer PK, o_purge projects the orders PK, so the left join
    cannot fan out) marks every row purged-or-retained in place, and
    one aggregate computes all three verdicts (total, purged,
    retained) from the marks. The r6 form paid three broadcast
    semi/anti passes per table — same answers, 3x the scans (3.84 s
    vs the 0.42 s twin at 100x). The joins carry NO broadcast hints:
    the purge sets are victim-proportional, so AQE broadcasts them
    while small and falls back to shuffle joins beyond the threshold
    (a forced broadcast() would collect ~1/53 of orders to the driver
    at any scale — the q_market_share anti-pattern this repo already
    retired). The oracle states the same partition with IN / NOT IN
    subqueries.

    PINNED FLOOR (VERDICT r7 #8, settled r8): the 8.5x-vs-twin gap at
    the 100x corpus is AQE stage-submission latency, not data work —
    profiled branch work is 0.04 s warm, and a structurally different
    single-wide-aggregate fusion measured the SAME wall (both
    attempts recorded in BENCH.md r7/r8). The data term scales, the
    floor does not. A regression in the data term shows up as an
    interleaved perfbench A/B on one host, not as a fixed ceiling:
    a pinned number describes the host it was measured on."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    victims = c.filter(F.col("c_custkey") % 53 == 0).select("c_custkey")
    # no broadcast HINTS: the purge sets are victim-proportional (they
    # scale with the corpus here), so the planner/AQE sizes each join —
    # broadcast while small, shuffle semi join beyond the threshold.
    # Forcing broadcast() would collect ~1/53 of orders to the driver
    # at any scale (the q_market_share anti-pattern).
    o_purge = o.join(
        victims, F.col("o_custkey") == F.col("c_custkey"), "left_semi"
    ).select("o_orderkey")

    def _report(name, df, key, purge_keys, purge_col):
        # one scan: left-join the (unique-key) purge set as a marker,
        # then fold all three verdicts out of the marks in one agg.
        pk = purge_keys.select(F.col(purge_col).alias("__pk")).withColumn(
            "__hit", F.lit(1)
        )
        return (
            df.select(F.col(key))
            .join(pk, F.col(key) == F.col("__pk"), "left")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.count("__hit").alias("n_purged"),
                F.sum(F.when(F.col("__hit").isNull(), 1).otherwise(0))
                .cast("long")
                .alias("n_retained"),
            )
            .select(
                F.lit(name).alias("table_name"),
                "n_rows",
                "n_purged",
                "n_retained",
            )
        )

    rep_c = _report("customer", c, "c_custkey", victims, "c_custkey")
    rep_o = _report("orders", o, "o_custkey", victims, "c_custkey")
    rep_l = _report(
        "lineitem", li, "l_orderkey", o_purge, "o_orderkey"
    )
    return rep_c.unionByName(rep_o).unionByName(rep_l)
