"""Join operators (SURVEY.md section 2B: joins).

Scale notes per query are in the docstrings. The common rules:
- small dimension side -> explicit ``F.broadcast`` (no shuffle of the
  fact table);
- equi keys always in the join condition so Catalyst picks SMJ /
  shuffle-hash, never a nested loop;
- inequality-only joins are re-expressed as banded equi-joins
  (bucket + neighbor-bucket candidates, then exact filter) so they
  survive 100x data: a BroadcastNestedLoopJoin does not.
"""

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pypiper_spark.catalog import load_table
from pypiper_spark.compare import cents, dsum, sql_cents, sql_dsum
from pypiper_spark.registry import register


@register(
    "q_join_inner_equi",
    oracle="""
      SELECT o.o_orderkey, o.o_totalprice, c.c_name, c.c_mktsegment
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE o.o_totalprice > 100000.0
    """,
    tags=("join",),
)
def join_inner_equi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plain equi inner join; AQE picks broadcast vs SMJ by size."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 100000.0)
    c = load_table(spark, sf_dir, "customer")
    return o.join(c, o.o_custkey == c.c_custkey, "inner").select(
        "o_orderkey", "o_totalprice", "c_name", "c_mktsegment"
    )


from pypiper_spark.catalog import fits_broadcast as _fits_broadcast  # size gate


@register(
    "q_join_broadcast",
    oracle=f"""
      SELECT p.p_brand,
             count(*) AS n_items,
             {sql_dsum('l.l_extendedprice')} AS revenue
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY p.p_brand
    """,
    tags=("join", "aggregate"),
)
def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact x dim with an EXPLICIT broadcast hint — the demonstration
    query for the hint API itself (the rest of the repo leaves
    SF-scaled sides unhinted and lets the planner choose; see
    q_join_multiway). The hint is SIZE-GATED via _fits_broadcast: part
    is a data-scaled side, so the hint applies only while it actually
    fits the broadcast threshold; past that the query degrades to the
    planner's (AQE) strategy rather than forcing an OOM — the
    q_market_share lesson from round 5 made mechanical."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    dim = F.broadcast(p) if _fits_broadcast(spark, sf_dir, "part") else p
    return (
        li.join(dim, li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum("l_extendedprice").alias("revenue"),
        )
    )


@register(
    "q_join_left",
    oracle="""
      SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice
      FROM customer c LEFT JOIN orders o
        ON c.c_custkey = o.o_custkey AND o.o_totalprice > 250000.0
    """,
    tags=("join",),
)
def join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer with an extra join-side predicate (null padding)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    cond = (c.c_custkey == o.o_custkey) & (o.o_totalprice > 250000.0)
    return c.join(o, cond, "left").select("c_custkey", "c_name", "o_orderkey", "o_totalprice")


@register(
    "q_join_right",
    oracle="""
      SELECT o.o_orderkey, o.o_orderstatus, c.c_custkey, c.c_acctbal
      FROM orders o RIGHT JOIN customer c ON o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P'
    """,
    tags=("join",),
)
def join_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right outer join: null-padded left side, mirror of q_join_left."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    cond = (o.o_custkey == c.c_custkey) & (o.o_orderstatus == "P")
    return o.join(c, cond, "right").select("o_orderkey", "o_orderstatus", "c_custkey", "c_acctbal")


@register(
    "q_join_full",
    oracle="""
      WITH lo AS (SELECT c_custkey, c_name FROM customer WHERE c_custkey <= 100),
           hi AS (SELECT o_custkey, o_orderkey, o_totalprice FROM orders WHERE o_custkey >= 50)
      SELECT lo.c_custkey, lo.c_name, hi.o_custkey, hi.o_orderkey, hi.o_totalprice
      FROM lo FULL JOIN hi ON lo.c_custkey = hi.o_custkey
    """,
    tags=("join",),
)
def join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer: unmatched rows survive from BOTH sides."""
    lo = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") <= 100)
        .select("c_custkey", "c_name")
    )
    hi = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") >= 50)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )
    return lo.join(hi, lo.c_custkey == hi.o_custkey, "full").select(
        "c_custkey", "c_name", "o_custkey", "o_orderkey", "o_totalprice"
    )


@register(
    "q_join_semi",
    oracle="""
      SELECT c_custkey, c_name, c_acctbal FROM customer c
      WHERE EXISTS (SELECT 1 FROM orders o
                    WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000.0)
    """,
    tags=("join",),
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi: EXISTS without materializing the right side."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 200000.0)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name", "c_acctbal"
    )


@register(
    "q_join_anti",
    oracle="""
      SELECT c_custkey, c_name FROM customer c
      WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                        AND o.o_totalprice > CAST(400000.0 AS DOUBLE))
    """,
    tags=("join",),
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (NOT EXISTS): customers with no high-value order,
    no right-side materialization. (The filter makes the result
    non-vacuous: in this testdata EVERY customer has some order, so
    an unfiltered anti join would be an empty-vs-empty comparison at
    all scale factors.)"""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000.0)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


_THETA_ORACLE = """
  SELECT a.event_id AS id_lo, b.event_id AS id_hi,
         a.value AS value_lo, b.value AS value_hi
  FROM events a JOIN events b
    ON a.event_type = 'purchase' AND b.event_type = 'purchase'
   AND a.event_id < b.event_id
   AND b.value BETWEEN a.value - 0.05 AND a.value + 0.05
"""


@register("q_join_theta_range", oracle=_THETA_ORACLE, tags=("join", "theta"))
def join_theta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-band self-join WITHOUT an equi key.

    Naive form is a nested-loop (O(n^2) — dead at scale). We band
    values into width-0.05 buckets and equi-join on candidate buckets
    (b-1, b, b+1 via explode), then apply the exact predicate: a
    shuffle hash/SMJ join that scales linearly with band density.
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    band = 0.05
    # value is 2-decimal: bucket on exact integer cents (round(v*100) div 5),
    # not float division — float floor() can land a bucket off-by-one at
    # band edges and silently drop pairs (observed at sf0.01).
    cents_bucket = F.expr("cast(round(value * 100) as bigint) div 5")
    a = ev.select(
        F.col("event_id").alias("id_lo"),
        F.col("value").alias("value_lo"),
        cents_bucket.alias("bucket"),
    )
    b = ev.select(
        F.col("event_id").alias("id_hi"),
        F.col("value").alias("value_hi"),
        F.explode(
            F.array(cents_bucket - 1, cents_bucket, cents_bucket + 1)
        ).alias("bucket"),
    )
    return (
        a.join(b, "bucket")
        .filter(
            (F.col("id_lo") < F.col("id_hi"))
            & (F.col("value_hi") >= F.col("value_lo") - band)
            & (F.col("value_hi") <= F.col("value_lo") + band)
        )
        .select("id_lo", "id_hi", "value_lo", "value_hi")
    )


_INTERVAL_ORACLE = """
  SELECT s.event_id AS signup_id, e.event_id AS error_id,
         s.user_id, s.ts AS signup_ts, e.ts AS error_ts
  FROM events s JOIN events e
    ON s.event_type = 'signup' AND e.event_type = 'error'
   AND s.user_id = e.user_id
   AND e.ts BETWEEN s.ts AND s.ts + INTERVAL 1 HOUR
"""


@register("q_join_interval", oracle=_INTERVAL_ORACLE, tags=("join", "interval"))
def join_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join: errors within 1h after a signup, same user.

    The equi key (user_id) drives a hash/SMJ join; the time range is a
    residual filter. At 100 TB you'd additionally bucket both sides by
    coarse time so the state per key stays bounded."""
    ev = load_table(spark, sf_dir, "events")
    s = ev.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_id"),
        "user_id",
        F.col("ts").alias("signup_ts"),
    )
    e = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"),
        F.col("user_id").alias("e_user_id"),
        F.col("ts").alias("error_ts"),
    )
    return (
        s.join(
            e,
            (F.col("user_id") == F.col("e_user_id"))
            & (F.col("error_ts") >= F.col("signup_ts"))
            & (F.col("error_ts") <= F.col("signup_ts") + F.expr("INTERVAL 1 HOUR")),
        )
        .select("signup_id", "error_id", "user_id", "signup_ts", "error_ts")
    )


_ASOF_ORACLE = """
  SELECT e.event_id, e.user_id, e.ts,
         (SELECT max(c.ts) FROM events c
          WHERE c.user_id = e.user_id AND c.event_type = 'click' AND c.ts <= e.ts)
           AS last_click_ts
  FROM events e
  WHERE e.event_type = 'purchase'
"""


@register("q_join_asof", oracle=_ASOF_ORACLE, tags=("join", "asof"))
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase -> most recent click at-or-before it.

    Spark lacks a native as-of join; the scalable formulation is
    union + ordered window with last(ignorenulls) — ONE shuffle on the
    key, no nested loop, no per-row subquery. Clicks sort before
    purchases at equal ts so 'at-or-before' includes ties.
    """
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.lit(0).alias("kind"),
        F.col("ts").alias("click_ts"),
        F.lit(None).cast("long").alias("event_id"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lit(1).alias("kind"),
        F.lit(None).cast("timestamp_ntz").alias("click_ts"),
        "event_id",
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = clicks.unionByName(purchases).withColumn(
        "last_click_ts", F.last("click_ts", ignorenulls=True).over(w)
    )
    return merged.filter(F.col("kind") == 1).select(
        "event_id", "user_id", "ts", "last_click_ts"
    )


_MULTIWAY_ORACLE = f"""
  SELECT r.r_name, n.n_name,
         count(*) AS n_lineitems,
         (CAST(sum({sql_cents('l.l_extendedprice')}
                   * {sql_cents('1.0 - l.l_discount')}) AS DOUBLE) / 10000) AS revenue
  FROM region r
  JOIN nation n   ON n.n_regionkey = r.r_regionkey
  JOIN customer c ON c.c_nationkey = n.n_nationkey
  JOIN orders o   ON o.o_custkey = c.c_custkey
  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  GROUP BY r.r_name, n.n_name
"""


@register("q_join_multiway", oracle=_MULTIWAY_ORACLE, tags=("join", "aggregate"))
def join_multiway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped chain. nation/region keep broadcast hints
    (bounded at 25/5 rows by construction); customer and the fact
    joins are UNHINTED — customer is SF-scaled, so the planner
    broadcasts while sides fit 64 MB and shuffle-joins at 100 TB.

    The scale design is AGGREGATION PUSHDOWN below every join (the
    eager-aggregation rewrite a CBO would derive; Spark keeps the
    written shape): revenue/count aggregate per ORDER before touching
    orders (|lineitem| -> |orders| rows via map-side combine, a hash
    agg with no sort — cheaper than the SMJ sort of raw lineitem),
    then per CUSTOMER before touching the dim chain (-> |customer|
    rows), so every exchange after the first moves aggregate-sized
    data and the custkey join is dim x dim. Both final aggs merge
    exact integer cents, so the two-level split is
    associativity-safe. Measured at the 100x corpus (warm steady
    state): 19.9 s (join reorder alone) -> 5-7 s with the pushdown,
    of which ~5.6 s is the per-order aggregation itself (1.4 s scan +
    hash agg over 15 M groups) — the exchange-minimal floor for this
    shape; per-stage numbers in BENCH.md r4.

    BUCKETED-FACT ROUTE TRIED AND REJECTED (round 5, the one untried
    lever from VERDICT r4): reading lineitem/orders from orderkey-
    bucketed catalog twins (bucketing.ensure_bucketed) deletes both
    fact-side exchanges (5 -> 3 in the executed plan) — and still
    LOSES on local[32] at the 100x corpus: clean fresh-process A/B,
    3 runs each, eager-agg warm 4.6-5.4 s vs bucketed-SMJ 7.1-7.4 s
    vs bucketed-SHJ 6.7-6.8 s (+ a 21 s one-time bucket ingest). The
    exchanges it removes are memory-speed local shuffles of
    aggregate-sized rows, while the bucketed route pays a forced
    fact-fact join (sort or hash-table build on 7.5-15 M rows per
    side) that the eager-agg shape never materializes. On a real
    cluster the network flips the exchange cost, so the lever is
    plausible there — but it is not claimable from this harness.
    Full numbers and method: BENCH.md r5."""
    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz")
    )
    li = load_table(spark, sf_dir, "lineitem")
    dim = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey", "n_name", "r_name")
    )
    revenue = cents("l_extendedprice") * cents(F.lit(1.0) - F.col("l_discount"))
    per_order = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("_n"), F.sum(revenue).alias("_rc")
    )
    per_cust = (
        per_order.join(o, F.col("l_orderkey") == o.o_orderkey)
        .groupBy("o_custkey")
        .agg(F.sum("_n").alias("_n"), F.sum("_rc").alias("_rc"))
    )
    return (
        per_cust.join(dim, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("r_name", "n_name")
        .agg(
            F.sum("_n").alias("n_lineitems"),
            (F.sum("_rc").cast("double") / 10000).alias("revenue"),
        )
    )


_SELF_ORACLE = f"""
  SELECT l1.l_returnflag,
         count(*) AS n_pairs,
         {sql_dsum('l1.l_quantity * l2.l_quantity')} AS sum_qty_product
  FROM lineitem l1 JOIN lineitem l2
    ON l1.l_orderkey = l2.l_orderkey AND l1.l_linenumber < l2.l_linenumber
  GROUP BY l1.l_returnflag
"""


@register("q_join_self", oracle=_SELF_ORACLE, tags=("join",))
def join_self(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self equi-join on the order key (co-partitioned: one shuffle,
    then both sides share the exchange)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"
    )
    l1 = li.alias("l1")
    l2 = li.alias("l2")
    qty_prod = (F.col("l1.l_quantity") * F.col("l2.l_quantity")).alias("qp")
    return (
        l1.join(
            l2,
            (F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
            & (F.col("l1.l_linenumber") < F.col("l2.l_linenumber")),
        )
        .groupBy(F.col("l1.l_returnflag").alias("l_returnflag"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            dsum(F.col("l1.l_quantity") * F.col("l2.l_quantity")).alias("sum_qty_product"),
        )
    )


_CROSS_ORACLE = """
  SELECT r.r_name AS region_name, n.n_name AS nation_name,
         (n.n_regionkey = r.r_regionkey) AS is_home
  FROM region r CROSS JOIN nation n
"""


@register("q_join_cross", oracle=_CROSS_ORACLE, tags=("join", "cross"))
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True cartesian product (region x nation). Only sane when one
    side broadcasts: Spark plans BroadcastNestedLoopJoin with the
    5-row region in every executor — the cross join never shuffles
    the other side. The probe-grid pattern q_sim_topk_bruteforce
    scales this to a real workload."""
    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    return F.broadcast(r).crossJoin(n).select(
        F.col("r_name").alias("region_name"),
        F.col("n_name").alias("nation_name"),
        (F.col("n_regionkey") == F.col("r_regionkey")).alias("is_home"),
    )


@register(
    "q_join_skew_salted",
    oracle="""
      SELECT p.p_brand,
             count(*) AS n_items,
             CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS revenue_cents
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY p.p_brand
    """,
    tags=("join", "skew", "salt"),
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted equi-join: the explicit remedy for the hot-key join that
    AQE's skew splitting can't save (one key bigger than any
    split). The left (fact) side scatters each row across ``salt``
    sub-keys by a deterministic row hash; the right side is exploded
    once per salt value, so the join runs on (key, salt) and the hot
    key's bucket splits into 8 even ones. Salting is semantically
    invisible — the oracle is the PLAIN join — which is exactly the
    property that makes it safe to deploy: flip it on for a skewed
    key domain without touching results.

    Scale: right side is replicated salt x (8x part here), which is
    the knob to balance — salt big enough to flatten the hot key,
    small enough that the replicated side still fits its shuffle.
    Deterministic scatter (xxhash64 of the full row, never rand())
    keeps task retries and plan re-execution stable.
    Skew-splitting equivalence is property-tested on a 90%-hot-key
    fixture in tests/test_skew.py; here the operator runs as a
    first-class query under the driver's hash gate."""
    from pypiper_spark.functions.skew import salted_join

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_extendedprice"
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    joined = salted_join(
        li.withColumnRenamed("l_partkey", "p_partkey"), p, "p_partkey", salt=8
    )
    return joined.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(cents("l_extendedprice")).alias("revenue_cents"),
    )


_SHUFFLE_HASH_ORACLE = """
  SELECT o_orderpriority,
         count(*) AS n_lines,
         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  GROUP BY o_orderpriority
"""


@register(
    "q_join_shuffle_hash",
    oracle=_SHUFFLE_HASH_ORACLE,
    tags=("join", "hint", "shuffle-hash"),
)
def join_shuffle_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-strategy hint surface: SHUFFLE_HASH forces a shuffled hash
    join where the planner would default to sort-merge — the right
    call when one side is far smaller than the other but too big to
    broadcast: both sides shuffle, only the small side builds a hash
    table, and NEITHER side sorts. The result is hint-invariant (the
    oracle is the plain join); the plan test asserts
    ShuffledHashJoin actually happened. The hint trio is covered:
    BROADCAST (q_join_broadcast), MERGE (q_join_bucketed), and
    SHUFFLE_HASH here."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        o.hint("shuffle_hash")
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.col("l_quantity").cast("long")).alias("total_qty"),
        )
    )


_ASOF_NEAREST_ORACLE = """
  WITH merged AS (
    SELECT user_id, ts, 0 AS kind, ts AS click_ts, NULL::BIGINT AS event_id
    FROM events WHERE event_type = 'click'
    UNION ALL
    SELECT user_id, ts, 1, NULL, event_id
    FROM events WHERE event_type = 'purchase'
  ), win AS (
    SELECT *,
      last_value(click_ts IGNORE NULLS) OVER (
        PARTITION BY user_id ORDER BY ts, kind, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_ts,
      first_value(click_ts IGNORE NULLS) OVER (
        PARTITION BY user_id ORDER BY ts, kind, event_id
        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_ts
    FROM merged
  )
  SELECT event_id, user_id, ts,
         CASE WHEN prev_ts IS NULL THEN next_ts
              WHEN next_ts IS NULL THEN prev_ts
              WHEN epoch_us(ts) - epoch_us(prev_ts)
                   <= epoch_us(next_ts) - epoch_us(ts) THEN prev_ts
              ELSE next_ts END AS nearest_click_ts
  FROM win WHERE kind = 1
"""


@register("q_join_asof_nearest", oracle=_ASOF_NEAREST_ORACLE, tags=("join", "asof"))
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join, NEAREST direction (pandas merge_asof
    direction='nearest'): each purchase -> the click closest in time
    on EITHER side, ties to the earlier click. The backward variant
    (q_join_asof) misses a click one second after a purchase even
    when the nearest before is hours away — sensor/trade enrichment
    regularly wants nearest, not latest-before.

    Scale shape: the same union + ordered-window formulation as the
    backward as-of, extended with a second frame — last(ignorenulls)
    over the preceding rows gives the latest click at-or-before,
    first(ignorenulls) over the following rows gives the earliest
    click after. Both frames share one (user_id, ts) partition+sort,
    so Catalyst computes them in a SINGLE Window node behind ONE
    exchange — still no self-join, no per-row subquery, no nested
    loop. The winner is picked by exact integer microsecond
    distances (unix_micros), never float time arithmetic."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.lit(0).alias("kind"),
        F.col("ts").alias("click_ts"),
        F.lit(None).cast("long").alias("event_id"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lit(1).alias("kind"),
        F.lit(None).cast("timestamp_ntz").alias("click_ts"),
        "event_id",
    )
    order = ["ts", "kind", "event_id"]
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_next = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731
    merged = (
        clicks.unionByName(purchases)
        .withColumn("prev_ts", F.last("click_ts", ignorenulls=True).over(w_prev))
        .withColumn("next_ts", F.first("click_ts", ignorenulls=True).over(w_next))
    )
    nearest = (
        F.when(F.col("prev_ts").isNull(), F.col("next_ts"))
        .when(F.col("next_ts").isNull(), F.col("prev_ts"))
        .when(us("ts") - us("prev_ts") <= us("next_ts") - us("ts"), F.col("prev_ts"))
        .otherwise(F.col("next_ts"))
    )
    return merged.filter(F.col("kind") == 1).select(
        "event_id", "user_id", "ts", nearest.alias("nearest_click_ts")
    )


# ---------------------------------------------------------------------------
# q_join_runtime_filter: bloom runtime-filter pruned fact join
# ---------------------------------------------------------------------------

_RTF_ORACLE = f"""
  SELECT l.l_returnflag,
         count(*) AS n_items,
         (CAST(sum({sql_cents('l.l_extendedprice')}) AS DOUBLE) / 100)
           AS gross_price
  FROM lineitem l
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  WHERE o.o_orderpriority = '1-URGENT'
  GROUP BY l.l_returnflag
"""

_RTF_CONFS = {
    # force the shuffle-join regime (at 100 TB the urgent-orders leg
    # exceeds any broadcast limit; locally AQE would broadcast it and
    # no runtime filter would be needed — this query demonstrates the
    # big-big case)
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    # injection thresholds scaled to the local corpus; the DEFAULTS
    # (10GB application-side scan) fire on their own at warehouse scale
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
}


@register(
    "q_join_runtime_filter",
    oracle=_RTF_ORACLE,
    tags=("join", "runtime-filter", "bloom"),
)
def join_runtime_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime bloom-filter join pruning — the engine capability that
    makes selective big-big joins survive 100 TB: the urgent-orders
    leg is aggregated into a bloom filter DURING the query (Catalyst's
    InjectRuntimeFilter: bloom_filter_agg on the creation side,
    might_contain wrapped around the fact scan), so ~80% of lineitem
    rows are dropped BEFORE the fact-side shuffle instead of after the
    join. This is the dynamic cousin of static predicate pushdown —
    the filter doesn't exist until the dim side is evaluated.

    Conf scoping: injection thresholds are sized to the local corpus
    inside a save/restore guard (defaults fire unaided past 10GB
    scans), and the plan must be OPTIMIZED while they hold — runtime
    filters inject at optimization time, which lazy evaluation would
    defer until after restore; the eager localCheckpoint materializes
    the 3-row aggregate under the guard (the q_graph_triangles
    multi-consumer idiom, used here for conf lifetime instead). The
    checkpointed result is what the driver collects.

    Plan shape (pinned in tests): ObjectHashAggregate
    [bloom_filter_agg] feeding a might_contain filter UNDER the fact
    exchange — prune-then-shuffle, never shuffle-then-prune."""
    from pypiper_spark.session import scoped_confs

    with scoped_confs(spark, _RTF_CONFS):
        l = load_table(spark, sf_dir, "lineitem")
        o = load_table(spark, sf_dir, "orders")
        sel = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
            "o_orderkey"
        )
        joined = l.join(sel, F.col("l_orderkey") == F.col("o_orderkey"))
        out = joined.groupBy("l_returnflag").agg(
            F.count(F.lit(1)).alias("n_items"),
            (F.sum(cents("l_extendedprice")).cast("double") / 100).alias(
                "gross_price"
            ),
        )
        return out.localCheckpoint(eager=True)


# ---------------------------------------------------------------------------
# q_entity_resolution: blocked fuzzy join (entity matching)
# ---------------------------------------------------------------------------

_ER_ORACLE = """
  WITH named AS (
    SELECT c_custkey,
           'Customer#' || lpad(CAST(c_custkey AS VARCHAR), 12, '0') AS name
    FROM customer
  ), dirty AS (
    SELECT c_custkey + 3000000000000 AS dirty_id,
           CASE WHEN c_custkey % 2 = 0
                THEN substr(name, 1, 9 + c_custkey % 4)
                     || 'X' || substr(name, 11 + c_custkey % 4)
                ELSE substr(name, 1, 19 + c_custkey % 2)
                     || 'Z' || substr(name, 21 + c_custkey % 2)
           END AS dirty_name
    FROM named
  ), clean AS (
    SELECT c_custkey, name,
           substr(name, 1, 19) AS p19, substr(name, 17, 5) AS s5
    FROM named
  ), dk AS (
    SELECT dirty_id, dirty_name,
           substr(dirty_name, 1, 19) AS p19, substr(dirty_name, 17, 5) AS s5
    FROM dirty
  ), cand AS (
    SELECT c.c_custkey, c.name, d.dirty_id, d.dirty_name
    FROM clean c JOIN dk d ON c.p19 = d.p19
    UNION
    SELECT c.c_custkey, c.name, d.dirty_id, d.dirty_name
    FROM clean c JOIN dk d ON c.s5 = d.s5
  )
  SELECT dirty_id, c_custkey AS matched_key,
         CAST(lev AS BIGINT) AS lev_dist,
         CAST(c_custkey + 3000000000000 = dirty_id AS INT) AS is_correct
  FROM (
    SELECT dirty_id, c_custkey, lev,
           row_number() OVER (PARTITION BY dirty_id
                              ORDER BY lev, c_custkey) AS rn
    FROM (
      SELECT dirty_id, c_custkey,
             levenshtein(name, dirty_name) AS lev
      FROM cand
    )
    WHERE lev <= 2
  )
  WHERE rn = 1
"""


# packing base for the best-match election: must exceed every customer
# key (100x remapped keys reach ~1e12 < 2^42); lev <= 2 keeps
# 2 * 2^42 + key far inside a long
_ER_P = 1 << 42


@register(
    "q_entity_resolution",
    oracle=_ER_ORACLE,
    tags=("join", "fuzzy", "entity-resolution", "blocking"),
)
def entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution as a BLOCKED fuzzy join — the record-linkage
    workload (match a dirty feed against the master table) that a
    naive levenshtein cross join makes O(n*m): entity names are
    synthesized from the key (12-digit zero-pad — names UNIQUE per
    entity at every scale; the table's own c_name collapses to 15k
    strings at the 100x remapped corpus, which would make every block
    a 100x100 copy clique and measure a quadratically different
    workload — the q_join_theta_range lesson), the dirty side is a
    deterministic per-key corruption (even keys an early 'X'
    substitution, odd keys a late 'Z'), and matching runs MULTI-PASS
    BLOCKING — candidates agree on the 19-char prefix OR the 5-char
    suffix, two equi joins unioned — then exact edit-distance
    verification on the bounded candidate
    set only, and finally BEST-match election per dirty record
    (min (distance, key) — the standard linkage decision; the
    is_correct column scores it, and ties at distance 1 between the
    true entity and a numeric neighbor are the honest ER ambiguity
    this dense synthetic key space produces).

    Blocking design (the part that decides scale): each corruption
    touches exactly one position, so it can break ONE of the two keys
    but never both (substitutions at positions 10-13 vs 20-21; keys
    cover 1-19 and 17-21) — recall is exactly 1.0 BY CONSTRUCTION here, and the
    docstring-level honesty is that real dirty data makes multi-pass
    blocking a recall/cost dial, not a guarantee. Bucket widths stay
    bounded at any corpus size (prefix19 frees the last 2 digits — at
    most 100 keys/bucket; suffix5 ~n/10^5), so the verify set scales
    linearly (suffix4 measured 135 s at 100x; suffix5 cuts the
    candidate mass 10x).
    Levenshtein runs ONLY on candidates — never the cross product
    (plan test pins the two equi joins and no nested-loop join).

    Plan shape (r10 rework, measured 5.3 s -> 1.1 s at sf0.1, now
    0.55x the DuckDB twin):
    - the PROBE side is repartitioned 32-way before the broadcast
      joins: customer arrives in ~2 input splits and a broadcast join
      preserves stream-side partitioning, so without this the ~760k
      probe emissions + levenshtein ran on 2 cores (this was 4.4 of
      the 5.4 s — the classic tiny-source/huge-amplification trap; a
      cluster hits it whenever a small dim explodes through a join);
    - the two blocking passes are made DISJOINT (pass 2 keeps only
      pairs whose 19-char prefixes differ) so the union needs no
      distinct — drops a 757k-row 4-string-column shuffle entirely;
    - the best-match election is a packed-min hash aggregate
      (min(lev * 2^42 + key) realizes (min lev, min key) — the
      q_graph_label_propagation packing discipline) instead of a
      row_number window: partial aggregation shrinks each partition
      to <=|dirty| rows BEFORE the shuffle, where the window had to
      shuffle every verified pair."""
    c = load_table(spark, sf_dir, "customer")
    named = c.select(
        "c_custkey",
        F.concat(
            F.lit("Customer#"),
            F.lpad(F.col("c_custkey").cast("string"), 12, "0"),
        ).alias("name"),
    )
    dirty = named.select(
        (F.col("c_custkey") + 3000000000000).alias("dirty_id"),
        F.when(
            F.col("c_custkey") % 2 == 0,
            F.concat(
                F.expr("substr(name, 1, 9 + c_custkey % 4)"),
                F.lit("X"),
                F.expr("substr(name, 11 + c_custkey % 4)"),
            ),
        )
        .otherwise(
            F.concat(
                F.expr("substr(name, 1, 19 + c_custkey % 2)"),
                F.lit("Z"),
                F.expr("substr(name, 21 + c_custkey % 2)"),
            )
        )
        .alias("dirty_name"),
    )
    clean = named.select(
        "c_custkey",
        "name",
        F.substring("name", 1, 19).alias("p19"),
        F.substring("name", 17, 5).alias("s5"),
    ).repartition(32)  # spread the probe: see docstring plan shape
    dk = dirty.select(
        "dirty_id",
        "dirty_name",
        F.substring("dirty_name", 1, 19).alias("p19"),
        F.substring("dirty_name", 17, 5).alias("s5"),
    )
    p_pairs = clean.join(F.broadcast(dk), "p19").select(
        "c_custkey", "name", "dirty_id", "dirty_name"
    )
    # pass 2 emits only pairs pass 1 cannot find (prefixes differ), so
    # the union is disjoint by construction — no distinct needed; each
    # pair appears at most once per block (one p19/s5 per row)
    s_pairs = (
        clean.join(F.broadcast(dk), "s5")
        .filter(
            F.substring("name", 1, 19) != F.substring("dirty_name", 1, 19)
        )
        .select("c_custkey", "name", "dirty_id", "dirty_name")
    )
    scored = (
        p_pairs.unionAll(s_pairs)
        .select(
            "dirty_id",
            "c_custkey",
            F.levenshtein("name", "dirty_name").alias("lev"),
        )
        .filter(F.col("lev") <= 2)
    )
    # packed-min election: lev <= 2 and keys < 2^42 (100x remap bound),
    # so min(lev * P + key) == lexicographic min (lev, key) == the
    # window's rn=1 row under ORDER BY lev, c_custkey
    pk = F.min(F.col("lev") * _ER_P + F.col("c_custkey")).alias("pk")
    return (
        scored.groupBy("dirty_id")
        .agg(pk)
        .select(
            "dirty_id",
            (F.col("pk") % _ER_P).alias("matched_key"),
            (F.col("pk") / F.lit(_ER_P)).cast("bigint").alias("lev_dist"),
            ((F.col("pk") % _ER_P) + 3000000000000 == F.col("dirty_id"))
            .cast("int")
            .alias("is_correct"),
        )
    )
