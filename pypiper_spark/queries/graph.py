"""Iterative graph analytics: exact fixed-iteration PageRank over the
part-supplier bipartite graph derived from lineitem.

The reference's pipeline calculus can express iteration only by
looping a pipeline in driver code; here the loop UNROLLS into one
declarative plan (5 rounds of join + aggregate), so Catalyst sees the
whole computation and every round is distributed — the companion to
q_dedup_components' large-star/small-star fixpoint, but with
*numeric* state instead of labels.

Exactness discipline: PageRank is usually float (and therefore
unhashable across engines). This implementation carries ranks in
integer MICRO-UNITS (1e6 = rank 1.0) and replaces the damped-spread
`0.85 * r / outdeg` with `(17 * r) div (20 * outdeg)` — BIGINT floor
division, bit-identical in any engine and associativity-safe under
the sum. The floor leaks at most outdeg micro-units per node per
round (bounded, one-sided), which is far below the ranking
granularity this query reports; what matters here is that both
engines compute the *same* integers.

Scale shape (verified in tests/test_plans.py): the edge list is
distinct-collapsed once and persisted — every iteration re-reads the
cached edges instead of re-deriving them from lineitem. Each round is
one equi join (ranks x edges on src) + one hash aggregate (on dst),
both partitioned on node id, so a cluster reuses the same hash
partitioning round over round; rounds are FIXED at 5 (diameter-free
termination — no driver-side convergence collect). At 100 TB:
pre-partition edges by src (bucketed write) and the per-round join
becomes exchange-free on the edge side; ranks-side exchanges move
node-cardinality rows only, never edges.
"""

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pypiper_spark.catalog import fits_broadcast, load_table
from pypiper_spark.fingerprint import persist_if_small
from pypiper_spark.registry import register

_N_ITER = 5
_SCALE = 1_000_000  # micro-units: rank 1.0 == 1e6
_JUMP = 150_000  # (1 - 0.85) in micro-units


def _oracle() -> str:
    """Unrolled fixed-iteration PageRank in plain SQL (no recursive
    aggregate, which ANSI recursive CTEs disallow): pr0..pr5 chained
    CTEs, each one join+group-by using the identical BIGINT floor
    division."""
    steps = []
    for i in range(_N_ITER):
        steps.append(
            f"""pr{i + 1} AS (
        SELECT e.dst AS node,
               {_JUMP} + coalesce(sum((17 * p.r) // (20 * d.outdeg)), 0)
                 AS r
        FROM edges e
        JOIN deg d ON d.node = e.src
        JOIN pr{i} p ON p.node = e.src
        GROUP BY e.dst
      )"""
        )
    chain = ",\n      ".join(steps)
    return f"""
      WITH pairs AS (
        SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
      ),
      edges AS (
        SELECT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst FROM pairs
        UNION ALL
        SELECT l_suppkey * 2 + 1 AS src, l_partkey * 2 AS dst FROM pairs
      ),
      deg AS (
        SELECT src AS node, count(*) AS outdeg FROM edges GROUP BY src
      ),
      pr0 AS (
        SELECT node, CAST({_SCALE} AS BIGINT) AS r FROM deg
      ),
      {chain}
      SELECT CASE WHEN node % 2 = 0 THEN 'part' ELSE 'supplier' END
               AS node_type,
             node // 2 AS node_key,
             CAST(r AS BIGINT) AS rank_micro
      FROM pr{_N_ITER}
    """


@register("q_graph_pagerank", oracle=_oracle(), tags=("graph", "iterative"))
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-iteration damped PageRank (d=0.85) over the undirected-ized
    part<->supplier graph, ranks in exact integer micro-units."""
    pairs = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    fwd = pairs.select(
        (F.col("l_partkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
    )
    rev = pairs.select(
        (F.col("l_suppkey") * 2 + 1).alias("src"),
        (F.col("l_partkey") * 2).alias("dst"),
    )
    # lifetime: session.release_query_caches policy
    edges = fwd.unionAll(rev).persist()
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("outdeg")
    )
    ranks = deg.select("node", F.lit(_SCALE).cast("long").alias("r"))
    ed = edges.join(
        deg.withColumnsRenamed({"node": "src"}), "src"
    )  # (src, dst, outdeg), cache-backed edge side
    # r13: the ed subtree appears once PER UNROLLED ROUND in the plan,
    # and runtime exchange reuse does not cover the join re-execution —
    # measured at sf0.1 (interleaved A/B, canary 3.7-5.4): base
    # 7.58/7.07/5.54 vs ed-persisted 4.22/5.15/3.15 s. Persisting is
    # SIZE-GATED exactly like the LPA pair cache below (<256 MB source
    # -> cache pays; at the 100x corpus a ~E-cardinality cache loses to
    # recomputing over page-cached scans, the measured r9/r6 result),
    # so the 100x behavior — where the sublinear adjudication and
    # SCALE_CLAIMED_SEC pin were taken — is unchanged.
    # lifetime: session.release_query_caches
    ed = persist_if_small(ed, sf_dir, "lineitem")
    # A cached ed is sized by its compressed column batches, which can
    # fall under the broadcast threshold while its hash table is many
    # times bigger; AQE then broadcasts the E-cardinality edge side in
    # every round (driver OOM at sf0.1 in a 1 GB plain session with 4-8
    # shuffle partitions). Where lineitem itself would not fit a
    # broadcast, build on the node-cardinality rank side instead; below
    # that, broadcasting the edges is the faster plan.
    big_edges = ed.is_cached and not fits_broadcast(spark, sf_dir, "lineitem")
    build_side = F.broadcast if big_edges else (lambda df: df)
    for it in range(_N_ITER):
        ranks = (
            ed.join(build_side(ranks.withColumnsRenamed({"node": "src"})), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(
                (
                    F.lit(_JUMP)
                    + F.coalesce(
                        F.sum(F.expr("(17 * r) div (20 * outdeg)")), F.lit(0)
                    )
                ).alias("r")
            )
        )
        # Lineage guard for deeper runs: at the fixed 5 rounds the
        # unrolled plan is fine, but past that the join-on-join lineage
        # grows a plan Catalyst re-analyzes per action (the same blowup
        # the dedup fixpoints cut with localCheckpoint). Checkpoint
        # every 5th intermediate iteration so the shape generalizes
        # when _N_ITER is raised, without changing the 5-round plan
        # the bench measures (never fires at _N_ITER <= 5).
        if (it + 1) % 5 == 0 and (it + 1) < _N_ITER:
            ranks = ranks.localCheckpoint()
    return ranks.select(
        F.when(F.col("node") % 2 == 0, "part")
        .otherwise("supplier")
        .alias("node_type"),
        F.expr("node div 2").alias("node_key"),
        F.col("r").alias("rank_micro"),
    )


_TRIANGLE_ORACLE = """
  WITH op AS (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
  ),
  pairs AS (
    SELECT a.l_partkey AS pa, b.l_partkey AS pb
    FROM op a JOIN op b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  ),
  edges AS (
    SELECT pa AS a, pb AS b FROM pairs
    GROUP BY pa, pb HAVING count(*) >= 3
  ),
  nodes AS (
    SELECT a AS v FROM edges UNION SELECT b FROM edges
  ),
  wedges AS (
    SELECT e1.a, e1.b, e2.b AS c
    FROM edges e1 JOIN edges e2 ON e1.b = e2.a
  ),
  tri AS (
    SELECT 1 FROM wedges w JOIN edges e ON e.a = w.a AND e.b = w.c
  )
  SELECT (SELECT count(*) FROM nodes) AS n_nodes,
         (SELECT count(*) FROM edges) AS n_edges,
         (SELECT count(*) FROM wedges) AS n_wedges,
         (SELECT count(*) FROM tri) AS n_triangles
"""


@register("q_graph_triangles", oracle=_TRIANGLE_ORACLE, tags=("graph", "join"))
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census over the strong co-purchase graph (parts that
    co-occur in >= 3 orders): nodes, edges, wedges (2-paths), closed
    triangles — the structural signal behind clustering-coefficient
    and community features in recommendation pipelines.

    Scale shape: the graph is built from DISTINCT (order, part) with
    bounded per-order fanout (<= C(7,2) pairs/order — same boundedness
    argument as q_copurchase_pairs) and the support >= 3 cut keeps
    only strong edges. Triangles close NODE-ITERATOR style (r13):
    per-node adjacency lists + an in-row sorted-set intersection per
    edge (a < b everywhere, so each triangle counts exactly once at
    its closing edge), so no shuffle ever carries the wedge set — the
    quadratic term stays inside bounded-degree rows. At a corpus
    where hub degrees break that bound, the standard fix is
    DEGREE-ordered orientation (orient each edge toward the
    higher-(degree, id) endpoint, capping per-node out-degree near
    sqrt(|E|)); the support cut already bounds hubs here, so the plan
    keeps the simpler id-orientation the oracle can state exactly."""
    li = load_table(spark, sf_dir, "lineitem")
    # r12 optimization round: order-blocked pair generation via ONE
    # basket aggregate + in-row HOF explosion instead of the
    # distinct + self-join form — 4 exchanges -> 2, identical pairs
    # (collect_set dedups (order, part); per-order fanout bounded at
    # C(7,2)). Same rework as q_copurchase_pairs; see its comment.
    baskets = (
        li.select("l_orderkey", "l_partkey")
        .groupBy("l_orderkey")
        .agg(F.collect_set("l_partkey").alias("parts"))
    )
    op_pairs = baskets.select(
        F.explode(
            F.expr(
                "filter(flatten(transform(parts,"
                " x -> transform(parts, y -> struct(x as pa, y as pb)))),"
                " p -> p.pa < p.pb)"
            )
        ).alias("p")
    ).select("p.pa", "p.pb")
    edges = (
        op_pairs.groupBy(F.col("pa").alias("a"), F.col("pb").alias("b"))
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 3)
        .select("a", "b")
        .localCheckpoint()  # four consumers (nodes, degrees, closing edges)
    )
    nodes = edges.select(F.col("a").alias("v")).union(
        edges.select(F.col("b").alias("v"))
    ).distinct()
    # r13 (guide §2.3/§2.4 — never shuffle the wedge set): the r5-r12
    # form MATERIALIZED every wedge (e1 ⨝ e2 on the middle node) and
    # shuffled the W-cardinality wedge stream into the closing join —
    # W = Σ_v in(v)·out(v) is the quadratic term of the whole query.
    # Node-iterator rewrite: per-node adjacency lists (bounded by the
    # support-cut degree, see docstring), so
    #   n_wedges    = Σ_v in(v)·out(v)           (a degree product),
    #   n_triangles = Σ_(a,c)∈E |N_out(a) ∩ N_in(c)|
    # — the SAME counts (each wedge row was one (in-edge, out-edge)
    # pair at its middle node; each closed triangle a<b<c is counted
    # once at its closing edge (a,c), b ∈ N_out(a) ∩ N_in(c)), with
    # every shuffle now edge- or node-cardinality, never W.
    adj_out = edges.groupBy(F.col("a").alias("v")).agg(
        F.collect_list("b").alias("nb_out")
    )
    adj_in = edges.groupBy(F.col("b").alias("v")).agg(
        F.collect_list("a").alias("nb_in")
    )
    wedge_cnt = adj_out.join(adj_in, "v").agg(
        F.coalesce(
            F.sum(F.size("nb_out").cast("long") * F.size("nb_in")),
            F.lit(0).cast("long"),
        ).alias("n_wedges")
    )
    tri_cnt = (
        edges.join(adj_out, edges.a == adj_out.v)
        .join(adj_in, edges.b == adj_in.v)
        .agg(
            F.coalesce(
                F.sum(
                    F.size(F.array_intersect("nb_out", "nb_in")).cast("long")
                ),
                F.lit(0).cast("long"),
            ).alias("n_triangles")
        )
    )
    return (
        nodes.agg(F.count(F.lit(1)).alias("n_nodes"))
        .crossJoin(edges.agg(F.count(F.lit(1)).alias("n_edges")))
        .crossJoin(wedge_cnt)
        .crossJoin(tri_cnt)
    )


_LPA_ROUNDS = 4
# Packing base for the deterministic argmax: score = c*P + (P-1-label)
# so max(score) realizes (max count, then MIN label). P must exceed
# every node id (100x remapped keys reach ~1e12 < 2^42) and c*P must
# fit a long (degree is co-purchase-bounded at a few hundred:
# 2^20 * 2^42 = 2^62 < 2^63 with orders of margin).
_LPA_P = 1 << 42

# r13: in-row sorted-run mode with the packed-argmax tie-break
# ((max count, then MIN label) — labels arrive sorted ascending, and a
# run only replaces the incumbent on a STRICTLY greater count, so among
# equal counts the first/smallest label wins). Shared by the LPA round
# and its equivalence test.
_LPA_MODE_EXPR = """
  aggregate(
    ls,
    named_struct(
      'bc', cast(0 as bigint), 'bl', cast(-1 as bigint),
      'cc', cast(0 as bigint), 'cl', cast(-1 as bigint)),
    (acc, x) -> case
      when acc.cc = cast(0 as bigint) or cast(x as bigint) = acc.cl
        then named_struct('bc', acc.bc, 'bl', acc.bl,
                          'cc', acc.cc + cast(1 as bigint),
                          'cl', cast(x as bigint))
      when acc.cc > acc.bc
        then named_struct('bc', acc.cc, 'bl', acc.cl,
                          'cc', cast(1 as bigint), 'cl', cast(x as bigint))
      else named_struct('bc', acc.bc, 'bl', acc.bl,
                        'cc', cast(1 as bigint), 'cl', cast(x as bigint))
    end,
    acc -> if(acc.cc > acc.bc, acc.cl, acc.bl))
"""


def _lpa_oracle() -> str:
    """Unrolled synchronous label propagation in plain SQL: per round
    one (node, label) vote count plus one packed-argmax group-by,
    chained cnt1/lbl1..cntR/lblR CTEs with the identical BIGINT
    packing arithmetic — the q_graph_pagerank unrolling discipline
    applied to a second integer-state fixpoint."""
    steps = []
    for i in range(_LPA_ROUNDS):
        steps.append(
            f"""cnt{i + 1} AS (
        SELECT e.dst AS node, l.label, count(*) AS c
        FROM sym e JOIN lbl{i} l ON l.node = e.src
        GROUP BY e.dst, l.label
      ),
      lbl{i + 1} AS (
        SELECT node,
               {_LPA_P} - 1 - (max(c * {_LPA_P} + ({_LPA_P} - 1 - label))
                 % {_LPA_P}) AS label
        FROM cnt{i + 1} GROUP BY node
      )"""
        )
    chain = ",\n      ".join(steps)
    return f"""
      WITH op AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
      ),
      pairs AS (
        SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
        FROM op a JOIN op b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      ),
      nodes AS (
        SELECT pa AS v FROM pairs UNION SELECT pb FROM pairs
      ),
      sym AS (
        SELECT pa AS src, pb AS dst FROM pairs
        UNION ALL
        SELECT pb AS src, pa AS dst FROM pairs
        UNION ALL
        SELECT v AS src, v AS dst FROM nodes
      ),
      lbl0 AS (
        SELECT v AS node, v AS label FROM nodes
      ),
      {chain}
      SELECT CAST(node AS BIGINT) AS part_key,
             CAST(label AS BIGINT) AS community
      FROM lbl{_LPA_ROUNDS}
    """


@register(
    "q_graph_label_propagation",
    oracle=_lpa_oracle(),
    tags=("graph", "iterative"),
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label-propagation communities over the co-purchase
    graph (parts that ever share an order): each node starts labeled
    with its own id and per round adopts the most frequent label among
    its neighbors plus ITSELF (the self-vote damps the oscillation
    synchronous LPA exhibits on bipartite-ish structure), most
    frequent ties broken toward the SMALLEST label. 4 fixed rounds,
    output (part_key, community) per node — the spam-cluster /
    crawl-community detector the verdict asked for next to
    pagerank/components (VERDICT r5 punch item 6).

    Exactness discipline (the q_graph_pagerank rule): all state is
    integer. The vote argmax packs (count, label) into one BIGINT —
    score = c*P + (P-1-label), P = 2^42 > any node id, so max(score)
    IS (max count, min label) and both engines recover label =
    P-1-(max(score) % P) bit-identically; no float, no struct
    comparison semantics to trust across engines.

    Scale shape: the symmetrized edge list (+self-loops) persists
    once; each round is one equi join (labels x edges on src) + two
    hash aggregates, everything partitioned on node id so a cluster
    reuses the same hash partitioning round over round; rounds are
    FIXED (no driver-side convergence collect), and the fixpoint
    state is node-cardinality — edges never rewrite. K-core peeling
    was evaluated for this slot and REJECTED on measurement: the
    synthetic co-purchase graph is near-regular (degree p10-p90 =
    89-151 at sf0.1), so every k either keeps ~everything (1 round,
    trivial) or cascades to an EMPTY core in <= 7 rounds — no stable
    non-trivial output to oracle across scale factors; LPA produces
    meaningful communities at every SF (201/2000/20000 node rows)."""
    li = load_table(spark, sf_dir, "lineitem")
    # r12: basket-explode pair generation (see graph_triangles /
    # q_copurchase_pairs) — 4 exchanges -> 2 for the same pair set
    baskets = (
        li.select("l_orderkey", "l_partkey")
        .groupBy("l_orderkey")
        .agg(F.collect_set("l_partkey").alias("parts"))
    )
    pairs = (
        baskets.select(
            F.explode(
                F.expr(
                    "filter(flatten(transform(parts,"
                    " x -> transform(parts, y -> struct(x as pa, y as pb)))),"
                    " p -> p.pa < p.pb)"
                )
            ).alias("p")
        )
        .select("p.pa", "p.pb")
        .distinct()
    )
    # SIZE-ADAPTIVE pair cache (VERDICT r8 next #4): the construction
    # join re-runs for each downstream branch (fwd, rev, twice inside
    # nodes) when sym materializes. Persisting the pair table was
    # measured BOTH ways: at sf0.1 it cuts the query 7.9 s -> 5.6 s
    # (3 interleaved reps, r9), but at the 100x corpus it LOSES
    # 296 s -> 316 s (BENCH.md r6) — caching a 120M-row intermediate
    # costs more than recomputing the page-cached scan+join. The
    # policy a cluster would run is the same: cache when the input is
    # comfortably below executor memory, recompute when it is not.
    # The gate keys on the lineitem source size (deterministic,
    # plan-time) — ~18 MB at sf0.1 vs ~1 GB at 100x.
    # lifetime: session.release_query_caches
    pairs = persist_if_small(pairs, sf_dir, "lineitem")
    nodes = (
        pairs.select(F.col("pa").alias("v"))
        .union(pairs.select(F.col("pb").alias("v")))
        .distinct()
    )
    # r13: the persisted edge frame is PRE-PARTITIONED on the per-round
    # join key (guide §2.4/§3.3, VERDICT r12 next #2). At sf0.1 sym is
    # under the broadcast threshold and the round join stays a BHJ
    # either way; at a corpus where sym exceeds it, the round join
    # becomes a sort-merge/shuffled-hash whose EDGE side would
    # re-exchange E-cardinality rows every round — the cached
    # hashpartitioning(src) satisfies the join's distribution, so each
    # round exchanges only the node-cardinality label side. One
    # build-time exchange buys 4 rounds of edge-side reuse.
    sym = (
        pairs.select(F.col("pa").alias("src"), F.col("pb").alias("dst"))
        .unionAll(pairs.select(F.col("pb").alias("src"), F.col("pa").alias("dst")))
        .unionAll(nodes.select(F.col("v").alias("src"), F.col("v").alias("dst")))
        .repartition(F.col("src"))
        .persist()  # lifetime: session.release_query_caches policy
    )
    lbl = nodes.select(F.col("v").alias("node"), F.col("v").alias("label"))
    # r13: the round's TWO aggregates (per-(node, label) vote count ->
    # packed argmax) fuse into ONE (guide §1.2/§2.4): collect the
    # neighbor-label votes per node in a single exchange and take the
    # mode in-row with a sorted-run scan. Equivalence to the packed
    # (max count, then MIN label) argmax: the vote list is sorted
    # ascending, so runs arrive in ascending label order, and a run
    # only replaces the best on a STRICTLY greater count — among
    # equal-count labels the first (smallest) wins, exactly the old
    # tie-break. Removes one N-cardinality shuffle + one stage per
    # round; vote volume per node is degree-bounded (the co-purchase
    # support argument in the docstring), so the collected list is the
    # same bounded size the old count rows carried.
    for it in range(_LPA_ROUNDS):
        votes = sym.join(lbl.withColumnsRenamed({"node": "src"}), "src")
        lbl = (
            votes.groupBy(F.col("dst").alias("node"))
            .agg(F.sort_array(F.collect_list("label")).alias("ls"))
            .select("node", F.expr(_LPA_MODE_EXPR).alias("label"))
        )
        # same lineage guard as pagerank: never fires at 4 rounds but
        # keeps the shape valid if _LPA_ROUNDS is raised
        if (it + 1) % 5 == 0 and (it + 1) < _LPA_ROUNDS:
            lbl = lbl.localCheckpoint()
    return lbl.select(
        F.col("node").cast("long").alias("part_key"),
        F.col("label").cast("long").alias("community"),
    )
