"""Similarity search over the embeddings table (SURVEY.md 2B
north-star: q_sim_*, q_multimodal_stats).

Scale design:
- exact pair scoring and brute-force top-k broadcast the (small) probe
  set against the full table: a map-only pass, no shuffle of the big
  side, linear in corpus size;
- the ANN path (random-hyperplane LSH) replaces the linear scan with a
  bucket equi-join — the 100 TB strategy where brute force dies. The
  hyperplanes are seeded literals (SURVEY.md 7.3: no entropy at plan
  time), so results are reproducible run-to-run and node-to-node.
"""

import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pypiper_spark.catalog import load_table
from pypiper_spark.fingerprint import (
    artifact,
    atomic_write_df,
    atomic_write_table,
    index_path,
    table_num_rows,
)
from pypiper_spark.functions.vectors import cosine, norm, sql_cosine, sql_dot, to_double
from pypiper_spark.registry import register

_PAIRS = [(1, 2), (3, 4), (5, 6), (7, 8), (10, 20), (42, 142), (99, 199)]
_PROBE_IDS = (1, 2, 3)

_PAIR_ORACLE = f"""
  WITH pairs(id_a, id_b) AS (VALUES {", ".join(f"({a}, {b})" for a, b in _PAIRS)})
  SELECT p.id_a, p.id_b,
         round({sql_cosine('a.embedding', 'b.embedding')}, 6) AS cos_sim,
         round(sqrt({sql_dot('a.embedding', 'a.embedding')}), 6) AS norm_a
  FROM pairs p
  JOIN embeddings a ON a.vec_id = p.id_a
  JOIN embeddings b ON b.vec_id = p.id_b
"""


@register("q_sim_cosine_pair", oracle=_PAIR_ORACLE, tags=("similarity",))
def sim_cosine_pair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine for a fixed probe pair list (broadcast both sides)."""
    e = load_table(spark, sf_dir, "embeddings")
    pairs = spark.createDataFrame(_PAIRS, "id_a long, id_b long")
    a = e.select(F.col("vec_id").alias("id_a"), to_double("embedding").alias("va"))
    b = e.select(F.col("vec_id").alias("id_b"), to_double("embedding").alias("vb"))
    return (
        F.broadcast(pairs)
        .join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(cosine(F.col("va"), F.col("vb")), 6).alias("cos_sim"),
            F.round(norm(F.col("va")), 6).alias("norm_a"),
        )
    )


_TOPK_ORACLE = f"""
  WITH probes AS (
    SELECT vec_id AS probe_id, embedding AS pv FROM embeddings
    WHERE vec_id IN {_PROBE_IDS}
  ), scored AS (
    SELECT p.probe_id, e.vec_id, e.label,
           round({sql_cosine('p.pv', 'e.embedding')}, 6) AS cos_sim
    FROM probes p CROSS JOIN embeddings e
    WHERE e.vec_id != p.probe_id
  )
  SELECT probe_id, vec_id, label, cos_sim, nn_rank FROM (
    SELECT *, row_number() OVER (PARTITION BY probe_id
                                 ORDER BY cos_sim DESC, vec_id) AS nn_rank
    FROM scored
  ) WHERE nn_rank <= 10
"""


@register("q_sim_topk_bruteforce", oracle=_TOPK_ORACLE, tags=("similarity", "topk"))
def sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-10 nearest neighbors for 3 probes.

    Scoring is a vectorized pandas UDF: the tiny probe matrix rides in
    the closure; each Arrow batch does ONE numpy matmul against all
    probes. At sf0.1 (5k vectors) this times the same as the
    higher-order-function fold it replaced — both are overhead-bound —
    but the matmul is O(batch) Python crossings instead of O(rows x
    dims) expression evals, which is the scaling story at a real
    corpus size. A map-only pass, then per-probe window top-k.
    Similarity rounds BEFORE ranking so ordering is engine-stable
    (matmul accumulation order differs from the oracle's sequential
    fold by ~1e-14; rounding at 1e-6 absorbs it)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    e = load_table(spark, sf_dir, "embeddings")
    probe_rows = (
        e.filter(F.col("vec_id").isin(*_PROBE_IDS))
        .select("vec_id", "embedding")
        .collect()
    )
    probe_ids = [r.vec_id for r in probe_rows]
    P = np.array([r.embedding for r in probe_rows], dtype=np.float64)
    Pn = P / np.linalg.norm(P, axis=1, keepdims=True)

    def _scores(emb: pd.Series) -> pd.Series:
        E = np.vstack(emb.to_numpy()).astype(np.float64)
        En = E / np.linalg.norm(E, axis=1, keepdims=True)
        S = np.round(En @ Pn.T, 6)  # (batch, n_probes)
        return pd.Series(list(S))

    scores_udf = pandas_udf(_scores, "array<double>")
    probe_id_map = F.array(*[F.lit(int(p)).cast("long") for p in probe_ids])
    scored = (
        e.select("vec_id", "label", scores_udf("embedding").alias("scores"))
        .select(
            "vec_id",
            "label",
            F.posexplode("scores").alias("probe_idx", "cos_sim"),
        )
        .withColumn("probe_id", F.element_at(probe_id_map, F.col("probe_idx") + 1))
        .filter(F.col("vec_id") != F.col("probe_id"))
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("cos_sim"), "vec_id")
    return (
        scored.withColumn("nn_rank", F.row_number().over(w))
        .filter(F.col("nn_rank") <= 10)
        .select("probe_id", "vec_id", "label", "cos_sim", "nn_rank")
    )


def _exact_topk_artifact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact brute-force top-10 frame served from a PERSISTED
    parquet artifact keyed by the embeddings fingerprint (r10: the
    dedup _truth_pairs lifecycle applied to the ANN anchors — VERDICT
    r9 #2). Every q_sim_ann_* decision wrap needs this same 30-row
    frame; recomputing the full corpus scan inside each of the five
    wraps charged every ANN query ~0.5 s of verification work that is
    a pure function of the corpus. q_sim_topk_bruteforce (the
    registered operator) still computes live — only the anchor
    CONSUMERS read the artifact. Oracle strength unchanged: DuckDB
    recomputes the anchors from source each check, so a stale
    artifact flips exact_best_sim/exact_topk_sum/recall_ok."""
    # Params fold into the key (ADVICE r10): a code change to the
    # probe set or k must force a rebuild, not serve stale anchors
    # from a warm .ann_index dir that only a downstream oracle
    # mismatch would expose.
    def make(key: str) -> str:
        path = index_path(key)
        if not os.path.exists(path):
            atomic_write_table(sim_topk_bruteforce(spark, sf_dir).toArrow(), path)
        return path

    label = f"exact_topk10:p{'-'.join(map(str, _PROBE_IDS))}:k10"
    return spark.read.parquet(artifact("bf", sf_dir, label, make, ("embeddings",)))


# ---------------------------------------------------------------------------
# ANN decision form (round 9, VERDICT r8 "rows-only class is larger
# than it needs to be"): the ANN result sets are engine-specific, so
# the REGISTERED output of each q_sim_ann_* query is a per-probe
# decision row — exact brute-force anchors DuckDB recomputes
# (n_corpus, best similarity, top-k similarity sum) plus booleans
# asserting the index's contract (mean recall@k against the exact
# top-k over a floor, and sane per-probe result counts). An index
# regression — empty posting lists, broken bucketing, collapsed
# recall — flips the hash; the raw top-k frames stay available as
# _sim_ann_*_topk for the recall tests, which keep tighter floors.
#
# The floors here are BREAKAGE detectors, set with wide headroom
# under the measured per-SF recalls (tests/test_approx_ops.py holds
# the tight per-query numbers); they must hold at sf0.01, sf0.1 and
# the 100x corpus simultaneously.
# ---------------------------------------------------------------------------


def _ann_oracle(k: int) -> str:
    """DuckDB twin for an unfiltered ANN decision frame: recompute the
    exact brute-force anchors, state TRUE for the contract booleans."""
    return f"""
  WITH probes AS (
    SELECT vec_id AS probe_id, embedding AS pv FROM embeddings
    WHERE vec_id IN {_PROBE_IDS}
  ), scored AS (
    SELECT p.probe_id, e.vec_id,
           round({sql_cosine('p.pv', 'e.embedding')}, 6) AS cos_sim
    FROM probes p CROSS JOIN embeddings e
    WHERE e.vec_id != p.probe_id
  ), ranked AS (
    SELECT *, row_number() OVER (PARTITION BY probe_id
                                 ORDER BY cos_sim DESC, vec_id) AS r
    FROM scored
  )
  SELECT probe_id,
         (SELECT count(*) FROM embeddings) - 1 AS n_corpus,
         max(cos_sim) AS exact_best_sim,
         round(sum(cos_sim), 6) AS exact_topk_sum,
         TRUE AS recall_ok, TRUE AS k_rows_ok
  FROM ranked WHERE r <= {k} GROUP BY probe_id
"""


def _ann_decision(
    spark: SparkSession,
    ann: DataFrame,
    exact: DataFrame,
    n_corpus: DataFrame,
    k: int,
    floor: float,
) -> DataFrame:
    """Wrap an ANN top-k frame in decision form against its exact
    twin. ``exact`` must carry (probe_id, vec_id, cos_sim, nn_rank)
    with cos_sim rounded at 1e-6 BEFORE ranking (the brute-force
    discipline, so both engines rank the same set); ``n_corpus`` maps
    probe_id -> exact candidate-universe size. The top-k sum of
    1e-6-quantized doubles re-rounds losslessly on both engines (sum
    error ~1e-15 against a decimal multiple of 1e-6)."""
    # r12 optimization round: the r10 form evaluated the ANN subtree
    # FOUR times in one plan — `hits` (inner join + count) and `rets`
    # (count) each contained it, and `per` then appeared twice (the
    # scalar `dec` aggregate plus the final projection). At sf0.1 the
    # duplicate probes mostly hid behind the page cache (the r10
    # persist() rejection still stands — InMemoryRelation cost more),
    # but the ann subtree's final rerank JOINS THE CORPUS TABLE, so at
    # 100 TB every duplicate evaluation is a data-scaled scan. Two
    # changes, values bit-identical (verified hash-exact at sf0.01 on
    # all six ANN wraps):
    # - n_ret and n_hit come from ONE pass (left-join hit marker +
    #   single groupBy) instead of two independent subtrees;
    # - `per` (|probes| rows) is eagerly localCheckpoint-ed, so the
    #   ann subtree runs exactly ONCE per query regardless of how many
    #   consumers the decision plan has (checkpoint, not persist: a
    #   3-row RDD scan carries none of the InMemoryRelation overhead
    #   that made the r10 persist lose).
    # Interleaved A/B at sf0.1 (orig/fused/orig/fused, 5 wraps):
    # 19.0/12.2/12.3/11.6 s — ~5% warm locally, 4x->1x corpus scans
    # at scale.
    # EAGER-EXECUTION CONTRACT (ADVICE r12): the localCheckpoint below
    # runs the full ANN subtree at DataFrame-CONSTRUCTION time, so
    # plan-only consumers of the q_sim_ann_* registrations (explain,
    # schema probes, capture_plans) trigger a real Spark job, failures
    # surface at build time, and the |probes|-row result lives in
    # executor block storage (not fault-tolerant to executor loss on a
    # real cluster — acceptable for a 3-row frame that is recomputed
    # per call; the bench times fn() construction inside its window).
    anchors = exact.groupBy("probe_id").agg(
        F.max("cos_sim").alias("exact_best_sim"),
        F.round(F.sum("cos_sim"), 6).alias("exact_topk_sum"),
        F.count(F.lit(1)).alias("n_exact"),
    )
    marked = ann.join(
        exact.select("probe_id", "vec_id").withColumn("hit", F.lit(1)),
        ["probe_id", "vec_id"],
        "left",
    )
    per_ann = marked.groupBy("probe_id").agg(
        F.count(F.lit(1)).alias("n_ret"),
        F.coalesce(F.sum("hit"), F.lit(0)).alias("n_hit"),
    )
    per = (
        anchors.join(per_ann, "probe_id", "left")
        .na.fill({"n_hit": 0, "n_ret": 0})
        .localCheckpoint()
    )
    dec = per.agg(
        (F.avg(F.col("n_hit") / F.col("n_exact")) >= floor).alias("recall_ok"),
        (
            F.min(((F.col("n_ret") >= 1) & (F.col("n_ret") <= k)).cast("int")) == 1
        ).alias("k_rows_ok"),
    )
    return (
        per.join(n_corpus, "probe_id")
        .crossJoin(F.broadcast(dec))
        .select(
            "probe_id",
            "n_corpus",
            "exact_best_sim",
            "exact_topk_sum",
            "recall_ok",
            "k_rows_ok",
        )
    )


def _uniform_n_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(probe_id, n_corpus) where every probe sees the whole corpus
    minus itself."""
    e = load_table(spark, sf_dir, "embeddings")
    total = e.agg((F.count(F.lit(1)) - 1).alias("n_corpus"))
    probes = spark.createDataFrame([(int(p),) for p in _PROBE_IDS], "probe_id long")
    return probes.crossJoin(F.broadcast(total))


# Seeded random hyperplanes: 4 tables x 4 planes x 64 dims. Literals at
# plan time -> identical buckets on every executor, every run.
# 4 bits/table (not more) because the synthetic embeddings are
# unclustered N(0, 0.1): a true neighbor at cosine ~0.2 shares one
# random hyperplane side w.p. ~0.56, so recall per table is ~0.56^bits
# — more tables x fewer bits trades scan fraction for recall.
_N_TABLES, _N_BITS = 4, 4
_rng = np.random.default_rng(42)
_HYPERPLANES = _rng.standard_normal((_N_TABLES, _N_BITS, 64)).round(6).tolist()


def _lsh_buckets_udf():
    """All-tables LSH signatures in one batched kernel: one
    (batch x 64) @ (64 x tables*bits) matmul per Arrow batch, sign
    bits packed per table. The hyperplanes are the same seeded
    literals either way; the batched form replaces tables x bits
    interpreted dot-product folds per row (the standing
    batched-kernel rule from BENCH.md)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    P = np.array(_HYPERPLANES, dtype=np.float64)  # (tables, bits, 64)
    flat = P.reshape(-1, 64).T  # (64, tables*bits)
    weights = (1 << np.arange(_N_BITS)).astype(np.int64)

    def _buckets(emb: pd.Series) -> pd.Series:
        E = np.vstack(emb.to_numpy()).astype(np.float64)
        signs = (E @ flat) > 0  # (batch, tables*bits)
        signs = signs.reshape(len(E), _N_TABLES, _N_BITS)
        out = (signs * weights).sum(axis=2).astype(np.int32)
        return pd.Series(list(out))

    return pandas_udf(_buckets, "array<int>")


_LSH_MULTIPROBE_BITS = _N_BITS  # probe all Hamming-1 neighbor buckets


def _sim_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate NN via random-hyperplane LSH (4 tables, 4 bits),
    with MULTIPROBE (r7, VERDICT r6 #7): each probe also searches the
    Hamming-1 neighbor buckets of its own bucket in every table —
    flipping one sign bit visits the cells a true neighbor most
    likely fell into when it landed just the other side of ONE
    hyperplane. Recall lifts without touching the index (the classic
    multiprobe trade: query-time fanout instead of more tables);
    scan fraction stays bounded at (1 + bits)/2^bits per table = 5/16
    here, vs re-indexing with more tables which costs index storage
    at 100 TB. Measured r7 (sf0.001 vs brute force): recall@10
    0.57 -> 0.90 with candidate fanout x5 per table.

    Candidates = corpus vectors sharing a (table, bucket) with any
    probed bucket — still an equi-join, never a scan; exact cosine
    reranks. Approximate by construction; the registered q_sim_ann_lsh
    wraps this frame in decision form, and tests measure recall@10
    against q_sim_topk_bruteforce."""
    e = load_table(spark, sf_dir, "embeddings")
    vec = to_double(F.col("embedding"))
    # SLIM signature frame (r13, guide §2.2/§4): only (vec_id, tbl,
    # bucket) rides through the band join and the candidate dedup.
    # The pre-r13 form carried ev AND pv into the distinct, so its
    # Exchange hash-partitioned on two 64-double arrays (~1 KB/row)
    # at candidate cardinality — corpus-scaled at 100 TB. Now the
    # dedup shuffles 16-byte id pairs and the vectors are re-attached
    # AFTER the dedup (one column-pruned corpus re-read joined on the
    # unique vec_id, plus a 3-row broadcast for the probe side).
    # Candidate set, cosine expression, and tie-break order are
    # unchanged, so the result is bit-identical.
    sigs = e.select(
        "vec_id",
        F.posexplode(_lsh_buckets_udf()(F.col("embedding"))).alias("tbl", "bucket"),
    )

    # multiprobe fanout: the probe's own bucket + every single-bit flip
    probe_buckets = F.array(
        F.col("bucket"),
        *[
            F.col("bucket").bitwiseXOR(F.lit(1 << b))
            for b in range(_LSH_MULTIPROBE_BITS)
        ],
    )
    probes = (
        sigs.filter(F.col("vec_id").isin(*_PROBE_IDS))
        .select(
            F.col("vec_id").alias("probe_id"),
            "tbl",
            F.explode(probe_buckets).alias("bucket"),
        )
    )
    cand_ids = (
        sigs.join(F.broadcast(probes), ["tbl", "bucket"])
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select("probe_id", "vec_id")
        .distinct()
    )
    pvecs = e.filter(F.col("vec_id").isin(*_PROBE_IDS)).select(
        F.col("vec_id").alias("probe_id"), vec.alias("pv")
    )
    cands = (
        cand_ids.join(e.select("vec_id", "label", vec.alias("ev")), "vec_id")
        .join(F.broadcast(pvecs), "probe_id")
        .select("probe_id", "pv", "vec_id", "label", "ev")
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("cos_sim"), "vec_id")
    return (
        cands.withColumn("cos_sim", F.round(cosine(F.col("pv"), F.col("ev")), 6))
        .withColumn("nn_rank", F.row_number().over(w))
        .filter(F.col("nn_rank") <= 10)
        .select("probe_id", "vec_id", "label", "cos_sim", "nn_rank")
    )


_LSH_RECALL_FLOOR = 0.5


@register(
    "q_sim_ann_lsh",
    oracle=_ann_oracle(10),
    tags=("similarity", "ann", "approx"),
)
def sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiprobe LSH ANN in DECISION FORM: the hashed output carries
    per-probe exact brute-force anchors (corpus size, best cosine,
    top-10 cosine sum — all DuckDB-recomputable) plus booleans
    asserting the index contract (mean recall@10 over the probes
    >= 0.5 and sane result counts). The LSH machinery itself lives in
    _sim_ann_lsh_topk (see its docstring for the multiprobe design);
    tests keep the tighter measured recall floor on the raw frame."""
    ann = _sim_ann_lsh_topk(spark, sf_dir)
    exact = _exact_topk_artifact(spark, sf_dir)
    return _ann_decision(
        spark, ann, exact, _uniform_n_corpus(spark, sf_dir), 10, _LSH_RECALL_FLOOR
    )


# ---------------------------------------------------------------------------
# IVF index build (OFFLINE step — not part of the query)
#
# A real IVF deployment trains the coarse quantizer once, out of band,
# and persists the centroids as a tiny artifact (k x dim floats); the
# query only ever sees the finished centroids. We model that lifecycle
# fully: build_ivf_index() fits a seeded MLlib KMeans on a seeded SAMPLE
# of the corpus (never the full data — at 100 TB the sample is a
# fixed-size reservoir and this build is a cheap bounded job), WRITES
# the centroids to a parquet artifact keyed by (corpus fingerprint,
# params), and every later process — not just this one — loads the
# artifact instead of re-fitting. fingerprint.artifact's memo is only
# a per-process fast path over the on-disk artifact.
# ---------------------------------------------------------------------------
def build_ivf_index(
    spark: SparkSession,
    sf_dir: str,
    k: int = 16,
    sample_fraction: float = 0.25,
    seed: int = 42,
) -> list[list[float]]:
    """Offline IVF coarse-quantizer build: seeded-sample KMeans. The
    centroids are a PERSISTED parquet artifact (cluster_id, centroid)
    keyed by corpus fingerprint + params — a cold process answers IVF
    queries without re-running KMeans (tested in
    tests/test_approx_ops.py::test_ivf_index_artifact_survives_cold_start).
    Bounded: the fit input is a sample, the output is k x 64 floats."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    def make(key: str) -> list[list[float]]:
        path = index_path(key)
        if not os.path.exists(path):
            from pyspark.ml.clustering import KMeans
            from pyspark.ml.functions import array_to_vector

            sample = load_table(spark, sf_dir, "embeddings").sample(
                fraction=sample_fraction, seed=seed
            )
            fe = sample.select(
                array_to_vector(F.col("embedding").cast("array<double>")).alias("features")
            )
            model = KMeans(k=k, seed=seed, maxIter=10).fit(fe)
            cents = [[float(x) for x in c] for c in model.clusterCenters()]
            atomic_write_table(
                pa.table({"cluster_id": list(range(len(cents))), "centroid": cents}),
                path,
            )
        t = pq.read_table(path).to_pydict()
        order = sorted(range(len(t["cluster_id"])), key=t["cluster_id"].__getitem__)
        return [list(map(float, t["centroid"][i])) for i in order]

    return artifact(
        "ivf", sf_dir, f"k={k}:frac={sample_fraction}:seed={seed}", make, ("embeddings",)
    )


def _nearest_centroid_udf(centroids: list[list[float]]):
    """Batched argmin-L2 centroid assignment: per Arrow batch one
    ||E||^2 - 2 E C^T + ||C||^2 matrix and an argmin — k x dim
    interpreted expression folds per row replaced by one matmul (the
    standing batched-kernel rule from BENCH.md). Distances are
    integer-scaled (floor(d2 * 1e6 + 0.5) — floor of an IEEE double
    expression, the repo's standing cross-engine rounding discipline)
    BEFORE the argmin so the assignment is engine-alignable: the
    q_cluster_kmeans DuckDB twin recomputes the same scaled integer
    from the same centroid literals, and summation-order drift
    (~1e-10 absolute) can never flip an argmin decided at 1e-6
    granularity. Ties in the scaled distance break toward the lowest
    cluster id (numpy argmin takes the first minimum)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    C = np.array(centroids, dtype=np.float64)
    c2 = (C * C).sum(axis=1)

    def _assign(emb: pd.Series) -> pd.Series:
        E = np.vstack(emb.to_numpy()).astype(np.float64)
        d2 = (E * E).sum(axis=1, keepdims=True) - 2 * E @ C.T + c2
        q = np.floor(d2 * 1e6 + 0.5)
        return pd.Series(q.argmin(axis=1).astype(np.int32))

    return pandas_udf(_assign, "int")


def _sim_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate NN via IVF (inverted file): the second scale path
    next to LSH (q_sim_ann_lsh).

    The coarse quantizer comes from build_ivf_index() — an OFFLINE
    seeded-sample KMeans whose centroids are a persisted artifact; the
    query itself is a pure posting-list equi-join + exact-cosine rerank
    with the centroids inlined as plan literals (like the LSH
    hyperplanes). A probe scans only its nprobe=4 nearest centroids'
    lists, so the scan fraction is nprobe/k instead of 1; at 100 TB the
    posting lists are a partitioned table keyed by cluster id.
    Approximate by construction; the registered q_sim_ann_ivf wraps
    this frame in decision form, and tests measure recall against
    q_sim_topk_bruteforce."""
    import numpy as np

    centroids = build_ivf_index(spark, sf_dir, k=16)
    e = load_table(spark, sf_dir, "embeddings")
    vec = to_double(F.col("embedding"))
    assigned = e.select(
        "vec_id",
        "label",
        vec.alias("ev"),
        _nearest_centroid_udf(centroids)(F.col("embedding")).alias("cluster"),
    )

    centers = np.array(centroids)
    probe_rows = (
        e.filter(F.col("vec_id").isin(*_PROBE_IDS)).select("vec_id", "embedding").collect()
    )
    nprobe = 4
    probe_clusters = []
    for r in probe_rows:
        v = np.array(r.embedding, dtype=np.float64)
        d = np.linalg.norm(centers - v, axis=1)
        for c in np.argsort(d)[:nprobe]:
            probe_clusters.append((int(r.vec_id), int(c)))
    pc = spark.createDataFrame(probe_clusters, "probe_id long, cluster int")

    probes = assigned.filter(F.col("vec_id").isin(*_PROBE_IDS)).select(
        F.col("vec_id").alias("probe_id"), F.col("ev").alias("pv")
    )
    cands = (
        assigned.join(F.broadcast(pc), "cluster")
        .filter(F.col("vec_id") != F.col("probe_id"))
        .join(F.broadcast(probes), "probe_id")
        .select("probe_id", "pv", "vec_id", "label", "ev")
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("cos_sim"), "vec_id")
    return (
        cands.withColumn("cos_sim", F.round(cosine(F.col("pv"), F.col("ev")), 6))
        .withColumn("nn_rank", F.row_number().over(w))
        .filter(F.col("nn_rank") <= 10)
        .select("probe_id", "vec_id", "label", "cos_sim", "nn_rank")
    )


_IVF_RECALL_FLOOR = 0.3  # nprobe=4 of k=16 on unclustered gaussian data


@register(
    "q_sim_ann_ivf",
    oracle=_ann_oracle(10),
    tags=("similarity", "ann", "approx"),
)
def sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF posting-list ANN in DECISION FORM: exact brute-force
    anchors per probe plus contract booleans (see _ann_decision).
    The IVF machinery lives in _sim_ann_ivf_topk; the floor is a
    breakage detector — nprobe=4/16 on unclustered gaussian data has
    genuinely modest recall, so the tight per-SF numbers live in
    tests/test_approx_ops.py."""
    ann = _sim_ann_ivf_topk(spark, sf_dir)
    exact = _exact_topk_artifact(spark, sf_dir)
    return _ann_decision(
        spark, ann, exact, _uniform_n_corpus(spark, sf_dir), 10, _IVF_RECALL_FLOOR
    )


_MM_ORACLE = """
  WITH flat AS (
    SELECT label,
           unnest(CAST(embedding AS DOUBLE[])) AS x,
           unnest(generate_series(1, len(embedding))) AS pos
    FROM embeddings
  ), per_pos AS (
    SELECT label, pos, round(avg(x), 6) AS mean_x
    FROM flat GROUP BY label, pos
  ), norms AS (
    SELECT label,
           count(*) AS n_vectors,
           round(avg(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                           CAST(embedding AS DOUBLE[])))), 6)
             AS mean_norm
    FROM embeddings GROUP BY label
  )
  SELECT n.label, n.n_vectors, n.mean_norm,
         (SELECT string_agg(printf('%.6f', p.mean_x), ',' ORDER BY p.pos)
          FROM per_pos p WHERE p.label = n.label)
           AS centroid
  FROM norms n
"""


@register("q_multimodal_stats", oracle=_MM_ORACLE, tags=("similarity", "multimodal"))
def multimodal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-column analytics per label: count, mean L2 norm, and the
    64-dim centroid (posexplode -> per-position mean -> re-assembled
    in position order). The centroid is serialized to a comma-joined
    '%.6f' string in the final projection — the driver's pandas
    canonicalizer cannot hash list cells, and printf of an
    already-rounded double is deterministic in both engines (no exact
    decimal ties are representable in binary)."""
    e = load_table(spark, sf_dir, "embeddings")
    norms = e.select("label", norm(to_double(F.col("embedding"))).alias("nrm")).groupBy(
        "label"
    ).agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.round(F.avg("nrm"), 6).alias("mean_norm"),
    )
    flat = e.select(
        "label", F.posexplode(to_double(F.col("embedding"))).alias("pos0", "x")
    )
    centroid = (
        flat.groupBy("label", "pos0")
        .agg(F.round(F.avg("x"), 6).alias("mean_x"))
        .groupBy("label")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("pos0"), F.col("mean_x")))
            ).alias("pairs")
        )
        .select(
            "label",
            F.array_join(
                F.transform(
                    F.col("pairs"),
                    lambda p: F.format_string("%.6f", p.getField("mean_x")),
                ),
                ",",
            ).alias("centroid"),
        )
    )
    return norms.join(centroid, "label").select(
        "label", "n_vectors", "mean_norm", "centroid"
    )


# ---------------------------------------------------------------------------
# PQ index build (OFFLINE step — not part of the query)
#
# Product quantization: split the 64-dim space into M=8 subspaces of 8
# dims, k-means each subspace to K=16 centroids (4 bits), and represent
# every vector by its M centroid ids — 64 floats become 8 nibbles. The
# codebooks are the persisted artifact (M x K x 8 floats); like the IVF
# centroids they are trained offline on a seeded bounded sample and the
# query path only sees literals. ADC (asymmetric distance computation)
# then scores corpus CODES against per-probe lookup tables without
# touching raw vectors — the memory-bound trick FAISS-style engines use
# when even the vectors don't fit: at 100 TB of embeddings the code
# table is ~1/32 the bytes of the float corpus.
# ---------------------------------------------------------------------------
_PQ_M = 8  # subspaces
_PQ_K = 16  # centroids per subspace (4-bit codes)


def _pq_codebooks(
    spark: SparkSession,
    sf_dir: str,
    m: int,
    k: int,
    sample_rows: int,
    seed: int,
    iters: int,
    centroids: list[list[float]] | None = None,
) -> list[list[list[float]]]:
    """The build shared by flat PQ and IVFPQ: a seeded bounded sample
    (collect of sample_rows vectors — the 'reservoir', same
    boundedness argument as the IVF sample), then seeded per-subspace
    Lloyd iterations in numpy. With ``centroids`` the fit runs on
    RESIDUALS against each vector's nearest coarse centroid (IVFADC).
    Returns codebooks[m][k] = sub-vector centroid, persisted as one
    (subspace, code, centroid) parquet artifact keyed by corpus
    fingerprint + params (incl. the coarse k for residuals, since
    different coarse quantizers give different residual
    distributions)."""
    import pyarrow as pa
    import pyarrow.parquet as pq_

    kind = "pq" if centroids is None else "ivfpq"
    params = f"m={m}:k={k}:n={sample_rows}:seed={seed}:iters={iters}"
    if centroids is not None:
        params += f":ivfk={len(centroids)}"

    def make(key: str) -> list[list[list[float]]]:
        path = index_path(key)
        if not os.path.exists(path):
            rows = (
                load_table(spark, sf_dir, "embeddings")
                .select("embedding")
                .orderBy(F.xxhash64(F.lit(seed), "vec_id"))
                .limit(sample_rows)
                .collect()
            )
            x = np.array([r.embedding for r in rows], dtype=np.float64)
            if centroids is not None:
                C = np.array(centroids, dtype=np.float64)
                d2 = (x * x).sum(1, keepdims=True) - 2 * x @ C.T + (C * C).sum(1)
                x = x - C[d2.argmin(axis=1)]
            d_sub = x.shape[1] // m
            books = []
            rng = np.random.RandomState(seed)
            for mi in range(m):
                sub = x[:, mi * d_sub : (mi + 1) * d_sub]
                cents = sub[rng.choice(len(sub), size=k, replace=False)].copy()
                for _ in range(iters):
                    dd = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
                    assign = dd.argmin(axis=1)
                    for ci in range(k):
                        mask = assign == ci
                        if mask.any():
                            cents[ci] = sub[mask].mean(axis=0)
                books.append([[float(v) for v in c] for c in cents])
            atomic_write_table(
                pa.table(
                    {
                        "subspace": [mi for mi in range(m) for _ in range(k)],
                        "code": [ci for _ in range(m) for ci in range(k)],
                        "centroid": [books[mi][ci] for mi in range(m) for ci in range(k)],
                    }
                ),
                path,
            )
        t = pq_.read_table(path).to_pydict()
        books = [[None] * k for _ in range(m)]
        for mi, ci, c in zip(t["subspace"], t["code"], t["centroid"]):
            books[mi][ci] = list(map(float, c))
        return books

    return artifact(kind, sf_dir, params, make, ("embeddings",))


def build_pq_codebooks(
    spark: SparkSession,
    sf_dir: str,
    m: int = _PQ_M,
    k: int = _PQ_K,
    sample_rows: int = 2000,
    seed: int = 7,
    iters: int = 8,
) -> list[list[list[float]]]:
    """Offline PQ codebook build (_pq_codebooks on raw vectors). Like
    the IVF centroids, the codebooks are a PERSISTED artifact, so a
    cold process never re-runs Lloyd (tested in
    tests/test_approx_ops.py)."""
    return _pq_codebooks(spark, sf_dir, m, k, sample_rows, seed, iters)


def _pq_encode_udf(books: list[list[list[float]]]):
    """Vectorized PQ encoder: one Arrow batch -> per-subspace
    ||S||^2 - 2 S C^T + ||C||^2 argmin in numpy (M matmuls per batch,
    O(batches) Python crossings — the same batched-kernel pattern as
    q_sim_topk_bruteforce). This is the compute a real deployment runs
    ONCE, offline, materializing the code table; an all-JVM
    zip_with/aggregate encode exists but costs M x K interpreted
    HOF folds per row (measured 2x the whole query time at 10x)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    C = [np.array(b, dtype=np.float64) for b in books]  # (K, d_sub) each
    d_sub = 64 // len(books)

    def _enc(emb: pd.Series) -> pd.Series:
        E = np.vstack(emb.to_numpy()).astype(np.float64)
        codes = np.empty((len(E), len(C)), dtype=np.int32)
        for mi, cents in enumerate(C):
            S = E[:, mi * d_sub : (mi + 1) * d_sub]
            d2 = (S * S).sum(1, keepdims=True) - 2 * S @ cents.T + (
                cents * cents
            ).sum(1)
            codes[:, mi] = d2.argmin(axis=1)
        return pd.Series(list(codes))

    return pandas_udf(_enc, "array<int>")


def _sim_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate NN via product quantization + ADC — the third scale
    path next to LSH buckets and IVF posting lists.

    Query shape: corpus vectors encode to M=8 4-bit codes against the
    OFFLINE codebooks (at 100 TB the codes are a materialized table ~3%
    the size of the floats; here they're computed inline to keep the
    query self-contained). Each probe precomputes its M x K squared-
    distance lookup table driver-side (bounded: 3 probes x 128 floats,
    same boundedness as the IVF probe assignment) and ships it as plan
    literals; the scan then scores every vector with M array lookups —
    no raw-vector math, no shuffle until the top-k window. The ADC
    size-adaptive shortlist (_pq_shortlist: max(300, 1.5% of corpus),
    r10 sweep) is reranked with exact cosine so the emitted
    cos_sim values are true (and comparable with the other ANN
    queries); ranks are ADC-approximate. The registered q_sim_ann_pq
    wraps this frame in decision form; recall is measured against
    q_sim_topk_bruteforce in tests."""
    books = build_pq_codebooks(spark, sf_dir)
    e = load_table(spark, sf_dir, "embeddings")
    vec = to_double(F.col("embedding"))
    coded = e.select(
        "vec_id", "label", vec.alias("ev"), _pq_encode_udf(books)("embedding").alias("codes")
    )

    probe_rows = (
        e.filter(F.col("vec_id").isin(*_PROBE_IDS))
        .select("vec_id", "embedding")
        .collect()
    )
    d_sub = 64 // _PQ_M
    # One ADC column per probe, stacked with posexplode — the corpus is
    # scanned and ENCODED exactly once for all probes (a per-probe
    # branch would re-run the 8x16 encode argmins per probe: measured
    # 33s -> 7s at 10x for 3 probes). LUT[m][c] = ||probe_sub_m -
    # centroid_c||^2; ADC distance of a coded vector is
    # sum_m LUT[m][codes[m]].
    adc_cols = []
    probe_id_map = []
    for r in probe_rows:
        pv = np.array(r.embedding, dtype=np.float64)
        lut = [
            [
                float(((pv[mi * d_sub : (mi + 1) * d_sub] - np.array(c)) ** 2).sum())
                for c in books[mi]
            ]
            for mi in range(_PQ_M)
        ]
        lut_lit = F.array(*[F.array(*[F.lit(v) for v in row]) for row in lut])
        adc_cols.append(
            F.aggregate(
                F.zip_with(
                    lut_lit,
                    F.col("codes"),
                    lambda row, code: F.element_at(row, code + 1),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        )
        probe_id_map.append(int(r.vec_id))

    id_map = F.array(*[F.lit(p).cast("long") for p in probe_id_map])
    stacked = (
        coded.select(
            "vec_id",
            "label",
            "ev",
            F.posexplode(F.array(*adc_cols)).alias("probe_idx", "adc_d2"),
        )
        .withColumn("probe_id", F.element_at(id_map, F.col("probe_idx") + 1))
        .filter(F.col("vec_id") != F.col("probe_id"))
    )
    w_adc = Window.partitionBy("probe_id").orderBy("adc_d2", "vec_id")
    shortlist = (
        stacked.withColumn("adc_rank", F.row_number().over(w_adc))
        .filter(F.col("adc_rank") <= _pq_shortlist(sf_dir))
    )

    probes = e.filter(F.col("vec_id").isin(*_PROBE_IDS)).select(
        F.col("vec_id").alias("probe_id"), to_double("embedding").alias("pv")
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("cos_sim"), "vec_id")
    return (
        shortlist.join(F.broadcast(probes), "probe_id")
        .withColumn("cos_sim", F.round(cosine(F.col("pv"), F.col("ev")), 6))
        .withColumn("nn_rank", F.row_number().over(w))
        .filter(F.col("nn_rank") <= 10)
        .select("probe_id", "vec_id", "label", "cos_sim", "nn_rank")
    )


# SIZE-ADAPTIVE rerank shortlist (r10, VERDICT r9 #4 — the fixed
# top-50 made flat PQ the family's weakest floor: 0.67 at sf0.01,
# 0.43 at sf0.1). The r10 shortlist sweep (this session, exact
# recall@10 vs the brute-force truth over the 3 probes):
#   sf0.01 (n=500):  S=50 0.67 | 100 0.80 | 200 0.93 | 300 1.00
#   sf0.1  (n=2000): S=50 0.43 | 100 0.60 | 200 0.87 | 300 0.93 | 350 0.97
# S = max(300, 1.5% of corpus) keeps the rerank fraction BOUNDED as
# the corpus grows (1.5% at scale, e.g. 3000 of 200k at the 100x
# corpus where even S=50 already read 0.67 — the blended-sphere
# structure sharpens ADC at scale) while flooring small corpora at
# the S where both SFs clear 0.93. Rerank cost is S exact cosines per
# probe — trivial against the full-corpus ADC scan flat PQ always does.
_PQ_SHORTLIST_MIN = 300
_PQ_SHORTLIST_FRAC = 0.015


def _pq_shortlist(sf_dir: str) -> int:
    n = table_num_rows(sf_dir, "embeddings")
    return max(_PQ_SHORTLIST_MIN, int(n * _PQ_SHORTLIST_FRAC))


# Floor at 0.85 (the verdict's bar): measured 1.00 / 0.93 at
# sf0.01 / sf0.1 with the adaptive shortlist — >= 0.08 slack for
# corpus regeneration; a broken code/ADC path still reads ~0.0-0.1.
_PQ_RECALL_FLOOR = 0.85


@register(
    "q_sim_ann_pq",
    oracle=_ann_oracle(10),
    tags=("similarity", "ann", "pq", "approx"),
)
def sim_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flat PQ/ADC ANN in DECISION FORM: exact brute-force anchors
    per probe plus contract booleans (see _ann_decision). The PQ
    machinery lives in _sim_ann_pq_topk; tests keep the tight
    measured recall floor on the raw frame."""
    ann = _sim_ann_pq_topk(spark, sf_dir)
    exact = _exact_topk_artifact(spark, sf_dir)
    return _ann_decision(
        spark, ann, exact, _uniform_n_corpus(spark, sf_dir), 10, _PQ_RECALL_FLOOR
    )


# ---------------------------------------------------------------------------
# IVF-PQ composed index (the FAISS IVFADC shape) — OFFLINE build
#
# The production-scale composition: the IVF coarse quantizer prunes the
# scan to nprobe/k of the corpus AND product quantization compresses
# what remains to M nibbles scored by table lookup. PQ here is trained
# on RESIDUALS (vector - its nearest coarse centroid), not raw vectors:
# residuals are centered near zero with much smaller spread, so the
# same 4-bit budget quantizes them with far less error — the reason
# IVFADC beats flat PQ at equal bits.
# ---------------------------------------------------------------------------
# IVFADC query knobs (module-level so recall sweeps and tests can
# exercise the same code path):
# scan fraction = _IVFPQ_NPROBE / _IVFPQ_K.
_IVFPQ_K = 64
_IVFPQ_NPROBE = 24
# At corpora large enough that coarse coverage stops being the recall
# bottleneck, HALF the probe budget sustains the 0.90 bar (r9
# measurement at the 200k-vector distinct-copy corpus, recorded in
# BENCH.md "The OPQ measurement": recall@10 0.938 at nprobe=12 vs 0.968 at
# 24, both with the 400-shortlist; at 500-2000 vectors nprobe=24 is
# load-bearing). The threshold keys on the parquet row count —
# metadata only, no scan.
_IVFPQ_NPROBE_LARGE = 12
_IVFPQ_LARGE_ROWS = 50_000
_IVFPQ_SHORTLIST = 400


def _ivfpq_nprobe(sf_dir: str) -> int:
    n = table_num_rows(sf_dir, "embeddings")
    return _IVFPQ_NPROBE_LARGE if n >= _IVFPQ_LARGE_ROWS else _IVFPQ_NPROBE


def build_ivfpq_codebooks(
    spark: SparkSession,
    sf_dir: str,
    centroids: list[list[float]],
    m: int = _PQ_M,
    k: int = _PQ_K,
    sample_rows: int = 2000,
    seed: int = 11,
    iters: int = 8,
) -> list[list[list[float]]]:
    """Offline residual-PQ codebook build: _pq_codebooks fitted on
    RESIDUALS against the IVF centroids."""
    return _pq_codebooks(spark, sf_dir, m, k, sample_rows, seed, iters, centroids)


def _ivfpq_encode_udf(centroids: list[list[float]], books: list[list[list[float]]]):
    """Combined coarse-assign + residual-encode in ONE Arrow kernel
    (one Python crossing for the whole corpus scan): per batch, argmin
    to the coarse centroid, subtract it, then per-subspace argmin
    against the residual codebooks. Returns struct<cluster, codes>."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    C = np.array(centroids, dtype=np.float64)
    c2 = (C * C).sum(axis=1)
    B = [np.array(b, dtype=np.float64) for b in books]
    d_sub = C.shape[1] // len(B)

    def _enc(emb: pd.Series) -> pd.DataFrame:
        E = np.vstack(emb.to_numpy()).astype(np.float64)
        d2 = (E * E).sum(1, keepdims=True) - 2 * E @ C.T + c2
        cluster = d2.argmin(axis=1)
        R = E - C[cluster]
        codes = np.empty((len(E), len(B)), dtype=np.int32)
        for mi, cents in enumerate(B):
            S = R[:, mi * d_sub : (mi + 1) * d_sub]
            dd = (S * S).sum(1, keepdims=True) - 2 * S @ cents.T + (
                cents * cents
            ).sum(1)
            codes[:, mi] = dd.argmin(axis=1)
        return pd.DataFrame(
            {"cluster": cluster.astype(np.int32), "codes": list(codes)}
        )

    # The kernel is deterministic in fact; asNondeterministic() is the
    # one sanctioned use of the flag here: CollapseProject inlines a
    # struct-returning UDF into EVERY field extraction (measured: two
    # ArrowEvalPython nodes = the corpus encoded twice), and Catalyst
    # may never duplicate a non-deterministic expression. The plan
    # test pins the resulting single crossing.
    return pandas_udf(_enc, "cluster int, codes array<int>").asNondeterministic()


def _sim_ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate NN via IVF-PQ (FAISS IVFADC): the composed
    production path — IVF posting lists prune the scan to nprobe/k of
    the corpus, and inside each probed cell the candidates are scored
    by ADC lookup over 4-bit RESIDUAL codes, never raw vectors. At
    100 TB this is the only one of the four ANN paths whose scan is
    simultaneously sublinear in rows (posting-list join) and ~3% of
    the bytes (code table instead of floats); LSH (q_sim_ann_lsh),
    IVF-flat (q_sim_ann_ivf) and flat PQ (q_sim_ann_pq) each hold one
    of those two properties.

    Both offline artifacts persist (coarse centroids via
    build_ivf_index, residual codebooks via build_ivfpq_codebooks);
    the query ships per-(probe, cell) residual LUTs — bounded:
    3 probes x nprobe=6 cells x M*K floats — through a broadcast join
    keyed by cell, so the ADC sum is a JVM zip_with/aggregate over the
    join output, no Python in the scoring path (the one Arrow crossing
    is the corpus encode, which a real deployment materializes once).
    ADC top-200 shortlist reranked with exact cosine so emitted
    cos_sim values are true; ranks are approximate. The registered
    q_sim_ann_ivfpq wraps this frame in decision form; recall is
    measured against q_sim_topk_bruteforce in tests.

    (k, nprobe, shortlist) sit on a measured recall/scan surface.
    The r7 point was (16, 6, 200) = 0.80 recall@10; the r8 sweep
    (VERDICT r7 #6) held the scan FRACTION fixed at nprobe/k = 0.375
    and refined the coarse grain instead: (32,12,400)=0.70-0.77,
    **(64,24,400)=0.90 at BOTH sf0.001 and sf0.01 <- shipped**
    (0.90/0.93/0.90 and 0.90/0.97/0.90 across coarse seeds 42/7/99 —
    seed-robust). Finer cells at the same fraction buy coverage: the
    probe ranks 24 of 64 small cells instead of 6 of 16 big ones, so
    boundary neighbors cost 1/64th of the corpus each, not 1/16th.
    At the sf0.01 corpus (500 vectors) the ADC shortlist (400)
    exceeds the scanned mass, so recall there is pure coarse
    coverage. The r9 OPQ question (VERDICT r8 next #5) was settled at
    the 200k-vector distinct-copy corpus, where shortlist/scanned =
    400/75k and ADC fidelity IS the bottleneck
    (BENCH.md "The OPQ measurement", 100-probe panel): plain residual PQ
    reads recall@10 0.968 at nprobe=24 and 0.938 at nprobe=12 —
    so the LARGE-corpus path ships nprobe=12 (_ivfpq_nprobe: half the
    scan fraction, still over the 0.90 bar) — while a parametric OPQ
    rotation (Ge et al. 2014, eigen-allocation balancing per-subspace
    variance products) measured +0.005-0.010 recall across every
    (nprobe, shortlist) cell: real but not worth a rotation artifact
    on this corpus geometry (unit-sphere embeddings have too little
    covariance structure for OPQ to exploit — the measured negative
    result the skip is now pinned to). nprobe/k still governs the
    honest scan fraction (at production k in the thousands, nprobe/k
    stays <<1%)."""
    centroids = build_ivf_index(spark, sf_dir, k=_IVFPQ_K)
    books = build_ivfpq_codebooks(spark, sf_dir, centroids)
    e = load_table(spark, sf_dir, "embeddings")
    vec = to_double(F.col("embedding"))
    coded = e.select(
        "vec_id",
        "label",
        vec.alias("ev"),
        _ivfpq_encode_udf(centroids, books)(F.col("embedding")).alias("cc"),
    ).select(
        "vec_id",
        "label",
        "ev",
        F.col("cc.cluster").alias("cluster"),
        F.col("cc.codes").alias("codes"),
    )

    probe_rows = (
        e.filter(F.col("vec_id").isin(*_PROBE_IDS))
        .select("vec_id", "embedding")
        .collect()
    )
    C = np.array(centroids, dtype=np.float64)
    d_sub = C.shape[1] // _PQ_M
    nprobe = _ivfpq_nprobe(sf_dir)  # see recall/scan curve in the docstring
    lut_rows = []
    for r in probe_rows:
        pv = np.array(r.embedding, dtype=np.float64)
        d = np.linalg.norm(C - pv, axis=1)
        for ci in np.argsort(d)[:nprobe]:
            rv = pv - C[ci]  # the residual this cell's codes approximate
            lut = [
                [
                    float(
                        ((rv[mi * d_sub : (mi + 1) * d_sub] - np.array(c)) ** 2).sum()
                    )
                    for c in books[mi]
                ]
                for mi in range(_PQ_M)
            ]
            lut_rows.append((int(r.vec_id), int(ci), lut))
    pc = spark.createDataFrame(
        lut_rows, "probe_id long, cluster int, lut array<array<double>>"
    )

    adc = F.aggregate(
        F.zip_with(
            F.col("lut"),
            F.col("codes"),
            lambda row, code: F.element_at(row, code + 1),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cands = (
        coded.join(F.broadcast(pc), "cluster")
        .filter(F.col("vec_id") != F.col("probe_id"))
        .withColumn("adc_d2", adc)
    )
    w_adc = Window.partitionBy("probe_id").orderBy("adc_d2", "vec_id")
    shortlist = cands.withColumn("adc_rank", F.row_number().over(w_adc)).filter(
        F.col("adc_rank") <= _IVFPQ_SHORTLIST
    )

    probes = e.filter(F.col("vec_id").isin(*_PROBE_IDS)).select(
        F.col("vec_id").alias("probe_id"), to_double("embedding").alias("pv")
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("cos_sim"), "vec_id")
    return (
        shortlist.join(F.broadcast(probes), "probe_id")
        .withColumn("cos_sim", F.round(cosine(F.col("pv"), F.col("ev")), 6))
        .withColumn("nn_rank", F.row_number().over(w))
        .filter(F.col("nn_rank") <= 10)
        .select("probe_id", "vec_id", "label", "cos_sim", "nn_rank")
    )


_IVFPQ_RECALL_FLOOR = 0.6  # measured 0.90 at sf0.001/sf0.01 and 0.94 at 200k


@register(
    "q_sim_ann_ivfpq",
    oracle=_ann_oracle(10),
    tags=("similarity", "ann", "ivf", "pq", "approx"),
)
def sim_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC (IVF-PQ) ANN in DECISION FORM: exact brute-force
    anchors per probe plus contract booleans (see _ann_decision).
    The composed index machinery lives in _sim_ann_ivfpq_topk
    (coarse pruning + residual ADC + exact rerank, with the measured
    (k, nprobe, shortlist) surface documented there); tests keep the
    0.85 measured floor on the raw frame."""
    ann = _sim_ann_ivfpq_topk(spark, sf_dir)
    exact = _exact_topk_artifact(spark, sf_dir)
    return _ann_decision(
        spark, ann, exact, _uniform_n_corpus(spark, sf_dir), 10, _IVFPQ_RECALL_FLOOR
    )


# ---------------------------------------------------------------------------
# HNSW — the sixth ANN family member (r10, VERDICT r9 #5) — OFFLINE
# graph build + frontier-join beam search
#
# Lifecycle matches IVF/PQ exactly: the navigable graph is an OFFLINE
# artifact (parquet, keyed by corpus fingerprint + params, atomic
# write); the query only ever sees the finished graph. The build is a
# kNN NAVIGABLE GRAPH over a bounded node set plus an HNSW-style top
# layer — with two deliberate, MEASURED departures from the paper:
#
# 1. Neighbor selection is exact kNN over the (bounded, exact-
#    collapsed) node sample via chunked matmuls, not the incremental
#    insert heuristic — deterministic and fully vectorized.
# 2. The hierarchy is TWO-level with the top layer entered by
#    EXHAUSTIVE SCORING, not walked greedily. Literal multi-layer
#    descent was built first and FAILED at scale: on Spark each
#    greedy hop is a frontier join = a driver round-trip, so a
#    navigation that needs O(log n) sequential hops is latency-dead —
#    and capping rounds breaks it outright (measured at the 100x
#    corpus, 28.5k nodes: 1 descent + 3 layer-0 rounds from a fixed
#    entry point -> recall@10 = 0.00; the beam plateaued at cos 0.39
#    vs exact best ~0.85). The fix keeps the HNSW top layer but sizes
#    it to be SCORED in one distributed round (~n_nodes/64 spread
#    seed nodes, embeddings denormalized into the seed artifact):
#    seeding reaches every region of the space at hop 0, and the
#    layer-0 beam rounds only refine locally — measured recall@10 =
#    1.00 at sf0.01 AND sf0.1 AND the 100x corpus with the same
#    (ef0=48, T0=3) knobs.
#
# Two regimes, one query plan (the IVF posting-list discipline):
# - corpus <= _HNSW_SAMPLE_CAP distinct vectors: every DISTINCT
#   vector is a graph node and the assignment is identity;
# - larger corpora: nodes are a deterministic stride sample of the
#   distinct vectors (bounded build: never exceeds cap^2 chunked
#   similarities) and every corpus vector is assigned to its nearest
#   node by a Spark pandas-UDF argmax job (the DiskANN/SPANN
#   partitioning shape); the final beam's posting lists are reranked
#   exactly.
#
# The QUERY is K BOUNDED FRONTIER JOINS — no driver-side loop state,
# no convergence collect: the seed round scores the top layer (one
# broadcast join + window), then each expansion joins the (tiny,
# broadcast) beam against the edge table, which CARRIES the
# destination embeddings, so expansion scores cosines without
# rescanning the corpus; dedup (groupBy max) + top-ef window produce
# the next beam. Only the final posting rerank touches the embeddings
# table — one corpus scan, the same shape as every other ANN path.
# ---------------------------------------------------------------------------
_HNSW_M = 16  # neighbors per node
_HNSW_SAMPLE_CAP = 32768
_HNSW_SEED_DIV = 64  # top layer ~ n_nodes/64 nodes, floored at 64
_HNSW_EF0 = 48  # beam width
_HNSW_T0 = 3  # frontier-join expansion rounds after seeding
# r10 parameter sweep (numpy twin of this exact search):
#   ef0=32,T0=2 -> 1.00/0.57 (sf0.01/sf0.1); ef0=48,T0=2 -> 0.40 at
#   100x; ef0=48,T0=3 -> 1.00 at sf0.01 AND sf0.1 AND 100x (M=16;
#   M=12 drops sf0.1 to 0.83; seed sets of 224-893 nodes all reach
#   1.00 at 100x with T0=3)
_HNSW_RECALL_FLOOR = 0.90
_HNSW_PARAMS = f"v4_M{_HNSW_M}_d{_HNSW_SEED_DIV}_cap{_HNSW_SAMPLE_CAP}"


def build_hnsw_graph(spark: SparkSession, sf_dir: str):
    """Build (or load) the persisted HNSW artifacts. Returns
    (edges_path, seeds_path, assign_path, n_nodes).

    Three parquet artifacts keyed by corpus fingerprint + params:
    - _edges: (src, dst, dst_emb) kNN neighbor lists over the node
      set, destination embeddings denormalized in so frontier
      expansion never joins the corpus table;
    - _seeds: (node_id, emb) the top-layer seed nodes (a deterministic
      spread subset, ~n_nodes/_HNSW_SEED_DIV rows) scored exhaustively
      by the query's seed round;
    - _assign: (vec_id, node_id) posting assignment (identity when
      every distinct vector is a node)."""
    return artifact(
        "hnsw",
        sf_dir,
        _HNSW_PARAMS,
        lambda key: _hnsw_artifacts(spark, sf_dir, key),
        ("embeddings",),
    )


def _hnsw_artifacts(spark: SparkSession, sf_dir: str, key: str) -> tuple:
    """Load, or build and publish, the HNSW artifacts named after
    ``key`` (see build_hnsw_graph)."""
    import pyarrow as pa
    import pyarrow.parquet as pq_

    # v4 (VERDICT r10 #1 — driver-bound the build): v3 pulled the FULL
    # embeddings table through the driver (toPandas before the
    # exact-collapse; a corpus-sized collect of the posting
    # assignment) — fine at 200k x 64 floats, fatal at 100 TB. Now the
    # only driver materialization is the NODE SAMPLE (<= ~_HNSW_SAMPLE_CAP
    # rows by construction):
    # - exact-collapse is a distributed groupBy(embedding) ->
    #   min(vec_id) (the dedup_exact shape), with the sample filter
    #   pmod(xxhash64(embedding), stride) == 0 pushed BELOW the shuffle
    #   — whole duplicate-groups are kept or dropped together and only
    #   ~1/stride of the corpus shuffles;
    # - the posting assignment (already a Spark pandas-UDF argmax job
    #   in v3) writes its output with df.write.parquet instead of
    #   collect + pyarrow;
    # - n_nodes on the warm path derives from the BOUNDED edge table
    #   (<= cap * M rows), not a corpus-sized assignment read.
    # The hash sample replaces v3's vec_id-ordered stride sample; in
    # the stride == 1 regime (every distinct vector is a node — all
    # test SFs) the node set is identical, and at the 100x corpus the
    # r10 sweep showed seeding is insensitive to the spread mechanism
    # (seed sets of 224-893 nodes all read recall 1.00).
    epath, spath, apath = (
        index_path(key, part) for part in ("_edges", "_seeds", "_assign")
    )
    if not (
        os.path.exists(epath) and os.path.exists(spath) and os.path.exists(apath)
    ):
        e = load_table(spark, sf_dir, "embeddings")
        stats = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("embedding").alias("nd"),
        ).first()
        n_corpus, n_distinct = int(stats.n), int(stats.nd)
        stride = max(1, -(-n_distinct // _HNSW_SAMPLE_CAP))
        # EXACT-COLLAPSE before graph construction (the minhash
        # group-collapse discipline): on a duplicate-heavy corpus a
        # vector's M nearest neighbors are its own exact copies, so a
        # naive kNN graph degenerates into disconnected duplicate
        # cliques. Nodes are DISTINCT vectors (rep = min vec_id);
        # copies reach the result through the posting assignment.
        cand = e
        if stride > 1:
            cand = e.filter(
                F.pmod(F.xxhash64("embedding"), F.lit(stride)) == 0
            )
        node_rows_raw = (
            cand.groupBy("embedding")
            .agg(F.min("vec_id").alias("vec_id"))
            .collect()  # bounded: ~n_distinct/stride <= ~cap rows
        )
        node_rows_raw.sort(key=lambda r: r.vec_id)  # deterministic graph
        node_ids = np.array([r.vec_id for r in node_rows_raw], dtype=np.int64)
        E = np.array(
            [[float(x) for x in r.embedding] for r in node_rows_raw],
            dtype=np.float64,
        ).reshape(len(node_ids), -1)
        nn = len(node_ids)
        Sub = E / np.linalg.norm(E, axis=1, keepdims=True)
        k = min(_HNSW_M, nn - 1)
        srcs: list[int] = []
        dsts: list[int] = []
        if k > 0:
            for c0 in range(0, nn, 2048):
                sims = Sub[c0 : c0 + 2048] @ Sub.T
                for i in range(sims.shape[0]):
                    sims[i, c0 + i] = -2.0  # no self edge
                nb = np.argpartition(-sims, k, axis=1)[:, :k]
                for i in range(sims.shape[0]):
                    for j in nb[i]:
                        srcs.append(c0 + i)
                        dsts.append(int(j))
        # int64 dtype even when empty (ADVICE r10: np.array([]) is
        # float64 and cannot index) — a 1-distinct-vector corpus gets
        # an empty edge table with the full schema, not a crash
        src_rows = np.array(srcs, dtype=np.int64)
        dst_rows = np.array(dsts, dtype=np.int64)
        atomic_write_table(
            pa.table(
                {
                    "src": pa.array(node_ids[src_rows], type=pa.int64()),
                    "dst": pa.array(node_ids[dst_rows], type=pa.int64()),
                    "dst_emb": pa.array(
                        [E[r].tolist() for r in dst_rows],
                        type=pa.list_(pa.float64()),
                    ),
                }
            ),
            epath,
        )
        # top layer: a spread stride subset, entered by exhaustive
        # scoring — its embeddings ride in the artifact
        n_seeds = min(nn, max(_HNSW_SEED_DIV, nn // _HNSW_SEED_DIV))
        sstride = max(1, nn // max(n_seeds, 1))
        seed_rows = np.arange(nn, dtype=np.int64)[::sstride]
        atomic_write_table(
            pa.table(
                {
                    "node_id": pa.array(node_ids[seed_rows], type=pa.int64()),
                    "emb": pa.array(
                        [E[r].tolist() for r in seed_rows],
                        type=pa.list_(pa.float64()),
                    ),
                }
            ),
            spath,
        )
        if stride == 1 and nn == n_corpus:
            # every vector is its own (distinct) node
            assign_df = e.select(
                "vec_id", F.col("vec_id").alias("node_id")
            )
        else:
            # assignment is a SPARK job (pandas-UDF argmax per Arrow
            # batch against the broadcast node matrix); the output is
            # WRITTEN BY EXECUTORS — the corpus-sized frame never
            # exists on the driver
            import pandas as pd
            from pyspark.sql.functions import pandas_udf

            Nn = Sub
            node_id_arr = node_ids

            def _nearest(emb: pd.Series) -> pd.Series:
                B = np.vstack(emb.to_numpy()).astype(np.float64)
                Bn = B / np.linalg.norm(B, axis=1, keepdims=True)
                return pd.Series(node_id_arr[np.argmax(Bn @ Nn.T, axis=1)])

            nearest_udf = pandas_udf(_nearest, "long")
            assign_df = e.select(
                "vec_id", nearest_udf("embedding").alias("node_id")
            )
        atomic_write_df(assign_df, apath)
    # n_nodes from the bounded edge artifact (<= cap * M rows); a
    # degenerate single-node graph has no edges — fall back to the
    # seed table (also bounded), which always carries >= 1 node.
    src_col = pq_.read_table(epath, columns=["src"]).column("src")
    n_nodes = len(src_col.unique()) or pq_.read_table(
        spath, columns=["node_id"]
    ).num_rows
    return (epath, spath, apath, n_nodes)


def _seq_dot(a: "np.ndarray", b: "np.ndarray") -> "np.ndarray":
    """Row-wise dot product as a SEQUENTIAL left fold (cumsum of the
    elementwise products), bit-identical to functions.vectors.dot's
    F.aggregate fold: the fold starts at 0.0 (0.0 + x0 == x0 exactly)
    and adds products in array order, which is precisely what cumsum
    computes — NOT numpy's pairwise-summed ``dot``, whose different
    rounding could flip a near-tie in the beam ordering."""
    return np.cumsum(a * b, axis=-1)[..., -1]


def _load_hnsw_graph_arrays(spark: SparkSession, sf_dir: str) -> tuple:
    """The bounded graph artifacts as driver numpy arrays, memoized
    under the graph's own corpus key. Bounded BY CONSTRUCTION: <=
    _HNSW_SAMPLE_CAP * _HNSW_M edge rows at any corpus size, so this
    is not a corpus-sized driver materialization. Edges come back
    grouped by src (stable argsort + searchsorted slices); dst
    embeddings and their fold-norms are precomputed once."""

    import pyarrow.parquet as pq_

    def make(_key: str) -> tuple:
        epath, spath, _, _ = build_hnsw_graph(spark, sf_dir)
        et = pq_.read_table(epath)
        src = et.column("src").to_numpy()
        dst = et.column("dst").to_numpy()
        demb_col = et.column("dst_emb").combine_chunks()
        if et.num_rows:
            demb = np.asarray(demb_col.flatten()).reshape(et.num_rows, -1)
        else:
            demb = np.zeros((0, 1), dtype=np.float64)
        order = np.argsort(src, kind="stable")
        src, dst, demb = src[order], dst[order], demb[order]
        dnorm = np.sqrt(_seq_dot(demb, demb))
        group_keys = np.unique(src)
        starts = np.searchsorted(src, group_keys, side="left")
        ends = np.searchsorted(src, group_keys, side="right")
        slices = {int(k): (int(s), int(e)) for k, s, e in zip(group_keys, starts, ends)}
        st = pq_.read_table(spath)
        seed_ids = st.column("node_id").to_numpy()
        if st.num_rows:
            semb = np.asarray(st.column("emb").combine_chunks().flatten()).reshape(
                st.num_rows, -1
            )
        else:
            semb = np.zeros((0, 1), dtype=np.float64)
        snorm = np.sqrt(_seq_dot(semb, semb))
        return (slices, dst, demb, dnorm, seed_ids, semb, snorm)

    return artifact("hnsw_arrays", sf_dir, _HNSW_PARAMS, make, ("embeddings",))


def _sim_ann_hnsw_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HNSW beam search over the BOUNDED graph artifacts (see the
    section comment for the design and the measured navigation failure
    that shaped it). Round 0 scores the top-layer seed table
    exhaustively; rounds 1.._HNSW_T0 expand the beam through the edge
    table (cosines from the denormalized dst_emb, (probe, node)
    max-dedup, top-ef cut). The final beam's posting lists are
    reranked with exact cosine — the one corpus-table join.

    r13 (guide §1.2/§5; VERDICT r12 next #6): through r12 each
    expansion was a broadcast frontier JOIN — four serialized driver
    round-trips per query, the ANN family's last latency floor (the
    r10 negatives stand: 2-hop chaining 8.7-10.2 s vs 6.8-7.7 s,
    repartition pruning 15-16 s). The search now runs VECTORIZED ON
    THE DRIVER over the same artifacts, which is scale-safe because
    the graph is bounded BY CONSTRUCTION (<= cap*M edge rows at any
    corpus size — the same boundedness that already justified
    collecting the node sample in the build and the probe rows here);
    everything corpus-scaled (posting assignment, exact rerank) stays
    distributed. Bit-equivalence with the join form: cosines use the
    same sequential-fold arithmetic (_seq_dot), the dedup keeps the
    max of identical values, and the top-ef cut sorts by the identical
    (-sim, node) key — pinned by tests/test_r13_optimizations.py
    against a literal DataFrame replay of the old plan."""
    apath = build_hnsw_graph(spark, sf_dir)[2]
    e = load_table(spark, sf_dir, "embeddings")
    probe_rows = (
        e.filter(F.col("vec_id").isin(*_PROBE_IDS))
        .select("vec_id", "embedding")
        .collect()
    )
    slices, dst, demb, dnorm, seed_ids, semb, snorm = _load_hnsw_graph_arrays(
        spark, sf_dir
    )
    members_rows: list[tuple] = []
    pv_by_probe: dict[int, list] = {}
    for r in probe_rows:
        pid = int(r.vec_id)
        pv = np.array([float(x) for x in r.embedding], dtype=np.float64)
        pv_by_probe[pid] = [float(x) for x in pv]
        pnorm = float(np.sqrt(_seq_dot(pv, pv)))
        # seed round: exhaustive top-layer scoring (desc sim, asc node)
        sims = _seq_dot(semb, pv[None, :]) / (snorm * pnorm)
        ranked = sorted(
            zip(seed_ids.tolist(), sims.tolist()), key=lambda t: (-t[1], t[0])
        )[:_HNSW_EF0]
        beam = dict(ranked)
        for _ in range(_HNSW_T0):
            cand = dict(beam)  # the union-with-beam identity rows
            spans = [slices[n] for n in beam if n in slices]
            if spans:
                idx = np.concatenate([np.arange(s, t) for s, t in spans])
                csims = _seq_dot(demb[idx], pv[None, :]) / (dnorm[idx] * pnorm)
                for node, s in zip(dst[idx].tolist(), csims.tolist()):
                    prev = cand.get(node)
                    if prev is None or s > prev:
                        cand[node] = s
            beam = dict(
                sorted(cand.items(), key=lambda t: (-t[1], t[0]))[:_HNSW_EF0]
            )
        members_rows.extend((pid, int(n)) for n in beam)

    beam_df = spark.createDataFrame(
        [(p, pv_by_probe[p], n) for p, n in members_rows],
        "probe_id long, pv array<double>, node long",
    )
    assign = spark.read.parquet(apath)
    members = beam_df.join(assign, beam_df.node == assign.node_id)
    emb = e.select("vec_id", "label", to_double("embedding").alias("ev"))
    w2 = Window.partitionBy("probe_id").orderBy(F.desc("cos_sim"), "vec_id")
    return (
        emb.join(
            F.broadcast(members.select("probe_id", "pv", "vec_id")), "vec_id"
        )
        .filter(F.col("vec_id") != F.col("probe_id"))
        .withColumn("cos_sim", F.round(cosine(F.col("pv"), F.col("ev")), 6))
        .withColumn("nn_rank", F.row_number().over(w2))
        .filter(F.col("nn_rank") <= 10)
        .select("probe_id", "vec_id", "label", "cos_sim", "nn_rank")
    )


@register(
    "q_sim_ann_hnsw",
    oracle=_ann_oracle(10),
    tags=("similarity", "ann", "hnsw", "approx"),
)
def sim_ann_hnsw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HNSW ANN in DECISION FORM: per-probe exact brute-force anchors
    plus contract booleans (see _ann_decision). The graph build and
    frontier-join beam search live in build_hnsw_graph /
    _sim_ann_hnsw_topk; the measured recall floor (0.90; the r10
    sweep read 1.00 at sf0.01, sf0.1 AND the 100x corpus with ef0=48,
    T0=3, M=16) is asserted here and on the raw frame in tests."""
    ann = _sim_ann_hnsw_topk(spark, sf_dir)
    exact = _exact_topk_artifact(spark, sf_dir)
    return _ann_decision(
        spark, ann, exact, _uniform_n_corpus(spark, sf_dir), 10, _HNSW_RECALL_FLOOR
    )


_MRL_DIM = 16
_MRL_ORACLE = f"""
  WITH pairs(id_a, id_b) AS (VALUES {", ".join(f"({a}, {b})" for a, b in _PAIRS)})
  SELECT p.id_a, p.id_b,
         round({sql_cosine('a.embedding', 'b.embedding')}, 6) AS cos_full,
         round({sql_cosine('a.embedding[1:16]', 'b.embedding[1:16]')}, 6)
           AS cos_trunc,
         round(abs({sql_cosine('a.embedding', 'b.embedding')}
                   - {sql_cosine('a.embedding[1:16]', 'b.embedding[1:16]')}), 6)
           AS cos_err
  FROM pairs p
  JOIN embeddings a ON a.vec_id = p.id_a
  JOIN embeddings b ON b.vec_id = p.id_b
"""


@register(
    "q_embedding_matryoshka", oracle=_MRL_ORACLE, tags=("similarity", "matryoshka", "llm")
)
def embedding_matryoshka(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation check (MRL, Kusupati et al. 2022,
    arXiv:2205.13147): how much pairwise cosine drifts when the
    64-dim embedding is truncated to its 16-dim prefix — the
    measurement a pipeline runs before switching ANN search to a
    cheaper prefix dimension (prefix cosine needs no re-normalization
    pass: cosine is scale-invariant, so truncate-and-compare is
    exact). Map-only over a broadcast probe-pair list; at corpus
    scale the same expression runs as a column over the full table.
    These synthetic embeddings are NOT MRL-trained, so the expected
    drift is large — the query is the measurement, not a claim."""
    e = load_table(spark, sf_dir, "embeddings")
    pairs = spark.createDataFrame(_PAIRS, "id_a long, id_b long")
    a = e.select(F.col("vec_id").alias("id_a"), to_double("embedding").alias("va"))
    b = e.select(F.col("vec_id").alias("id_b"), to_double("embedding").alias("vb"))
    cf = cosine(F.col("va"), F.col("vb"))
    ct = cosine(F.slice("va", 1, _MRL_DIM), F.slice("vb", 1, _MRL_DIM))
    return (
        F.broadcast(pairs)
        .join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(cf, 6).alias("cos_full"),
            F.round(ct, 6).alias("cos_trunc"),
            F.round(F.abs(cf - ct), 6).alias("cos_err"),
        )
    )


def _kmeans_oracle(sf_dir: str) -> str:
    """DuckDB twin for q_cluster_kmeans (VERDICT r8 next #1a): the
    persisted centroid artifact — the SAME one the Spark side loads —
    inlined as k x 64 double literals (exact shortest-round-trip
    reprs), the assignment recomputed per row with the identical
    integer-scaled distance floor(d2 * 1e6 + 0.5) and
    lowest-cluster-id tie-break, and the per-cluster rollup restated
    in SQL. ||c||^2 is inlined from the same numpy reduction the
    kernel uses, so the only cross-engine float difference is
    summation order in ||e||^2 and the dot product (~1e-10 absolute,
    5e-7 below the rounding granularity). An oracle FACTORY, not a
    static string: the centroids are corpus-keyed, so the SQL can
    only be written against a concrete sf_dir."""
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is None:
        from pypiper_spark.session import get_spark

        spark = get_spark(app_name="pypiper-kmeans-oracle")
    cents = build_ivf_index(spark, sf_dir, k=16)
    C = np.array(cents, dtype=np.float64)
    c2 = (C * C).sum(axis=1)
    rows = ",\n    ".join(
        f"({i}, [{', '.join(repr(float(x)) for x in cents[i])}]::DOUBLE[], "
        f"{c2[i]!r})"
        for i in range(len(cents))
    )
    return f"""
  WITH cents(cluster_id, cv, c2) AS (VALUES
    {rows}),
  ev AS (SELECT label, embedding::DOUBLE[] AS v FROM embeddings),
  assigned AS (
    SELECT label, (
      SELECT c.cluster_id FROM cents c
      ORDER BY floor((list_sum(list_transform(v, x -> x * x))
                      - 2 * list_inner_product(v, c.cv) + c.c2) * 1e6 + 0.5),
               c.cluster_id
      LIMIT 1) AS cluster
    FROM ev),
  counts AS (
    SELECT cluster, label, count(*) AS c FROM assigned GROUP BY cluster, label),
  ranked AS (
    SELECT cluster, label, c,
           CAST(sum(c) OVER (PARTITION BY cluster) AS BIGINT) AS n_vectors,
           row_number() OVER (PARTITION BY cluster
                              ORDER BY c DESC, label) AS rk
    FROM counts)
  SELECT CAST(cluster AS INT) AS cluster_id, n_vectors,
         CAST(label AS BIGINT) AS majority_label, c AS n_majority
  FROM ranked WHERE rk = 1
"""


@register(
    "q_cluster_kmeans",
    oracle_factory=_kmeans_oracle,
    tags=("similarity", "clustering", "llm"),
)
def cluster_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus clustering as a first-class operator: assign EVERY
    embedding to its nearest persisted-KMeans centroid (the same k=16
    artifact the IVF index uses — build once, serve index AND
    analytics) and report per-cluster composition: size, majority
    label, and majority count. This is the corpus-organization step
    SemDeDup-style pipelines run before per-cluster work (dedup.py's
    semantic dedup blocks on exactly these clusters).

    Scale shape: assignment is the batched argmin-L2 kernel
    (_nearest_centroid_udf — one numpy matmul per Arrow batch, k x dim
    literals in the plan; the 100 TB path is embarrassingly map-only),
    then ONE small hash aggregate — (cluster, label) counts — with
    cluster size and the deterministic majority pick both computed by
    windows sharing one partitioning over that bounded table (160
    rows here, never corpus-scale; ties break toward the smaller
    label). Exact-oracled since r9 through an oracle FACTORY
    (_kmeans_oracle): the centroids come from an ML fit, so the twin
    inlines the persisted artifact as literals and recomputes the
    integer-scaled assignment in SQL; the full numpy re-assignment
    equivalence test (tests/test_equivalences.py) stays as a second
    check."""
    centroids = build_ivf_index(spark, sf_dir, k=16)
    e = load_table(spark, sf_dir, "embeddings")
    assigned = e.select(
        "label",
        _nearest_centroid_udf(centroids)(F.col("embedding")).alias("cluster"),
    )
    counts = assigned.groupBy("cluster", "label").agg(
        F.count(F.lit(1)).alias("c")
    )
    # size and majority in ONE pass over the bounded count table: a
    # self-join (sizes x ranked) would re-run the assignment UDF and
    # the corpus aggregate once per branch — Catalyst does not dedupe
    # shared subtrees without a cache, and a 160-row table never earns
    # one. Two window functions share the cluster partitioning.
    wp = Window.partitionBy("cluster")
    w = wp.orderBy(F.desc("c"), "label")
    return (
        counts.select(
            "cluster",
            "label",
            "c",
            F.sum("c").over(wp).alias("n_vectors"),
            F.row_number().over(w).alias("rk"),
        )
        .filter(F.col("rk") == 1)
        .select(
            F.col("cluster").cast("int").alias("cluster_id"),
            "n_vectors",
            F.col("label").cast("long").alias("majority_label"),
            F.col("c").alias("n_majority"),
        )
    )


# ---------------------------------------------------------------------------
# q_hard_negatives: contrastive hard-negative mining with label supervision
# ---------------------------------------------------------------------------

_HN_ANCHOR_IDS = (5, 11, 17, 23)
_HN_K = 4
_HN_DUP_CEIL = 0.95  # above this cosine a "negative" is a near-dup, not hard

_HARD_NEG_ORACLE = f"""
  WITH anchors AS (
    SELECT vec_id AS a_id, embedding AS av, label AS a_label
    FROM embeddings WHERE vec_id IN {_HN_ANCHOR_IDS}
  ), scored AS (
    SELECT a.a_id, a.a_label, e.vec_id, e.label,
           round({sql_cosine('a.av', 'e.embedding')}, 6) AS cos_sim
    FROM anchors a CROSS JOIN embeddings e
    WHERE e.vec_id != a.a_id
  ), neg AS (
    SELECT *,
           row_number() OVER (PARTITION BY a_id
                              ORDER BY cos_sim DESC, vec_id) AS neg_rank
    FROM scored
    WHERE label != a_label AND cos_sim < {_HN_DUP_CEIL}
  ), pos AS (
    SELECT a_id, vec_id AS pos_id, cos_sim AS cos_pos,
           row_number() OVER (PARTITION BY a_id
                              ORDER BY cos_sim DESC, vec_id) AS rn
    FROM scored
    WHERE label = a_label
  )
  SELECT n.a_id AS anchor_id, p.pos_id, p.cos_pos,
         n.vec_id AS neg_id, n.label AS neg_label, n.cos_sim AS cos_neg,
         CAST(n.neg_rank AS BIGINT) AS neg_rank,
         round(p.cos_pos - n.cos_sim, 6) AS margin
  FROM neg n JOIN pos p ON p.a_id = n.a_id AND p.rn = 1
  WHERE n.neg_rank <= {_HN_K}
"""


@register(
    "q_hard_negatives",
    oracle=_HARD_NEG_ORACLE,
    tags=("similarity", "llm", "sft", "contrastive"),
)
def hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive retrieval training: for
    each anchor, the top-k most-similar vectors carrying a DIFFERENT
    label (hard negatives — close in embedding space, wrong answer),
    excluding near-duplicates (cosine >= 0.95 is a mislabeled positive,
    the standard false-negative filter), paired with the anchor's best
    same-label neighbor (the retrieval positive) and the exact
    positive-negative margin the InfoNCE loss will see. Complements
    q_contrastive_negatives (random in-batch ring) with the
    similarity-ranked variant used for re-ranker / retriever training.

    Scoring is the q_sim_topk_bruteforce kernel: one numpy matmul per
    Arrow batch against the broadcast anchor matrix (bounded anchor
    set — the exact rung; at corpus scale the candidate set comes from
    the ANN family's posting lists instead of a full scan), cosine
    rounded at 1e-6 BEFORE ranking so ordering is engine-stable.

    Single-pass election: the positive is a max-over-struct
    ((cos, -vec_id) — ties to the smallest id) on a full-partition
    frame, computed in the SAME anchor-keyed window pass that ranks
    the negatives — branching scored into a pos-side and a neg-side
    (the first draft) re-executed the Python kernel once per branch
    (two ArrowEvalPython nodes) because the branch filters sit below
    the exchanges and defeat reuse; the struct trick makes the plan
    ONE kernel, ONE exchange, NO join (plan-tested).

    Margin discipline: cos values are identical doubles in both
    engines (rounded fold vs rounded matmul, the proven topk rule), so
    the re-rounded difference is bit-stable."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    e = load_table(spark, sf_dir, "embeddings")
    anchor_rows = (
        e.filter(F.col("vec_id").isin(*_HN_ANCHOR_IDS))
        .select("vec_id", "embedding", "label")
        .collect()  # bounded: len(_HN_ANCHOR_IDS) rows by construction
    )
    anchor_ids = [r.vec_id for r in anchor_rows]
    anchor_labels = [r.label for r in anchor_rows]
    A = np.array([r.embedding for r in anchor_rows], dtype=np.float64)
    An = A / np.linalg.norm(A, axis=1, keepdims=True)

    def _scores(emb: pd.Series) -> pd.Series:
        E = np.vstack(emb.to_numpy()).astype(np.float64)
        En = E / np.linalg.norm(E, axis=1, keepdims=True)
        return pd.Series(list(np.round(En @ An.T, 6)))

    # Deterministic in fact; the pin stops CollapseProject from
    # duplicating the kernel into stacked eval nodes (the documented
    # q_sim_ann_ivfpq fix — plan test holds it at ONE ArrowEvalPython).
    scores_udf = pandas_udf(_scores, "array<double>").asNondeterministic()
    aid_map = F.array(*[F.lit(int(a)).cast("long") for a in anchor_ids])
    albl_map = F.array(*[F.lit(int(l)).cast("int") for l in anchor_labels])
    scored = (
        e.select("vec_id", "label", scores_udf("embedding").alias("scores"))
        .select("vec_id", "label", F.posexplode("scores").alias("ai", "cos_sim"))
        .select(
            F.element_at(aid_map, F.col("ai") + 1).alias("a_id"),
            F.element_at(albl_map, F.col("ai") + 1).alias("a_label"),
            "vec_id",
            "label",
            "cos_sim",
        )
        .filter(F.col("vec_id") != F.col("a_id"))
    )
    w_full = Window.partitionBy("a_id").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w = Window.partitionBy("a_id").orderBy(F.desc("cos_sim"), "vec_id")
    with_pos = scored.select(
        "a_id",
        "a_label",
        "vec_id",
        "label",
        "cos_sim",
        F.max(
            F.when(
                F.col("label") == F.col("a_label"),
                F.struct(F.col("cos_sim"), (-F.col("vec_id")).alias("nid")),
            )
        )
        .over(w_full)
        .alias("pos"),
    )
    neg = (
        # pos non-null mirrors the oracle's INNER join against the
        # positive election: an anchor with no same-label peer emits
        # nothing (NULL pos columns would be a silent oracle divergence)
        with_pos.filter(
            F.col("pos").isNotNull()
            & (F.col("label") != F.col("a_label"))
            & (F.col("cos_sim") < _HN_DUP_CEIL)
        )
        .withColumn("neg_rank", F.row_number().over(w))
        .filter(F.col("neg_rank") <= _HN_K)
    )
    return neg.select(
        F.col("a_id").alias("anchor_id"),
        (-F.col("pos.nid")).alias("pos_id"),
        F.col("pos.cos_sim").alias("cos_pos"),
        F.col("vec_id").alias("neg_id"),
        F.col("label").alias("neg_label"),
        F.col("cos_sim").alias("cos_neg"),
        F.col("neg_rank").cast("bigint").alias("neg_rank"),
        F.round(F.col("pos.cos_sim") - F.col("cos_sim"), 6).alias("margin"),
    )


# ---------------------------------------------------------------------------
# q_sim_ann_filtered: metadata-filtered ANN (prefilter strategy)
# ---------------------------------------------------------------------------


def _sim_ann_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-FILTERED approximate NN — the production vector-search
    case (every real query carries a predicate: same collection, same
    language, date range): each probe retrieves its top-5 nearest
    vectors sharing the probe's OWN label, over the q_sim_ann_ivf
    posting lists. The filter runs PREFILTER: the label predicate sits
    UNDER the posting-list join (and reaches the parquet scan as a
    pushed filter when the planner can — it precedes the assignment
    UDF in the tree), so non-matching vectors never enter candidate
    generation. The postfilter alternative (rank first, filter after)
    returns FEWER than k results whenever the filter is selective —
    the standard filtered-ANN failure mode — and, given identical
    probed cells, prefilter at the same k dominates it: same
    candidates, no post-rank starvation.

    Approximate by construction (inherits IVF's nprobe/k scan
    fraction); the registered q_sim_ann_filtered wraps this frame in
    decision form against the exact label-filtered brute force, and
    the property test measures recall and pins result-label purity.
    At 100 TB: posting lists partitioned by cluster id, label as a
    partition/zorder column so the prefilter prunes files before the
    posting join touches them."""
    import numpy as np

    centroids = build_ivf_index(spark, sf_dir, k=16)
    e = load_table(spark, sf_dir, "embeddings")
    vec = to_double(F.col("embedding"))

    centers = np.array(centroids)
    probe_rows = (
        e.filter(F.col("vec_id").isin(*_PROBE_IDS))
        .select("vec_id", "embedding", "label")
        .collect()  # bounded: len(_PROBE_IDS) rows
    )
    nprobe = 4
    probe_clusters = []
    for r in probe_rows:
        v = np.array(r.embedding, dtype=np.float64)
        d = np.linalg.norm(centers - v, axis=1)
        for c in np.argsort(d)[:nprobe]:
            probe_clusters.append((int(r.vec_id), int(r.label), int(c)))
    pc = spark.createDataFrame(
        probe_clusters, "probe_id long, p_label int, cluster int"
    )

    # PREFILTER: only labels any probe wants can survive the scan; the
    # per-probe equality tightens it at the join. The label predicate
    # precedes the assignment UDF, so Catalyst pushes it to the scan.
    wanted = sorted({l for (_, l, _) in probe_clusters})
    assigned = (
        e.filter(F.col("label").isin(*wanted))
        .select(
            "vec_id",
            "label",
            vec.alias("ev"),
            _nearest_centroid_udf(centroids)(F.col("embedding")).alias("cluster"),
        )
    )
    probes = (
        spark.createDataFrame(
            [(int(r.vec_id),) for r in probe_rows], "probe_id long"
        )
        .join(
            e.select(F.col("vec_id").alias("probe_id"), vec.alias("pv")),
            "probe_id",
        )
    )
    cands = (
        assigned.join(F.broadcast(pc), ["cluster"])
        .filter(
            (F.col("label") == F.col("p_label"))
            & (F.col("vec_id") != F.col("probe_id"))
        )
        .join(F.broadcast(probes), "probe_id")
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("cos_sim"), "vec_id")
    return (
        cands.withColumn("cos_sim", F.round(cosine(F.col("pv"), F.col("ev")), 6))
        .withColumn("nn_rank", F.row_number().over(w))
        .filter(F.col("nn_rank") <= 5)
        .select("probe_id", "vec_id", "label", "cos_sim", "nn_rank")
    )


def _filtered_bruteforce_topk(spark: SparkSession, sf_dir: str, k: int = 5) -> DataFrame:
    """Exact label-filtered top-k per probe: each probe against only
    the corpus vectors sharing its OWN label (the filtered-ANN ground
    truth). Broadcast probes, expression cosine, rounded before
    ranking — same discipline as sim_topk_bruteforce."""
    e = load_table(spark, sf_dir, "embeddings")
    vec = to_double(F.col("embedding"))
    probes = e.filter(F.col("vec_id").isin(*_PROBE_IDS)).select(
        F.col("vec_id").alias("probe_id"),
        F.col("label").alias("p_label"),
        vec.alias("pv"),
    )
    scored = (
        e.select("vec_id", "label", vec.alias("ev"))
        .join(F.broadcast(probes), F.col("label") == F.col("p_label"))
        .filter(F.col("vec_id") != F.col("probe_id"))
        .withColumn("cos_sim", F.round(cosine(F.col("pv"), F.col("ev")), 6))
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("cos_sim"), "vec_id")
    return (
        scored.withColumn("nn_rank", F.row_number().over(w))
        .filter(F.col("nn_rank") <= k)
        .select("probe_id", "vec_id", "cos_sim", "nn_rank")
    )


def _filtered_n_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(probe_id, n_corpus): each probe's candidate universe is the
    corpus sharing its label, minus itself."""
    e = load_table(spark, sf_dir, "embeddings")
    probes = e.filter(F.col("vec_id").isin(*_PROBE_IDS)).select(
        F.col("vec_id").alias("probe_id"), F.col("label").alias("p_label")
    )
    per_label = e.groupBy("label").agg(F.count(F.lit(1)).alias("n_label"))
    return probes.join(
        F.broadcast(per_label), F.col("p_label") == F.col("label")
    ).select("probe_id", (F.col("n_label") - 1).alias("n_corpus"))


_FILTERED_ANN_ORACLE = f"""
  WITH probes AS (
    SELECT vec_id AS probe_id, embedding AS pv, label AS p_label
    FROM embeddings WHERE vec_id IN {_PROBE_IDS}
  ), scored AS (
    SELECT p.probe_id, e.vec_id,
           round({sql_cosine('p.pv', 'e.embedding')}, 6) AS cos_sim
    FROM probes p JOIN embeddings e ON e.label = p.p_label
    WHERE e.vec_id != p.probe_id
  ), ranked AS (
    SELECT *, row_number() OVER (PARTITION BY probe_id
                                 ORDER BY cos_sim DESC, vec_id) AS r
    FROM scored
  ), ncorp AS (
    SELECT p.probe_id, count(*) - 1 AS n_corpus
    FROM probes p JOIN embeddings e ON e.label = p.p_label
    GROUP BY p.probe_id
  )
  SELECT k.probe_id, n.n_corpus,
         max(k.cos_sim) AS exact_best_sim,
         round(sum(k.cos_sim), 6) AS exact_topk_sum,
         TRUE AS recall_ok, TRUE AS k_rows_ok
  FROM ranked k JOIN ncorp n ON n.probe_id = k.probe_id
  WHERE k.r <= 5
  GROUP BY k.probe_id, n.n_corpus
"""

_FILTERED_RECALL_FLOOR = 0.2  # matches the tested mean-recall@5 floor


@register(
    "q_sim_ann_filtered",
    oracle=_FILTERED_ANN_ORACLE,
    tags=("similarity", "ann", "approx", "filter"),
)
def sim_ann_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered ANN in DECISION FORM: per-probe exact anchors against
    the LABEL-FILTERED brute force (each probe's universe is only the
    vectors sharing its label) plus contract booleans. The prefilter
    machinery lives in _sim_ann_filtered_topk; purity and the direct
    recall floor stay in tests/test_approx_ops.py."""
    ann = _sim_ann_filtered_topk(spark, sf_dir)
    exact = _filtered_bruteforce_topk(spark, sf_dir, 5)
    return _ann_decision(
        spark, ann, exact, _filtered_n_corpus(spark, sf_dir), 5, _FILTERED_RECALL_FLOOR
    )


# ---------------------------------------------------------------------------
# q_coreset_kcenter: greedy k-center data selection
# ---------------------------------------------------------------------------

_KC_STEPS = 6  # see the plan-growth note in coreset_kcenter before raising
_KC_SEED_ID = 0


def _kcenter_oracle() -> str:
    """Unrolled greedy k-center in plain SQL: step i picks the vector
    maximizing the (rounded) cosine distance to the selected set, tie
    broken toward the smallest vec_id — d{i}/m{i} chained CTEs, the
    q_graph_pagerank unrolling discipline over a selection recurrence."""
    parts = [f"""c0 AS (
        SELECT vec_id, label, embedding FROM embeddings
        WHERE vec_id = {_KC_SEED_ID}
      ),
      d0 AS (
        SELECT e.vec_id, e.label, e.embedding,
               round(1.0 - {sql_cosine('e.embedding', 'c0.embedding')}, 6)
                 AS dist
        FROM embeddings e, c0
      ),
      m1 AS (
        SELECT vec_id, label, embedding, dist
        FROM d0 ORDER BY dist DESC, vec_id LIMIT 1
      )"""]
    for i in range(1, _KC_STEPS):
        parts.append(f"""d{i} AS (
        SELECT d.vec_id, d.label, d.embedding,
               least(d.dist,
                     round(1.0 - {sql_cosine('d.embedding', f'm{i}.embedding')}, 6))
                 AS dist
        FROM d{i - 1} d, m{i}
      ),
      m{i + 1} AS (
        SELECT vec_id, label, embedding, dist
        FROM d{i} ORDER BY dist DESC, vec_id LIMIT 1
      )""")
    selects = [
        f"SELECT 0 AS step, vec_id, label, CAST(0.0 AS DOUBLE) AS dist_to_set FROM c0"
    ] + [
        f"SELECT {i} AS step, vec_id, label, dist AS dist_to_set FROM m{i}"
        for i in range(1, _KC_STEPS + 1)
    ]
    return "WITH " + ",\n      ".join(parts) + "\n" + "\nUNION ALL\n".join(selects)


@register(
    "q_coreset_kcenter",
    oracle=_kcenter_oracle(),
    tags=("llm", "similarity", "coreset", "selection", "iterative"),
)
def coreset_kcenter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center CORESET selection — the diversity-first data
    selection rule (pick the point farthest from everything already
    picked, k times): the classic 2-approximation to the k-center
    cover, used to pick maximally-diverse training subsets / seed
    deduplication exemplars. Output: the seed + 6 greedy picks with
    each pick's distance to the set at selection time (the covering
    radius trajectory — monotonically non-increasing).

    Exactness: cosine distances round at 1e-6 BEFORE the argmax and
    ties break toward the smallest vec_id (the q_sim_topk rule), so
    both engines elect identical centers at every step.

    Execution (r7 rewrite, VERDICT r6 #3): greedy selection is
    inherently sequential in k, so the honest distributed form is k
    BOUNDED driver round-trips — each step is ONE batched-numpy Arrow
    pass over the persisted corpus computing min-over-centers cosine
    distance (BLAS matvec per batch, E @ C.T — the thrice-measured
    numpy-kernel lesson from semantic dedup/LSH/IVF), then
    TakeOrderedAndProject(1) whose single winner row (64 floats)
    becomes the next center. Linear plans, k one-row collects — the
    sanctioned bounded-collect shape. This replaces the r6
    declarative unrolling (O(2^k) logical plan, six interpreted JVM
    higher-order fold passes, 19.1 s vs twin 7.55 s at 100x); the
    unrolled form survives as _kcenter_declarative, the independent
    second implementation the path-equality test replays against this
    one (identical rows at sf0.001 and sf0.1). Measured r7 at sf0.1:
    stepped ~1.6 s vs declarative ~2.9 s warm; at 100x the six BLAS
    passes replace six interpreted folds over 500k x 64 floats. At
    100 TB: base persists once, each step is one map pass + a
    per-partition top-1 heap — the minimum work greedy k-center
    admits."""
    return _kcenter_stepped(spark, sf_dir)


def _kcenter_declarative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Independent second implementation of greedy k-center (the r6
    one-job declarative unrolling — O(2^k) logical plan, zero driver
    round-trips). Retired from the query path for the stepped numpy
    form; kept as the cross-check twin the path-equality test replays
    (two implementations agreeing row-for-row is stronger evidence
    than either alone)."""
    e = load_table(spark, sf_dir, "embeddings")
    vec = to_double(F.col("embedding"))
    base = e.select("vec_id", "label", vec.alias("ev"))
    c0 = base.filter(F.col("vec_id") == _KC_SEED_ID).select(
        F.col("ev").alias("cv"),
        F.col("vec_id").alias("c_id"),
        F.col("label").alias("c_label"),
    )
    cur = base.crossJoin(F.broadcast(c0.select("cv"))).select(
        "vec_id",
        "label",
        "ev",
        F.round(1.0 - cosine(F.col("ev"), F.col("cv")), 6).alias("dist"),
    )
    picks = [
        c0.select(
            F.lit(0).alias("step"),
            F.col("c_id").alias("vec_id"),
            F.col("c_label").alias("label"),
            F.lit(0.0).alias("dist_to_set"),
        )
    ]
    for i in range(1, _KC_STEPS + 1):
        m = cur.orderBy(F.desc("dist"), "vec_id").limit(1)
        picks.append(
            m.select(
                F.lit(i).alias("step"),
                "vec_id",
                "label",
                F.col("dist").alias("dist_to_set"),
            )
        )
        if i < _KC_STEPS:
            mv = m.select(F.col("ev").alias("mv"))
            cur = cur.crossJoin(F.broadcast(mv)).select(
                "vec_id",
                "label",
                "ev",
                F.least(
                    F.col("dist"),
                    F.round(1.0 - cosine(F.col("ev"), F.col("mv")), 6),
                ).alias("dist"),
            )
    out = picks[0]
    for p_ in picks[1:]:
        out = out.unionByName(p_)
    return out.select(
        F.col("step").cast("int"),
        F.col("vec_id").cast("bigint"),
        F.col("label").cast("int"),
        F.col("dist_to_set").cast("double"),
    )


def _kcenter_stepped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-round batched-numpy form (see coreset_kcenter docstring)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    e = load_table(spark, sf_dir, "embeddings")
    base = e.select(
        "vec_id", "label", "embedding"
    ).persist()  # lifetime: session.release_query_caches policy

    seed = base.filter(F.col("vec_id") == _KC_SEED_ID).collect()[0]  # 1 row
    centers = [np.asarray(seed.embedding, dtype=np.float64)]
    picks = [(0, int(seed.vec_id), int(seed.label), 0.0)]

    def _dist_udf(cs: list):
        C = np.vstack(cs)  # (n_centers, d) float64
        cn = np.sqrt((C * C).sum(axis=1))

        @pandas_udf("double")
        def upd(emb: pd.Series) -> pd.Series:
            from decimal import ROUND_HALF_UP, Decimal

            E = np.vstack(emb.to_numpy()).astype(np.float64)
            cos = (E @ C.T) / (
                np.sqrt((E * E).sum(axis=1, keepdims=True)) * cn
            )
            # round(x, 6) must reproduce Spark's Round on DOUBLE
            # exactly: BigDecimal.valueOf(x) (= Decimal over the
            # shortest repr) setScale(6, HALF_UP). The previous
            # floor(x*1e6+0.5) emulation can disagree when x*1e6 lands
            # a ULP under a .5 boundary (ADVICE r7) — enough to flip
            # an argmax winner against the declarative path. Rounding
            # is monotone, so round(min) == min(round): take the raw
            # min per row first and Decimal-round one value per row
            # (O(batch), not O(batch x centers)).
            d = (1.0 - cos).min(axis=1)
            q6 = Decimal("0.000001")
            return pd.Series(
                [
                    float(
                        Decimal(repr(float(x))).quantize(
                            q6, rounding=ROUND_HALF_UP
                        )
                    )
                    for x in d
                ],
                dtype=np.float64,
            )

        return upd

    for i in range(1, _KC_STEPS + 1):
        w = (
            base.withColumn("dist", _dist_udf(centers)(F.col("embedding")))
            .orderBy(F.desc("dist"), "vec_id")
            .limit(1)
            .collect()[0]
        )
        picks.append((i, int(w.vec_id), int(w.label), float(w.dist)))
        centers.append(np.asarray(w.embedding, dtype=np.float64))

    return spark.createDataFrame(
        picks, "step int, vec_id bigint, label int, dist_to_set double"
    )
