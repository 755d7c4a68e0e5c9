"""Near-duplicate detection for LLM-data pipelines (SURVEY.md 2B):
MinHash+LSH banding, SimHash, exact word-set Jaccard, embedding-cosine
near-dup. Exact dedup lives in sorts_setops.q_dedup_exact.

Scale design (the reason these exist): all-pairs comparison is
O(n^2) — dead at 100 TB. MinHash/SimHash turn it into
group-by-signature + join-within-bucket: candidates are generated by
equi-joins on band signatures, and only candidates pay the exact
comparison. Hash functions are Spark's xxhash64 with literal seeds —
deterministic across executors and runs.
"""

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pypiper_spark.catalog import load_table
from pypiper_spark.functions.vectors import cosine, sql_cosine, to_double
from pypiper_spark.registry import register

_N_PERM = 32  # 4 bands x 8 rows
_N_BANDS = 4
_ROWS_PER_BAND = _N_PERM // _N_BANDS
_JACCARD_T = 0.9

# Banding rationale, measured on the testdata corpus (sf0.1, random
# pairs): median cross-doc word-set Jaccard is 0.59 and 17% of ALL
# pairs exceed 0.8 — the shared-vocabulary corpus is pathologically
# self-similar. Wide 4-row bands (collision prob s^4) admit ~40% of
# all pairs as candidates at the median similarity: quadratic, dead
# at scale. 8-row bands sharpen the s-curve (s^8): ~1.5% per band at
# the median but 43% at s=0.9 — candidates now track TRUE near-dups
# (recall ~0.90 at s=0.9 with 4 bands) instead of the corpus baseline.
# The verification threshold sits at 0.9 for the same reason: on this
# corpus anything lower makes the ANSWER itself quadratic (17% of all
# pairs), which no candidate generation can outrun.


def _doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    # coalesce(text, '') so EVERY doc tokenizes (NULL text splits to
    # NULL and explode would drop the doc entirely, breaking the
    # totality invariant the decision wraps' inner joins rely on —
    # ADVICE r11): '' splits to [''], one token, doc keeps a signature
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.explode(
            F.array_distinct(F.split(F.coalesce("text", F.lit("")), " "))
        ).alias("word"),
    )


def _truth_pairs(spark: SparkSession, sf_dir: str, threshold: float) -> DataFrame:
    """Exact blocked-Jaccard truth pairs at ``threshold``, served from
    a PERSISTED parquet artifact keyed by (documents fingerprint,
    threshold) — the vectors.py index lifecycle (VERDICT r9 next #2)
    applied to the dedup recall denominators.

    Why an artifact: the truth join is the most expensive part of the
    minhash/simhash decision wraps, and it is a pure function of the
    corpus — recomputing it inside every query run charged the packs
    for verification work that a real pipeline computes once per
    corpus snapshot (exactly like the IVF centroids). The oracle
    strength is UNCHANGED: DuckDB recomputes the truth from source on
    every check, so a stale or corrupted artifact flips n_true /
    recall_ok and fails the hash. A crash mid-write can't publish a
    truncated artifact (staging dir + atomic rename), and a
    regenerated corpus changes the fingerprint key
    (fingerprint.corpus_key discipline).

    DRIVER-BOUNDED build (VERDICT r11 #1): the pair frame is written
    by EXECUTORS via ``fingerprint.atomic_write_df`` (the build_hnsw_graph v4
    publish pattern) — nothing corpus- or pair-count-scaled crosses
    the driver. The r11 form collected every truth pair into Python
    lists before a pyarrow write; bounded at this corpus (~1M pairs)
    but data-scaled on a near-dup-heavy crawl. Pinned by
    tests/test_approx_ops.py::test_artifact_builders_are_driver_bounded."""
    import os

    from pypiper_spark.fingerprint import artifact, atomic_write_df, index_path

    def make(key: str) -> str:
        path = index_path(key)
        if not os.path.exists(path):
            atomic_write_df(
                _jaccard_pairs(spark, sf_dir, threshold).select("id_a", "id_b"),
                path,
            )
        return path

    return spark.read.parquet(
        artifact("jt", sf_dir, f"jaccard_truth_{threshold}", make)
    )


# Minhash-agreement prefilter: a candidate pair's 32 minhashes are an
# unbiased Jaccard estimator, already computed and 32 long-compares
# cheap — vs array_intersect's per-pair hash-set build. At j=0.9 the
# match count is Binomial(32, 0.9): P(< 22 matches) ~ 0.2%, so >= 22
# keeps essentially all true near-dups while discarding ~96% of the
# false candidates before the exact verify (measured: 755k candidates
# -> 28k survivors at sf0.1; the prefilter passes ~45k to intersect).
_MH_PREFILTER = 22


def _dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup candidates, verified with exact Jaccard.
    (The registered q_dedup_minhash wraps this pair frame in decision
    form; property tests assert on this frame directly.)

    Pipeline (group-collapsed LSH):
    1. distinct-word SET per doc as sorted xxhash64 longs (`wh`);
    2. **exact-collapse**: group docs by identical `wh` — LSH then
       runs on unique word-sets (3 935 of 5 000 docs at sf0.1), and
       every pair inside a group is a known j=1.0 duplicate emitted
       deterministically, no hashing needed. On real dup-heavy
       corpora (CommonCrawl ~30-50% exact dups) this collapses the
       quadratic candidate space before any pairwise work — the
       SlimPajama/CCNet staging of exact-before-near dedup;
    3. 32 minhashes per GROUP: explode the set once, hash in
       whole-stage codegen, 32 `min` aggregates in one shuffle of
       pre-aggregated state;
    4. 4 band signatures (xxhash64 of 8 minhashes), explode, self-join
       on (band, sig) with TWO inline codegen prefilters: gid_a <
       gid_b and the size-compatibility bound min(na,nb) >= 0.9 *
       max(na,nb) — j >= 0.9 is impossible outside it, so incompatible
       collisions die before the distinct shuffle (3.5M -> 1.0M rows);
    5. distinct candidate group-pairs -> join the group table back
       (unhinted: AQE broadcasts it while it fits the 64 MB
       threshold, and falls back to a shuffle join on gid at corpus
       scale — a hard broadcast hint here would OOM the driver at
       100 TB) -> **minhash-agreement prefilter** (>= 22/32 equal
       minhashes, see _MH_PREFILTER) -> exact
       size(array_intersect(wa, wb)) only on survivors -> j >= 0.9;
    6. expand group-pairs back to doc-pairs (explode members x
       members), union the within-group j=1.0 pairs.

    Scale shape: shuffles are the group-collapse, the signature agg,
    the tiny band self-join, and the candidate distinct — all on
    set-level (not doc-level, not token-level) rows. The group-table
    joins are unhinted, so AQE broadcasts them at sf scales and they
    become shuffle joins on gid at 100 TB with everything else
    unchanged. The group collapse itself is lossless (signatures are
    functions of the word-set alone — verified at sf0.1: 934 325
    pairs match doc-level LSH); the _MH_PREFILTER adds a small
    false-negative rate ON TOP of LSH's own recall (~0.2% of true
    j=0.9 pairs fall under 22/32 agreeing minhashes), the standard
    accuracy/cost trade both stages already make. Property tests
    assert exact duplicates always collide and high-similarity
    near-dups surface."""
    groups, verified = _minhash_machinery(spark, sf_dir)
    return _minhash_expand(groups, verified)


def _minhash_machinery(spark: SparkSession, sf_dir: str):
    """The shared collapse/signature/band/verify core at GROUP grain:
    returns (groups, verified) where ``groups`` is the PERSISTED
    (wh, gid, members, n) table over distinct word-sets and
    ``verified`` the exact-Jaccard-gated candidate group pairs
    (gid_a, gid_b, ma, mb, n_common, jaccard). _dedup_minhash_pairs
    expands these to doc pairs; the registered decision wrap
    aggregates them directly (r11 — the expansion is ~90M doc pairs
    at the 100x corpus, built only to be aggregated)."""
    d = load_table(spark, sf_dir, "documents")
    # wh: the distinct word set as SORTED xxhash64 longs — the
    # minhashes derive from it, identical-set grouping keys on it,
    # and the exact verify intersects it (long compares, not string
    # compares; a 64-bit collision inside one candidate pair is
    # negligible next to the LSH approximation)
    words = d.select(
        "doc_id",
        F.sort_array(
            F.array_distinct(
                F.transform(F.split(F.coalesce("text", F.lit("")), " "), lambda x: F.xxhash64(F.lit(0), x))
            )
        ).alias("wh"),
    )
    # The group table is corpus-cardinality / dup-factor rows of
    # (set, members, size) — small enough to persist at any sf here;
    # at 100 TB it is still ~1e9 rows of hashes, a normal cached
    # intermediate. It feeds four consumers (signatures, both verify
    # sides, within-group expansion) — without persist each consumer
    # re-runs the scan+collapse. Lifetime: see the persist-lifetime
    # policy in session.release_query_caches (harnesses clear per
    # query; long-lived sessions call it after consuming the result).
    groups = (
        words.groupBy("wh")
        .agg(F.min("doc_id").alias("gid"), F.collect_list("doc_id").alias("members"))
        .withColumn("n", F.size("wh"))
        .persist()
    )

    # Signatures per unique word-set: explode once, hash the 32
    # permutations in whole-stage codegen, min-aggregate. (Faster than
    # 32 array_min(transform(...)) passes: HOF lambdas run outside
    # codegen, per-element Invoke; this path is a plain hash agg.)
    base = groups.select("gid", F.explode("wh").alias("h"))
    mins = base.groupBy("gid").agg(
        *[F.min(F.xxhash64(F.lit(i), "h")).alias(f"mh{i}") for i in range(_N_PERM)]
    )
    sigs = mins.select(
        "gid",
        F.array(*[F.col(f"mh{i}") for i in range(_N_PERM)]).alias("mharr"),
        *[
            F.xxhash64(
                *[F.col(f"mh{b * _ROWS_PER_BAND + r}") for r in range(_ROWS_PER_BAND)]
            ).alias(f"band{b}")
            for b in range(_N_BANDS)
        ],
    ).persist()  # lifetime: session.release_query_caches policy

    bands = sigs.join(groups.select("gid", "n"), "gid").select(
        "gid",
        "n",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), F.col(f"band{b}").alias("sig"))
                    for b in range(_N_BANDS)
                ]
            )
        ).alias("bs"),
    ).select("gid", "n", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig"))

    a = bands.select(F.col("gid").alias("gid_a"), F.col("n").alias("na"), "band", "sig")
    b = bands.select(F.col("gid").alias("gid_b"), F.col("n").alias("nb"), "band", "sig")
    cand = (
        a.join(b, ["band", "sig"])
        .filter(
            (F.col("gid_a") < F.col("gid_b"))
            # size-compatibility: j >= 0.9 forces min/max >= 0.9
            & (F.least("na", "nb") * F.lit(10) >= F.greatest("na", "nb") * F.lit(9))
        )
        .select("gid_a", "gid_b")
        .distinct()
    )

    ga = groups.join(sigs.select("gid", "mharr"), "gid").select(
        F.col("gid").alias("gid_a"),
        F.col("wh").alias("wa"),
        F.col("members").alias("ma"),
        F.col("mharr").alias("mh_a"),
    )
    gb = groups.join(sigs.select("gid", "mharr"), "gid").select(
        F.col("gid").alias("gid_b"),
        F.col("wh").alias("wb"),
        F.col("members").alias("mb"),
        F.col("mharr").alias("mh_b"),
    )
    mh_agree = F.aggregate(
        F.zip_with("mh_a", "mh_b", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    # No broadcast hint: the group table scales with the corpus (word-
    # set arrays per group). AQE converts these to broadcast joins at
    # runtime while the built side is under the 64 MB threshold; at
    # 100 TB they stay shuffle joins on gid. A hard F.broadcast() here
    # would pin corpus-cardinality arrays in the driver — the one
    # plan shape that cannot survive a scale-up.
    verified = (
        cand.join(ga, "gid_a")
        .join(gb, "gid_b")
        .filter(mh_agree >= F.lit(_MH_PREFILTER))
        .select(
            "gid_a",
            "gid_b",
            "ma",
            "mb",
            F.size(F.array_intersect("wa", "wb")).alias("n_common"),
            F.size("wa").alias("na"),
            F.size("wb").alias("nb"),
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.col("na") + F.col("nb") - F.col("n_common")).cast("double"),
                6,
            ),
        )
        .filter(F.col("jaccard") >= _JACCARD_T)
        # persist at GROUP grain (output-bounded candidate pairs, ~1M
        # rows at the 100x corpus — vs the ~90M-row doc expansion the
        # r10 wrap cached): the band self-join + distinct + verify is
        # the expensive recompute, and both the decision wrap and
        # warm re-runs read this frame. Lifetime:
        # session.release_query_caches policy.
        .persist()
    )
    return groups, verified


def _minhash_expand(groups: DataFrame, verified: DataFrame) -> DataFrame:
    """Expand verified group pairs + within-group pairs back to doc
    pairs (the group-collapse inverse)."""
    cross = (
        verified.select(F.explode("ma").alias("da"), "mb", "n_common", "jaccard")
        .select("da", F.explode("mb").alias("db"), "n_common", "jaccard")
        .select(
            F.least("da", "db").alias("id_a"),
            F.greatest("da", "db").alias("id_b"),
            "n_common",
            "jaccard",
        )
    )
    # within-group pairs: identical word-sets, j = 1.0 by definition
    # filtering the RAW orderings (x < y) keeps each unordered pair
    # exactly once, so no dedup shuffle is needed afterwards
    # (canonicalize-then-filter would emit every pair twice).
    # The expansion is O(m^2) in dup-group size — inherent to the
    # pair-list OUTPUT contract, not to the algorithm (every emitted
    # pair is a real duplicate pair). A corpus with million-member
    # exact-dup groups should consume (gid, members) directly instead
    # of doc pairs; that variant is this same DataFrame minus the
    # explode.
    within = (
        groups.filter(F.size("members") >= 2)
        .select(
            F.col("n").alias("n_common"),
            F.explode(
                F.expr(
                    "transform(filter(flatten(transform(members,"
                    " x -> transform(members, y -> struct(x, y)))),"
                    " p -> p.x < p.y),"
                    " p -> struct(p.x as id_a, p.y as id_b))"
                )
            ).alias("p"),
        )
        .select("p.id_a", "p.id_b", "n_common", F.lit(1.0).alias("jaccard"))
    )
    return cross.unionAll(within)


_MINHASH_ORACLE = """
  WITH tok AS (
    SELECT doc_id, lang, source,
           unnest(list_distinct(string_split(text, ' '))) AS word
    FROM documents
  ), sizes AS (
    SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id
  ), pairs AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
    FROM tok a JOIN tok b
      ON a.word = b.word AND a.lang = b.lang AND a.source = b.source
     AND a.doc_id < b.doc_id
    GROUP BY 1, 2
  ), truth AS (
    SELECT count(*) AS n_true
    FROM pairs p
    JOIN sizes sa ON sa.doc_id = p.id_a
    JOIN sizes sb ON sb.doc_id = p.id_b
    WHERE p.c * 10 >= 9 * (sa.n + sb.n - p.c)
  ), eq AS (
    SELECT CAST(coalesce(sum(m * (m - 1) // 2), 0) AS BIGINT) AS n_eq
    FROM (
      SELECT count(*) AS m
      FROM (SELECT list_sort(list_distinct(string_split(text, ' '))) AS ws
            FROM documents)
      GROUP BY ws
    )
  )
  SELECT (SELECT count(*) FROM documents) AS n_docs,
         (SELECT n_true FROM truth) AS n_true_pairs_blocked,
         (SELECT n_eq FROM eq) AS n_eq_pairs,
         TRUE AS all_eq_found, TRUE AS precision_ok, TRUE AS recall_ok
"""

_MINHASH_RECALL_FLOOR = 0.8


@register(
    "q_dedup_minhash",
    oracle=_MINHASH_ORACLE,
    tags=("dedup", "minhash", "approx"),
)
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup detection in DECISION FORM (the ANN/
    sampling discipline — the candidate set is banding-dependent, so
    the hashed output carries exact anchors plus contract booleans):

    - n_docs, n_true_pairs_blocked (exact Jaccard >= 0.9 pairs within
      (lang, source) blocks — the same token-co-occurrence truth
      q_dedup_ngram_jaccard oracles, recomputed by BOTH engines),
      n_eq_pairs (identical word-SET pairs, corpus-wide);
    - all_eq_found: the LSH output's j=1.0 pair count EQUALS
      n_eq_pairs — group-collapse guarantees every identical-set pair
      is emitted, and only identical sets reach j=1.0;
    - precision_ok: every emitted pair's exact-verified Jaccard
      >= 0.9;
    - recall_ok: the LSH found at least 80% of the blocked truth
      (banding misses (1-j^8)^4 ~ 10% of j=0.9 pairs by design; the
      corpus's near-dups sit mostly at j ~ 1.0 where the miss rate
      vanishes — measured 0.97+ at sf0.01/sf0.1).

    The LSH machinery itself lives in _dedup_minhash_pairs (see its
    docstring for the group-collapsed design).

    AGGREGATE PUSHDOWN (r11 — the q_dedup_simhash rework applied
    here): the r10 wrap persisted the doc-pair EXPANSION (~90M rows
    at the 100x corpus) and aggregated it through four independent
    broadcast subtrees. Every decision value is derivable at GROUP
    grain via the collapse invariants, so the wrap never builds the
    expansion (it remains the API operator):
    - n_found_j1 = within-group pair count (sum C(m,2) over the
      machinery's groups) + expanded cross pairs at round(j,6)==1.0
      (sum |ma|*|mb| over such verified group pairs) — compared
      against n_eq_pairs computed from a SEPARATE documents pass, so
      all_eq_found still checks the machinery round-trip, not a
      tautology;
    - min emitted jaccard = min over verified group pairs (within
      pairs contribute exactly 1.0, which never lowers it — the
      coalesce(_, 1.0) covers the empty case identically);
    - a truth doc pair is FOUND iff its docs share a word-set group
      (within emission) or its (gid_lo, gid_hi) is a verified pair —
      truth group-pairs pre-rolled and broadcast into ONE pass over
      the verified stream.
    Values are bit-identical to the r10 form at all three scales."""
    d = load_table(spark, sf_dir, "documents")
    groups, verified = _minhash_machinery(spark, sf_dir)
    # persisted per-corpus truth artifact (see _truth_pairs): the
    # DuckDB twin recomputes this from source, keeping the gate exact
    truth = _truth_pairs(spark, sf_dir, 0.9)

    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    eq = (
        d.select(
            F.sort_array(
                F.array_distinct(
                    F.transform(F.split(F.coalesce("text", F.lit("")), " "), lambda x: F.xxhash64(F.lit(0), x))
                )
            ).alias("wh")
        )
        .groupBy("wh")
        .agg(F.count(F.lit(1)).alias("m"))
        .agg(
            # `div` keeps C(m,2) in exact long arithmetic end-to-end;
            # the `/ 2` form routed through double, which drops
            # exactness past 2^53 summed pairs
            F.coalesce(
                F.sum(F.expr("m * (m - 1) div 2")), F.lit(0)
            ).cast("long").alias("n_eq_pairs")
        )
    )
    # doc -> group id from the persisted group table
    doc_gid = groups.select("gid", F.explode("members").alias("doc_id"))
    g_a = doc_gid.select(F.col("doc_id").alias("id_a"), F.col("gid").alias("ga"))
    g_b = doc_gid.select(F.col("doc_id").alias("id_b"), F.col("gid").alias("gb"))
    truth_g = (
        truth.select("id_a", "id_b").join(g_a, "id_a").join(g_b, "id_b").persist()
    )  # small: |truth| rows; two consumers. Lifetime: release_query_caches.
    truth_stats = truth_g.agg(
        F.count(F.lit(1)).alias("n_true_pairs_blocked"),
        F.coalesce(
            F.sum((F.col("ga") == F.col("gb")).cast("long")), F.lit(0)
        ).alias("n_hit_same"),
    )
    # size() is IntegerType: cast to long BEFORE the product, or
    # C(m,2) silently wraps past 2^31 for dup groups >= ~46k members
    # (million-member exact-dup groups are expected at 100 TB) and
    # flips all_eq_found — ADVICE r11.
    within_stats = groups.agg(
        F.coalesce(
            F.sum(
                F.expr(
                    "(cast(size(members) as bigint)"
                    " * (cast(size(members) as bigint) - 1)) div 2"
                )
            ),
            F.lit(0),
        ).cast("long").alias("n_within_pairs")
    )
    truth_gpairs = (
        truth_g.filter(F.col("ga") != F.col("gb"))
        .groupBy(
            F.least("ga", "gb").alias("gid_a"),
            F.greatest("ga", "gb").alias("gid_b"),
        )
        .agg(F.count(F.lit(1)).alias("ntp"))
    )
    # ONE pass over the verified group-pair stream: min jaccard,
    # expanded-j1 mass and the cross-group truth hits share the scan
    ver_stats = verified.join(
        F.broadcast(truth_gpairs), ["gid_a", "gid_b"], "left"
    ).agg(
        F.min("jaccard").alias("min_j"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("jaccard") == 1.0,
                    # long product: |ma|*|mb| of two large exact-dup
                    # groups can exceed 2^31 (same overflow mode as
                    # n_within_pairs — ADVICE r11)
                    F.size("ma").cast("long") * F.size("mb").cast("long"),
                ).otherwise(0)
            ),
            F.lit(0),
        ).cast("long").alias("n_cross_j1"),
        F.coalesce(F.sum("ntp"), F.lit(0)).cast("long").alias("n_hit_diff"),
    )
    return (
        n_docs.crossJoin(F.broadcast(truth_stats))
        .crossJoin(F.broadcast(eq))
        .crossJoin(F.broadcast(within_stats))
        .crossJoin(F.broadcast(ver_stats))
        .select(
            "n_docs",
            "n_true_pairs_blocked",
            "n_eq_pairs",
            (
                (F.col("n_within_pairs") + F.col("n_cross_j1"))
                == F.col("n_eq_pairs")
            ).alias("all_eq_found"),
            (F.coalesce(F.col("min_j"), F.lit(1.0)) >= _JACCARD_T).alias(
                "precision_ok"
            ),
            (
                (F.col("n_hit_same") + F.col("n_hit_diff"))
                >= F.lit(_MINHASH_RECALL_FLOOR) * F.col("n_true_pairs_blocked")
            ).alias("recall_ok"),
        )
    )


# SimHash geometry — SIZE-ADAPTIVE (r10; the IVFPQ-nprobe gate
# discipline, keyed on parquet metadata only). Two regimes, one
# similarity grain (hamming threshold is proportional to width):
#
# - small corpora (< _SH_WIDE_ROWS docs): 32 bits, 4 contiguous
#   8-bit bands, hamming <= 6 — the fixed per-doc cost (32 bit-sum
#   aggregates, 4 band rows) dominates here and candidate mass is
#   harmless (measured 2.4-2.9 s warm at sf0.1; the wide geometry
#   below reads 4.9 s on the same corpus, pure fixed cost);
# - at scale: 64 bits, 8 sixteen-bit bands (4 contiguous + 4
#   stride-4 interleaved), hamming <= 12. An 8-bit key has only 256
#   buckets, so band collisions are corpus-quadratic: at the 100x
#   corpus (500k docs, 280k distinct hashes) the narrow form pushed
#   ~188M candidate pairs PER BAND through the self-join (81 s
#   warm). 16-bit keys collide at ~2^-16 (~300x fewer candidates);
#   the 4 contiguous bands alone measured 0.79 recall at 100x, the
#   4 interleaved bands (a second independent partition of the same
#   64 bits -> 8 co-band chances, P ~ 1-(1-q^16)^8) lift it to 0.90
#   (1.00 / 0.99 at sf0.01 / sf0.1), and the wide form reads 49 s
#   warm at 100x.
_SH_WIDE_ROWS = 50_000


def _sh_geometry(sf_dir: str):
    """(bits, n_contiguous_bands, band_bits, interleave, hamming_t)
    for the corpus at ``sf_dir`` — parquet row count only, no
    scan (directory-style parquet summed over part footers; a
    missing count must NOT fall into the small regime at scale —
    see fingerprint.table_num_rows)."""
    from pypiper_spark.fingerprint import table_num_rows

    n = table_num_rows(sf_dir, "documents")
    if n >= _SH_WIDE_ROWS:
        return 64, 4, 16, True, 12
    return 32, 4, 8, False, 6


def _dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup candidates. (The registered q_dedup_simhash
    wraps this pair frame in decision form; property tests assert on
    this frame directly.)

    Simhash from word hashes (bit i set iff more word-hashes have
    bit i set than not), banded; candidates share a (band, key) and
    pass an exact hamming gate. bit_count + xor keep the verification
    in codegen. WIDTH AND BANDING ARE THE SCALE DIAL — see
    _sh_geometry above for the two measured regimes (32-bit/4x8-bit
    below 50k docs; 64-bit/8x16-bit with stride-interleaved extra
    bands at scale, where 8-bit keys made the band self-join
    corpus-quadratic: 81 s -> 49 s warm at the 100x corpus).

    Group-collapsed like q_dedup_minhash: docs sharing a simhash
    VALUE (3 244 distinct / 5 000 docs at sf0.1 — the same
    self-similar corpus) collapse into one group; banding, the
    candidate distinct and the hamming verify run on distinct hashes
    only, and group pairs expand back to doc pairs at the end
    (within-group pairs are hamming 0 by definition). Output is
    row-for-row identical to the doc-level form; the per-doc simhash
    columns survive expansion by picking (sh of the smaller id,
    sh of the larger id) per pair."""
    groups, cand, _ = _simhash_machinery(spark, sf_dir)
    return _simhash_expand(groups, cand)


def _simhash_machinery(spark: SparkSession, sf_dir: str):
    """The shared signature/banding/verify core: returns
    (groups, cand, geometry) where ``groups`` is the PERSISTED
    (simhash, members) table over distinct hashes and ``cand`` the
    verified distinct (sh_a < sh_b, hamming) candidate pairs.
    _dedup_simhash_pairs expands these to doc pairs; the registered
    decision wrap aggregates them directly (r11 — at the 100x corpus
    the hamming gate passes ~85M sh-pairs, so materializing the doc
    expansion just to aggregate it was the residual cost)."""
    bits, n_bands, band_bits, interleave, hamming_t = _sh_geometry(sf_dir)
    tok = _doc_tokens(spark, sf_dir)
    h = F.xxhash64(F.lit(7), F.col("word"))
    bit_sums = [
        F.sum(
            F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"s{i}")
        for i in range(bits)
    ]
    per_doc = tok.groupBy("doc_id").agg(*bit_sums)
    # bit 63 packs as the two's-complement sign value: the bit values
    # are disjoint, so the arithmetic sum IS the bitwise OR (no
    # carries), and -(2^63) is exactly "only bit 63 set" in a long
    sim = per_doc.select(
        "doc_id",
        sum(
            [
                F.when(
                    F.col(f"s{i}") > 0,
                    F.lit(-(1 << 63) if i == 63 else (1 << i)),
                ).otherwise(F.lit(0))
                for i in range(bits)
            ],
            F.lit(0),
        ).cast("long").alias("simhash"),
    )
    groups = (
        sim.groupBy("simhash")
        .agg(F.collect_list("doc_id").alias("members"))
        # lifetime: session.release_query_caches policy
        .persist()
    )
    def _band_key(b: int):
        if b < n_bands:
            # contiguous slice; mask after shift (shiftright
            # sign-extends on the top band, the AND drops those bits)
            return F.shiftright(F.col("simhash"), b * band_bits).bitwiseAND(
                F.lit((1 << band_bits) - 1)
            )
        # interleaved bands (wide regime only — the 100x recall fix):
        # key k-th bit = simhash bit 4k + offset, a second stride-4
        # partition of the same 64 bits; see the geometry comment.
        off = b - n_bands
        return sum(
            [
                F.shiftright(F.col("simhash"), 4 * k + off)
                .bitwiseAND(F.lit(1))
                * F.lit(1 << k)
                for k in range(band_bits)
            ],
            F.lit(0),
        )

    total_bands = 2 * n_bands if interleave else n_bands
    bands = groups.select(
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        _band_key(b).alias("byte"),
                    )
                    for b in range(total_bands)
                ]
            )
        ).alias("bb"),
    ).select("simhash", F.col("bb.band").alias("band"), F.col("bb.byte").alias("byte"))
    a = bands.select(F.col("simhash").alias("sh_a"), "band", "byte")
    b = bands.select(F.col("simhash").alias("sh_b"), "band", "byte")
    cand = (
        a.join(b, ["band", "byte"])
        .filter(F.col("sh_a") < F.col("sh_b"))
        .select("sh_a", "sh_b")
        .distinct()
        .withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .filter(F.col("hamming") <= hamming_t)
        # persist at sh-pair grain (3 longs/row; ~85M rows at the 100x
        # corpus ≈ 2 GB MEMORY_AND_DISK — vs the r10 wrap's doc-pair
        # expansion cache): the band self-join + distinct is the
        # expensive recompute shared by warm re-runs and the decision
        # wrap. Lifetime: session.release_query_caches policy.
        .persist()
    )
    return groups, cand, (bits, n_bands, band_bits, interleave, hamming_t)


def _simhash_expand(groups: DataFrame, cand: DataFrame) -> DataFrame:
    """Expand verified sh-pair candidates + within-group pairs back
    to doc pairs (the group-collapse inverse)."""
    ga = groups.select(F.col("simhash").alias("sh_a"), F.col("members").alias("ma"))
    gb = groups.select(F.col("simhash").alias("sh_b"), F.col("members").alias("mb"))
    # Unhinted like the minhash verify joins: the group table is
    # corpus-scaled, so AQE picks broadcast only while it fits.
    cross = (
        cand.join(ga, "sh_a")
        .join(gb, "sh_b")
        .select("sh_a", "sh_b", "hamming", F.explode("ma").alias("da"), "mb")
        .select("sh_a", "sh_b", "hamming", "da", F.explode("mb").alias("db"))
        .select(
            F.least("da", "db").alias("id_a"),
            F.greatest("da", "db").alias("id_b"),
            F.when(F.col("da") < F.col("db"), F.col("sh_a"))
            .otherwise(F.col("sh_b"))
            .alias("sh_a"),
            F.when(F.col("da") < F.col("db"), F.col("sh_b"))
            .otherwise(F.col("sh_a"))
            .alias("sh_b"),
            "hamming",
        )
    )
    within = (
        groups.filter(F.size("members") >= 2)
        .select(
            "simhash",
            F.explode(
                F.expr(
                    "transform(filter(flatten(transform(members,"
                    " x -> transform(members, y -> struct(x, y)))),"
                    " p -> p.x < p.y),"
                    " p -> struct(p.x as id_a, p.y as id_b))"
                )
            ).alias("p"),
        )
        .select(
            "p.id_a",
            "p.id_b",
            F.col("simhash").alias("sh_a"),
            F.col("simhash").alias("sh_b"),
            F.lit(0).alias("hamming"),
        )
    )
    return cross.unionAll(within)


_SIMHASH_ORACLE = """
  WITH tok AS (
    SELECT doc_id, lang, source,
           unnest(list_distinct(string_split(text, ' '))) AS word
    FROM documents
  ), sizes AS (
    SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id
  ), pairs AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
    FROM tok a JOIN tok b
      ON a.word = b.word AND a.lang = b.lang AND a.source = b.source
     AND a.doc_id < b.doc_id
    GROUP BY 1, 2
  ), truth AS (
    SELECT count(*) AS n_true
    FROM pairs p
    JOIN sizes sa ON sa.doc_id = p.id_a
    JOIN sizes sb ON sb.doc_id = p.id_b
    WHERE p.c * 20 >= 19 * (sa.n + sb.n - p.c)
  ), eq AS (
    SELECT CAST(coalesce(sum(m * (m - 1) // 2), 0) AS BIGINT) AS n_eq
    FROM (
      SELECT count(*) AS m
      FROM (SELECT list_sort(list_distinct(string_split(text, ' '))) AS ws
            FROM documents)
      GROUP BY ws
    )
  )
  SELECT (SELECT count(*) FROM documents) AS n_docs,
         (SELECT n_true FROM truth) AS n_true_pairs_095,
         (SELECT n_eq FROM eq) AS n_eq_pairs,
         TRUE AS all_eq_found, TRUE AS hamming_bound_ok, TRUE AS recall_ok
"""

_SIMHASH_RECALL_FLOOR = 0.8


@register(
    "q_dedup_simhash",
    oracle=_SIMHASH_ORACLE,
    tags=("dedup", "simhash", "approx"),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup detection in DECISION FORM (same discipline
    as q_dedup_minhash — the candidate set depends on 32 engine-side
    hash bits, so the hashed output carries exact anchors plus
    contract booleans):

    - n_docs, n_true_pairs_095 (exact Jaccard >= 0.95 pairs within
      (lang, source) blocks — both engines recompute), n_eq_pairs
      (identical word-SET pairs, corpus-wide);
    - all_eq_found: every identical-word-set pair appears in the
      simhash output AT hamming 0 (equal sets hash equal — the
      group-collapse guarantee);
    - hamming_bound_ok: no emitted pair exceeds the active geometry's
      hamming gate (6 of 32 bits on small corpora, 12 of 64 at scale
      — the same proportional grain; see _sh_geometry);
    - recall_ok: simhash found >= 80% of the j >= 0.95 blocked truth
      (64-bit r10 re-measurement in the function docstring; at
      j ~ 0.9 a simhash blurs — the 0.95 grain is where its contract
      is sharp).

    The banding machinery lives in _dedup_simhash_pairs.

    AGGREGATE PUSHDOWN (r11, VERDICT r10 #2): the r10 form computed
    five scalar frames (n_true, eq_stats, fstats, hits, n_docs) as
    independent broadcast subtrees over a PERSISTED doc-pair
    expansion — five jobs of 0.3-1 s stage latency each at sf0.1
    (measured decomposition in BENCH.md r11), and at the 100x corpus
    the expansion itself materialized ~85M pairs just to be
    aggregated. Every decision value is instead derivable from the
    sh-level machinery via group-collapse invariants (a pair is found
    at hamming 0 iff its docs share a simhash; a cross-hash pair is
    found iff its (lo, hi) sh-pair is in cand; max hamming over
    expanded pairs == max over cand, since every cand row expands to
    >= 1 doc pair), so the wrap now runs ONE small merged frame
    (eq/truth pairs annotated with endpoint simhashes) plus ONE pass
    over the cand stream — the doc-pair expansion is never built
    here (it remains the API operator, _dedup_simhash_pairs).
    Values are bit-identical to the r10 form at all three scales."""
    d = load_table(spark, sf_dir, "documents")
    groups, cand, geom = _simhash_machinery(spark, sf_dir)
    # persisted per-corpus truth artifact (see _truth_pairs)
    truth = _truth_pairs(spark, sf_dir, 0.95)

    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    eq_pairs = (
        d.select(
            "doc_id",
            F.sort_array(
                F.array_distinct(
                    F.transform(F.split(F.coalesce("text", F.lit("")), " "), lambda x: F.xxhash64(F.lit(0), x))
                )
            ).alias("wh"),
        )
        .groupBy("wh")
        .agg(F.collect_list("doc_id").alias("members"))
        .filter(F.size("members") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(filter(flatten(transform(members,"
                    " x -> transform(members, y -> struct(x, y)))),"
                    " p -> p.x < p.y),"
                    " p -> struct(p.x as id_a, p.y as id_b))"
                )
            ).alias("p")
        )
        .select("p.id_a", "p.id_b")
    )
    # doc -> simhash from the persisted group table (no signature
    # recompute); inner joins are total — every doc tokenizes (empty
    # text splits to [""]), so every doc_id carries a simhash
    doc_sh = groups.select("simhash", F.explode("members").alias("doc_id"))
    sh_a = doc_sh.select(
        F.col("doc_id").alias("id_a"), F.col("simhash").alias("sha")
    )
    sh_b = doc_sh.select(
        F.col("doc_id").alias("id_b"), F.col("simhash").alias("shb")
    )
    # eq/truth pairs annotated with both endpoints' simhashes — the
    # SMALL merged frame (|eq| + |truth| rows); persisted because two
    # consumers read it (the scalar agg and the sh-pair rollup).
    # Lifetime: session.release_query_caches policy.
    eqt = (
        eq_pairs.withColumn("eq", F.lit(1))
        .join(
            truth.select("id_a", "id_b").withColumn("tr", F.lit(1)),
            ["id_a", "id_b"],
            "full",
        )
        .join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .persist()
    )
    # Group-collapse invariants make the doc-pair expansion
    # unnecessary for every decision value (the r10 form materialized
    # ~85M expanded pairs at the 100x corpus just to aggregate them):
    # - a pair is FOUND at hamming 0 iff its docs share a simhash
    #   (within-group emission is by construction);
    # - a different-hash pair is FOUND iff its (lo, hi) simhash pair
    #   is in cand, with cand's hamming;
    # - max(hamming) over expanded pairs == max over cand (every cand
    #   row expands to >= 1 doc pair; within pairs contribute 0,
    #   which the coalesce(_, 0) in the boolean already supplies).
    small_stats = eqt.agg(
        F.coalesce(F.sum("tr"), F.lit(0)).cast("long").alias("n_true_pairs_095"),
        F.coalesce(F.sum("eq"), F.lit(0)).cast("long").alias("n_eq_pairs"),
        F.coalesce(
            F.sum(((F.col("eq") == 1) & (F.col("sha") == F.col("shb"))).cast("long")),
            F.lit(0),
        ).alias("n_eq_found_h0"),
        F.coalesce(
            F.sum(((F.col("tr") == 1) & (F.col("sha") == F.col("shb"))).cast("long")),
            F.lit(0),
        ).alias("n_hit_same"),
    )
    # one pass over the big cand stream: truth sh-pairs pre-rolled to
    # per-pair counts, broadcast into a left join, so max(hamming) and
    # the cross-hash hit count share the scan
    truth_shpairs = (
        eqt.filter((F.col("tr") == 1) & (F.col("sha") != F.col("shb")))
        .groupBy(
            F.least("sha", "shb").alias("sh_a"),
            F.greatest("sha", "shb").alias("sh_b"),
        )
        .agg(F.count(F.lit(1)).alias("ntp"))
    )
    cand_stats = cand.join(
        F.broadcast(truth_shpairs), ["sh_a", "sh_b"], "left"
    ).agg(
        F.max("hamming").alias("max_hamming"),
        F.coalesce(F.sum("ntp"), F.lit(0)).cast("long").alias("n_hit_diff"),
    )
    return (
        n_docs.crossJoin(F.broadcast(small_stats))
        .crossJoin(F.broadcast(cand_stats))
        .select(
            "n_docs",
            "n_true_pairs_095",
            "n_eq_pairs",
            (F.col("n_eq_found_h0") == F.col("n_eq_pairs")).alias("all_eq_found"),
            (
                F.coalesce(F.col("max_hamming"), F.lit(0)) <= geom[4]
            ).alias("hamming_bound_ok"),
            (
                (F.col("n_hit_same") + F.col("n_hit_diff"))
                >= F.lit(_SIMHASH_RECALL_FLOOR) * F.col("n_true_pairs_095")
            ).alias("recall_ok"),
        )
    )


_JACCARD_ORACLE = """
  WITH tok AS (
    SELECT doc_id, lang, source, unnest(list_distinct(string_split(text, ' '))) AS word
    FROM documents
  ), sizes AS (
    SELECT doc_id, count(*) AS n_words FROM tok GROUP BY doc_id
  ), pairs AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
    FROM tok a JOIN tok b
      ON a.word = b.word AND a.lang = b.lang AND a.source = b.source
     AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
  )
  SELECT p.id_a, p.id_b, p.n_common,
         round(p.n_common / CAST(sa.n_words + sb.n_words - p.n_common AS DOUBLE), 6)
           AS jaccard
  FROM pairs p
  JOIN sizes sa ON sa.doc_id = p.id_a
  JOIN sizes sb ON sb.doc_id = p.id_b
  WHERE p.n_common / CAST(sa.n_words + sb.n_words - p.n_common AS DOUBLE) >= 0.6
"""


@register("q_dedup_ngram_jaccard", oracle=_JACCARD_ORACLE, tags=("dedup", "jaccard"))
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-set Jaccard >= 0.6 within (lang, source) blocks.

    Blocking keeps the pair space linear-ish (the classic entity-
    resolution trick): only docs inside a (lang, source) block pair.
    Fully SQL-expressible -> real oracle, unlike the sketch-based ops.

    Plan shape — candidates come from the TOKEN CO-OCCURRENCE join,
    not from block pair enumeration: tokens compress to xxhash64
    longs, the self-join on (lang, source, token_hash) only ever
    produces pairs that SHARE a token, and the hash aggregate over
    (id_a, id_b) counts n_common directly (map-side partial agg).
    Sizes join back from a tiny per-doc table.

    Why not enumerate pairs per block and array_intersect them (the
    seemingly cheaper form at one sf): block pair space is O(B^2) in
    block size regardless of similarity, while co-occurrence output
    is bounded by pairs that actually overlap. Measured on the 10x
    key-remapped corpus (copies are token-disjoint by construction —
    new data is new content): token join 7s, pair enumeration 70s
    and growing quadratically. The token join IS the scale design.
    Token identity is 64-bit xxhash64 (collision ~2^-64 x vocab^2,
    negligible; same reasoning as the minhash verify); hashing
    shrinks the shuffle rows to fixed-width longs. The hash is
    applied AFTER the distinct-word explode, in codegen — hashing
    inside a transform() lambda runs interpreted per element
    (BENCH.md's HOF rule); measured end-to-end the swap is inside
    noise HERE because the 28 M-row pair join dominates this query,
    but the token stage no longer carries the interpreted path."""
    return _jaccard_pairs(spark, sf_dir, 0.6)


def _jaccard_pairs(spark: SparkSession, sf_dir: str, threshold: float) -> DataFrame:
    """Exact blocked word-set Jaccard pairs at ``threshold`` — the
    token-co-occurrence plan documented in dedup_ngram_jaccard (which
    registers the 0.6 form); q_dedup_minhash's decision wrap reuses it
    at 0.9 as the recall denominator."""
    tok = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        "source",
        F.explode(F.array_distinct(F.split("text", " "))).alias("w"),
    ).select(
        "doc_id", "lang", "source", F.xxhash64(F.lit(0), "w").alias("h")
    )
    sizes = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_words"))
    a = tok.select(F.col("doc_id").alias("id_a"), "lang", "source", "h")
    b = tok.select(F.col("doc_id").alias("id_b"), "lang", "source", "h")
    pairs = (
        a.join(b, ["lang", "source", "h"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        pairs.join(
            sizes.select(F.col("doc_id").alias("id_a"), F.col("n_words").alias("na")),
            "id_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("id_b"), F.col("n_words").alias("nb")),
            "id_b",
        )
        .filter(
            F.col("n_common")
            / (F.col("na") + F.col("nb") - F.col("n_common")).cast("double")
            >= threshold
        )
        .select(
            "id_a",
            "id_b",
            "n_common",
            F.round(
                F.col("n_common")
                / (F.col("na") + F.col("nb") - F.col("n_common")).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )


_EMB_ORACLE = f"""
  WITH sub AS (
    SELECT vec_id, label, embedding FROM embeddings WHERE vec_id % 10 = 0
  )
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.label,
         round({sql_cosine('a.embedding', 'b.embedding')}, 6) AS cos_sim
  FROM sub a JOIN sub b ON a.label = b.label AND a.vec_id < b.vec_id
  WHERE {sql_cosine('a.embedding', 'b.embedding')} >= 0.3
"""


@register("q_dedup_embedding_cosine", oracle=_EMB_ORACLE, tags=("dedup", "embedding"))
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup: cosine >= 0.3 within label blocks (subset
    vec_id % 10 = 0 keeps the all-pairs bounded; the unbounded-scale
    form is q_sim_ann_lsh's bucketed join)."""
    e = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") % 10 == 0)
        .select("vec_id", "label", to_double("embedding").alias("v"))
    )
    a = e.select(F.col("vec_id").alias("id_a"), "label", F.col("v").alias("va"))
    b = e.select(F.col("vec_id").alias("id_b"), F.col("label").alias("label_b"), F.col("v").alias("vb"))
    return (
        a.join(b, (F.col("label") == F.col("label_b")) & (F.col("id_a") < F.col("id_b")))
        .withColumn("cos_raw", cosine(F.col("va"), F.col("vb")))
        .filter(F.col("cos_raw") >= 0.3)
        .select("id_a", "id_b", "label", F.round("cos_raw", 6).alias("cos_sim"))
    )


_COMPONENTS_ORACLE = """
  WITH RECURSIVE tok AS (
    SELECT doc_id, lang, source, unnest(list_distinct(string_split(text, ' '))) AS word
    FROM documents
  ), sizes AS (
    SELECT doc_id, count(*) AS n_words FROM tok GROUP BY doc_id
  ), cand AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
    FROM tok a JOIN tok b
      ON a.word = b.word AND a.lang = b.lang AND a.source = b.source
     AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
  ), edges AS (
    SELECT c.id_a, c.id_b FROM cand c
    JOIN sizes sa ON sa.doc_id = c.id_a
    JOIN sizes sb ON sb.doc_id = c.id_b
    WHERE c.n_common / CAST(sa.n_words + sb.n_words - c.n_common AS DOUBLE) >= 0.6
  ), sym AS MATERIALIZED (
    SELECT id_a AS a, id_b AS b FROM edges
    UNION
    SELECT id_b AS a, id_a AS b FROM edges
  ), reach(node, lbl) AS (
    SELECT a, a FROM sym
    UNION
    SELECT s.a, r.lbl FROM sym s JOIN reach r ON s.b = r.node
  ), comp AS (
    SELECT node, min(lbl) AS comp_id FROM reach GROUP BY node
  )
  SELECT comp_id,
         count(*) AS n_docs,
         max(node) AS max_doc_id
  FROM comp GROUP BY comp_id
"""


def _star_components(sym: DataFrame, max_rounds: int = 64):
    """Large-star/small-star connected components (Kiveris et al.,
    'Connected Components in MapReduce and Beyond', SoCC 2014).

    Input: symmetric edge list (a, b), a != b, materialized.
    Returns (labels DataFrame [node, lbl], rounds taken).

    Per round:
    - LARGE-STAR: for each node u, m = min(neighbors ∪ {u}); connect
      every STRICTLY LARGER neighbor v > u directly to m. Strictly-
      larger-only keeps the edge set from oscillating and guarantees
      monotone progress on long chains.
    - SMALL-STAR: orient each edge to (larger, smaller); for each u,
      m = min(smaller-neighbors ∪ {u}); connect u and all its smaller
      neighbors to m.
    The fixpoint is a star forest: every node points at its
    component's minimum id. O(log n) rounds regardless of graph
    diameter — the scale-safe property plain min-label propagation
    (<= diameter rounds) lacks. Each round is two groupBy+join
    shuffles on node id plus a fixpoint check; localCheckpoint keeps
    lineage flat across rounds.

    max_rounds is a divergence-bug guard, NOT a convergence budget:
    the loop exits at the fixpoint (corpus graph: 4-7 rounds; 200-node
    chain: <= 12). It must sit above the algorithm's own O(log n)
    bound at target scale — log2(10^12 nodes) ~ 40 — which is why the
    default is 64, not the 16 it shipped with through round 5 (16
    would be a latent RuntimeError on a trillion-node graph while
    costing nothing to raise, since converged runs never reach it)."""
    edges = (
        sym.filter(F.col("a") > F.col("b"))
        .select("a", "b")
        .distinct()
        .localCheckpoint()
    )
    for rounds in range(1, max_rounds + 1):
        both = edges.union(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
        lmins = both.groupBy("a").agg(
            F.least(F.min("b"), F.first("a")).alias("m")
        )
        # NO per-round dedup here (r13): duplicates in the large-star
        # stream are harmless — smins is a min-aggregate and the
        # round's rollup groupBy(a, b) dedups the small-star output —
        # so the old per-round dedup Exchange bought nothing the two
        # downstream aggregates don't already do with map-side
        # combining. Dropping it removes one data-scaled shuffle per
        # round (4 -> 3); the round's edge-set sequence (hence labels
        # and every consumer hash) is unchanged.
        large = (
            both.join(lmins, "a")
            .filter(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .filter(F.col("a") != F.col("b"))
        )
        smins = large.groupBy("a").agg(F.min("b").alias("m"))
        small = (
            large.join(smins, "a")
            .select(
                F.explode(
                    F.array(
                        F.struct(F.col("a"), F.col("m").alias("b")),
                        F.struct(F.col("b").alias("a"), F.col("m").alias("b")),
                    )
                ).alias("e")
            )
            .select(F.col("e.a").alias("a"), F.col("e.b").alias("b"))
            .filter(F.col("a") != F.col("b"))
        )
        # Fixpoint check FUSED into the round's one materialization
        # (r12 optimization round; guide §1.2 "remove passes"): the
        # round's groupBy(a, b) rollup both DEDUPS the new edge set
        # (the former .distinct()) and records membership flags vs the
        # previous round's set, so set equality falls out of the same
        # shuffle that materializes the edges. The r11 form spent TWO
        # jobs per round — localCheckpoint(distinct(small)) plus a
        # signed-multiplicity isEmpty over both checkpointed frames
        # (itself a union + full shuffle); now the isEmpty is a
        # short-circuit scan of the already-checkpointed rollup, and
        # the convergence shuffle is gone entirely. Edge-set sequence
        # (hence labels, hence every consumer's hash) is unchanged:
        # in_s == 1 exactly reproduces distinct(small), and
        # in_s != in_e exactly reproduces the old nonzero-sign test.
        rollup = (
            small.select("a", "b", F.lit(1).alias("in_s"), F.lit(0).alias("in_e"))
            .unionByName(
                edges.select("a", "b", F.lit(0).alias("in_s"), F.lit(1).alias("in_e"))
            )
            .groupBy("a", "b")
            .agg(F.max("in_s").alias("in_s"), F.max("in_e").alias("in_e"))
            .localCheckpoint()
        )
        edges = rollup.filter(F.col("in_s") == 1).select("a", "b")
        if rollup.filter(F.col("in_s") != F.col("in_e")).isEmpty():
            break
    else:
        raise RuntimeError(f"star contraction did not converge in {max_rounds} rounds")
    # Star forest -> labels: every child points at the root; roots
    # label themselves.
    labels = edges.select(F.col("a").alias("node"), F.col("b").alias("lbl")).union(
        edges.select(F.col("b").alias("node"), F.col("b").alias("lbl"))
    ).distinct()
    return labels, rounds


@register(
    "q_dedup_components",
    oracle=_COMPONENTS_ORACLE,
    tags=("dedup", "graph", "iterative"),
)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the near-dup pair graph — the step a
    real dedup pipeline runs between candidate pairs and canonical
    documents (a~b and b~c must collapse to ONE cluster even when a!~c
    directly).

    Distributed algorithm: alternating large-star/small-star
    contraction (see _star_components) — O(log n) rounds independent
    of graph diameter, each round two node-keyed shuffles. This
    replaced plain min-label propagation (<= diameter rounds): on
    shallow dup graphs both take ~3-5 rounds, but a 100 TB corpus
    with chained near-dups (doc A ~ B ~ C ~ ... at threshold) can
    have diameter in the hundreds, where propagation degrades
    linearly and star contraction stays logarithmic
    (tests/test_equivalences.py::test_star_equals_propagation_on_corpus
    asserts both algorithms give identical labels on this exact corpus
    edge graph). The oracle states the identical fixpoint as a
    recursive CTE (min reachable id per node), so the whole iterative
    computation is hash-gated, not just spot-checked."""
    tok = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source",
        F.explode(F.array_distinct(F.split("text", " "))).alias("word"),
    )
    sizes = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_words"))
    a = tok.select(F.col("doc_id").alias("id_a"), "lang", "source", "word")
    b = tok.select(F.col("doc_id").alias("id_b"), "lang", "source", "word")
    cand = (
        a.join(b, ["lang", "source", "word"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    edges = (
        cand.join(
            sizes.select(F.col("doc_id").alias("id_a"), F.col("n_words").alias("na")),
            "id_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("id_b"), F.col("n_words").alias("nb")),
            "id_b",
        )
        .filter(
            F.col("n_common")
            / (F.col("na") + F.col("nb") - F.col("n_common")).cast("double")
            >= 0.6
        )
        .select("id_a", "id_b")
    )
    sym = edges.select(F.col("id_a").alias("a"), F.col("id_b").alias("b")).union(
        edges.select(F.col("id_b").alias("a"), F.col("id_a").alias("b"))
    )
    labels, _rounds = _star_components(sym)
    return labels.groupBy(F.col("lbl").alias("comp_id")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.max("node").alias("max_doc_id"),
    )


def _jaccard_component_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every document with its near-dup component id: the exact
    >= 0.6 Jaccard edge graph (q_dedup_ngram_jaccard's construction)
    -> large-star/small-star components (_star_components) -> LEFT
    join back to documents, singletons keeping their own doc_id.
    Returns (doc_id, comp_id, n_chars) — shared by q_dedup_canonical
    (election) and q_split_leakage_safe (split assignment)."""
    d = load_table(spark, sf_dir, "documents")
    # Tokens compress to xxhash64 longs before the co-occurrence join
    # (the q_dedup_ngram_jaccard discipline): fixed-width shuffle rows,
    # measured 22.9 -> 19.4 s warm on the 100x edge build with the
    # identical 9.09M-edge output. The oracle keeps joining raw words —
    # equivalent up to 2^-64 collisions.
    tok = d.select(
        "doc_id", "lang", "source",
        F.explode(F.array_distinct(F.split("text", " "))).alias("w"),
    ).select("doc_id", "lang", "source", F.xxhash64(F.lit(0), "w").alias("word"))
    sizes = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_words"))
    a = tok.select(F.col("doc_id").alias("id_a"), "lang", "source", "word")
    b = tok.select(F.col("doc_id").alias("id_b"), "lang", "source", "word")
    cand = (
        a.join(b, ["lang", "source", "word"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    edges = (
        cand.join(
            sizes.select(F.col("doc_id").alias("id_a"), F.col("n_words").alias("na")),
            "id_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("id_b"), F.col("n_words").alias("nb")),
            "id_b",
        )
        .filter(
            F.col("n_common")
            / (F.col("na") + F.col("nb") - F.col("n_common")).cast("double")
            >= 0.6
        )
        .select("id_a", "id_b")
    )
    sym = edges.select(F.col("id_a").alias("a"), F.col("id_b").alias("b")).union(
        edges.select(F.col("id_b").alias("a"), F.col("id_a").alias("b"))
    )
    labels, _rounds = _star_components(sym)
    return (
        d.select("doc_id", "n_chars")
        .join(labels.withColumnRenamed("node", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("lbl", "doc_id").alias("comp_id"),
            "n_chars",
        )
    )


_CANONICAL_ORACLE = """
  WITH RECURSIVE tok AS (
    SELECT doc_id, lang, source, unnest(list_distinct(string_split(text, ' '))) AS word
    FROM documents
  ), sizes AS (
    SELECT doc_id, count(*) AS n_words FROM tok GROUP BY doc_id
  ), cand AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
    FROM tok a JOIN tok b
      ON a.word = b.word AND a.lang = b.lang AND a.source = b.source
     AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
  ), edges AS (
    SELECT c.id_a, c.id_b FROM cand c
    JOIN sizes sa ON sa.doc_id = c.id_a
    JOIN sizes sb ON sb.doc_id = c.id_b
    WHERE c.n_common / CAST(sa.n_words + sb.n_words - c.n_common AS DOUBLE) >= 0.6
  ), sym AS MATERIALIZED (
    SELECT id_a AS a, id_b AS b FROM edges
    UNION
    SELECT id_b AS a, id_a AS b FROM edges
  ), reach(node, lbl) AS (
    SELECT a, a FROM sym
    UNION
    SELECT s.a, r.lbl FROM sym s JOIN reach r ON s.b = r.node
  ), comp AS (
    SELECT node, min(lbl) AS comp_id FROM reach GROUP BY node
  ), assigned AS (
    SELECT d.doc_id, d.n_chars, coalesce(c.comp_id, d.doc_id) AS comp_id
    FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
  )
  SELECT doc_id, comp_id, n_chars,
         row_number() OVER (PARTITION BY comp_id
                            ORDER BY n_chars DESC, doc_id) = 1 AS is_canonical
  FROM assigned
"""


@register(
    "q_dedup_canonical",
    oracle=_CANONICAL_ORACLE,
    tags=("dedup", "graph", "canonical"),
)
def dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The keep/drop decision that CLOSES a dedup pipeline: every
    document is assigned to its near-dup component (singleton docs are
    their own component) and each component elects ONE canonical
    survivor — longest document, ties to the smallest doc_id. A real
    corpus build keeps `is_canonical` rows and drops the rest; this
    query emits the full decision table so the drop set is auditable.

    Composition: the exact >= 0.6 Jaccard edge graph (same
    construction as q_dedup_ngram_jaccard) -> large-star/small-star
    components (_star_components, O(log n) rounds) -> LEFT join back
    to documents (unmatched = singleton) -> one window per component
    for the election. The component labels table is docs-in-components
    cardinality, joined on doc_id; the election window shuffles on
    comp_id — both standard data-scaled exchanges, nothing driver-
    bound. Exact oracle: the recursive-CTE fixpoint plus the identical
    election window."""
    from pyspark.sql.window import Window

    assigned = _jaccard_component_assignment(spark, sf_dir)
    w = Window.partitionBy("comp_id").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return assigned.select(
        "doc_id",
        "comp_id",
        "n_chars",
        (F.row_number().over(w) == 1).alias("is_canonical"),
    )


def _dedup_semantic_marks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space with an offline
    coarse quantizer, compare vectors ONLY within their cluster, and
    drop every vector that has a semantically-near predecessor
    (cosine >= 0.35 here — the corpus is unclustered N(0, 0.1), where
    the 99.99th-percentile pair cosine is ~0.45; real corpora use
    ~0.95+). Keep-first (min vec_id) makes the survivor set
    deterministic.

    Scale shape: the centroids are the SAME offline artifact the IVF
    index uses (vectors.build_ivf_index — seeded-sample KMeans,
    memoized); assignment is a JVM-expression argmin; the pair space
    is blocked by cluster, so total comparisons are sum(|C_i|^2)
    instead of N^2 — at 100 TB you raise k so clusters stay ~constant
    size and the whole thing remains an equi-join on cluster id. The
    within-cluster miss (a near-dup pair split across clusters) is
    the approximation SemDeDup accepts by design. The registered
    q_dedup_semantic wraps these marks in decision form; invariants
    are tested in tests/test_approx_ops.py against a numpy
    recompute."""
    from pypiper_spark.queries.vectors import _nearest_centroid_udf, build_ivf_index

    centroids = build_ivf_index(spark, sf_dir, k=16)
    e = load_table(spark, sf_dir, "embeddings")
    vec = to_double(F.col("embedding"))
    assigned = e.select(
        "vec_id",
        "label",
        vec.alias("v"),
        _nearest_centroid_udf(centroids)(F.col("embedding")).alias("cluster"),
    )
    # Within-cluster comparison as ONE numpy gram matrix per cluster
    # via applyInPandas — the paper's actual computation. A pairwise
    # expression join costs |C|^2 interpreted 64-dim cosine folds
    # (measured 6.4s vs 0.9s at sf0.1); the grouped-map form does one
    # (|C| x 64) @ (64 x |C|) matmul per Arrow batch. Cluster sizes
    # are bounded by construction (k scales with the corpus), so the
    # per-group matrix always fits.
    import pandas as pd

    def _mark_dups(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        E = np.vstack(pdf["v"].to_numpy()).astype(np.float64)
        En = E / np.linalg.norm(E, axis=1, keepdims=True)
        S = En @ En.T
        n = len(pdf)
        mask = np.tril(S >= 0.35, k=-1)  # earlier (smaller id) neighbors only
        dropped = mask.any(axis=1)
        return pd.DataFrame(
            {
                "vec_id": pdf["vec_id"],
                "label": pdf["label"],
                "cluster": pdf["cluster"],
                "is_semantic_dup": dropped if n > 1 else [False] * n,
            }
        )

    return assigned.groupBy("cluster").applyInPandas(
        _mark_dups,
        "vec_id long, label int, cluster int, is_semantic_dup boolean",
    )


# Fixed anchor ids for the semantic-dedup decision form: 50 ids spread
# across [0, 500) so they exist at every corpus (sf0.01 has vec_ids
# 0-499). Low ids have few predecessors, high ids many — the anchor
# truth column mixes TRUE and FALSE, so the hash pins real values.
_SEM_ANCHOR_IDS = tuple(range(7, 500, 10))
_SEM_THRESHOLD = 0.35
# Indeterminacy band for the blocked-completeness contract: the gram
# kernel thresholds UNROUNDED numpy cosines while the checker uses the
# JVM expression — the two can differ in the last ulp, so a pair
# sitting within 1e-6 of the threshold is allowed to fall either way.
# (No measured pair sits that close; the band is robustness, not
# slack.)
_SEM_EPS = 1e-6

_SEMANTIC_ORACLE = f"""
  WITH anchors(a_id) AS (VALUES {", ".join(f"({i})" for i in _SEM_ANCHOR_IDS)}),
  a AS (
    SELECT an.a_id, e.label, e.embedding AS av
    FROM anchors an JOIN embeddings e ON e.vec_id = an.a_id
  ), pred AS (
    SELECT a.a_id, max(round({sql_cosine('a.av', 'e.embedding')}, 6)) AS best
    FROM a JOIN embeddings e ON e.vec_id < a.a_id
    GROUP BY a.a_id
  )
  SELECT a.a_id AS vec_id, a.label,
         coalesce(p.best >= {_SEM_THRESHOLD}, FALSE) AS has_near_predecessor,
         TRUE AS precision_ok, TRUE AS blocked_complete_ok
  FROM a LEFT JOIN pred p ON p.a_id = a.a_id
"""


@register(
    "q_dedup_semantic",
    oracle=_SEMANTIC_ORACLE,
    tags=("dedup", "semantic", "embedding", "approx"),
)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup in DECISION FORM: the cluster ids and the full mark
    set are centroid-artifact-specific, so the hashed output is one
    row per FIXED ANCHOR vector carrying an exact, engine-neutral
    truth column — has_near_predecessor: does any lower-id vector
    anywhere in the corpus sit at cosine >= 0.35 (rounded at 1e-6)?
    — plus contract booleans over the anchors:

    - precision_ok: every anchor the SemDeDup pass marked as a dup
      has a global near predecessor (the within-cluster predecessor
      IS one, so a False here means the marking logic broke);
    - blocked_complete_ok: marks agree EXACTLY with the blocked
      definition under Spark's own cluster assignment — an anchor is
      marked iff some same-cluster lower-id vector sits at cosine
      >= 0.35 (+-_SEM_EPS indeterminacy band, see above). Unlike a
      global-recall floor, this invariant is corpus-independent: the
      measured global anchor recall is ~0.45 at sf0.1 but ~0.16 at
      the 100x blended-sphere corpus (threshold pairs there are pure
      noise-floor pairs whose same-cluster probability shrinks with
      finer effective clustering) — corpus-dependent approximation
      quality, which the paper accepts, cannot be a hash contract.
      Mark-set exactness vs the blocked definition CAN.

    The marking machinery lives in _dedup_semantic_marks (gram-matrix
    applyInPandas per cluster over the shared IVF centroid artifact);
    the anchor truth is one broadcast-anchors x corpus pass in both
    engines — 50 x N cosines, linear and bounded at any scale."""
    marks = _dedup_semantic_marks(spark, sf_dir).persist()
    e = load_table(spark, sf_dir, "embeddings")
    vec = to_double(F.col("embedding"))
    anchors = e.filter(F.col("vec_id").isin(*_SEM_ANCHOR_IDS)).select(
        F.col("vec_id").alias("a_id"),
        F.col("label").alias("a_label"),
        vec.alias("av"),
    )
    best = (
        e.select(F.col("vec_id").alias("p_id"), vec.alias("ev"))
        .join(F.broadcast(anchors), F.col("p_id") < F.col("a_id"))
        .groupBy("a_id")
        .agg(F.max(F.round(cosine(F.col("av"), F.col("ev")), 6)).alias("best"))
    )
    truth = (
        anchors.select("a_id", "a_label")
        .join(best, "a_id", "left")
        .select(
            "a_id",
            "a_label",
            F.coalesce(F.col("best") >= _SEM_THRESHOLD, F.lit(False)).alias(
                "has_near_predecessor"
            ),
        )
    )
    # blocked truth: best same-cluster lower-id cosine per anchor,
    # under the SAME assignment the marks used (cluster equi-join —
    # touches only the anchors' clusters)
    anchors_c = anchors.join(
        marks.select(F.col("vec_id").alias("a_id"), F.col("cluster").alias("a_cluster")),
        "a_id",
    )
    corpus_c = marks.select(
        F.col("vec_id").alias("p_id"), F.col("cluster").alias("p_cluster")
    ).join(e.select(F.col("vec_id").alias("p_id"), vec.alias("ev")), "p_id")
    blocked_best = (
        corpus_c.join(
            F.broadcast(anchors_c),
            (F.col("p_cluster") == F.col("a_cluster")) & (F.col("p_id") < F.col("a_id")),
        )
        .groupBy("a_id")
        .agg(F.max(cosine(F.col("av"), F.col("ev"))).alias("bbest"))
    )
    am = (
        truth.join(
            marks.select(F.col("vec_id").alias("a_id"), "is_semantic_dup"), "a_id"
        )
        .join(blocked_best, "a_id", "left")
        .withColumn("bbest", F.coalesce(F.col("bbest"), F.lit(-1.0)))
    )
    blocked_row_ok = F.when(
        F.col("is_semantic_dup"), F.col("bbest") >= _SEM_THRESHOLD - _SEM_EPS
    ).otherwise(F.col("bbest") < _SEM_THRESHOLD + _SEM_EPS)
    dec = am.agg(
        (
            F.min(
                (~F.col("is_semantic_dup") | F.col("has_near_predecessor")).cast("int")
            )
            == 1
        ).alias("precision_ok"),
        (F.min(blocked_row_ok.cast("int")) == 1).alias("blocked_complete_ok"),
    )
    return am.crossJoin(F.broadcast(dec)).select(
        F.col("a_id").alias("vec_id"),
        F.col("a_label").alias("label"),
        "has_near_predecessor",
        "precision_ok",
        "blocked_complete_ok",
    )


_CONTAINMENT_ORACLE = """
  WITH tok AS (
    SELECT doc_id, lang, source, unnest(list_distinct(string_split(text, ' '))) AS word
    FROM documents
  ), sizes AS (
    SELECT doc_id, count(*) AS n_words FROM tok GROUP BY doc_id
  ), pairs AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
    FROM tok a JOIN tok b
      ON a.word = b.word AND a.lang = b.lang AND a.source = b.source
     AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
  )
  SELECT p.id_a, p.id_b, p.n_common,
         CASE WHEN sa.n_words <= sb.n_words THEN p.id_a ELSE p.id_b END
           AS contained_id,
         round(p.n_common / CAST(least(sa.n_words, sb.n_words) AS DOUBLE), 6)
           AS containment
  FROM pairs p
  JOIN sizes sa ON sa.doc_id = p.id_a
  JOIN sizes sb ON sb.doc_id = p.id_b
  WHERE p.n_common * 10 >= 9 * least(sa.n_words, sb.n_words)
"""


@register(
    "q_dedup_containment", oracle=_CONTAINMENT_ORACLE, tags=("dedup", "containment")
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment near-dup: pairs where the SMALLER
    document's word set is >= 90% inside the other's —
    |A ∩ B| / min(|A|, |B|) >= 0.9 within (lang, source) blocks.
    This catches what symmetric Jaccard structurally cannot: a short
    excerpt/quote/boilerplate block embedded in a much longer
    document has tiny Jaccard (the union is dominated by the long
    side) but containment ~1. Standard corpus-hygiene companion to
    q_dedup_ngram_jaccard; `contained_id` names the doc a pipeline
    would drop or flag as a near-subset.

    Scale shape: identical to the jaccard query's measured design —
    candidates from the TOKEN CO-OCCURRENCE self-join on xxhash64'd
    words (output bounded by actually-overlapping pairs; the
    per-block pair-enumeration form was measured quadratic and
    rejected, BENCH.md r3), sizes joined back from the tiny per-doc
    table, and the 90% threshold compared in cross-multiplied
    integers (n_common*10 >= 9*min) so no float division decides
    membership."""
    tok = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        "source",
        F.explode(F.array_distinct(F.split("text", " "))).alias("w"),
    ).select("doc_id", "lang", "source", F.xxhash64(F.lit(0), "w").alias("h"))
    sizes = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_words"))
    a = tok.select(F.col("doc_id").alias("id_a"), "lang", "source", "h")
    b = tok.select(F.col("doc_id").alias("id_b"), "lang", "source", "h")
    pairs = (
        a.join(b, ["lang", "source", "h"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    n_min = F.least(F.col("na"), F.col("nb"))
    return (
        pairs.join(
            sizes.select(F.col("doc_id").alias("id_a"), F.col("n_words").alias("na")),
            "id_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("id_b"), F.col("n_words").alias("nb")),
            "id_b",
        )
        .filter(F.col("n_common") * 10 >= 9 * n_min)
        .select(
            "id_a",
            "id_b",
            "n_common",
            F.when(F.col("na") <= F.col("nb"), F.col("id_a"))
            .otherwise(F.col("id_b"))
            .alias("contained_id"),
            F.round(F.col("n_common") / n_min.cast("double"), 6).alias("containment"),
        )
    )


# ---------------------------------------------------------------------------
# Exact substring-level span dedup (the Lee et al. 2022
# "Deduplicating Training Data Makes Language Models Better" class):
# find maximal runs of tokens, >= _SPAN_N long, whose every _SPAN_N-gram
# occurs at least twice in the corpus (within OR across documents), and
# emit a per-document span-excision decision. Unlike every other member
# of the dedup stack (which elects or drops WHOLE documents), this works
# at span grain — the operator that strips repeated licenses, templated
# headers, and boilerplate paragraphs out of otherwise-unique documents.
# ---------------------------------------------------------------------------

_SPAN_N = 15  # minimum duplicated run, in tokens (Lee et al. use 50 BPE
# tokens at web scale; 15 fits this corpus's 10-99-token documents)

_SUBSTRING_ORACLE = f"""
  WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
  ),
  grams AS (
    SELECT doc_id, i AS pos, array_to_string(t[i:i+{_SPAN_N - 1}], ' ') AS g
    FROM toks, UNNEST(range(1, len(t) - {_SPAN_N - 2})) AS u(i)
    WHERE len(t) >= {_SPAN_N}
  ),
  ranked AS (
    SELECT doc_id, pos, g,
           dense_rank() OVER (PARTITION BY g ORDER BY doc_id) AS dr
    FROM grams
  ),
  occ AS (
    SELECT doc_id, pos,
           count(*) OVER (PARTITION BY g) AS n_occ,
           max(dr) OVER (PARTITION BY g) AS n_docs
    FROM ranked
  ),
  islands AS (
    SELECT doc_id, pos, n_docs,
           pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
    FROM occ WHERE n_occ >= 2
  )
  SELECT doc_id,
         CAST(min(pos) AS BIGINT) AS span_start,
         CAST(max(pos) - min(pos) + {_SPAN_N} AS BIGINT) AS span_len,
         CAST(count(*) AS BIGINT) AS n_dup_grams,
         CAST(max(n_docs) AS BIGINT) AS n_dup_docs
  FROM islands GROUP BY doc_id, grp
"""


@register(
    "q_dedup_substring",
    oracle=_SUBSTRING_ORACLE,
    tags=("dedup", "substring", "llm"),
)
def dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-level span dedup: per document, every MAXIMAL
    token run (>= _SPAN_N tokens) whose constituent _SPAN_N-grams each
    occur >= 2 times corpus-wide — within one document or across
    documents. Output is the excision decision list (doc_id,
    span_start [1-based token index], span_len [tokens], n_dup_grams,
    n_dup_docs): a downstream rewrite drops exactly these token ranges,
    the span-grain complement to the whole-document stack above.

    Scale shape (two exchanges total, no join, plan-tested):
    1. Tokens explode to POSITION-tagged _SPAN_N-grams entirely in
       codegen (sequence + slice + array_join — the q_text_boilerplate
       shingle, kept positional because spans need offsets).
    2. Corpus-wide occurrence and document counts are WINDOW aggregates
       over the gram partition — the single gram-key exchange; the
       join-back alternative re-materializes a corpus-cardinality gram
       table and was already measured worse in q_text_boilerplate
       (window 22.5 s vs sort-merge join-back 75 s at the 100x corpus;
       data-scaled broadcast OOMs). Distinct-doc count is
       max(dense_rank over (g, doc_id)) — two window frames sharing ONE
       sort, never a count-distinct state or a collect_set whose per-
       gram memory would scale with document frequency.
    3. Adjacent duplicated positions merge to maximal spans with the
       gaps-and-islands trick (pos - row_number over the doc
       partition): the second exchange, per-document grain; the final
       groupBy(doc_id, grp) rides the same partitioning (doc_id is a
       subset of the grouping key — no third exchange).
    At 100 TB: partition on xxhash64(gram) instead of the gram string
    to cut shuffle width ~10x (string key kept here only for bit-exact
    DuckDB oracle parity), and raise _SPAN_N to the Lee et al. 50.
    """
    from pyspark.sql.window import Window

    n = _SPAN_N
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("t")
    )
    grams = (
        d.filter(F.size("t") >= n)
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(1), F.size("t") - (n - 1))).alias("pos"),
            "t",
        )
        .select(
            "doc_id", "pos", F.array_join(F.slice("t", F.col("pos"), n), " ").alias("g")
        )
    )
    w_sorted = Window.partitionBy("g").orderBy("doc_id")
    w_g = Window.partitionBy("g")
    occ = (
        grams.withColumn("dr", F.dense_rank().over(w_sorted))
        .withColumn("n_occ", F.count(F.lit(1)).over(w_g))
        .withColumn("n_docs", F.max("dr").over(w_g))
    )
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    islands = occ.filter(F.col("n_occ") >= 2).withColumn(
        "grp", F.col("pos") - F.row_number().over(w_doc)
    )
    return (
        islands.groupBy("doc_id", "grp")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") - F.min("pos") + F.lit(n)).cast("long").alias("span_len"),
            F.count(F.lit(1)).alias("n_dup_grams"),
            F.max("n_docs").cast("long").alias("n_dup_docs"),
        )
        .drop("grp")
    )


_SUBSTRING_APPLY_ORACLE = f"""
  WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
  ),
  tok AS (
    SELECT doc_id, i AS pos, t[i] AS w
    FROM toks, UNNEST(range(1, len(t) + 1)) AS u(i)
  ),
  grams AS (
    SELECT doc_id, i AS pos, array_to_string(t[i:i+{_SPAN_N - 1}], ' ') AS g
    FROM toks, UNNEST(range(1, len(t) - {_SPAN_N - 2})) AS u(i)
    WHERE len(t) >= {_SPAN_N}
  ),
  flags AS (
    SELECT doc_id, pos,
           CAST(count(*) OVER (PARTITION BY g) >= 2 AS INT) AS dup
    FROM grams
  ),
  tagged AS (
    SELECT k.doc_id, k.pos, k.w,
           max(coalesce(f.dup, 0)) OVER (
             PARTITION BY k.doc_id ORDER BY k.pos
             RANGE BETWEEN {_SPAN_N - 1} PRECEDING AND CURRENT ROW
           ) AS in_span
    FROM tok k LEFT JOIN flags f ON f.doc_id = k.doc_id AND f.pos = k.pos
  )
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(sum(in_span) AS BIGINT) AS n_removed,
         coalesce(
           string_agg(w, ' ' ORDER BY pos) FILTER (WHERE in_span = 0), ''
         ) AS clean_text
  FROM tagged GROUP BY doc_id
"""


@register(
    "q_dedup_substring_apply",
    oracle=_SUBSTRING_APPLY_ORACLE,
    tags=("dedup", "substring", "llm", "rewrite"),
)
def dedup_substring_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-excision REWRITE — the apply half of q_dedup_substring:
    emit each document with every duplicated >=_SPAN_N-token span
    removed (doc_id, n_tokens, n_removed, clean_text). Together the
    pair is the Lee et al. substring-dedup pipeline end to end:
    detect decisions, then rewrite the corpus.

    Scale shape — the spans are never joined back. A token at
    position p sits inside a duplicated span iff ANY _SPAN_N-gram
    starting in [p-_SPAN_N+1, p] is corpus-duplicated, so the
    gram-level dup flag (the same single gram-key window exchange as
    the detector) spreads to token grain with ONE RANGE-frame window
    over each document's position axis — max(dup) over [pos-N+1, pos]
    — instead of a doc x span interval join whose right side is
    output-dependent. The rewrite then folds kept tokens in the same
    doc partitioning (sort_array of (pos, token) structs -> the
    deterministic ordered concat, the q_agg_listagg discipline;
    empty results coalesce to '' on both engines so fully-excised
    documents compare bit-identically). Everything is codegen except
    nothing: no Python, no explode beyond the detector's own gram
    stream, and the token stream joins the sparse gram flags on
    (doc, pos) — an equi join two window stages already partitioned."""
    from pyspark.sql.window import Window

    n = _SPAN_N
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("t")
    )
    tok = d.select(
        "doc_id",
        (F.posexplode("t")).alias("pos0", "w"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "w")
    grams = (
        d.filter(F.size("t") >= n)
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(1), F.size("t") - (n - 1))).alias("pos"),
            "t",
        )
        .select(
            "doc_id", "pos", F.array_join(F.slice("t", F.col("pos"), n), " ").alias("g")
        )
    )
    flags = grams.select(
        "doc_id",
        "pos",
        (F.count(F.lit(1)).over(Window.partitionBy("g")) >= 2).cast("int").alias("dup"),
    )
    w_doc = (
        Window.partitionBy("doc_id").orderBy("pos").rangeBetween(-(n - 1), 0)
    )
    tagged = tok.join(flags, ["doc_id", "pos"], "left").select(
        "doc_id",
        "pos",
        "w",
        F.max(F.coalesce("dup", F.lit(0))).over(w_doc).alias("in_span"),
    )
    return tagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("in_span").alias("n_removed"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("in_span") == 0, F.struct("pos", "w"))
                    )
                ),
                lambda x: x["w"],
            ),
            " ",
        ).alias("clean_text"),
    )


# ---------------------------------------------------------------------------
# Incremental dedup: classify a NEW ingest batch against the EXISTING
# corpus — the shape production pipelines actually run (nobody re-
# dedups 100 TB per ingest; each batch checks against stored state).
# ---------------------------------------------------------------------------

_INCR_ORACLE = """
  WITH d AS (
    SELECT doc_id, lang, source, text, md5(text) AS h FROM documents
  ),
  new AS (SELECT * FROM d WHERE doc_id % 7 = 0),
  corp AS (SELECT * FROM d WHERE doc_id % 7 <> 0),
  ex AS (
    SELECT n.doc_id, count(c.doc_id) AS n_exact
    FROM new n LEFT JOIN corp c ON c.h = n.h
    GROUP BY n.doc_id
  ),
  ntok AS (
    SELECT doc_id, lang, source,
           unnest(list_distinct(string_split(text, ' '))) AS w FROM new
  ),
  ctok AS (
    SELECT doc_id, lang, source,
           unnest(list_distinct(string_split(text, ' '))) AS w FROM corp
  ),
  nsz AS (SELECT doc_id, count(*) AS nw FROM ntok GROUP BY doc_id),
  csz AS (SELECT doc_id, count(*) AS nw FROM ctok GROUP BY doc_id),
  pairs AS (
    SELECT n.doc_id AS nid, c.doc_id AS cid, count(*) AS common
    FROM ntok n JOIN ctok c
      ON n.w = c.w AND n.lang = c.lang AND n.source = c.source
    GROUP BY n.doc_id, c.doc_id
  ),
  near AS (
    SELECT p.nid AS doc_id, count(*) AS n_near
    FROM pairs p
    JOIN nsz ON nsz.doc_id = p.nid
    JOIN csz ON csz.doc_id = p.cid
    WHERE 10 * p.common >= 9 * (nsz.nw + csz.nw - p.common)
    GROUP BY p.nid
  )
  SELECT e.doc_id,
         CASE WHEN e.n_exact > 0 THEN 'exact'
              WHEN coalesce(nr.n_near, 0) > 0 THEN 'near'
              ELSE 'unique' END AS status,
         CAST(e.n_exact AS BIGINT) AS n_exact,
         CAST(coalesce(nr.n_near, 0) AS BIGINT) AS n_near
  FROM ex e LEFT JOIN near nr ON nr.doc_id = e.doc_id
"""


@register(
    "q_dedup_incremental",
    oracle=_INCR_ORACLE,
    tags=("dedup", "incremental", "llm"),
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classify each document of a new ingest batch (deterministic
    split: doc_id % 7 == 0) against the existing corpus (the rest):
    'exact' (identical md5 content key exists in the corpus), 'near'
    (word-set Jaccard >= 0.9 with some corpus doc in the same
    (lang, source) block — integer cross-multiplied, 10*common >=
    9*union), else 'unique'; with per-doc match counts.

    This is the INCREMENTAL formulation of q_dedup_exact +
    q_dedup_ngram_jaccard: candidates join new-vs-corpus only, never
    corpus-vs-corpus. At 100 TB the corpus side of the md5 join is the
    stored content-key state table (the q_audit_incremental pattern —
    ingest appends keys, batches probe them) and the token
    co-occurrence join touches only postings for tokens that occur in
    the BATCH: work scales with batch x overlap, not corpus^2. On this
    corpus no exact duplicate pair exists at any SF (verified by md5
    group counts), so the 'exact' class is exercised structurally by
    the oracled md5 join while near/unique both fire (19/53 at
    sf0.01). The 0.9 threshold keeps the answer itself sparse — this
    corpus's median cross-doc Jaccard is 0.59 (module header), so any
    lower bar makes the true answer quadratic, which no candidate
    scheme can outrun. Token identity for the Spark-side join is
    xxhash64 (fixed-width shuffle rows; collision odds ~2^-64 x
    vocab^2 — the standing minhash-verify argument)."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        "source",
        "text",
        F.md5(F.col("text").cast("binary")).alias("h"),
    )
    new = d.filter(F.col("doc_id") % 7 == 0)
    corp = d.filter(F.col("doc_id") % 7 != 0)
    ex = (
        new.alias("n")
        .join(corp.alias("c"), F.col("c.h") == F.col("n.h"), "left")
        .groupBy(F.col("n.doc_id").alias("doc_id"))
        .agg(F.count(F.col("c.doc_id")).alias("n_exact"))
    )

    def toks(df: DataFrame) -> DataFrame:
        return df.select(
            "doc_id",
            "lang",
            "source",
            F.explode(F.array_distinct(F.split("text", " "))).alias("w"),
        ).select("doc_id", "lang", "source", F.xxhash64(F.lit(0), "w").alias("th"))

    ntok, ctok = toks(new), toks(corp)
    nsz = ntok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nw"))
    csz = ctok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nw"))
    pairs = (
        ntok.select(F.col("doc_id").alias("nid"), "lang", "source", "th")
        .join(
            ctok.select(F.col("doc_id").alias("cid"), "lang", "source", "th"),
            ["lang", "source", "th"],
        )
        .groupBy("nid", "cid")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    near = (
        pairs.join(nsz.select(F.col("doc_id").alias("nid"), F.col("nw").alias("na")), "nid")
        .join(csz.select(F.col("doc_id").alias("cid"), F.col("nw").alias("nb")), "cid")
        .filter(
            10 * F.col("common") >= 9 * (F.col("na") + F.col("nb") - F.col("common"))
        )
        .groupBy(F.col("nid").alias("doc_id"))
        .agg(F.count(F.lit(1)).alias("n_near"))
    )
    return (
        ex.join(near, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("n_exact") > 0, "exact")
            .when(F.coalesce(F.col("n_near"), F.lit(0)) > 0, "near")
            .otherwise("unique")
            .alias("status"),
            F.col("n_exact"),
            F.coalesce(F.col("n_near"), F.lit(0)).alias("n_near"),
        )
    )


# ---------------------------------------------------------------------------
# Content-defined chunking (CDC) dedup: the storage-dedup primitive
# (FastCDC family) applied to text. Chunk boundaries come from the
# CONTENT (a hash test on each token), so an insertion early in a
# document only reshuffles chunks locally — fixed-size chunking would
# shift every later boundary and destroy all downstream matches.
# ---------------------------------------------------------------------------

_CDC_ORACLE = """
  WITH tok AS (
    SELECT doc_id, lang,
           unnest(string_split(text, ' ')) AS w,
           unnest(generate_series(1, len(string_split(text, ' ')))) AS pos
    FROM documents
  ), flagged AS (
    SELECT doc_id, lang, w, pos,
           CASE WHEN substring(md5(w), 1, 1) IN ('0', '8')
                THEN 1 ELSE 0 END AS b
    FROM tok
  ), cid AS (
    SELECT doc_id, lang, w, pos,
           coalesce(sum(b) OVER (PARTITION BY doc_id ORDER BY pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_id
    FROM flagged
  ), chunks AS (
    SELECT doc_id, lang, chunk_id,
           md5(string_agg(w, ' ' ORDER BY pos)) AS ch,
           count(*) AS n_tok
    FROM cid GROUP BY doc_id, lang, chunk_id
  ), by_hash AS (
    SELECT lang, ch, count(*) AS cnt, min(n_tok) AS n_tok
    FROM chunks GROUP BY lang, ch
  )
  SELECT lang,
         CAST(sum(cnt) AS BIGINT) AS n_chunks,
         count(*) AS n_distinct_chunks,
         CAST(sum(cnt * n_tok) AS BIGINT) AS total_tokens,
         CAST(sum((cnt - 1) * n_tok) AS BIGINT) AS dup_tokens
  FROM by_hash GROUP BY lang
"""


@register(
    "q_dedup_cdc_chunks",
    oracle=_CDC_ORACLE,
    tags=("dedup", "chunking", "llm"),
)
def dedup_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunk dedup census per lang: cut every document
    into variable-size chunks at content-determined boundaries (a new
    chunk starts after any token whose md5 leads with '0' or '8' —
    a 2/16 boundary rate, ~8-token expected chunks), key each chunk by
    the hash of its text, and report total vs distinct chunks and the
    duplicated token mass (tokens in instances beyond each chunk's
    first). The chunk-store formulation of dedup: where
    q_dedup_substring finds repeated spans by exhaustive gram chains,
    CDC trades fine grain for a single linear pass — the standard
    storage-dedup design point. The boundary test is md5-based (not
    xxhash64) solely so BOTH engines compute identical boundaries —
    the oracle must chunk identically to hash-match.

    Scale shape (the q_dedup_substring discipline): explode to token
    grain, then ONE doc-key exchange drives both the running-boundary
    window and the (doc, chunk) reassembly groupBy (doc_id is a subset
    of the grouping key — no second exchange; chunk text reassembles
    via the sorted-struct concat, the substring_apply trick), then the
    chunk-hash rollup and the tiny per-lang aggregate. No joins
    anywhere: at 100 TB the (lang, chunk-hash) table IS the chunk
    store, and the same partials maintain it incrementally per ingest
    batch (the q_audit_incremental composition). Integer outputs;
    exact oracle."""
    tok = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            "lang",
            F.posexplode(F.split("text", " ")).alias("pos", "w"),
        )
        .withColumn(
            "b",
            F.when(
                F.substring(F.md5(F.col("w").cast("binary")), 1, 1).isin("0", "8"),
                1,
            ).otherwise(0),
        )
    )
    from pyspark.sql.window import Window as W

    cum = W.partitionBy("doc_id").orderBy("pos").rowsBetween(
        W.unboundedPreceding, -1
    )
    cid = tok.withColumn(
        "chunk_id", F.coalesce(F.sum("b").over(cum), F.lit(0))
    )
    chunks = (
        cid.groupBy("doc_id", "lang", "chunk_id")
        .agg(
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("pos", "w"))),
                        lambda x: x["w"],
                    ),
                    " ",
                ).cast("binary")
            ).alias("ch"),
            F.count(F.lit(1)).alias("n_tok"),
        )
    )
    by_hash = chunks.groupBy("lang", "ch").agg(
        F.count(F.lit(1)).alias("cnt"), F.min("n_tok").alias("n_tok")
    )
    return by_hash.groupBy("lang").agg(
        F.sum("cnt").alias("n_chunks"),
        F.count(F.lit(1)).alias("n_distinct_chunks"),
        F.sum(F.col("cnt") * F.col("n_tok")).alias("total_tokens"),
        F.sum((F.col("cnt") - 1) * F.col("n_tok")).alias("dup_tokens"),
    )


_CDC_APPLY_ORACLE = """
  WITH tok AS (
    SELECT doc_id,
           unnest(string_split(text, ' ')) AS w,
           unnest(generate_series(1, len(string_split(text, ' ')))) AS pos
    FROM documents
  ), flagged AS (
    SELECT doc_id, w, pos,
           CASE WHEN substring(md5(w), 1, 1) IN ('0', '8')
                THEN 1 ELSE 0 END AS b
    FROM tok
  ), cid AS (
    SELECT doc_id, w, pos,
           coalesce(sum(b) OVER (PARTITION BY doc_id ORDER BY pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_id
    FROM flagged
  ), chunks AS (
    SELECT doc_id, chunk_id,
           string_agg(w, ' ' ORDER BY pos) AS txt
    FROM cid GROUP BY doc_id, chunk_id
  ), ranked AS (
    SELECT doc_id, chunk_id, txt,
           row_number() OVER (PARTITION BY md5(txt)
                              ORDER BY doc_id, chunk_id) AS rk
    FROM chunks
  )
  SELECT doc_id,
         count(*) AS n_chunks,
         CAST(count(*) FILTER (WHERE rk = 1) AS BIGINT) AS n_kept,
         coalesce(string_agg(CASE WHEN rk = 1 THEN txt END, ' '
                             ORDER BY chunk_id), '') AS clean_text
  FROM ranked GROUP BY doc_id
"""


@register(
    "q_dedup_cdc_apply",
    oracle=_CDC_APPLY_ORACLE,
    tags=("dedup", "chunking", "llm", "rewrite"),
)
def dedup_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The APPLY half of content-defined chunk dedup: rewrite every
    document keeping only the corpus-wide FIRST instance of each
    chunk (survivor = min (doc_id, chunk_id) per chunk content,
    deterministic in both engines), emitting the cleaned text verbatim
    plus chunk accounting. Pairs with q_dedup_cdc_chunks the way
    q_dedup_substring_apply pairs with q_dedup_substring — chunk grain
    instead of span grain: coarser cuts, but one linear pass and a
    rewrite that needs NO flag-spread window.

    Scale shape: three exchanges, no joins — the doc-key exchange
    drives boundary window + chunk reassembly (doc_id subsets the
    grouping key), the chunk-hash exchange ranks survivors (chunk
    TEXTS ride this shuffle — the reassembly cost the census variant
    avoids, and exactly where Spark's parallel string handling beat
    the single-threaded twin 3-6x on the other two rewrite ops), and
    the final doc-key exchange folds kept chunks back to text
    (sorted-struct concat over (chunk_id, keep, txt); dropped-all
    docs fold to '' with no join-back against documents). Survivor
    identity keys on md5(chunk text): 128-bit collision odds are the
    standing minhash-verify argument, and BOTH engines key the same
    hash so the oracle chunks and elects identically."""
    tok = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.posexplode(F.split("text", " ")).alias("pos", "w"))
        .withColumn(
            "b",
            F.when(
                F.substring(F.md5(F.col("w").cast("binary")), 1, 1).isin("0", "8"),
                1,
            ).otherwise(0),
        )
    )
    from pyspark.sql.window import Window as W

    cum = W.partitionBy("doc_id").orderBy("pos").rowsBetween(
        W.unboundedPreceding, -1
    )
    cid = tok.withColumn("chunk_id", F.coalesce(F.sum("b").over(cum), F.lit(0)))
    chunks = cid.groupBy("doc_id", "chunk_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "w"))),
                lambda x: x["w"],
            ),
            " ",
        ).alias("txt")
    )
    surv = W.partitionBy(F.md5(F.col("txt").cast("binary"))).orderBy(
        "doc_id", "chunk_id"
    )
    ranked = chunks.withColumn("rk", F.row_number().over(surv))
    kept_struct = F.array_sort(
        F.collect_list(F.struct("chunk_id", (F.col("rk") == 1).alias("keep"), "txt"))
    )
    return ranked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.count_if(F.col("rk") == 1).alias("n_kept"),
        # array_join over an empty (all-dropped) array is already '',
        # matching the oracle's coalesce(string_agg(...), '')
        F.array_join(
            F.transform(
                F.filter(kept_struct, lambda x: x["keep"]),
                lambda x: x["txt"],
            ),
            " ",
        ).alias("clean_text"),
    )


_HEX = "0123456789abcdef"

_SPLIT_ORACLE = """
  WITH RECURSIVE tok AS (
    SELECT doc_id, lang, source, unnest(list_distinct(string_split(text, ' '))) AS word
    FROM documents
  ), sizes AS (
    SELECT doc_id, count(*) AS n_words FROM tok GROUP BY doc_id
  ), cand AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
    FROM tok a JOIN tok b
      ON a.word = b.word AND a.lang = b.lang AND a.source = b.source
     AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
  ), edges AS (
    SELECT c.id_a, c.id_b FROM cand c
    JOIN sizes sa ON sa.doc_id = c.id_a
    JOIN sizes sb ON sb.doc_id = c.id_b
    WHERE c.n_common / CAST(sa.n_words + sb.n_words - c.n_common AS DOUBLE) >= 0.6
  ), sym AS MATERIALIZED (
    SELECT id_a AS a, id_b AS b FROM edges
    UNION
    SELECT id_b AS a, id_a AS b FROM edges
  ), reach(node, lbl) AS (
    SELECT a, a FROM sym
    UNION
    SELECT s.a, r.lbl FROM sym s JOIN reach r ON s.b = r.node
  ), comp AS (
    SELECT node, min(lbl) AS comp_id FROM reach GROUP BY node
  ), assigned AS (
    SELECT d.doc_id, coalesce(c.comp_id, d.doc_id) AS comp_id
    FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
  ), bucketed AS (
    SELECT doc_id, comp_id,
           (strpos('0123456789abcdef',
                   substr(md5(CAST(comp_id AS VARCHAR)), 1, 1)) - 1) * 16
           + strpos('0123456789abcdef',
                    substr(md5(CAST(comp_id AS VARCHAR)), 2, 1)) - 1 AS bucket
    FROM assigned
  )
  SELECT doc_id, comp_id,
         CASE WHEN bucket < 13 THEN 'val'
              WHEN bucket < 26 THEN 'test'
              ELSE 'train' END AS split
  FROM bucketed
"""


@register(
    "q_split_leakage_safe",
    oracle=_SPLIT_ORACLE,
    tags=("llm", "split", "dedup", "iterative"),
)
def split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: assign every document to a
    split by hashing its NEAR-DUP COMPONENT id, not its own id — so a
    val doc can never have a >= 0.6-Jaccard near-duplicate sitting in
    train (the eval-leakage failure mode a naive per-doc hash split
    ships silently; components make the guarantee transitive, a~b~c
    co-splits all three even when a and c are not directly similar).
    Buckets come from the first md5 byte of the component id
    (~5.1% val / ~5.1% test / ~89.8% train in expectation); singleton
    docs are their own component, so unclustered corpora degrade
    exactly to the standard content-hash split
    (q_sample_hash_deterministic's idiom).

    Composition: _jaccard_component_assignment (the q_dedup_canonical
    first half — token co-occurrence candidates, star-contraction
    components in O(log n) rounds) + a map-only bucket assignment.
    Exact oracle: the recursive-CTE component fixpoint plus the
    identical md5-bucket arithmetic. Per-component split coherence is
    additionally pinned by a property test (no component spans two
    splits)."""
    assigned = _jaccard_component_assignment(spark, sf_dir)
    comp_str = "cast(cast(comp_id as string) as binary)"
    bucket = (
        (F.expr(f"instr('{_HEX}', substring(md5({comp_str}), 1, 1))") - 1) * 16
        + F.expr(f"instr('{_HEX}', substring(md5({comp_str}), 2, 1))")
        - 1
    )
    return assigned.select(
        "doc_id",
        "comp_id",
        F.when(bucket < 13, "val")
        .when(bucket < 26, "test")
        .otherwise("train")
        .alias("split"),
    )
