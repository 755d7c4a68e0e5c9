"""Focused pins for the r12 optimization round's internal changes.

Covers the internals the round restructured (the
twins._stream_shuffle_partitions pins live in test_streaming.py):
- twins._stage_slices (fingerprint-keyed executor-written staging —
  reuse on second call, rebuild on incomplete dir);
- dedup._star_components (fixpoint fused into the round rollup —
  labels identical to a reference union-find on known graphs; the
  equivalence suite pins the corpus-level hashes, this pins the
  primitive on adversarial shapes).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from pypiper_spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    return get_spark(app_name="r12-opt-tests", shuffle_partitions=8)


def test_stage_slices_reuses_complete_dir_and_rebuilds_incomplete(spark, tmp_path):
    from pypiper_spark.streaming.twins import _stage_slices

    df = spark.range(100).select(F.col("id").alias("event_id"))
    stage = str(tmp_path / "stage")
    _stage_slices(df, stage, 2, lambda k: F.col("event_id") % 2 == k)
    names = sorted(os.listdir(stage))
    assert names == ["batch0.parquet", "batch1.parquet"]
    mtimes = [os.stat(os.path.join(stage, n)).st_mtime_ns for n in names]
    # deterministic ascending mtimes (the replay-order contract)
    assert mtimes[0] < mtimes[1]
    # second call: complete dir is reused untouched (no rewrite)
    inodes = [os.stat(os.path.join(stage, n)).st_ino for n in names]
    _stage_slices(df, stage, 2, lambda k: F.col("event_id") % 2 == k)
    assert [os.stat(os.path.join(stage, n)).st_ino for n in names] == inodes
    # incomplete dir (one file missing) is rebuilt whole
    os.unlink(os.path.join(stage, "batch1.parquet"))
    _stage_slices(df, stage, 2, lambda k: F.col("event_id") % 2 == k)
    assert sorted(os.listdir(stage)) == ["batch0.parquet", "batch1.parquet"]
    # content round-trips: both slices together are the input set
    got = sorted(
        r.event_id for r in spark.read.parquet(stage).collect()
    )
    assert got == list(range(100))


def _reference_components(edges: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # path-compress to final roots
    return {n: find(n) for n in parent}


@pytest.mark.parametrize(
    "edges",
    [
        # chain (worst case for naive propagation)
        [(i, i + 1) for i in range(60)],
        # two stars sharing one bridge + an isolated pair
        [(0, i) for i in range(1, 10)]
        + [(100, 100 + i) for i in range(1, 10)]
        + [(9, 100)]
        + [(500, 501)],
        # cycle
        [(i, (i + 1) % 17) for i in range(17)],
    ],
)
def test_star_components_fused_fixpoint_matches_union_find(spark, edges):
    from pypiper_spark.queries.dedup import _star_components

    sym_rows = [(a, b) for a, b in edges] + [(b, a) for a, b in edges]
    sym = spark.createDataFrame(sym_rows, "a long, b long")
    labels, rounds = _star_components(sym)
    got = {r.node: r.lbl for r in labels.collect()}
    want = _reference_components(edges)
    # every node labeled with its component's minimum id
    comp_min: dict[int, int] = {}
    for n, root in want.items():
        comp_min[root] = min(comp_min.get(root, n), n)
    want_min = {n: comp_min[root] for n, root in want.items()}
    assert got == want_min
    assert rounds <= 64


def test_copurchase_pairs_plan_is_basket_aggregate_not_self_join(spark):
    """r12 pin: order-blocked pair generation must come from ONE
    basket collect_set + in-row explosion, not the r5-r11 distinct +
    self-join (4 exchanges -> 2). A join reappearing here means the
    optimization was reverted (it was once lost to a plan-capture
    toggle — see OPTIMIZATION_r12.md)."""
    from tests.conftest import SF_DIR
    from pypiper_spark.registry import all_queries

    df = all_queries()["q_copurchase_pairs"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "collect_set" in plan, plan[:2000]
    assert "Join" not in plan, plan[:2000]
    assert plan.count("Exchange") <= 2, plan[:2000]


def test_ann_decision_evaluates_ann_subtree_once(spark):
    """r12 pin: _ann_decision must produce n_ret/n_hit in ONE pass over
    the ann frame and checkpoint the per-probe frame, so the ANN
    subtree (a data-scaled corpus join at 100 TB) runs exactly once.
    The checkpoint shows up as an ExistingRDD scan in every consumer's
    plan; the fused counting keeps results identical to the old
    two-subtree form, asserted against hand-computed values."""
    from pypiper_spark.queries.vectors import _ann_decision

    ann = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 10)], "probe_id long, vec_id long"
    )
    exact = spark.createDataFrame(
        [(1, 10, 0.9), (1, 12, 0.8), (2, 10, 0.7), (2, 11, 0.6)],
        "probe_id long, vec_id long, cos_sim double",
    )
    n_corpus = spark.createDataFrame(
        [(1, 4), (2, 4)], "probe_id long, n_corpus long"
    )
    out = _ann_decision(spark, ann, exact, n_corpus, k=2, floor=0.4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan, plan[:2000]
    rows = {r.probe_id: r for r in out.collect()}
    # probe 1: returned {10,11}, exact {10,12} -> n_hit 1 of n_exact 2
    # probe 2: returned {10}, exact {10,11} -> n_hit 1 of n_exact 2
    # avg recall 0.5 >= 0.4 and 1 <= n_ret <= 2 for both probes
    assert rows[1].recall_ok and rows[1].k_rows_ok
    assert rows[1].exact_best_sim == 0.9
    assert abs(rows[1].exact_topk_sum - 1.7) < 1e-9
    assert rows[2].exact_best_sim == 0.7
