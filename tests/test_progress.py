"""Progress reporting (reference update_callback analog)."""

from pypiper_spark.progress import track_progress
from pypiper_spark.registry import all_queries
from tests.conftest import SF01_DIR


def test_progress_samples_during_action(spark):
    seen = []
    q = all_queries()["q_text_tfidf"]
    with track_progress(spark, callback=seen.append, interval=0.02) as t:
        # a multi-stage job at sf0.01 runs long enough to sample
        q.fn(spark, SF01_DIR).count()
    assert t.samples, "no progress samples captured during a multi-stage job"
    assert seen == t.samples
    assert all(s.total_tasks >= s.completed_tasks >= 0 for s in t.samples)


def test_progress_noop_when_idle(spark):
    with track_progress(spark, interval=0.02) as t:
        pass
    assert t.samples == []


def test_observed_metrics_ride_the_job(spark, sf_dir):
    from pyspark.sql import functions as F

    from pypiper_spark.catalog import load_table
    from pypiper_spark.progress import observed_metrics

    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 10)
    out, get = observed_metrics(
        li,
        rows=F.count(F.lit(1)),
        qty_cents=F.sum(F.round(F.col("l_quantity") * 100).cast("long")),
    )
    n_direct = out.count()  # one action; metrics observed during it
    m = get()
    assert m["rows"] == n_direct
    exp = li.agg(
        F.sum(F.round(F.col("l_quantity") * 100).cast("long"))
    ).first()[0]
    assert m["qty_cents"] == exp
