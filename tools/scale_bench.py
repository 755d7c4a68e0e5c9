"""Single-run benchmark of the headline queries on a scaled corpus.

Usage: python tools/scale_bench.py <sf_dir> [query ...]

Companion to tools/scale_build.py. Differences from bench.py (which
stays the driver contract; this tool shares its HEADLINE list and
DuckDB setup):

- ONE timed run per query, after a single cheap JVM/codegen warmup
  query. On a large scaled corpus the work term is tens of seconds
  against a ~0.3s warmup effect, so warm-vs-cold no longer matters;
  running everything twice would double the wall time.
- DuckDB twins run under a watchdog (interrupt at DUCK_CAP_SEC) so one
  runaway oracle cannot eat the session; a capped query reports null.

Prints one JSON line: {"sf_dir":..., "spark": {...}, "duckdb": {...}}.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import HEADLINE, duck_connect  # noqa: E402  (after the path insert)

DUCK_CAP_SEC = int(os.environ.get("DUCK_CAP_SEC", "480"))


def main() -> int:
    sf_dir = sys.argv[1]
    names = sys.argv[2:] or HEADLINE

    from pypiper_spark.registry import all_queries
    from pypiper_spark.session import get_spark

    spark = get_spark(app_name="pypiper-spark-scale-bench")
    qs = all_queries()

    # one cheap warmup to absorb JVM start + codegen compile, plus a
    # trivial pandas UDF so the Python worker pool + Arrow channel are
    # up before any timed query — otherwise the FIRST python-crossing
    # query is billed ~10s of worker fork/import that every later one
    # amortizes (measured: q_sim_topk_bruteforce 12.7s cold-python vs
    # 1.5s with workers warm at 10x; DuckDB in-process has no analog
    # cost, so billing it would compare apples to forked oranges)
    qs["q_limit_topk"].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    from pyspark.sql.functions import col, pandas_udf

    _noop_udf = pandas_udf(lambda s: s, "long")
    spark.range(10000).select(_noop_udf(col("id"))).write.format("noop").mode(
        "overwrite"
    ).save()

    spark_t: dict[str, float | None] = {}
    # Ingest step, timed separately: queries on the bucketed-fact route
    # (q_join_multiway, q_join_bucketed) read orderkey-bucketed catalog
    # twins. The bucket write is the ONE-TIME ingest shuffle a warehouse
    # pays at load time, amortized over every later query — billing it
    # to the first query that happens to touch the tables would measure
    # ingest, not the query. It is reported in the output as its own
    # line, not hidden.
    bucket_ingest_sec = None
    if "q_join_bucketed" in names:  # the one bucketed-twin consumer
        # (q_join_multiway measured the bucketed route and rejected it
        # — BENCH.md r5 — so it reads raw parquet again)
        from pypiper_spark.bucketing import ensure_bucketed

        t0 = time.perf_counter()
        ensure_bucketed(spark, sf_dir, "orders", "o_orderkey")
        ensure_bucketed(spark, sf_dir, "lineitem", "l_orderkey")
        bucket_ingest_sec = round(time.perf_counter() - t0, 2)
        print(f"  bucket ingest: {bucket_ingest_sec}s", file=sys.stderr, flush=True)

    # SCALE_BENCH_WARM=1: per-query warmup pass, then the timed run —
    # the bench.py warm protocol (warmup's persists ARE reused by the
    # timed run). Use it, one query per invocation, for rows that carry
    # per-corpus machinery (graph pack, dedup wraps): their cold build
    # is 4-15x their steady-state read, so a single cold run measures
    # artifact construction, not the query. The default headline board
    # stays single-run (its rows have no such machinery).
    warm_mode = os.environ.get("SCALE_BENCH_WARM") == "1"
    for name in names:
        if warm_mode:
            qs[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        t0 = time.perf_counter()
        qs[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        spark_t[name] = round(time.perf_counter() - t0, 2)
        if warm_mode:
            spark.catalog.clearCache()
        print(f"  spark {name}: {spark_t[name]}s", file=sys.stderr, flush=True)

    duck_t: dict[str, float | None] = {}
    con = duck_connect(sf_dir)
    for name in names:
        from pypiper_spark.registry import resolve_oracle
        oracle = resolve_oracle(qs[name], sf_dir)
        if not oracle:
            duck_t[name] = None
            continue
        timer = threading.Timer(DUCK_CAP_SEC, con.interrupt)
        timer.start()
        t0 = time.perf_counter()
        try:
            con.sql(oracle).fetchall()
            duck_t[name] = round(time.perf_counter() - t0, 2)
        except Exception:  # noqa: BLE001 — interrupted or oracle error
            duck_t[name] = None
        finally:
            timer.cancel()
        print(f"  duckdb {name}: {duck_t[name]}s", file=sys.stderr, flush=True)

    out = {
        "sf_dir": sf_dir,
        "bucket_ingest_sec": bucket_ingest_sec,
        "spark": spark_t,
        "spark_total_sec": round(sum(v for v in spark_t.values() if v), 2),
        "duckdb": duck_t,
        "duckdb_total_sec": round(sum(v for v in duck_t.values() if v), 2),
        "duck_cap_sec": DUCK_CAP_SEC,
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
