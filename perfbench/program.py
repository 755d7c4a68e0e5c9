"""The benchmark's own ``Node | Pipeline`` program and its DuckDB twin.

Two filter stages, one ``MapBatches`` stage (pandas over Arrow batches)
and a terminal fan-out into two aggregates, over ``lineitem``. The seed
picks the ship-date window and the quantity cap. The twin SQL is written
here, apart from the program, so it checks the pipeline rather than
restating it.
"""

from __future__ import annotations

import datetime as dt
import random

import numpy as np
import pandas as pd

NET_SCHEMA = (
    "l_orderkey bigint, l_suppkey bigint, l_returnflag string, "
    "l_linestatus string, net_cents bigint"
)


def net_cents(pdf: pd.DataFrame) -> pd.DataFrame:
    """Discounted price in exact integer cents, per line."""
    ext = np.round(pdf["l_extendedprice"].to_numpy() * 100).astype(np.int64)
    disc = np.round(pdf["l_discount"].to_numpy() * 100).astype(np.int64)
    return pd.DataFrame({
        "l_orderkey": pdf["l_orderkey"],
        "l_suppkey": pdf["l_suppkey"],
        "l_returnflag": pdf["l_returnflag"],
        "l_linestatus": pdf["l_linestatus"],
        "net_cents": ext * (100 - disc),
    })


def params(seed: int) -> dict:
    rng = random.Random(seed)
    start = dt.date(1995, 6, 1) + dt.timedelta(days=rng.randrange(0, 900))
    end = start + dt.timedelta(days=rng.randrange(700, 1500))
    return {"start": start.isoformat(), "end": end.isoformat(), "max_qty": rng.randrange(20, 46)}


def build(p: dict):
    """The pipeline for parameters ``p``; run it on the lineitem frame."""
    from pyspark.sql import functions as F

    from pypiper_spark import MapBatches, Node

    lo = F.lit(f"{p['start']} 00:00:00").cast("timestamp_ntz")
    hi = F.lit(f"{p['end']} 00:00:00").cast("timestamp_ntz")
    return (
        Node("ship_window", lambda df: df.filter((F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi)))
        | Node("small_qty", lambda df: df.filter(F.col("l_quantity") <= float(p["max_qty"])))
        | MapBatches("net_cents", net_cents, NET_SCHEMA)
        | [
            Node("by_status", lambda df: df.groupBy("l_returnflag", "l_linestatus").agg(
                F.count(F.lit(1)).alias("n_lines"), F.sum("net_cents").alias("net_cents"))),
            Node("by_supplier", lambda df: df.groupBy("l_suppkey").agg(
                F.countDistinct("l_orderkey").alias("n_orders"), F.sum("net_cents").alias("net_cents"))),
        ]
    )


SOURCE_COLUMNS = (
    "l_orderkey", "l_suppkey", "l_returnflag", "l_linestatus",
    "l_extendedprice", "l_discount", "l_quantity", "l_shipdate",
)


def twin_sql(p: dict) -> list[str]:
    """DuckDB SQL for each fan-out branch, in branch order."""
    src = f"""
      SELECT l_orderkey, l_suppkey, l_returnflag, l_linestatus,
             CAST(round(l_extendedprice * 100) AS BIGINT)
               * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS net_cents
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '{p['start']} 00:00:00'
        AND l_shipdate < TIMESTAMP '{p['end']} 00:00:00'
        AND l_quantity <= {p['max_qty']}
    """
    return [
        f"SELECT l_returnflag, l_linestatus, count(*) AS n_lines, sum(net_cents) AS net_cents "
        f"FROM ({src}) GROUP BY l_returnflag, l_linestatus",
        f"SELECT l_suppkey, count(DISTINCT l_orderkey) AS n_orders, sum(net_cents) AS net_cents "
        f"FROM ({src}) GROUP BY l_suppkey",
    ]
