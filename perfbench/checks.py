"""Order-insensitive result fingerprints computed inside each engine.

Both sides reduce a result to ``(row count, bit_xor of a 60-bit md5 row
hash)`` over the columns in sorted-name order, with the per-column
projections of ``tools/scale_verify.py`` at its finest scale (doubles to
``floor(x * 1e6 + 0.5)``, timestamps to epoch microseconds), so the
benchmark and the verifier cannot drift apart. Nothing larger than two
integers leaves either engine, so the fingerprint is also the sink
action the benchmark times.
"""

from __future__ import annotations

from perfbench import load_tool

_verify = load_tool("scale_verify")
_SCALE = 1_000_000


def spark_fingerprint(df) -> tuple[int, int]:
    from pyspark.sql import functions as F

    types = dict(df.dtypes)
    row = F.concat_ws("|", *[_verify._spark_proj(F, c, types[c], _SCALE) for c in sorted(df.columns)])
    h = F.conv(F.substring(F.md5(row.cast("binary")), 1, 15), 16, 10).cast("bigint")
    got = (
        df.select(h.alias("h"))
        .agg(F.count(F.lit(1)).alias("n"), F.expr("bit_xor(h) AS x"))
        .first()
    )
    return int(got.n), int(got.x or 0)


def duck_fingerprint(con, sql: str, spark_types: dict[str, str]) -> tuple[int, int]:
    """Fingerprint of ``sql`` on DuckDB connection ``con``, projecting each
    column by the Spark type of the same-named column of the result it
    is compared with."""
    cols = ", ".join(_verify._duck_proj(c, spark_types[c], _SCALE) for c in sorted(spark_types))
    n, x = con.sql(
        f"SELECT count(*), bit_xor(CAST('0x' || substr(md5(concat_ws('|', {cols})), 1, 15)"
        f" AS BIGINT)) FROM ({sql})"
    ).fetchone()
    return int(n), int(x or 0)


def duck_connect(sf_dir: str, threads: int, tables):
    import duckdb

    con = duckdb.connect()
    con.sql(f"SET threads TO {threads}")
    for t in tables:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con
