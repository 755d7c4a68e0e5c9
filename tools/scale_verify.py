"""Row-heavy correctness verification AT scale — engine-side hashing.

tools/driver_sim.py compares results by collecting both sides to
pandas, which caps verifiable output size at the driver transport
(q_sft_reward_pairs' 1.8M wide rows exceeded it at the 100x corpus).
This tool instead reduces each side INSIDE its own engine to an
order-insensitive fingerprint:

    per row:  md5(coalesce(cast(col as varchar), '<null>') joined '|',
              columns in sorted-name order)  ->  first 15 hex digits
              as a BIGINT (60 bits, positive)
    per set:  (count(*), bit_xor(row_hash))

bit_xor is commutative and overflow-free, so any row order and any
partitioning produce the same fingerprint, and nothing bigger than
two integers ever leaves either engine.

Float/timestamp columns (VERDICT r7 #1): double FORMATTING is
engine-specific, so those columns are projected to scaled BIGINT
identically on both engines before hashing:

    double/float  ->  CAST(floor(x * S + 0.5) AS BIGINT)
                      (round-half-up toward +inf; the multiply, add
                      and floor are the same IEEE ops on the same
                      value in both engines, so the projection is
                      deterministic given equal inputs)
    timestamp(_ntz) -> epoch microseconds (unix_micros / epoch_us;
                      both sessions run UTC)

S starts at 1e6 (micro-units). Aggregated doubles legitimately differ
in their last ULPs between engines (different summation orders), so
on a quantized mismatch the scale backs off 1e6 -> 1e2 -> 1e0 and the
MATCHING scale is recorded in the result ("scale": S) — exact@1e2 is
honest cents-level at-scale evidence, still sensitive to any
structural bug (wrong rows / joins / grouping), which is what the
100x gate exists to catch. Structural columns (ints/strings/dates)
are always compared exactly, at every scale.

Usage: python tools/scale_verify.py <sf_dir> <query> [query ...]
Prints one JSON line; exit 0 iff every fingerprint matches.
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

_ALLOWED = {"bigint", "int", "integer", "smallint", "string", "date", "boolean"}
_QUANTIZE = {"double", "float"}
_EPOCH = {"timestamp", "timestamp_ntz"}

# Backoff ladder for quantized doubles: micro-units, cents, whole units.
_SCALES = (1_000_000, 100, 1)


def _spark_proj(F, col: str, dtype: str, scale: int):
    """Per-column Spark projection to a hash-stable string."""
    if dtype in _QUANTIZE:
        e = F.expr(
            f"CAST(floor(CAST(`{col}` AS DOUBLE) * {scale}.0d + 0.5d) AS BIGINT)"
        )
    elif dtype in _EPOCH:
        e = F.expr(f"unix_micros(CAST(`{col}` AS TIMESTAMP))")
    else:
        e = F.col(col)
    return F.coalesce(e.cast("string"), F.lit("<null>"))


def _duck_proj(col: str, dtype: str, scale: int) -> str:
    """The same projection in DuckDB SQL (dtype is the SPARK dtype of
    the column — the oracle is required to produce the same logical
    type, which the sf0.01 schema gate already enforces)."""
    if dtype in _QUANTIZE:
        e = f'CAST(floor(CAST("{col}" AS DOUBLE) * {scale}.0 + 0.5) AS BIGINT)'
    elif dtype in _EPOCH:
        e = f'epoch_us(CAST("{col}" AS TIMESTAMP))'
    else:
        e = f'"{col}"'
    return f"coalesce(CAST({e} AS VARCHAR), '<null>')"


# Banded twins (VERDICT r8 next #2): three oracles exhaust DuckDB's
# memory/spill space at the 100x corpus even though their computation
# decomposes EXACTLY along scale_build's copy bands — every entity key
# in copy i is offset by i*OFFSET, graph edges and CDC chunk texts
# never cross copies (co-purchase/part-supplier edges live inside one
# copy's keys; copy-prefixed tokens make chunk hashes copy-disjoint),
# and the output rows are keyed by banded ids. For these queries the
# twin therefore runs once per key band over band-filtered views and
# the (count, bit_xor) fingerprints merge associatively:
# n = sum(n_band), x = xor(x_band). This is a cross-engine check of
# the FULL output, not a sample — the banding only caps the twin's
# working set.
_BAND_OFFSET = 10_000_000_000  # scale_build.OFFSET
_BANDED_TWINS = {
    "q_graph_pagerank": ("lineitem", "l_partkey"),
    "q_graph_label_propagation": ("lineitem", "l_partkey"),
    "q_dedup_cdc_apply": ("documents", "doc_id"),
}
# Single-row oracles whose count columns are ADDITIVE across copy
# bands (all graph structures are copy-internal, so nodes / edges /
# wedges / triangles per band sum to the global counts): the raw
# oracle runs once per band, the integer columns sum in Python, and
# the summed row is fingerprinted through the same projection — a
# full-output check with the twin's working set capped at one band
# (the r9 unbanded triangles twin spilled past the disk at 100x).
_SUMMED_BAND_TWINS = {
    "q_graph_triangles": ("lineitem", "l_partkey"),
}
_N_BANDS = int(os.environ.get("SPARK_GRAFT_TWIN_BANDS", "10"))
# Per-query band FLOORS (r10): label-prop's unrolled 4-round CTE needs
# ~50 bands at the 100x corpus — at 10 bands the per-band working set
# OOMs DuckDB even on an otherwise idle 128 GB machine (measured twice
# this round; the r9 sweep had recorded the same and ran at 50). The
# floor makes the default path self-sufficient instead of relying on
# the env var being remembered across sessions.
_MIN_BANDS = {
    "q_graph_label_propagation": 50,
}


def _bands_for(name: str) -> int:
    return max(_N_BANDS, _MIN_BANDS.get(name, 0))


def _banded_fingerprint(con, sf_dir: str, name: str, fp_sql: str):
    """Run ``fp_sql`` once per copy band (views filtered to the band's
    key range), or None if the corpus is unscaled (single copy — the
    plain twin is cheaper and covers it)."""
    table, key = _BANDED_TWINS[name]
    n_copies = con.sql(
        f"SELECT CAST(max({key}) // {_BAND_OFFSET} AS INT) + 1 FROM {table}"
    ).fetchone()[0]
    if not n_copies or n_copies <= 1:
        return None
    per = -(-n_copies // _bands_for(name))  # ceil
    tot_n, tot_x, n_bands = 0, 0, 0
    # finally-restore: an exception mid-band must not leave the shared
    # connection's view filtered, or every later oracle on it is corrupt
    try:
        for c0 in range(0, n_copies, per):
            lo = c0 * _BAND_OFFSET
            hi = (c0 + per) * _BAND_OFFSET
            con.sql(
                f"CREATE OR REPLACE VIEW {table} AS "
                f"SELECT * FROM read_parquet('{sf_dir}/{table}.parquet') "
                f"WHERE {key} >= {lo} AND {key} < {hi}"
            )
            n, x = con.sql(fp_sql).fetchone()
            tot_n += int(n)
            tot_x ^= int(x or 0)
            n_bands += 1
    finally:
        con.sql(
            f"CREATE OR REPLACE VIEW {table} AS "
            f"SELECT * FROM read_parquet('{sf_dir}/{table}.parquet')"
        )
    return tot_n, tot_x, n_bands


def _summed_band_fingerprint(con, sf_dir: str, name: str, oracle_sql: str, fp_for):
    """Banded twin for _SUMMED_BAND_TWINS: per-band raw-oracle counts
    summed in Python, then fingerprinted as one literal row through
    the same projection SQL (``fp_for(src)`` wraps a subquery in the
    count/bit_xor fingerprint). None if the corpus is unscaled."""
    table, key = _SUMMED_BAND_TWINS[name]
    n_copies = con.sql(
        f"SELECT CAST(max({key}) // {_BAND_OFFSET} AS INT) + 1 FROM {table}"
    ).fetchone()[0]
    if not n_copies or n_copies <= 1:
        return None
    per = -(-n_copies // _bands_for(name))  # ceil
    col_names: list[str] | None = None
    sums: list[int] | None = None
    n_bands = 0
    # finally-restore, same reason as _banded_fingerprint above
    try:
        for c0 in range(0, n_copies, per):
            lo = c0 * _BAND_OFFSET
            hi = (c0 + per) * _BAND_OFFSET
            con.sql(
                f"CREATE OR REPLACE VIEW {table} AS "
                f"SELECT * FROM read_parquet('{sf_dir}/{table}.parquet') "
                f"WHERE {key} >= {lo} AND {key} < {hi}"
            )
            res = con.sql(oracle_sql)
            if col_names is None:
                col_names = list(res.columns)
                sums = [0] * len(col_names)
            row = res.fetchone()
            for i, v in enumerate(row):
                sums[i] += int(v)
            n_bands += 1
    finally:
        con.sql(
            f"CREATE OR REPLACE VIEW {table} AS "
            f"SELECT * FROM read_parquet('{sf_dir}/{table}.parquet')"
        )
    lit = "SELECT " + ", ".join(
        f"CAST({v} AS BIGINT) AS {c}" for c, v in zip(col_names, sums)
    )
    n, x = con.sql(fp_for(lit)).fetchone()
    return int(n), int(x or 0), n_bands


def main() -> int:
    sf_dir = sys.argv[1]
    names = sys.argv[2:]

    from pyspark.sql import functions as F

    from bench import duck_connect
    from pypiper_spark.registry import all_queries, resolve_oracle
    from pypiper_spark.session import get_spark

    spark = get_spark(app_name="pypiper-scale-verify")
    qs = all_queries()

    def fresh_con():
        """One DuckDB process-state per query: a twin that OOMs must
        not poison the NEXT query's allocation (r7 lesson: after one
        genuine OOM, even trivial set-op twins reported spurious
        bad-allocation failures on the shared connection)."""
        return duck_connect(sf_dir)

    results: dict[str, dict] = {}
    n_match = n_mismatch = n_skipped = 0
    for name in names:
        con = fresh_con()
        q = qs[name]
        rec: dict = {}
        try:
            df = q.fn(spark, sf_dir)
            oracle_sql = resolve_oracle(q, sf_dir)
            types = dict(df.dtypes)
            bad = {
                c: t
                for c, t in types.items()
                if t not in _ALLOWED | _QUANTIZE | _EPOCH
            }
            if bad or not oracle_sql:
                rec["skipped"] = f"unsupported cols {bad}" if bad else "no oracle"
                n_skipped += 1
                results[name] = rec
                print(f"  [SKP] {name}: {rec['skipped']}", file=sys.stderr)
                continue
            cols = sorted(df.columns)
            has_float = any(types[c] in _QUANTIZE for c in cols)
            scales = _SCALES if has_float else (_SCALES[0],)
            for scale in scales:
                row = F.concat_ws(
                    "|", *[_spark_proj(F, c, types[c], scale) for c in cols]
                )
                h = F.conv(
                    F.substring(F.md5(row.cast("binary")), 1, 15), 16, 10
                ).cast("bigint")
                got = (
                    df.select(h.alias("h"))
                    .agg(F.count(F.lit(1)).alias("n"), F.expr("bit_xor(h) as x"))
                    .first()
                )
                # record the Spark side BEFORE attempting the twin: a
                # twin OOM/limitation still leaves Spark-completes
                # evidence in the row
                rec["spark"] = {"n": got.n, "x": got.x}
                dcols = ", ".join(_duck_proj(c, types[c], scale) for c in cols)

                def fp_for(src: str) -> str:
                    return f"""
                    SELECT count(*) AS n,
                           bit_xor(CAST('0x' || substr(md5(concat_ws('|', {dcols})),
                                                       1, 15) AS BIGINT)) AS x
                    FROM ({src})
                    """

                fp_sql = fp_for(oracle_sql)
                if name in _BANDED_TWINS:
                    banded = _banded_fingerprint(con, sf_dir, name, fp_sql)
                elif name in _SUMMED_BAND_TWINS:
                    banded = _summed_band_fingerprint(
                        con, sf_dir, name, oracle_sql, fp_for
                    )
                else:
                    banded = None
                if banded is not None:
                    dres = banded[:2]
                    rec["twin_bands"] = banded[2]
                else:
                    dres = con.sql(fp_sql).fetchone()
                rec["spark"] = {"n": got.n, "x": got.x}
                rec["duckdb"] = {"n": dres[0], "x": dres[1]}
                rec["match"] = got.n == dres[0] and got.x == dres[1]
                if has_float:
                    rec["scale"] = scale
                if rec["match"] or got.n != dres[0]:
                    break  # count mismatch never heals with a coarser scale
            if rec["match"]:
                n_match += 1
            else:
                n_mismatch += 1
        except Exception as e:  # noqa: BLE001
            rec["error"] = f"{type(e).__name__}: {e}"[:400]
            n_mismatch += 1
        spark.catalog.clearCache()
        results[name] = rec
        print(f"  [{'OK ' if rec.get('match') else 'SKP' if rec.get('skipped') else 'BAD'}] {name}", file=sys.stderr)

    summary = {
        "sf_dir": sf_dir,
        "n_queries": len(results),
        "match": n_match,
        "mismatch": n_mismatch,
        "skipped": n_skipped,
        "queries": results,
    }
    print(json.dumps(summary, default=str))
    return 0 if n_mismatch == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
