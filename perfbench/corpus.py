"""Seeded synthetic corpus in the layout every registered query reads.

``generate(dest, sf, seed)`` writes the ten tables (``<dest>/<table>.parquet``)
in the layout of the driver testdata (TESTDATA.md): the same parquet
types (timestamps are microsecond ``timestamp[us]``, as in the testdata
files), key domains and value distributions. That means uniform
TPC-H-style keys and 2-decimal money, about four lines per order, an
``events`` stream with exponential gaps and values, 10-99-word documents
over a 31-word vocabulary with ~5% near-duplicates, and unit-norm 64-d
embeddings. README.md records the column-by-column comparison with the
testdata. The same ``(sf, seed)`` always gives the same bytes, so a
run's inputs are a function of its seed alone.

``scale_copies(src, dest, copies)`` builds the key-remapped Nx corpus
with ``tools/scale_build.py``'s own per-table routine, so the benchmark's
10x corpus is built exactly as that tool builds it.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import load_tool

# rows per unit of scale factor (sf1 = 6M lineitem rows)
_PER_SF = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
}
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_COLORS = "blue cold hot large new old red small".split()
_THINGS = "anvil bolt gear gizmo plate ring rod widget".split()
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "es", "fr", "zh"]
_LANG_P = [0.14, 0.44, 0.14, 0.14, 0.14]
EMBEDDING_DIM = 64
_US_PER_DAY = 86_400_000_000


def _days(rng, n: int, first: str, last: str) -> pa.Array:
    lo = np.datetime64(first, "D").astype(np.int64)
    hi = np.datetime64(last, "D").astype(np.int64)
    d = rng.integers(lo, hi + 1, n, dtype=np.int64)
    return pa.array(d * _US_PER_DAY, type=pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _keyed(prefix: str, keys: np.ndarray) -> list[str]:
    return [f"{prefix}#{k:09d}" for k in keys]


def _tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = {t: max(int(round(r * sf)), 10) for t, r in _PER_SF.items()}
    n_docs = max(500, int(round(50_000 * sf)))
    n_vecs = max(500, int(round(20_000 * sf)))
    n_users = max(15, int(round(15_000 * sf)))
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })

    ck = np.arange(n["customer"], dtype=np.int64)
    out["customer"] = pa.table({
        "c_custkey": ck,
        "c_name": _keyed("Customer", ck),
        "c_nationkey": pa.array(rng.integers(0, 25, len(ck)), pa.int32()),
        "c_acctbal": _money(rng, len(ck), -999.99, 9999.99),
        "c_mktsegment": rng.choice(_SEGMENTS, len(ck)).tolist(),
    })

    sk = np.arange(n["supplier"], dtype=np.int64)
    out["supplier"] = pa.table({
        "s_suppkey": sk,
        "s_name": _keyed("Supplier", sk),
        "s_nationkey": pa.array(rng.integers(0, 25, len(sk)), pa.int32()),
        "s_acctbal": _money(rng, len(sk), -999.99, 9999.99),
    })

    pk = np.arange(n["part"], dtype=np.int64)
    out["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [
            f"{_COLORS[a]} {_THINGS[b]}"
            for a, b in zip(rng.integers(0, 8, len(pk)), rng.integers(0, 8, len(pk)))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, len(pk))],
        "p_type": rng.choice(_PTYPES, len(pk)).tolist(),
        "p_size": pa.array(rng.integers(1, 51, len(pk)), pa.int32()),
        "p_retailprice": (9000 + pk % 1000) / 10.0,
    })

    ok = np.arange(n["orders"], dtype=np.int64)
    out["orders"] = pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, n["customer"], len(ok), dtype=np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], len(ok)).tolist(),
        "o_totalprice": _money(rng, len(ok), 1000.0, 500000.0),
        "o_orderdate": _days(rng, len(ok), "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(_PRIORITIES, len(ok)).tolist(),
    })

    m = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n["orders"], m, dtype=np.int64),
        "l_partkey": rng.integers(0, n["part"], m, dtype=np.int64),
        "l_suppkey": rng.integers(0, n["supplier"], m, dtype=np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, m), pa.int32()),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": _money(rng, m, 900.0, 105000.0),
        "l_discount": np.round(rng.uniform(0.0, 0.1, m), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, m), 2),
        "l_returnflag": rng.choice(["A", "N", "R"], m).tolist(),
        "l_linestatus": rng.choice(["F", "O"], m).tolist(),
        "l_shipdate": _days(rng, m, "1995-01-02", "2001-11-04"),
    })

    e = n["events"]
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    gaps = rng.exponential(30 * _US_PER_DAY / e, e).astype(np.int64) + 1
    out["events"] = pa.table({
        "event_id": np.arange(e, dtype=np.int64),
        "ts": pa.array(start + np.cumsum(gaps), type=pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, e, dtype=np.int64),
        "event_type": rng.choice(_EVENT_TYPES, e).tolist(),
        "value": np.maximum(np.round(rng.exponential(50.0, e), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
    })

    texts: list[str] = []
    for i in range(n_docs):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.integers(0, len(_VOCAB), int(rng.integers(10, 100)))
            texts.append(" ".join(_VOCAB[w] for w in words))
    out["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n_docs, p=_LANG_P).tolist(),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    labels = rng.integers(0, 10, n_vecs)
    vecs = rng.standard_normal((n_vecs, EMBEDDING_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, n_vecs * EMBEDDING_DIM + 1, EMBEDDING_DIM), pa.int32()),
            flat,
        ).cast(pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return out


def generate(dest: str, sf: float, seed: int) -> dict[str, int]:
    """Write the corpus for ``(sf, seed)`` under ``dest``; returns rows per table."""
    os.makedirs(dest, exist_ok=True)
    rows = {}
    for name, tbl in _tables(sf, seed).items():
        pq.write_table(tbl, os.path.join(dest, f"{name}.parquet"))
        rows[name] = tbl.num_rows
    return rows


def scale_copies(src: str, dest: str, copies: int) -> dict[str, int]:
    """Key-remapped ``copies``-x corpus of ``src`` at ``dest``, table by
    table through ``tools/scale_build.scale_table``."""
    sb = load_tool("scale_build")
    os.makedirs(dest, exist_ok=True)
    return {
        name: sb.scale_table(
            os.path.join(src, f"{name}.parquet"),
            os.path.join(dest, f"{name}.parquet"),
            name,
            copies,
        )
        for name in list(sb.KEYS) + sb.SINGLE_COPY
    }


def dir_bytes(path: str) -> int:
    """Bytes of every regular file under ``path`` (0 if it is missing)."""
    return sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(path)
        for f in fs
        if os.path.isfile(os.path.join(dp, f))
    )
