"""Seeded input generators for the benchmark.

Everything the engine receives is made here from the workload seed:
the same seed gives byte-identical inputs. Nothing in this module
touches Spark except :func:`to_frame`, which hands a generated matrix
to the engine through Arrow.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Gaussian-mixture corpus, the shape of the engine's own ANN bench:
# cluster centres uniform in [0, 1)^dim, isotropic noise of this scale
MIX_SIGMA = 0.08
ROWS_PER_CLUSTER = 500


@dataclass(frozen=True)
class Mixture:
    """One seeded Gaussian mixture. ``rows`` draws points from it;
    every draw takes its own stream so corpus, queries and deltas
    never share random numbers."""

    seed: int
    dim: int
    n_clusters: int

    def centres(self) -> np.ndarray:
        return np.random.default_rng([self.seed, 0]).random(
            (self.n_clusters, self.dim)
        )

    def rows(self, n: int, stream: int) -> np.ndarray:
        rng = np.random.default_rng([self.seed, 1, stream])
        pick = rng.integers(0, self.n_clusters, n)
        return self.centres()[pick] + MIX_SIGMA * rng.standard_normal(
            (n, self.dim)
        )


def mixture_for(seed: int, n_corpus: int, dim: int) -> Mixture:
    return Mixture(seed, dim, max(20, n_corpus // ROWS_PER_CLUSTER))


def corpus(mix: Mixture, n: int) -> tuple[np.ndarray, np.ndarray]:
    """(ids, vectors) of the base corpus: ids 0..n-1."""
    return np.arange(n, dtype=np.int64), mix.rows(n, stream=0)


def queries(mix: Mixture, n: int) -> np.ndarray:
    return mix.rows(n, stream=1)


def deltas(
    mix: Mixture, n_base: int, n_delta: int, count: int
) -> list[tuple[np.ndarray, np.ndarray]]:
    """``count`` append batches of ``n_delta`` rows each. Batch i owns
    ids [n_base + i*n_delta, n_base + (i+1)*n_delta): disjoint from the
    corpus and from every other batch."""
    out = []
    for i in range(count):
        lo = n_base + i * n_delta
        ids = np.arange(lo, lo + n_delta, dtype=np.int64)
        out.append((ids, mix.rows(n_delta, stream=2 + i)))
    return out


def to_frame(spark, ids: np.ndarray, mat: np.ndarray, id_col: str, vec_col: str):
    """Arrow hand-off (``createDataFrame`` from an Arrow table), then
    ``localCheckpoint`` so no later timing re-evaluates the input."""
    n, dim = mat.shape
    flat = np.ascontiguousarray(mat, dtype=np.float64).ravel()
    offsets = np.arange(0, n * dim + 1, dim, dtype=np.int32)
    tbl = pa.table({
        id_col: np.asarray(ids, dtype=np.int64),
        vec_col: pa.ListArray.from_arrays(offsets, flat),
    })
    return spark.createDataFrame(
        tbl, f"{id_col} long, {vec_col} array<double>"
    ).localCheckpoint(eager=True)


# -- relational tables ------------------------------------------------
# Same schema as the engine's fixture tables (TPC-H-like star schema
# plus events, documents and embeddings); row counts scale with ``sf``.

_WORDS = (
    "the a key agg row scan slow fast table value part hash merge batch"
    " spark line sort window order data column join small customer query"
    " big stream group filter vector"
).split()
_LANGS = np.array(["en", "zh", "es", "de", "fr"])
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
_SEGMENTS = np.array(["MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD"])
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_ADJ = np.array(["red", "small", "hot", "old", "large", "blue", "cold", "new"])
_NOUN = np.array(["plate", "widget", "ring", "rod", "bolt", "gizmo", "gear", "anvil"])
_PTYPES = np.array(["MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL", "ECONOMY"])
_PRIO = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_EVENTS = np.array(["click", "error", "purchase", "signup", "view"])
_EMB_DIM = 64
_DAY_US = 86_400_000_000


def _days(rng, start: str, n: int, span: int) -> pa.Array:
    base = np.datetime64(start, "us")
    return pa.array(
        base + rng.integers(0, span, n) * np.timedelta64(1, "D"),
        pa.timestamp("us"),
    )


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten tables, each from its own seeded stream."""

    def rng(i: int):
        return np.random.default_rng([seed, 100 + i])

    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = max(6_000, int(6_000_000 * sf))
    n_ev = max(1_000, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    r = rng(1)
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
        "c_mktsegment": _SEGMENTS[r.integers(0, 5, n_cust)],
    })
    r = rng(2)
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(r, -999.99, 9999.99, n_supp),
    })
    r = rng(3)
    out["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(
            np.char.add(_ADJ[r.integers(0, 8, n_part)], " "),
            _NOUN[r.integers(0, 8, n_part)],
        ),
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
        "p_type": _PTYPES[r.integers(0, 6, n_part)],
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
    })
    r = rng(4)
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
        "o_totalprice": _money(r, 1_000.0, 500_000.0, n_ord),
        "o_orderdate": _days(r, "1995-01-01", n_ord, 2_400),
        "o_orderpriority": _PRIO[r.integers(0, 5, n_ord)],
    })
    r = rng(5)
    out["lineitem"] = pa.table({
        "l_orderkey": r.integers(0, n_ord, n_line),
        "l_partkey": r.integers(0, n_part, n_line),
        "l_suppkey": r.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(r.integers(1, 8, n_line), pa.int32()),
        "l_quantity": r.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(r, 900.0, 105_000.0, n_line),
        "l_discount": r.integers(0, 11, n_line) / 100.0,
        "l_tax": r.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_line)],
        "l_shipdate": _days(r, "1995-01-02", n_line, 2_500),
    })
    r = rng(6)
    ts = np.sort(r.integers(0, 30 * _DAY_US, n_ev))
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts, pa.timestamp("us")),
        "user_id": r.integers(0, max(15, int(n_ev * 0.015)), n_ev),
        "event_type": _EVENTS[r.integers(0, 5, n_ev)],
        "value": np.maximum(0.01, np.round(r.exponential(50.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)],
    })
    r = rng(7)
    words = np.array(_WORDS)
    texts = [
        " ".join(words[r.integers(0, len(words), r.integers(10, 100))])
        for _ in range(n_doc)
    ]
    # ~5% near-duplicates of an earlier document, as the dedup
    # queries expect to find some
    for i in np.flatnonzero(r.random(n_doc) < 0.05):
        if i > 0:
            texts[i] = texts[int(r.integers(0, i))] + " dup"
    out["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": _LANGS[r.choice(5, n_doc, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    r = rng(8)
    label = r.integers(0, 10, n_emb)
    centre = r.standard_normal((10, _EMB_DIM)) * 0.15
    emb = centre[label] + r.standard_normal((n_emb, _EMB_DIM)) / np.sqrt(_EMB_DIM)
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })
    return out


def write_tables(seed: int, sf: float, out_dir: str) -> str:
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables(seed, sf).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
