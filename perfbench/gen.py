"""Seeded input generator.

Every input a workload reads is made here from ``--seed``: the ten
fixture tables (same columns and parquet types as the engine's fixtures,
see FIXTURES.md), plus the ground truth the checks need, which never
reaches the program (planted duplicate pairs, held-out ANN queries, the
delta files the ingest writer drops later). Same seed and sizes give
byte-identical parquet, so :func:`content_hash` identifies the inputs.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TS_MS = pa.timestamp("ms")
DAY_MS = 86_400_000
EPOCH_1995_MS = 788_918_400_000  # 1995-01-01T00:00:00Z
EPOCH_2024_NS = 1_704_067_200_000_000_000  # 2024-01-01T00:00:00Z

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]

DIM = 64  # embedding width
LINEITEM_COLS = (
    "l_orderkey l_partkey l_suppkey l_linenumber l_quantity l_extendedprice"
    " l_discount l_tax l_returnflag l_linestatus l_shipdate"
).split()


@dataclass(frozen=True)
class Sizes:
    """Row counts of one generated input set."""

    lineitem: int = 6_000
    docs: int = 500
    doc_tokens: tuple[int, int] = (40, 400)
    vocab: int = 20_000
    vectors: int = 500
    clusters: int = 64

    @property
    def orders(self) -> int:
        return max(self.lineitem // 4, 8)

    @property
    def customers(self) -> int:
        return max(self.lineitem // 40, 8)

    @property
    def parts(self) -> int:
        return max(self.lineitem // 30, 8)

    @property
    def suppliers(self) -> int:
        return max(self.lineitem // 600, 4)


@dataclass
class Inputs:
    """Where the tables went, and the ground truth kept back from them."""

    sf_dir: str
    sizes: Sizes
    dup_pairs: list[tuple[int, int, str]] = field(default_factory=list)
    centers: np.ndarray | None = None
    base_vectors: np.ndarray | None = None


WORKLOAD_SIZES = {
    # 300 documents of 40-400 Zipf tokens: long enough that the
    # per-token kernels show, small enough that a run fits its budget
    "curate_docs": Sizes(lineitem=6_000, docs=300, vectors=500),
    # 300k-row lineitem under the view, 1k base vectors under the ANN
    # index; every delta file adds 1k more. The cold index build costs
    # ~25 s at 1k vectors, ~33 s at 2k and ~53 s at 10k on a 4-core box,
    # and one run has about a minute in all
    "serve_mixed": Sizes(lineitem=300_000, docs=300, doc_tokens=(20, 80),
                         vectors=1_000),
}


def scaled(sizes: Sizes, scale: float) -> Sizes:
    """``sizes`` with every row count multiplied by ``scale``."""
    k = lambda n, lo: max(lo, round(n * scale))  # noqa: E731
    return Sizes(
        lineitem=k(sizes.lineitem, 600), docs=k(sizes.docs, 60),
        doc_tokens=sizes.doc_tokens, vocab=k(sizes.vocab, 500),
        vectors=k(sizes.vectors, 400), clusters=sizes.clusters,
    )


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _dates_ms(rng: np.random.Generator, n: int, days: int = 2_400) -> pa.Array:
    return pa.array(
        EPOCH_1995_MS + rng.integers(0, days, n, dtype=np.int64) * DAY_MS, TS_MS
    )


def lineitem_table(
    rng: np.random.Generator, n: int, n_orders: int, n_parts: int, n_supp: int,
) -> pa.Table:
    """lineitem rows with Zipf(1.1)-skewed part keys (hot keys for lookups)."""
    # the prime stride spreads hot ranks over the key range
    partkey = (zipf_ranks(rng, 1.1, n_parts, n) * 7919) % n_parts
    qty = rng.integers(1, 51, n).astype(np.float64)
    flags = np.array(["A", "N", "R"])[rng.integers(0, 3, n)]
    status = np.array(["F", "O"])[rng.integers(0, 2, n)]
    return pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_orders, n), pa.int64()),
            "l_partkey": pa.array(partkey, pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
            "l_returnflag": pa.array(flags),
            "l_linestatus": pa.array(status),
            "l_shipdate": _dates_ms(rng, n, 2_500),
        }
    )


def zipf_ranks(rng: np.random.Generator, s: float, n: int, size: int) -> np.ndarray:
    """``size`` draws of 0-based ranks from a Zipf(s) law truncated to n."""
    p = 1.0 / np.arange(1, n + 1) ** s
    return rng.choice(n, size=size, p=p / p.sum())


def _vocab(rng: np.random.Generator, n: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: dict[str, None] = {}
    while len(words) < n:
        for ln in rng.integers(2, 10, n):
            words.setdefault("".join(rng.choice(letters, ln)), None)
            if len(words) == n:
                break
    return list(words)


def documents(
    rng: np.random.Generator, sizes: Sizes
) -> tuple[pa.Table, list[tuple[int, int, str]]]:
    """Zipf corpus with planted duplicates: 3% exact copies and 10% near
    copies (~5% of tokens substituted) of distinct other documents.
    Returns the table and the planted (original_id, copy_id, kind) pairs."""
    vocab = np.array(_vocab(rng, sizes.vocab), dtype=object)
    n = sizes.docs
    n_exact, n_near = round(n * 0.03), round(n * 0.10)
    n_orig = n - n_exact - n_near
    lo, hi = sizes.doc_tokens
    texts: list[list[str]] = []
    for ln in rng.integers(lo, hi + 1, n_orig):
        texts.append(list(vocab[zipf_ranks(rng, 1.1, sizes.vocab, ln)]))
    # each planted copy has its own original, so every duplicate family
    # is one pair and the clustering loop sees the same graph shape
    # under every seed
    sources = rng.choice(n_orig, n_exact + n_near, replace=False)
    kinds = ["exact"] * n_exact + ["near"] * n_near
    for src, kind in zip(sources, kinds):
        toks = list(texts[src])
        if kind == "near":
            hit = rng.random(len(toks)) < 0.05
            for i in np.flatnonzero(hit):
                toks[i] = vocab[rng.integers(0, sizes.vocab)]
        texts.append(toks)
    # doc ids are a seeded permutation, so copies are not clustered by id
    ids = rng.permutation(n).astype(np.int64)
    pairs = [
        (int(ids[src]), int(ids[n_orig + j]), kind)
        for j, (src, kind) in enumerate(zip(sources, kinds))
    ]
    strs = [" ".join(t) for t in texts]
    order = np.argsort(ids)
    table = pa.table(
        {
            "doc_id": pa.array(ids[order], pa.int64()),
            "text": pa.array([strs[i] for i in order]),
            "lang": pa.array(np.array(LANGS)[rng.integers(0, 5, n)]),
            "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)]),
            "n_chars": pa.array([len(strs[i]) for i in order], pa.int64()),
        }
    )
    return table, pairs


def unit_vectors(
    rng: np.random.Generator, centers: np.ndarray, n: int, spread: float = 0.35
) -> np.ndarray:
    """n float32 unit vectors drawn around random rows of ``centers``."""
    v = centers[rng.integers(0, len(centers), n)] + spread * rng.normal(
        size=(n, centers.shape[1])
    ) / np.sqrt(centers.shape[1])
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)


def vector_column(v: np.ndarray) -> pa.Array:
    flat = pa.array(v.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, v.size + 1, v.shape[1], dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, flat)


def generate(sf_dir: str, seed: int, sizes: Sizes) -> Inputs:
    """Write the ten fixture tables for ``seed`` under ``sf_dir``."""
    os.makedirs(sf_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    out = Inputs(sf_dir=sf_dir, sizes=sizes)

    def put(name: str, table: pa.Table) -> None:
        _write(table, os.path.join(sf_dir, f"{name}.parquet"))

    put("region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    }))
    put("nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }))
    nc, ns, npt, no = sizes.customers, sizes.suppliers, sizes.parts, sizes.orders
    put("customer", pa.table({
        "c_custkey": pa.array(range(nc), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, nc)]),
    }))
    put("supplier", pa.table({
        "s_suppkey": pa.array(range(ns), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns)),
    }))
    put("part", pa.table({
        "p_partkey": pa.array(range(npt), pa.int64()),
        "p_name": pa.array([
            f"{P_ADJ[a]} {P_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, npt), rng.integers(0, 8, npt))
        ]),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, npt)]),
        "p_type": pa.array(np.array(P_TYPES)[rng.integers(0, 6, npt)]),
        "p_size": pa.array(rng.integers(1, 51, npt), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + (np.arange(npt) % 1000) / 10, 2)),
    }))
    put("orders", pa.table({
        "o_orderkey": pa.array(range(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, no)]),
        "o_totalprice": pa.array(_money(rng, 1000, 500_000, no)),
        "o_orderdate": _dates_ms(rng, no),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, no)]),
    }))
    put("lineitem", lineitem_table(rng, sizes.lineitem, no, npt, ns))
    ne = max(sizes.lineitem // 6, 10)
    put("events", pa.table({
        "event_id": pa.array(range(ne), pa.int64()),
        "ts": pa.array(
            np.sort(EPOCH_2024_NS + rng.integers(0, 30 * DAY_MS * 10**6, ne)),
            pa.timestamp("ns"),
        ),
        "user_id": pa.array(rng.integers(0, 150, ne), pa.int64()),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, ne)]),
        "value": pa.array(_money(rng, 0.01, 500, ne)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
    }))
    docs, out.dup_pairs = documents(rng, sizes)
    put("documents", docs)
    centers = rng.normal(size=(sizes.clusters, DIM))
    out.centers = centers / np.linalg.norm(centers, axis=1, keepdims=True)
    out.base_vectors = unit_vectors(rng, out.centers, sizes.vectors)
    put("embeddings", pa.table({
        "vec_id": pa.array(range(sizes.vectors), pa.int64()),
        "embedding": vector_column(out.base_vectors),
        "label": pa.array(rng.integers(0, 16, sizes.vectors), pa.int32()),
    }))
    return out


def serve_extras(
    inputs: Inputs, root: str, seed: int, n_deltas: int, delta_rows: int,
    n_query_batches: int, batch_queries: int = 16,
) -> None:
    """Ground truth and pending writes for serve_mixed, kept out of the
    tables the program reads: held-out query batches, the delta files
    the open-loop writer drops later (lineitem rows, each carrying a new
    vector), and per-key row counts for the lookup checks."""
    rng = np.random.default_rng([seed, 1])
    sizes = inputs.sizes
    queries = unit_vectors(rng, inputs.centers, n_query_batches * batch_queries)
    delta_vecs = unit_vectors(rng, inputs.centers, n_deltas * delta_rows)
    pending = os.path.join(root, "pending")
    os.makedirs(pending, exist_ok=True)
    delta_keys = []
    for d in range(n_deltas):
        t = lineitem_table(rng, delta_rows, sizes.orders, sizes.parts, sizes.suppliers)
        lo = sizes.vectors + d * delta_rows
        t = t.append_column("delta_id", pa.array(np.full(delta_rows, d), pa.int64()))
        t = t.append_column("vec_id", pa.array(np.arange(lo, lo + delta_rows), pa.int64()))
        t = t.append_column("embedding", vector_column(delta_vecs[d * delta_rows:(d + 1) * delta_rows]))
        _write(t, os.path.join(pending, f"delta-{d:05d}.parquet"))
        delta_keys.append(t.column("l_partkey").to_numpy())
    base_keys = pq.read_table(
        os.path.join(inputs.sf_dir, "lineitem.parquet"), columns=["l_partkey"]
    ).column("l_partkey").to_numpy()
    counts = np.bincount(base_keys, minlength=sizes.parts)
    delta_counts = np.stack([np.bincount(k, minlength=sizes.parts) for k in delta_keys])
    np.savez(
        os.path.join(root, "serve_truth.npz"),
        base=inputs.base_vectors,
        queries=queries.reshape(n_query_batches, batch_queries, DIM),
        deltas=delta_vecs.reshape(n_deltas, delta_rows, DIM),
        hot_keys=np.argsort(-counts, kind="stable")[: max(1, int((counts > 0).sum()))],
        base_counts=counts,
        delta_counts=delta_counts,
    )


def content_hash(root: str) -> str:
    """sha256 over every parquet file under ``root``, in path order."""
    h = hashlib.sha256()
    files = sorted(
        os.path.relpath(os.path.join(d, f), root)
        for d, _, names in os.walk(root) for f in names if f.endswith(".parquet")
    )
    for rel in files:
        h.update(rel.encode())
        with open(os.path.join(root, rel), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]
