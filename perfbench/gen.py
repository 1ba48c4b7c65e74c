"""Seeded input generators for the benchmark workloads.

Everything here is single-process numpy/pandas; the program under test
only ever sees the files these functions write.  The same seed always
yields byte-identical inputs.

- ``make_corpus``: heavy-tailed document corpus for the ETL path, with
  planted exact duplicates and near-duplicates and their ground truth.
- ``make_vectors``: clustered vectors for the IVF serving index.
- ``CommitStream``: the change-feed commit sequence (inserts, updates,
  deletes), alternating one-cell and scattered commits.
- ``write_catalog_tables``: the TPC-H-shaped tables the catalog
  queries read (fixed seed, like the engine's read-only test data).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

# ---------------------------------------------------------------------
# Document corpus (etl_catalog)
# ---------------------------------------------------------------------


@dataclass
class Corpus:
    frame: pd.DataFrame  # doc_id, text, n_chars
    exact_survivors: set[int]  # min doc_id of every exact-duplicate group
    near_pairs: set[tuple[int, int]]  # planted (source, near-dup) pairs


def _lengths(rng: np.random.Generator, n: int, total: int) -> np.ndarray:
    """Heavy-tailed (Pareto) token counts that sum exactly to ``total``,
    so every seed does the same amount of work."""
    floor = 8
    w = rng.pareto(1.2, n) + 1.0
    w = np.minimum(w, 60.0)  # one document is never most of the corpus
    extra = total - floor * n
    lens = floor + np.floor(w / w.sum() * extra).astype(np.int64)
    lens[np.argmax(lens)] += total - int(lens.sum())
    return lens


def make_corpus(
    seed: int,
    n_docs: int,
    total_tokens: int,
    exact_frac: float = 0.10,
    near_frac: float = 0.05,
    vocab_size: int = 20000,
) -> Corpus:
    """``n_docs`` documents: originals holding ``total_tokens`` tokens,
    then ``exact_frac`` byte-identical copies and ``near_frac`` lightly
    edited copies of random originals."""
    rng = np.random.default_rng([seed, 1])
    vocab = np.array([f"t{i}" for i in range(vocab_size)])
    ranks = np.arange(1, vocab_size + 1)
    p = 1.0 / (ranks + 20.0)  # Zipf-like term frequencies
    p /= p.sum()

    n_exact = int(round(n_docs * exact_frac))
    n_near = int(round(n_docs * near_frac))
    n_orig = n_docs - n_exact - n_near
    lens = _lengths(rng, n_orig, total_tokens)
    toks = [list(rng.choice(vocab, size=int(k), p=p)) for k in lens]
    texts = [" ".join(t) for t in toks]

    ids = rng.permutation(n_docs)  # planted copies get interleaved ids
    doc_ids = list(ids[:n_orig])
    group: dict[int, list[int]] = {int(i): [int(i)] for i in doc_ids}

    # exact duplicates: byte-identical copies of random originals
    src_idx = rng.integers(0, n_orig, n_exact)
    for j, s in enumerate(src_idx):
        did = int(ids[n_orig + j])
        doc_ids.append(did)
        texts.append(texts[s])
        group[int(ids[s])].append(did)

    # near duplicates: 2-4% of the tokens of a long-enough original are
    # replaced, so 3-shingle Jaccard stays roughly within 0.78-0.89
    long_enough = np.flatnonzero(lens >= 40)
    near_pairs: set[tuple[int, int]] = set()
    for j in range(n_near):
        s = int(rng.choice(long_enough))
        t = list(toks[s])
        rate = rng.uniform(0.02, 0.04)
        pos = rng.choice(len(t), size=max(1, int(len(t) * rate)), replace=False)
        for q in pos:
            t[q] = f"x{rng.integers(10**9)}"
        did = int(ids[n_orig + n_exact + j])
        doc_ids.append(did)
        texts.append(" ".join(t))
        group[did] = [did]
        src = int(ids[s])
        near_pairs.add((min(src, did), max(src, did)))

    frame = pd.DataFrame(
        {
            "doc_id": np.asarray(doc_ids, dtype=np.int64),
            "text": texts,
            "n_chars": np.asarray([len(x) for x in texts], dtype=np.int64),
        }
    ).sort_values("doc_id", kind="mergesort", ignore_index=True)
    survivors = {min(members) for members in group.values()}
    return Corpus(frame, survivors, near_pairs)


# ---------------------------------------------------------------------
# Clustered vectors and the commit sequence (topk_feed)
# ---------------------------------------------------------------------


@dataclass
class Vectors:
    ids: np.ndarray  # int64 (n,)
    mat: np.ndarray  # float64 (n, dim)
    centroids: np.ndarray  # float64 (cells, dim): per-cluster means


def make_vectors(
    seed: int, n: int, dim: int, cells: int, noise: float
) -> Vectors:
    """Gaussian clusters around random unit centres.  ``noise`` is wide
    enough that a vector's nearest neighbours often sit in a cell the
    query does not probe, so recall@10 with n_probe=2 stays below 1."""
    rng = np.random.default_rng([seed, 2])
    centres = rng.normal(size=(cells, dim))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    label = rng.integers(0, cells, n)
    mat = centres[label] + rng.normal(scale=noise, size=(n, dim))
    cents = np.stack([mat[label == c].mean(axis=0) for c in range(cells)])
    return Vectors(np.arange(n, dtype=np.int64), mat, cents)


def cell_of(mat: np.ndarray, centroids: np.ndarray) -> np.ndarray:
    """The index's shard function: argmax of the raw dot product."""
    return np.argmax(mat @ centroids.T, axis=1)


@dataclass
class Commit:
    version: int
    one_cell: bool
    inserts: dict[int, np.ndarray] = field(default_factory=dict)
    updates: dict[int, tuple[np.ndarray, np.ndarray]] = field(
        default_factory=dict
    )  # id -> (old, new)
    deletes: dict[int, np.ndarray] = field(default_factory=dict)

    @property
    def changed_rows(self) -> int:
        return len(self.inserts) + len(self.updates) + len(self.deletes)

    def frame(self) -> pd.DataFrame:
        """Change rows in the feed's schema (pre- and post-images for
        updates; deletes carry their last embedding so the refresh can
        find their cell)."""
        rows: list[tuple[int, list[float], str]] = []
        for i, v in self.inserts.items():
            rows.append((i, v.tolist(), "insert"))
        for i, (old, new) in self.updates.items():
            rows.append((i, old.tolist(), "update_preimage"))
            rows.append((i, new.tolist(), "update_postimage"))
        for i, v in self.deletes.items():
            rows.append((i, v.tolist(), "delete"))
        return pd.DataFrame(rows, columns=["vec_id", "embedding", "_change_type"])


class CommitStream:
    """Seeded commit sequence over a live mirror of the indexed vectors.

    Each commit changes ``frac`` of the live rows, split evenly between
    inserts, updates and deletes.  Even versions confine every change
    to one IVF cell (updates stay inside it); odd versions scatter the
    changes over all cells.  ``live`` is the benchmark's own copy of the
    table after every commit, used for exact answers."""

    def __init__(self, seed: int, vecs: Vectors, noise: float, frac: float):
        self.rng = np.random.default_rng([seed, 3])
        self.cents = vecs.centroids
        self.noise = noise
        self.frac = frac
        self.live: dict[int, np.ndarray] = {
            int(i): v for i, v in zip(vecs.ids, vecs.mat)
        }
        self.next_id = int(vecs.ids.max()) + 1
        self.version = 0

    def _cell(self, v: np.ndarray) -> int:
        return int(np.argmax(self.cents @ v))

    def next(self) -> Commit:
        self.version += 1
        one_cell = self.version % 2 == 0
        c = Commit(self.version, one_cell)
        per_kind = max(1, int(len(self.live) * self.frac) // 3)
        ids = np.fromiter(self.live.keys(), dtype=np.int64)
        if one_cell:
            cell = int(self.rng.integers(len(self.cents)))
            mat = np.stack([self.live[int(i)] for i in ids])
            pool = ids[cell_of(mat, self.cents) == cell]
        else:
            cell = None
            pool = ids
        picked = self.rng.choice(pool, size=min(2 * per_kind, len(pool)), replace=False)
        for i in picked[:per_kind]:
            old = self.live[int(i)]
            new = self._perturb(old, cell)
            c.updates[int(i)] = (old, new)
        for i in picked[per_kind:]:
            c.deletes[int(i)] = self.live[int(i)]
        for _ in range(per_kind):
            base = self.cents[cell if one_cell else self.rng.integers(len(self.cents))]
            v = self._sample_near(base, cell)
            c.inserts[self.next_id] = v
            self.next_id += 1
        return c

    def _sample_near(self, base: np.ndarray, cell: int | None) -> np.ndarray:
        while True:
            v = base + self.rng.normal(scale=self.noise, size=base.shape)
            if cell is None or self._cell(v) == cell:
                return v

    def _perturb(self, old: np.ndarray, cell: int | None) -> np.ndarray:
        while True:
            v = old + self.rng.normal(scale=self.noise / 2, size=old.shape)
            if cell is None or self._cell(v) == cell:
                return v

    def apply(self, c: Commit) -> None:
        for i, (_, new) in c.updates.items():
            self.live[i] = new
        for i in c.deletes:
            del self.live[i]
        self.live.update(c.inserts)


# ---------------------------------------------------------------------
# Catalog tables (etl_catalog)
# ---------------------------------------------------------------------

CATALOG_SEED = 42


def write_catalog_tables(out_dir: str, sf: float = 0.01) -> None:
    """TPC-H-shaped tables plus ``events``/``documents``/``embeddings``,
    in the schemas ``sources.catalog.TABLES`` declares.  The data seed
    is fixed; the run seed only orders the queries."""
    rng = np.random.default_rng(CATALOG_SEED)
    os.makedirs(out_dir, exist_ok=True)

    def put(name: str, df: pd.DataFrame) -> None:
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)

    i32, i64 = np.int32, np.int64
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    put("region", pd.DataFrame({"r_regionkey": np.arange(5, dtype=i32), "r_name": regions}))
    put(
        "nation",
        pd.DataFrame(
            {
                "n_nationkey": np.arange(25, dtype=i32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": (np.arange(25) % 5).astype(i32),
            }
        ),
    )
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)  # noqa: E731
    put(
        "customer",
        pd.DataFrame(
            {
                "c_custkey": np.arange(n_cust, dtype=i64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": rng.integers(0, 25, n_cust).astype(i32),
                "c_acctbal": money(-999.99, 9999.99, n_cust),
                "c_mktsegment": rng.choice(
                    ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
                ),
            }
        ),
    )
    put(
        "supplier",
        pd.DataFrame(
            {
                "s_suppkey": np.arange(n_supp, dtype=i64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": rng.integers(0, 25, n_supp).astype(i32),
                "s_acctbal": money(-999.99, 9999.99, n_supp),
            }
        ),
    )
    adjs = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    nouns = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    retail = np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)
    put(
        "part",
        pd.DataFrame(
            {
                "p_partkey": np.arange(n_part, dtype=i64),
                "p_name": [f"{rng.choice(adjs)} {rng.choice(nouns)}" for _ in range(n_part)],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": rng.choice(
                    ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part
                ),
                "p_size": rng.integers(1, 51, n_part).astype(i32),
                "p_retailprice": retail,
            }
        ),
    )
    day0 = np.datetime64("1995-01-01")
    odate = day0 + rng.integers(0, 2400, n_ord).astype("timedelta64[D]")
    put(
        "orders",
        pd.DataFrame(
            {
                "o_orderkey": np.arange(n_ord, dtype=i64),
                "o_custkey": rng.integers(0, n_cust, n_ord).astype(i64),
                "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
                "o_totalprice": money(1000.0, 500000.0, n_ord),
                "o_orderdate": odate.astype("datetime64[us]"),
                "o_orderpriority": rng.choice(
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
                ),
            }
        ),
    )
    per_order = np.clip(rng.poisson(4.0, n_ord), 1, 13)
    okey = np.repeat(np.arange(n_ord, dtype=i64), per_order)
    line = np.concatenate([np.arange(1, k + 1) for k in per_order]).astype(i32)
    n_li = len(okey)
    pkey = rng.integers(0, n_part, n_li).astype(i64)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ship = odate[okey] + rng.integers(1, 122, n_li).astype("timedelta64[D]")
    put(
        "lineitem",
        pd.DataFrame(
            {
                "l_orderkey": okey,
                "l_partkey": pkey,
                "l_suppkey": rng.integers(0, n_supp, n_li).astype(i64),
                "l_linenumber": line,
                "l_quantity": qty,
                "l_extendedprice": np.round(qty * retail[pkey] * rng.uniform(0.95, 1.05, n_li), 2),
                "l_discount": rng.integers(0, 11, n_li) / 100.0,
                "l_tax": rng.integers(0, 9, n_li) / 100.0,
                "l_returnflag": rng.choice(["A", "N", "R"], n_li),
                "l_linestatus": rng.choice(["F", "O"], n_li),
                "l_shipdate": ship.astype("datetime64[us]"),
            }
        ),
    )
    n_ev = int(1_000_000 * sf)
    gaps = rng.exponential(259.0 * 1e6, n_ev).astype(np.int64) + 1
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    put(
        "events",
        pd.DataFrame(
            {
                "event_id": np.arange(n_ev, dtype=i64),
                "ts": ts,
                "user_id": rng.integers(0, 150, n_ev).astype(i64),
                "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev),
                "value": np.round(rng.exponential(50.0, n_ev) + 0.01, 2),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
            }
        ),
    )
    words = (
        "join hash row batch scan column customer filter small slow merge order "
        "vector line table data agg value key stream window a spark part group "
        "big sort query fast the"
    ).split()
    n_docs = int(50_000 * sf)
    texts = [" ".join(rng.choice(words, int(k))) for k in rng.integers(10, 100, n_docs)]
    put(
        "documents",
        pd.DataFrame(
            {
                "doc_id": np.arange(n_docs, dtype=i64),
                "text": texts,
                "lang": rng.choice(["de", "en", "es", "fr", "zh"], n_docs),
                "source": [f"src{i % 20}" for i in range(n_docs)],
                "n_chars": np.asarray([len(t) for t in texts], dtype=i64),
            }
        ),
    )
    n_emb = int(50_000 * sf)
    label = rng.integers(0, 10, n_emb)
    centres = rng.normal(size=(10, 64))
    emb = centres[label] + rng.normal(scale=1.5, size=(n_emb, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    put(
        "embeddings",
        pd.DataFrame(
            {"vec_id": np.arange(n_emb, dtype=i64), "embedding": list(emb), "label": label.astype(i32)}
        ),
    )
