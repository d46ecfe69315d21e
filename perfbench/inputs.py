"""Seeded inputs and their closed forms.

Every generator here is a pure function of ``seed`` (numpy PCG64 through
``SeedSequence``), so the same seed gives byte-identical inputs. The
engine receives only what these functions write; the expected outputs
come from the closed forms beside them, never from the engine.
"""

from __future__ import annotations

import zlib
from pathlib import Path

import numpy as np


def rng(seed: int, *key: str | int) -> np.random.Generator:
    """Independent stream per (seed, key). ``zlib.crc32`` keeps string
    keys stable across processes (``hash()`` is salted)."""
    ints = [int(seed)] + [
        zlib.crc32(k.encode()) if isinstance(k, str) else int(k) for k in key
    ]
    return np.random.default_rng(np.random.SeedSequence(ints))


# --------------------------------------------------------------- raster

class RasterSource:
    """A source raster of ``n`` x ``n`` uint8 pixels: value(r, c) =
    (a*r + b*c + k) % 120 + 1 with a seeded offset ``k`` and seeded
    rectangular nodata (0) holes, one of them a whole block so the
    pipeline's empty-window short-circuit runs. The gradients ``a`` and
    ``b`` are fixed: DEFLATE's speed depends on them (a gradient of 3
    made a raster op 25% slower than one of 33), and every seed must
    give the pipeline the same work."""

    A, B = 37, 59

    def __init__(self, seed: int, n: int, block: int, n_holes: int = 6):
        r = rng(seed, "raster")
        self.k = int(r.integers(0, 120))
        holes = []
        for _ in range(n_holes):
            h, w = (int(x) for x in r.integers(block // 4, 2 * block, 2))
            r0 = int(r.integers(0, n - h))
            c0 = int(r.integers(0, n - w))
            holes.append((r0, r0 + h, c0, c0 + w))
        # one whole block with no data at a seeded block position
        nb = n // block
        br, bc = (int(x) * block for x in r.integers(0, nb, 2))
        holes.append((br, br + block, bc, bc + block))
        self.holes = holes

    def values(self, r0: int, r1: int, c0: int, c1: int) -> np.ndarray:
        """Source pixels on rows [r0, r1) and cols [c0, c1); 0 is nodata."""
        rr = np.arange(r0, r1, dtype=np.int64)[:, None]
        cc = np.arange(c0, c1, dtype=np.int64)[None, :]
        out = ((self.A * rr + self.B * cc + self.k) % 120 + 1).astype(np.uint8)
        for h0, h1, w0, w1 in self.holes:
            a0, a1 = max(h0, r0), min(h1, r1)
            b0, b1 = max(w0, c0), min(w1, c1)
            if a0 < a1 and b0 < b1:
                out[a0 - r0:a1 - r0, b0 - c0:b1 - c0] = 0
        return out

    def expected(self, r0: int, r1: int, c0: int, c1: int) -> np.ndarray:
        """The pipeline output for calc ``A*2`` cast to uint8, nodata 0:
        2 * value where the source has data, else 0 (values <= 120, so
        doubling never wraps)."""
        return (2 * self.values(r0, r1, c0, c1).astype(np.int64)).astype(
            np.uint8)


# --------------------------------------------------------------- vector

class Lattice:
    """``ni`` x ``nj`` rectangles on one tile of ``cols`` px. Rectangle
    (i, j) covers pixel rows [i*s, i*s + 2s) and cols [j*s, j*s + 2s), so
    each pixel is covered by up to four rectangles; paint values are a
    seeded permutation of 1..ni*nj. Last-wins in ascending value order
    makes the winner of a pixel the largest value covering it."""

    def __init__(self, seed: int, cols: int, cell: int):
        self.cols = cols
        self.cell = cell
        self.ni = self.nj = cols // cell - 1
        n = self.ni * self.nj
        self.values = (rng(seed, "lattice").permutation(n) + 1).reshape(
            self.ni, self.nj)

    def expected(self) -> np.ndarray:
        """Closed-form winner per pixel (0 where no rectangle covers)."""
        s, ni, nj = self.cell, self.ni, self.nj
        cr = np.arange(self.cols) // s
        out = np.zeros((self.cols, self.cols), dtype=np.int64)
        for di in (0, 1):
            i = cr - di
            iok = (i >= 0) & (i < ni)
            for dj in (0, 1):
                j = cr - dj
                jok = (j >= 0) & (j < nj)
                sub = self.values[np.clip(i, 0, ni - 1)][:, np.clip(j, 0, nj - 1)]
                out = np.maximum(out, np.where(iok[:, None] & jok[None, :],
                                               sub, 0))
        return out.astype(np.uint16)

    def rings(self, left: float, top: float, res: float):
        """(feature_id, value, geom) rows; geom is one closed ring."""
        s = self.cell
        for i in range(self.ni):
            for j in range(self.nj):
                t = top - i * s * res
                b = top - (i + 2) * s * res
                lf = left + j * s * res
                rt = left + (j + 2) * s * res
                ring = [[lf, t], [rt, t], [rt, b], [lf, b], [lf, t]]
                yield i * self.nj + j, float(self.values[i, j]), [ring]


# --------------------------------------------------------------- tables

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
P_TYPES = ["LARGE", "ECONOMY", "SMALL", "STANDARD", "PROMO", "MEDIUM"]
P_ADJ = ["large", "hot", "blue", "red", "green", "small", "dim", "shiny"]
P_NOUN = ["ring", "bolt", "washer", "gear", "plate", "rod", "cap", "nut"]
VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window",
]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
DAY_US = 86_400_000_000


def documents(seed: int, n: int, words: int | None = None) -> list[str]:
    """``n`` texts drawn from the shared vocabulary, of ``words`` words
    each, or of 10..100 words when ``words`` is None."""
    r = rng(seed, "documents")
    n_words = r.integers(10, 101, n) if words is None else np.full(n, words)
    flat = np.array(VOCAB)[r.integers(0, len(VOCAB), int(n_words.sum()))]
    bounds = np.r_[0, np.cumsum(n_words)]
    return [" ".join(flat[bounds[i]:bounds[i + 1]]) for i in range(n)]


def write_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """The harness's star schema plus ``events``, ``documents`` and
    ``embeddings`` at scale factor ``sf`` (row-count laws: customer
    150k*sf, supplier 10k*sf, part 200k*sf, orders 1.5M*sf, lineitem
    6M*sf, events 1M*sf, documents and embeddings at least 500).
    Returns the row count per table.

    The laws are those of ``tools/gen_testdata.py``, which pins its seed
    to 42; the benchmark keeps its own copy so that its inputs follow
    ``--seed`` and cannot change when that tool does."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(1, int(15_000 * sf))
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    e1995 = np.datetime64("1995-01-01", "us")
    e2024 = np.datetime64("2024-01-01", "us")

    def ts(base, micros):
        return pa.array(base + micros.astype("timedelta64[us]"),
                        type=pa.timestamp("us"))

    tables = {
        "region": {"r_regionkey": pa.array(range(5), pa.int32()),
                   "r_name": REGIONS},
        "nation": {"n_nationkey": pa.array(range(25), pa.int32()),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array([i % 5 for i in range(25)],
                                           pa.int32())},
    }
    r = rng(seed, "customer")
    tables["customer"] = {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": r.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": np.round(r.uniform(-1000, 10_000, n_cust), 2),
        "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, n_cust)],
    }
    r = rng(seed, "supplier")
    tables["supplier"] = {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": r.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": np.round(r.uniform(-1000, 10_000, n_supp), 2),
    }
    r = rng(seed, "part")
    adj = np.array(P_ADJ)[r.integers(0, len(P_ADJ), n_part)]
    noun = np.array(P_NOUN)[r.integers(0, len(P_NOUN), n_part)]
    tables["part"] = {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.array([f"Brand#{b}" for b in range(25)])[
            r.integers(0, 25, n_part)],
        "p_type": np.array(P_TYPES)[r.integers(0, len(P_TYPES), n_part)],
        "p_size": r.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
    }
    r = rng(seed, "orders")
    o_days = r.integers(0, 2405, n_ord)  # 1995-01-01 .. 2001-08-02
    tables["orders"] = {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": np.array(["O", "P", "F"])[r.integers(0, 3, n_ord)],
        "o_totalprice": np.round(r.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": ts(e1995, o_days * DAY_US),
        "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, n_ord)],
    }
    r = rng(seed, "lineitem")
    lo = np.sort(r.integers(0, n_ord, n_li, dtype=np.int64))
    first = np.r_[True, lo[1:] != lo[:-1]]
    idx = np.arange(n_li, dtype=np.int64)
    linenum = idx - np.maximum.accumulate(np.where(first, idx, 0)) + 1
    tables["lineitem"] = {
        "l_orderkey": lo,
        "l_partkey": r.integers(0, n_part, n_li, dtype=np.int64),
        "l_suppkey": r.integers(0, n_supp, n_li, dtype=np.int64),
        "l_linenumber": linenum.astype(np.int32),
        "l_quantity": r.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(r.uniform(900, 105_000, n_li), 2),
        "l_discount": np.round(r.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(r.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_li)],
        "l_shipdate": ts(e1995, (o_days[lo] + r.integers(1, 96, n_li))
                         * DAY_US),
    }
    r = rng(seed, "events")
    tables["events"] = {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts(e2024, np.sort(r.integers(0, 30 * DAY_US, n_ev))),
        "user_id": r.integers(0, n_users, n_ev, dtype=np.int64),
        "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, n_ev)],
        "value": np.round(r.exponential(50.0, n_ev), 2),
        "props": np.array([f'{{"k": {k}}}' for k in range(100)])[
            r.integers(0, 100, n_ev)],
    }
    texts = documents(seed, n_doc)
    r = rng(seed, "doc_meta")
    tables["documents"] = {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[r.choice(5, n_doc, p=LANG_P)],
        "source": np.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }
    r = rng(seed, "embeddings")
    labels = r.integers(0, 10, n_emb, dtype=np.int32)
    centers = r.normal(size=(10, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    vecs = centers[labels] * 0.8 + r.normal(scale=0.25, size=(n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": labels,
    }
    counts = {}
    for name, cols in tables.items():
        t = pa.table(cols)
        pq.write_table(t, out / f"{name}.parquet", compression="snappy")
        counts[name] = t.num_rows
    return counts
