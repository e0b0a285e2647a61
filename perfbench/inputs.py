"""Seeded synthetic inputs, written as parquet in the shapes the program reads.

The tables follow the schemas of the program's synthetic star schema
(FIXTURES.md section B) for the columns the benchmarked calls touch:

- ``orders`` + ``lineitem``: the co-purchase graph is derived from these by
  ``plans.copurchase.copurchase_edges`` (customers that bought the same part
  in the same month);
- ``documents``: word-soup text with exact, case/punctuation and near
  duplicates, planted PII spans and a skewed (lang, source) mix;
- ``embeddings``: 64-d unit float32 vectors drawn uniformly on the sphere,
  with a random label, as in the program's tables (no cluster structure).

The same seed gives byte-identical tables.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


@dataclass(frozen=True)
class Sizes:
    """Row counts of the program's sf0.01 synthetic tables (TESTDATA.md),
    the scale its correctness gate runs at. The catalog benchmark runs at
    sf0.1 (ten times these counts, 2,000 embeddings); a benchmark run at
    that scale takes about three times as long as the run budget allows
    (perfbench/README.md compares the two)."""

    customers: int = 1_500
    parts: int = 2_000
    months: int = 80
    orders: int = 15_000
    lines_per_order: int = 4
    documents: int = 500
    sources: int = 20
    embeddings: int = 500
    dim: int = 64
    labels: int = 10


SIZES = Sizes()

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch and of is to le la et der die und el los"
).split()
LANGS = ("en", "fr", "de", "es", "zh")
LANG_WEIGHTS = (0.43, 0.13, 0.14, 0.15, 0.15)


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _orders_lineitem(rng: np.random.Generator, s: Sizes) -> tuple[pa.Table, pa.Table]:
    okey = np.arange(s.orders, dtype=np.int64)
    cust = rng.integers(0, s.customers, s.orders, dtype=np.int64)
    month = rng.integers(0, s.months, s.orders)
    # First of the month, from 1995-01 on (the program truncates to month).
    base = np.datetime64("1995-01", "M")
    odate = (base + month.astype("timedelta64[M]")).astype("datetime64[us]")
    odate = odate + rng.integers(0, 28, s.orders).astype("timedelta64[D]")
    orders = pa.table({
        "o_orderkey": okey,
        "o_custkey": cust,
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
    })
    n_lines = rng.integers(1, 2 * s.lines_per_order, s.orders)
    l_okey = np.repeat(okey, n_lines)
    # Parts are drawn uniformly, as in the program's tables (about 30 lines each).
    part = rng.integers(0, s.parts, l_okey.size, dtype=np.int64)
    lineitem = pa.table({"l_orderkey": l_okey, "l_partkey": part})
    return orders, lineitem


def _documents(rng: np.random.Generator, s: Sizes) -> pa.Table:
    n = s.documents
    words = np.array(WORDS)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.06:  # exact duplicate of an earlier doc
            texts.append(texts[rng.integers(0, i)])
        elif i > 10 and r < 0.12:  # case / punctuation variant
            t = texts[rng.integers(0, i)]
            texts.append(t.upper().replace(" ", "  ", 2) + " !")
        elif i > 10 and r < 0.18:  # near duplicate: a few words changed
            toks = texts[rng.integers(0, i)].split()
            for j in rng.integers(0, len(toks), max(1, len(toks) // 25)):
                toks[j] = words[rng.integers(0, words.size)]
            texts.append(" ".join(toks))
        else:
            k = int(rng.integers(12, 90))
            texts.append(" ".join(words[rng.integers(0, words.size, k)]))
    pii = rng.random(n)
    for i in range(n):
        if pii[i] < 0.04:
            texts[i] += f" contact user{i}@mail{i % 97}.com"
        elif pii[i] < 0.07:
            texts[i] += f" from 10.{i % 256}.{(i * 7) % 256}.{(i * 13) % 256}"
        elif pii[i] < 0.10:
            texts[i] += f" call {100 + i % 900}-{100 + (i * 3) % 900}-{1000 + i % 9000}"
    lang = rng.choice(len(LANGS), size=n, p=LANG_WEIGHTS)
    src = rng.integers(0, s.sources, n)
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[j] for j in lang],
        "source": [f"src{j}" for j in src],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng: np.random.Generator, s: Sizes) -> pa.Table:
    label = rng.integers(0, s.labels, s.embeddings)
    vec = rng.standard_normal((s.embeddings, s.dim))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(s.embeddings, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": label.astype(np.int32),
    })


def write_inputs(out_dir: str, seed: int, tables: tuple[str, ...], sizes: Sizes = SIZES) -> None:
    """Write the named tables as ``out_dir/<name>.parquet``.

    Each table draws from its own stream of the seed, so a table's
    contents do not depend on which other tables are written."""
    os.makedirs(out_dir, exist_ok=True)
    streams = dict(zip(("graph", "documents", "embeddings"),
                       np.random.SeedSequence(seed).spawn(3)))
    if "orders" in tables or "lineitem" in tables:
        orders, lineitem = _orders_lineitem(np.random.default_rng(streams["graph"]), sizes)
        _write(orders, f"{out_dir}/orders.parquet")
        _write(lineitem, f"{out_dir}/lineitem.parquet")
    if "documents" in tables:
        _write(_documents(np.random.default_rng(streams["documents"]), sizes),
               f"{out_dir}/documents.parquet")
    if "embeddings" in tables:
        _write(_embeddings(np.random.default_rng(streams["embeddings"]), sizes),
               f"{out_dir}/embeddings.parquet")
