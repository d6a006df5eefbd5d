"""Seeded input generator for the benchmark.

Writes every table the benchmark's registry queries read, in the schema
of the repository's TPC-H-ish testdata (one parquet file per table):

* ``documents`` (doc_id, text, lang, source, n_chars) — a 30-word
  vocabulary, 5 languages, 20 round-robin sources and ~300 characters
  per document, as in the testdata corpus.  A fixed share of documents
  are near-duplicates: copies of another document with ``" dup"``
  appended once or twice and, sometimes, one word dropped.  The seed
  picks which documents and which sources.  Like the testdata, the
  corpus has no NULL or empty text;
* ``embeddings`` (vec_id, embedding float[64], label) — unit vectors;
* ``lineitem``, ``orders``, ``supplier`` — the columns the pseudo-mineral
  projections read, with the testdata value ranges.

Run ``python3 perfbench/gen.py --seed N`` to print the sizes and the
measured near-duplicate and shared-span shares of one seed.
"""

from __future__ import annotations

import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_WEIGHTS = [0.44, 0.15, 0.15, 0.14, 0.12]

SIZES = {
    "documents": 300,
    "embeddings": 300,
    "lineitem": 10_000,
    "orders": 3_000,
    "supplier": 100,
}
#: share of documents that are near-duplicate copies of another document
DUP_SHARE = 0.05
EMB_DIM = 64

_EPOCH_1995_US = 788_918_400 * 10**6  # 1995-01-01T00:00:00Z in µs
_DAY_US = 86_400 * 10**6


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts = [
        " ".join(rng.choice(VOCAB, size=int(rng.integers(9, 100))))
        for _ in range(n)
    ]
    n_dup = int(round(DUP_SHARE * n))
    dup_ids = rng.choice(n, size=n_dup, replace=False)
    dup_set = set(int(i) for i in dup_ids)
    originals = [i for i in range(n) if i not in dup_set]
    for i in dup_ids:
        words = texts[int(rng.choice(originals))].split()
        if rng.random() < 0.3 and len(words) > 9:
            del words[int(rng.integers(0, len(words)))]
        words += ["dup"] * int(rng.integers(1, 3))
        texts[int(i)] = " ".join(words)
    langs = rng.choice(LANGS, size=n, p=LANG_WEIGHTS)
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs.tolist(), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    x = rng.standard_normal((n, EMB_DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def _cents(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, span_days: int, n: int) -> pa.Array:
    us = _EPOCH_1995_US + rng.integers(0, span_days, n) * _DAY_US
    return pa.array(us, pa.timestamp("us"))


def _lineitem(rng, n: int, n_orders: int) -> pa.Table:
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 2000, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 100, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(float)),
        "l_extendedprice": pa.array(_cents(rng, 900.0, 105_000.0, n)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n).tolist()),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n).tolist()),
        "l_shipdate": _days(rng, 2500, n),
    })


def _orders(rng, n: int) -> pa.Table:
    prio = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    return pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, 1500, n), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n).tolist()),
        "o_totalprice": pa.array(_cents(rng, 1000.0, 500_000.0, n)),
        "o_orderdate": _days(rng, 2400, n),
        "o_orderpriority": pa.array(rng.choice(prio, n).tolist()),
    })


def _supplier(rng, n: int) -> pa.Table:
    return pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int64()),
        "s_acctbal": pa.array(_cents(rng, -999.99, 9999.99, n)),
    })


def generate(out_dir: str, seed: int) -> dict[str, int]:
    """Write every table for ``seed`` under ``out_dir``; return the row
    count of each.  The same seed writes the same rows."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    tables = {
        "documents": _documents(rng, SIZES["documents"]),
        "embeddings": _embeddings(rng, SIZES["embeddings"]),
        "lineitem": _lineitem(rng, SIZES["lineitem"], SIZES["orders"]),
        "orders": _orders(rng, SIZES["orders"]),
        "supplier": _supplier(rng, SIZES["supplier"]),
    }
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def measured_shares(texts: list[str], prefix: int = 400,
                    shingle: int = 5, span: int = 32) -> dict[str, float]:
    """Share of documents in at least one pair whose character-shingle
    Jaccard (over the ``prefix`` the LSH tier reads) is >= 0.8, and share
    in at least one pair sharing a ``span``-character substring."""
    sets = [
        {t[:prefix][i:i + shingle]
         for i in range(max(1, len(t[:prefix]) - shingle + 1))}
        for t in texts
    ]
    grams: dict[str, set[int]] = {}
    for d, t in enumerate(texts):
        for i in range(max(0, len(t) - span + 1)):
            grams.setdefault(t[i:i + span], set()).add(d)
    in_span = set()
    for ds in grams.values():
        if len(ds) > 1:
            in_span |= ds
    in_dup = set()
    for a in range(len(sets)):
        for b in range(a + 1, len(sets)):
            inter = len(sets[a] & sets[b])
            if inter / (len(sets[a]) + len(sets[b]) - inter) >= 0.8:
                in_dup.update((a, b))
    n = len(texts)
    return {"neardup_share": len(in_dup) / n, "span_share": len(in_span) / n}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--out", default=".perfbench/gen")
    args = ap.parse_args()
    sizes = generate(args.out, args.seed)
    texts = pq.read_table(os.path.join(args.out, "documents.parquet"),
                          columns=["text"]).column("text").to_pylist()
    print(json.dumps({"seed": args.seed, "rows": sizes,
                      **measured_shares(texts)}))


if __name__ == "__main__":
    main()
