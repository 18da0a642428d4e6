"""Seeded inputs for the overlay benchmark.

The generated fixtures the benchmark's gates read (pages, points,
layers, triangles, bands; ``dle.sqlgen``) derive from two tables:
``orders`` (one geocoded page per ``o_orderkey``; the url, and from it
every candidate point, is a function of the key) and ``documents``
(one designation feature per ``doc_id``; the layer, band and triangle
placement is a function of the id, and pages borrow a document's text
through ``o_orderkey % count(documents)``). This module writes both
tables as parquet from a seed and nothing else, so the program under
test reads only these files.

Ids are drawn from ranges wider than the table, so a new seed moves
every feature and every point while the counts stay fixed: document
ids come from ``[0, 2 * n_docs)``, half of them below ``n_docs`` (about
half the pages then find their text document; the rest drop out of the
``pages`` join the same way on both engines), order keys from
``[0, 2**40)``.

The same seed and sizes give byte-identical files.
"""

from __future__ import annotations

import argparse
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("the a fast slow big small key order sort table scan merge part "
         "window hash join batch stream spark dup group query row data "
         "filter customer line value agg column vector").split()
LANGS = ("en", "de", "es", "fr", "ja", "zh")


def _distinct(rng: np.random.Generator, n: int, high: int) -> np.ndarray:
    """n distinct int64 values from [0, high), in draw order."""
    if high < 4 * n:
        return rng.choice(high, size=n, replace=False).astype(np.int64)
    out: dict[int, None] = {}
    while len(out) < n:
        for v in rng.integers(0, high, size=n - len(out)).tolist():
            out.setdefault(v, None)
    return np.fromiter(out, dtype=np.int64, count=n)


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    lens = rng.integers(16, 80, size=n)
    idx = rng.integers(0, len(WORDS), size=int(lens.sum()))
    out, at = [], 0
    for k in lens.tolist():
        out.append(" ".join(WORDS[i] for i in idx[at:at + k]))
        at += k
    return out


def write_inputs(out_dir: Path, seed: int, n_orders: int,
                 n_docs: int) -> None:
    """Write ``orders.parquet`` and ``documents.parquet`` under
    ``out_dir`` (created if missing)."""
    rng = np.random.default_rng(seed)
    # half the ids below n_docs, half above: a fixed share of the pages
    # finds its document, whatever the seed
    low = n_docs // 2
    doc_ids = np.sort(np.concatenate([
        _distinct(rng, low, n_docs),
        n_docs + _distinct(rng, n_docs - low, n_docs)]))
    texts = _texts(rng, n_docs)
    langs = [LANGS[i] for i in rng.integers(0, len(LANGS), size=n_docs)]
    keys = np.sort(_distinct(rng, n_orders, 1 << 40))
    out_dir.mkdir(parents=True, exist_ok=True)
    docs = pa.table({
        "doc_id": pa.array(doc_ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    orders = pa.table({"o_orderkey": pa.array(keys, pa.int64())})
    for name, table in (("documents", docs), ("orders", orders)):
        pq.write_table(table, out_dir / f"{name}.parquet",
                       compression="snappy")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out_dir", type=Path)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--orders", type=int, required=True)
    ap.add_argument("--docs", type=int, required=True)
    a = ap.parse_args()
    write_inputs(a.out_dir, a.seed, a.orders, a.docs)


if __name__ == "__main__":
    main()
