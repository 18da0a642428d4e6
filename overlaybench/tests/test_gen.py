"""The benchmark's inputs are a pure function of the seed.

    python3 -m pytest overlaybench/tests -q
"""

from __future__ import annotations

import sys
from pathlib import Path

import pyarrow.parquet as pq

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import gen  # noqa: E402

FILES = ("orders.parquet", "documents.parquet")


def _write(d: Path, seed: int) -> dict[str, bytes]:
    gen.write_inputs(d, seed, n_orders=3000, n_docs=200)
    return {f: (d / f).read_bytes() for f in FILES}


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    assert _write(tmp_path / "a", 7) == _write(tmp_path / "b", 7)


def test_other_seed_moves_ids_but_keeps_sizes(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    _write(a, 7)
    _write(b, 8)
    for f, n in zip(FILES, (3000, 200)):
        ta, tb = pq.read_table(a / f), pq.read_table(b / f)
        assert ta.num_rows == tb.num_rows == n
        assert ta.column(0) != tb.column(0)


def test_ids_are_distinct_and_in_range(tmp_path):
    _write(tmp_path, 3)
    docs = pq.read_table(tmp_path / "documents.parquet").to_pydict()
    keys = pq.read_table(tmp_path / "orders.parquet").to_pydict()
    assert len(set(docs["doc_id"])) == 200
    assert all(0 <= d < 400 for d in docs["doc_id"])
    assert len(set(keys["o_orderkey"])) == 3000
    assert all(len(t) == n for t, n in zip(docs["text"], docs["n_chars"]))
