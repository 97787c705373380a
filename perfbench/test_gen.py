"""The pages generator is a pure function of its seed.

    python3 -m pytest perfbench/test_gen.py -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from gen import generate, truth_pairs, write_files  # noqa: E402

N_RECORDS = 200


def _files(tmp_path, seed: int, shape: str, name: str) -> list[bytes]:
    table, _ = generate(seed, N_RECORDS, shape)
    return [open(p, "rb").read() for p in write_files(table, str(tmp_path / name), 3)]


@pytest.mark.parametrize("shape", ["dense", "sparse"])
def test_same_seed_byte_identical(tmp_path, shape):
    assert _files(tmp_path, 7, shape, "a") == _files(tmp_path, 7, shape, "b")


@pytest.mark.parametrize("shape", ["dense", "sparse"])
def test_other_seed_differs(tmp_path, shape):
    a, b = _files(tmp_path, 7, shape, "a"), _files(tmp_path, 8, shape, "b")
    assert all(x != y for x, y in zip(a, b))


def test_truth_is_five_records_per_entity():
    table, truth = generate(3, N_RECORDS, "sparse")
    assert table.num_rows == len(truth) == N_RECORDS
    assert len(truth_pairs(truth)) == N_RECORDS // 5 * 10  # C(5, 2) per entity
    urls = table.column("url").to_pylist()
    assert sorted(u.rsplit("/", 1)[1] for u in urls) == sorted(truth)
