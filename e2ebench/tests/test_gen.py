"""The seeded input generator: one seed writes byte-identical inputs,
another seed writes different inputs of the same sizes.

    python3 -m pytest e2ebench/tests -q
"""

from __future__ import annotations

import hashlib
import os
import sys

import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))))

import gen  # noqa: E402

pytestmark = pytest.mark.skipif(
    not os.path.isdir(gen.DEFAULT_TESTDATA),
    reason=f"{gen.DEFAULT_TESTDATA} is not present")


def _files(root) -> list[str]:
    return sorted(os.path.relpath(os.path.join(r, f), root)
                  for r, _d, fs in os.walk(root) for f in fs)


def _digests(root) -> dict[str, str]:
    out = {}
    for rel in _files(root):
        with open(os.path.join(root, rel), "rb") as fh:
            out[rel] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _rows(path: str) -> int:
    if path.endswith(".parquet"):
        return pq.ParquetFile(path).metadata.num_rows
    with open(path, "rb") as fh:
        return sum(1 for _ in fh)


def _sizes(root) -> dict[str, int]:
    """Rows per input directory (file splits may differ by seed)."""
    out: dict[str, int] = {}
    for rel in _files(root):
        d = os.path.dirname(rel)
        out[d] = out.get(d, 0) + _rows(os.path.join(root, rel))
    return out


@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_same_seed_same_bytes(tmp_path, workload):
    gen.generate(workload, 7, str(tmp_path / "a"))
    gen.generate(workload, 7, str(tmp_path / "b"))
    a = _digests(tmp_path / "a")
    assert a and a == _digests(tmp_path / "b")


@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_other_seed_differs_with_same_sizes(tmp_path, workload):
    gen.generate(workload, 7, str(tmp_path / "a"))
    gen.generate(workload, 8, str(tmp_path / "b"))
    assert set(_digests(tmp_path / "a").values()).isdisjoint(
        _digests(tmp_path / "b").values())
    assert _sizes(tmp_path / "a") == _sizes(tmp_path / "b")
