"""The generators are the benchmark's only source of inputs: the same seed
must give byte-identical files, another seed different ones.

    python3 -m pytest docbench/test_gen.py -q
"""

import hashlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from gen import GENERATORS, generate  # noqa: E402


def digest(root: str) -> dict:
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


@pytest.mark.parametrize("workload", sorted(GENERATORS))
def test_same_seed_same_bytes(workload, tmp_path):
    a = generate(workload, 7, str(tmp_path / "a"))
    b = generate(workload, 7, str(tmp_path / "b"))
    c = generate(workload, 8, str(tmp_path / "c"))
    da, db, dc = digest(a["root"]), digest(b["root"]), digest(c["root"])
    assert da and da == db
    assert da != dc
    assert a["collections"] == b["collections"]
    for coll in a["collections"].values():
        assert coll["docs"] > 0 and coll["bytes"] > 0
