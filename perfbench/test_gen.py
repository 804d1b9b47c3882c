"""The input generator is deterministic and has the properties the
workloads rely on.  Run: python3 -m pytest perfbench/test_gen.py -q"""

import hashlib
import os

import numpy as np
import pyarrow.compute as pc

from perfbench import gen


def _write_all(root: str, seed: int) -> dict[str, str]:
    t = gen.turns(seed, 3_000)
    gen.write(t, os.path.join(root, "turns"))
    gen.write(gen.conv_attributes(seed, 50), os.path.join(root, "attrs"))
    gen.write(gen.corrections(seed, t, 20, stream=200), os.path.join(root, "corr"))
    gen.write(gen.documents(seed, 600), os.path.join(root, "docs"))
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = hashlib.sha256(f.read()).hexdigest()
    return out


def test_same_seed_gives_identical_bytes(tmp_path):
    a = _write_all(str(tmp_path / "a"), 7)
    b = _write_all(str(tmp_path / "b"), 7)
    assert a == b and len(a) == 4 * 8


def test_other_seed_gives_other_inputs(tmp_path):
    a = _write_all(str(tmp_path / "a"), 7)
    b = _write_all(str(tmp_path / "b"), 8)
    assert all(a[k] != b[k] for k in a)


def test_turn_properties():
    t = gen.turns(3, 20_000)
    n = t.num_rows
    keys = set(zip(t.column("conv_id").to_pylist(), t.column("turn_idx").to_pylist()))
    assert len(keys) == 20_000
    assert 0.17 < n / 20_000 - 1 < 0.23  # exact re-ingested rows
    assert 0.03 < pc.sum(pc.is_null(t.column("role"))).as_py() / n < 0.07
    texts = t.column("text").to_pylist()
    assert len(set(texts)) / len(keys) > 0.99
    _, counts = np.unique(t.column("conv_id").to_numpy(), return_counts=True)
    assert counts.max() > 20 * np.median(counts)  # one hot conversation
    ts = t.column("ts").cast("int64").to_numpy()
    b = [gen.T0_US + s * gen.US for s in gen.DICT_BOUNDARIES_S[1:]]
    assert all((ts < x).any() and (ts >= x).any() for x in b)
    order = np.lexsort((t.column("turn_idx").to_numpy(), t.column("conv_id").to_numpy()))
    conv, gap = t.column("conv_id").to_numpy()[order], np.diff(ts[order])
    assert (gap[conv[1:] == conv[:-1]] > gen.SESSION_GAP_S * gen.US).any()


def test_dimension_has_several_versions_per_key():
    a = gen.conv_attributes(3, 200)
    _, counts = np.unique(a.column("conv_id").to_numpy(), return_counts=True)
    assert len(counts) == 200 and counts.max() >= 3


def test_document_duplicates_and_chains():
    d = gen.documents(3, 3_000)
    texts = d.column("text").to_pylist()
    n_copies = len(texts) - len(set(texts))
    assert abs(n_copies - 3_000 * gen.DOC_EXACT_SHARE) < 30
    # the links of a chain overlap pairwise but its ends drift apart
    first = set(texts[0].split())
    second = set(texts[1].split())
    last = set(texts[gen.DOC_CHAIN_LEN - 1].split())
    jac = lambda a, b: len(a & b) / len(a | b)  # noqa: E731
    assert jac(first, second) > jac(first, last)
