"""Tests for the seeded input generator.

    python3 -m pytest perfbench/test_inputs.py -q

The same seed must give byte-identical files, and the stated shares
(reorg, out-of-order, Zipf head, value buckets, near-duplicates) must
hold within tolerance.
"""

from __future__ import annotations

import hashlib
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import inputs  # noqa: E402

SHAPE = inputs.Shape(backfill_rows=20_000, tail_files=20, n_events=5_000,
                     n_documents=300, n_embeddings=300, n_orders=600)


def _digests(root: str) -> dict[str, str]:
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            path = os.path.join(dirpath, f)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = hashlib.sha256(
                    fh.read()).hexdigest()
    return out


@pytest.fixture(scope="module")
def generated(tmp_path_factory):
    base = tmp_path_factory.mktemp("gen")
    return inputs.generate(str(base / "a"), 7, SHAPE)


def _stream(inp) -> pa.Table:
    return pa.concat_tables(inp.backfill + inp.tail)


def test_same_seed_gives_identical_bytes(generated, tmp_path):
    again = inputs.generate(str(tmp_path / "b"), 7, SHAPE)
    assert _digests(generated.root) == _digests(again.root)
    for x, y in zip(generated.tail, again.tail):
        assert x.equals(y)
    other = inputs.generate(str(tmp_path / "c"), 8, SHAPE)
    assert _digests(generated.root) != _digests(other.root)


def test_landing_leaves_no_temporary_files(generated):
    names = os.listdir(generated.src_dir)
    assert names and all(n.endswith(".parquet") and not n.startswith(".")
                         for n in names)


def test_reorg_share_and_pairs(generated):
    t = _stream(generated).to_pandas()
    orig = t[t["_version"] == 1]
    retr = t[t["_version"] == 2]
    repl = t[t["_version"] == 3]
    assert len(retr) == len(repl)
    assert abs(len(retr) / len(orig) - SHAPE.reorg_share) < 0.01
    assert (retr["_sign"] == -1).all() and (repl["_sign"] == 1).all()
    # a retraction cancels its original exactly and lands after it,
    # and its replacement lands after the retraction
    first = {}
    for i, key in enumerate(zip(t["log_id"], t["_version"])):
        first.setdefault(key, i)
    orig_value = dict(zip(orig["log_id"], orig["value"]))
    for lid, val in zip(retr["log_id"], retr["value"]):
        assert orig_value[lid] == val
        assert first[(lid, 1)] < first[(lid, 2)] < first[(lid, 3)]


def test_out_of_order_share_within_finality(generated):
    blocks = _stream(generated).to_pandas()
    blocks = blocks[blocks["_version"] == 1]["block_number"].to_numpy()
    ahead = np.maximum.accumulate(blocks)
    late = blocks < ahead
    assert abs(late.mean() - SHAPE.ooo_share) < 0.015
    assert (ahead - blocks).max() <= inputs.FINALITY_BLOCKS + 1


def test_zipf_head_and_value_buckets(generated):
    t = _stream(generated).to_pandas()
    t = t[t["_version"] == 1]
    top = set(generated.hot_addresses[:10])
    want = inputs.zipf_probs(SHAPE.n_addresses, SHAPE.zipf_s)[:10].sum()
    got = t["from_address"].isin(top).mean()
    assert abs(got - want) < 0.02
    v = t["value"].astype(float).to_numpy()
    edges = inputs.VALUE_EDGES
    shares = [((v >= lo) & (v < hi)).mean()
              for lo, hi in zip(edges[:-1], edges[1:])]
    assert np.allclose(shares, inputs.VALUE_SHARES, atol=0.02)


def test_near_duplicate_share():
    rng = np.random.default_rng(3)
    docs, dup_of = inputs._documents(rng, SHAPE)
    assert abs((dup_of >= 0).mean() - SHAPE.neardup_share) < 0.06
    texts = docs.column("text").to_pylist()
    for i in np.flatnonzero(dup_of >= 0):
        a, b = texts[i].split(), texts[dup_of[i]].split()
        same = sum(x == y for x, y in zip(a, b)) / len(b)
        assert len(a) == len(b) and same >= 0.9
    embs, edup = inputs._embeddings(rng, SHAPE)
    assert abs((edup >= 0).mean() - SHAPE.neardup_share) < 0.06
    vec = np.array(embs.column("embedding").to_pylist())
    for i in np.flatnonzero(edup >= 0):
        assert vec[i] @ vec[edup[i]] > 0.99


def test_sf_tables_readable(generated):
    for name in ("events", "documents", "embeddings", "region", "nation",
                 "customer", "supplier", "part", "orders", "lineitem"):
        t = pq.read_table(os.path.join(generated.sf_dir, f"{name}.parquet"))
        assert t.num_rows > 0, name
