import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from elasticsearch_spark.operators.codec import (
    BLOCK_SIZE,
    decode_block,
    decode_blocks,
    decode_positions,
    delta_decode,
    delta_encode,
    encode_block,
    encode_positions,
    vbyte_decode,
    vbyte_encode,
)


def test_vbyte_roundtrip_random():
    rng = np.random.default_rng(42)
    vals = rng.integers(0, 2**40, 50_000).astype(np.uint64)
    buf, lens = vbyte_encode(vals)
    assert lens.sum() == len(buf)
    assert np.array_equal(vbyte_decode(buf), vals)


def test_vbyte_edge_values():
    edge = np.array([0, 1, 127, 128, 129, 16383, 16384, 2**32, 2**49 - 1, 2**49, 2**63, 2**64 - 1], dtype=np.uint64)
    buf, lens = vbyte_encode(edge)
    assert np.array_equal(vbyte_decode(buf), edge)
    assert lens[0] == 1 and lens[2] == 1 and lens[3] == 2


def test_vbyte_empty():
    buf, lens = vbyte_encode(np.array([], dtype=np.uint64))
    assert buf == b"" and len(vbyte_decode(b"")) == 0


@settings(max_examples=50)
@given(st.lists(st.integers(min_value=0, max_value=2**63), max_size=300))
def test_vbyte_roundtrip_hypothesis(vals):
    arr = np.array(vals, dtype=np.uint64)
    buf, _ = vbyte_encode(arr)
    assert np.array_equal(vbyte_decode(buf), arr)


def test_delta_roundtrip():
    rng = np.random.default_rng(7)
    ids = np.sort(rng.choice(2**45, 1000, replace=False)).astype(np.int64)
    base = int(ids[0])
    gaps = delta_encode(ids, base)
    assert np.array_equal(delta_decode(gaps, base), ids)


def test_block_roundtrip():
    rng = np.random.default_rng(3)
    ids = np.sort(rng.choice(10**9, BLOCK_SIZE, replace=False)).astype(np.int64) + (5 << 40)
    tfs = rng.integers(1, 1000, BLOCK_SIZE).astype(np.int64)
    ib, tb = encode_block(ids, tfs, int(ids[0]))
    ids2, tfs2 = decode_block(ib, tb, int(ids[0]))
    assert np.array_equal(ids2, ids)
    assert np.array_equal(tfs2, tfs)


def test_compression_is_compact():
    # dense small gaps should approach ~1 byte per docID delta
    ids = np.arange(1000, dtype=np.int64) * 3
    gaps = delta_encode(ids, 0)
    buf, _ = vbyte_encode(gaps)
    assert len(buf) == 1000


def test_positions_roundtrip():
    rng = np.random.default_rng(7)
    tfs = rng.integers(1, 6, size=50)
    # per-posting ascending positions
    flat = np.concatenate([np.sort(rng.choice(500, size=t, replace=False)) for t in tfs]).astype(np.int64)
    stream, lens = encode_positions(flat, tfs)
    got, occ_off = decode_positions(stream, tfs)
    np.testing.assert_array_equal(got, flat)
    assert occ_off[-1] == tfs.sum()


@st.composite
def _postings_runs(draw):
    """Several terms' postings cut into random blocks of 1-128 entries:
    (doc ids, tfs, flat positions, block starts, term codes) in block
    order."""
    seed = draw(st.integers(0, 2**32 - 1))
    n_terms = draw(st.integers(1, 4))
    rng = np.random.default_rng(seed)
    ids_l, tfs_l, starts = [], [], []
    at = 0
    for _ in range(n_terms):
        n = draw(st.integers(1, 300))
        ids_l.append(np.sort(rng.choice(2**45, n, replace=False)).astype(np.int64))
        # mostly small tfs, the occasional one up to 2**20
        tfs_l.append(np.where(rng.random(n) < 0.01, rng.integers(1, 2**20, n), rng.integers(1, 8, n)))
        i = 0
        while i < n:
            starts.append(at + i)
            i += draw(st.integers(1, 128))
        at += n
    tfs = np.concatenate(tfs_l).astype(np.int64)
    # ascending positions per posting: cumulative random gaps, first absolute
    flat_pos = np.concatenate([np.cumsum(rng.integers(0, 2**12, t)) for t in tfs])
    codes = np.repeat(np.arange(n_terms), [len(x) for x in ids_l])
    return np.concatenate(ids_l), tfs, flat_pos, np.array(starts, dtype=np.int64), codes


@settings(max_examples=25, deadline=None)
@given(_postings_runs())
def test_decode_blocks_equals_per_block_decode(run):
    from elasticsearch_spark.operators.postings import encode_postings_blocks

    ids, tfs, flat_pos, starts, codes = run
    ends = np.append(starts[1:], len(ids))
    occ_off = np.r_[0, np.cumsum(tfs)]
    blocks = [encode_block(ids[a:z], tfs[a:z], int(ids[a])) for a, z in zip(starts, ends)]
    pos_b = [encode_positions(flat_pos[occ_off[a]:occ_off[z]], tfs[a:z])[0] for a, z in zip(starts, ends)]
    firsts, ns = ids[starts], ends - starts
    got_ids, got_tfs, got_pos, got_off = decode_blocks(
        firsts, ns, [b[0] for b in blocks], [b[1] for b in blocks], pos_b)
    exp_ids = np.concatenate([delta_decode(vbyte_decode(i), int(f)) for (i, _), f in zip(blocks, firsts)])
    exp_pos = np.concatenate([decode_positions(p, tfs[a:z])[0] for p, a, z in zip(pos_b, starts, ends)])
    np.testing.assert_array_equal(got_ids, exp_ids)
    np.testing.assert_array_equal(got_ids, ids)
    np.testing.assert_array_equal(got_tfs, tfs)
    np.testing.assert_array_equal(got_pos, exp_pos)
    np.testing.assert_array_equal(got_off, occ_off)

    # the segment writer's block table decodes back to the same postings
    tbl = encode_postings_blocks(
        np.array([f"t{i}" for i in range(codes[-1] + 1)], dtype=object), codes, ids, tfs,
        np.ones(len(ids), dtype=np.int64), 0, flat_pos)
    back = decode_blocks(*(tbl[c].to_numpy(zero_copy_only=False) for c in (
        "first_doc_id", "n", "ids_bytes", "tf_bytes", "pos_bytes")))
    for g, e in zip(back, (ids, tfs, flat_pos, occ_off)):
        np.testing.assert_array_equal(g, e)


def test_decode_blocks_raises_on_missing_positions():
    ids = np.array([5, 9, 20], dtype=np.int64)
    tfs = np.array([2, 1, 3], dtype=np.int64)
    ib, tb = encode_block(ids, tfs, 5)
    with pytest.raises(ValueError, match="position data"):
        decode_blocks([5], [3], [ib], [tb], [b""])
