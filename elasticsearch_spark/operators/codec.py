"""The postings codec: delta + variable-byte (VByte), numpy-vectorized.

Plays the role of Lucene's postings format (delta-encoded docIDs in FOR
blocks + VByte tails; one format, pinned at
``server/src/main/java/org/elasticsearch/index/codec/CodecService.java:29-43``).
This module is the only code that knows the block layout; the segment
writers (build, merge) and every reader call it:

- a term's postings are cut into blocks of ≤128 entries (Lucene's block
  size), each carrying its absolute ``first_doc_id`` and entry count
  ``n`` so blocks are independently decodable (the skip-list property
  block-max WAND needs);
- ``ids_bytes``: VByte doc-id gaps, the first gap relative to
  ``first_doc_id`` (so 0);
- ``tf_bytes``: VByte term frequencies;
- ``pos_bytes``: VByte within-doc token positions, tf per posting, each
  posting's first position absolute and the rest deltas. Positions are
  part of the format (DOCS_AND_FREQS_AND_POSITIONS): a block without them
  is corrupt, and decoding it raises.

VByte is self-delimiting, so a run of blocks encodes and decodes as whole
streams in a handful of vectorized calls (``encode_blocks`` /
``decode_blocks``), no per-value or per-block Python.
"""

from __future__ import annotations

import numpy as np

BLOCK_SIZE = 128
_MAX_VBYTE = 10  # 64-bit worst case


def vbyte_encode(vals: np.ndarray) -> tuple[bytes, np.ndarray]:
    """Encode uint64 array → (byte stream, per-value byte lengths).

    Layout per value: little-endian base-128 groups, high bit = continuation
    (set on every byte except the last).
    """
    v = np.asarray(vals, dtype=np.uint64)
    n = len(v)
    if n == 0:
        return b"", np.zeros(0, dtype=np.int64)
    # bytes needed per value: integer threshold compares (no float log2) —
    # nbytes = 1 + #{k : v >= 2^(7k)}
    nbytes = np.ones(n, dtype=np.int64)
    for k in range(1, _MAX_VBYTE):
        mask = v >= (np.uint64(1) << np.uint64(7 * k))
        if not mask.any():
            break
        nbytes += mask
    width = int(nbytes.max())  # usually 1-3
    if width == 1:
        # all values < 128 (the dominant tf/position-delta case): the
        # stream IS the values — 4× over the general path
        return v.astype(np.uint8).tobytes(), nbytes
    # scatter per byte-position: `width` passes of 1-D ops, no (n × width)
    # temporaries and no giant boolean gather
    ends = np.cumsum(nbytes)
    starts = ends - nbytes
    out = np.empty(int(ends[-1]), dtype=np.uint8)
    for k in range(width):
        sel = nbytes > k
        idx = starts[sel] + k
        byte = ((v[sel] >> np.uint64(7 * k)) & np.uint64(0x7F)).astype(np.uint8)
        cont = (nbytes[sel] - 1) > k
        out[idx] = byte | (cont.astype(np.uint8) << 7)
    return out.tobytes(), nbytes


def vbyte_decode(buf: bytes | np.ndarray) -> np.ndarray:
    """Decode a VByte stream → uint64 array."""
    b = np.frombuffer(buf, dtype=np.uint8) if isinstance(buf, (bytes, bytearray, memoryview)) else np.asarray(buf, dtype=np.uint8)
    if len(b) == 0:
        return np.zeros(0, dtype=np.uint64)
    cont = b & np.uint8(0x80)
    if not cont.any():
        # no continuation bits anywhere: every value is one byte (the
        # dominant tf/position-delta case) — the stream IS the values.
        # One pass instead of the six the group-reconstruction needs.
        return b.astype(np.uint64)
    # general path, shaped for the real byte-length distribution: most
    # groups are single-byte, so take every group's LAST byte with one
    # gather (correct for 1-byte groups outright) and patch only the
    # multi-byte minority with per-offset shift-accumulate — no
    # full-length repeat/arange/reduceat temporaries.
    idx_last = np.nonzero(cont == 0)[0]
    n_groups = len(idx_last)
    if len(b) - n_groups > (n_groups >> 1):
        # multi-byte groups dominate (>~1/3 continuation bytes): the
        # position/reduceat formulation beats per-group gathers there
        starts = np.empty(n_groups, dtype=np.int64)
        starts[0] = 0
        np.add(idx_last[:-1], 1, out=starts[1:])
        lens = np.diff(np.r_[starts, len(b)])
        pos = np.arange(len(b), dtype=np.int64) - np.repeat(starts, lens)
        contrib = (b.astype(np.uint64) & np.uint64(0x7F)) << (
            pos.astype(np.uint64) * np.uint64(7)
        )
        return np.add.reduceat(contrib, starts)
    lens = np.diff(np.r_[np.int64(-1), idx_last])
    vals = (b & np.uint8(0x7F)).astype(np.uint64)
    out = vals[idx_last]
    multi = lens > 1
    if multi.any():
        ml = idx_last[multi]
        mlen = lens[multi]
        acc = np.zeros(len(ml), dtype=np.uint64)
        for k in range(int(mlen.max())):  # k = offset back from the last byte
            sel = mlen > k
            shift = ((mlen[sel] - 1 - k) * 7).astype(np.uint64)
            acc[sel] += vals[ml[sel] - k] << shift
        out[multi] = acc
    return out


def delta_encode(sorted_ids: np.ndarray, base: int) -> np.ndarray:
    """Strictly-increasing int64 ids → gaps (first gap relative to base)."""
    ids = np.asarray(sorted_ids, dtype=np.int64)
    out = np.empty(len(ids), dtype=np.uint64)
    if len(ids):
        out[0] = np.uint64(ids[0] - base)
        out[1:] = np.diff(ids).astype(np.uint64)
    return out


def delta_decode(gaps: np.ndarray, base: int) -> np.ndarray:
    g = np.asarray(gaps, dtype=np.uint64).astype(np.int64)
    return base + np.cumsum(g)


def encode_block(doc_ids: np.ndarray, tfs: np.ndarray, base: int) -> tuple[bytes, bytes]:
    """One postings block → (encoded docID gaps, encoded tfs)."""
    ids_buf, _ = vbyte_encode(delta_encode(doc_ids, base))
    tf_buf, _ = vbyte_encode(np.asarray(tfs, dtype=np.uint64))
    return ids_buf, tf_buf


def decode_block(ids_buf: bytes, tf_buf: bytes, base: int) -> tuple[np.ndarray, np.ndarray]:
    ids = delta_decode(vbyte_decode(ids_buf), base)
    tfs = vbyte_decode(tf_buf).astype(np.int64)
    return ids, tfs


def encode_positions(flat_pos: np.ndarray, tfs: np.ndarray) -> tuple[bytes, np.ndarray]:
    """Occurrence-level positions (sorted per posting, postings
    concatenated) → (VByte stream of within-posting deltas, per-OCCURRENCE
    byte lengths). First occurrence of each posting is absolute."""
    occ_starts = np.r_[0, np.cumsum(tfs)[:-1]].astype(np.int64)
    gaps = np.empty(len(flat_pos), dtype=np.uint64)
    if len(flat_pos):
        gaps[0] = flat_pos[0]
        gaps[1:] = (flat_pos[1:] - flat_pos[:-1]).astype(np.uint64)
        gaps[occ_starts] = flat_pos[occ_starts].astype(np.uint64)
    return vbyte_encode(gaps)


def decode_positions(pos_buf: bytes, tfs: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """VByte positions stream + per-posting tfs → (flat absolute positions,
    occurrence offsets per posting). Raises ValueError unless the stream
    holds exactly ``sum(tfs)`` positions."""
    gaps = vbyte_decode(pos_buf).astype(np.int64)
    t = np.asarray(tfs, dtype=np.int64)
    occ_off = np.r_[0, np.cumsum(t)]
    if len(gaps) != occ_off[-1]:
        raise ValueError(
            f"postings position data holds {len(gaps)} positions for "
            f"{occ_off[-1]} term occurrences (positions are part of the format)")
    if len(gaps) == 0:
        return gaps, occ_off
    starts = occ_off[:-1]
    csum = np.cumsum(gaps)
    # abs[i] = csum[i] - (csum[start_of_its_posting] - gaps[start]) — the
    # first occurrence of each posting is stored absolute (delta vs 0)
    corr = csum[starts] - gaps[starts]
    return csum - np.repeat(corr, t), occ_off


def encode_blocks(
    doc_ids: np.ndarray, tfs: np.ndarray, flat_pos: np.ndarray, block_starts: np.ndarray
) -> tuple[tuple[bytes, np.ndarray], ...]:
    """Postings in block order (doc ids ascending within each block, the
    blocks starting at ``block_starts``; ``flat_pos`` the postings'
    positions concatenated) → ``(stream, offsets)`` for ids, tfs and
    positions, where block j's bytes are ``stream[offsets[j]:offsets[j+1]]``.
    The whole run is encoded as one stream per column."""
    gaps = np.zeros(len(doc_ids), dtype=np.uint64)
    gaps[1:] = (doc_ids[1:] - doc_ids[:-1]).astype(np.uint64)
    gaps[block_starts] = 0  # first entry in a block is relative to first_doc_id
    ids_stream, ids_len = vbyte_encode(gaps)
    tf_stream, tf_len = vbyte_encode(tfs.astype(np.uint64))
    pos_stream, pos_len = encode_positions(flat_pos, tfs)
    bounds = np.append(block_starts, len(doc_ids))
    occ_off = np.r_[0, np.cumsum(tfs)].astype(np.int64)
    return (
        (ids_stream, np.r_[0, np.cumsum(ids_len)][bounds]),
        (tf_stream, np.r_[0, np.cumsum(tf_len)][bounds]),
        (pos_stream, np.r_[0, np.cumsum(pos_len)][occ_off[bounds]]),
    )


def decode_blocks(first_doc_id, n, ids_bytes, tf_bytes, pos_bytes=None) -> tuple:
    """A run of blocks (per-block ``first_doc_id``, ``n`` and byte strings)
    → flat ``(doc_ids, tfs)`` in block order, plus ``decode_positions``'
    ``(flat_pos, occ_off)`` when ``pos_bytes`` is given. One
    ``vbyte_decode`` per stream; per-block doc-id bases come back through
    one cumsum + repeat."""
    ids = decode_ids(first_doc_id, n, ids_bytes)
    tfs = vbyte_decode(b"".join(tf_bytes)).astype(np.int64)
    if len(tfs) != len(ids):
        raise ValueError(f"postings blocks hold {len(ids)} doc ids and {len(tfs)} tfs")
    if pos_bytes is None:
        return ids, tfs
    return (ids, tfs, *decode_positions(b"".join(pos_bytes), tfs))


def decode_ids(first_doc_id, n, ids_bytes) -> np.ndarray:
    """The doc ids alone of a run of blocks, flat in block order (what a
    constant-score leaf needs: no tfs, no positions)."""
    n = np.asarray(n, dtype=np.int64)
    gaps = vbyte_decode(b"".join(ids_bytes))
    if len(gaps) != int(n.sum()):
        raise ValueError(f"postings blocks hold {len(gaps)} doc ids, not n={int(n.sum())}")
    # within-block prefix sums = the run's prefix sum minus its value just
    # before each block (uint64 arithmetic wraps, so the run sum may overflow)
    csum = np.cumsum(gaps)
    starts = np.cumsum(n) - n
    within = csum - np.repeat(csum[starts] - gaps[starts], n)
    return within.astype(np.int64) + np.repeat(np.asarray(first_doc_id, dtype=np.int64), n)
