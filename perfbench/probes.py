"""Single-threaded kernel probes on the workload's own corpus and postings,
outside any Spark job: the analyzer and the postings codec."""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow.parquet as pq

from elasticsearch_spark.functions.analysis import standard_tokenize
from elasticsearch_spark.operators import codec
from elasticsearch_spark.sources import index_store as store

MIN_PROBE_S = 0.3  # repeat each kernel until this much time is measured
PROBE_SEGMENTS = 2  # codec probe reads the postings of this many segments
PROBE_BLOCKS = 4000  # and an evenly spaced sample of at most this many blocks


def _timed(fn) -> float:
    """Seconds per call of ``fn``, repeating until MIN_PROBE_S elapsed."""
    n, t0 = 0, time.perf_counter()
    while True:
        fn()
        n += 1
        el = time.perf_counter() - t0
        if el >= MIN_PROBE_S:
            return el / n


def tokenize_mb_per_s(texts: list[str]) -> float:
    """``standard_tokenize`` throughput in MB of UTF-8 input per second."""
    nbytes = sum(len(t.encode()) for t in texts)
    return nbytes / 1e6 / _timed(lambda: [standard_tokenize(t) for t in texts])


def codec_probe(index_dir: str) -> tuple[dict, int]:
    """Decode, encode and space figures for the index's postings blocks.

    - decode: ``decode_block`` per block, the query-time path; MB of
      encoded input per second.
    - encode: ``vbyte_encode`` over a segment's whole gap and tf streams,
      the build and merge path; MB of encoded output per second.
    - bytes per posting: encoded id+tf bytes ÷ postings.

    Returns (metrics, mismatches): re-encoding the decoded streams must
    reproduce the stored bytes exactly."""
    tables = [
        pq.read_table(os.path.join(store.seg_dir(index_dir, s), "postings.parquet"),
                      columns=["first_doc_id", "n", "ids_bytes", "tf_bytes"])
        for s in store.list_segs(index_dir)[:PROBE_SEGMENTS]
    ]
    # per-block decode costs tens of microseconds, and a segment holds tens
    # of thousands of blocks: a fixed sample keeps the probe under a second
    step = -(-sum(t.num_rows for t in tables) // PROBE_BLOCKS)
    tables = [t.take(np.arange(0, t.num_rows, step)) for t in tables]
    firsts = np.concatenate([t["first_doc_id"].to_numpy() for t in tables])
    ns = np.concatenate([t["n"].to_numpy() for t in tables])
    ids_b = [b for t in tables for b in t["ids_bytes"].to_pylist()]
    tf_b = [b for t in tables for b in t["tf_bytes"].to_pylist()]
    enc_bytes = sum(map(len, ids_b)) + sum(map(len, tf_b))

    def decode_all():
        return [codec.decode_block(i, t, int(f)) for i, t, f in zip(ids_b, tf_b, firsts)]

    decoded = decode_all()
    t_dec = _timed(decode_all)
    # block gaps restart at each block's first_doc_id, so the whole-stream
    # gaps are the per-block gaps concatenated
    gaps = np.concatenate([codec.delta_encode(ids, int(f)) for (ids, _), f in zip(decoded, firsts)])
    tfs = np.concatenate([t for _, t in decoded]).astype(np.uint64)
    stream_ids, stream_tf = b"".join(ids_b), b"".join(tf_b)
    t_enc = _timed(lambda: (codec.vbyte_encode(gaps), codec.vbyte_encode(tfs)))
    mismatches = int(codec.vbyte_encode(gaps)[0] != stream_ids) + int(codec.vbyte_encode(tfs)[0] != stream_tf)
    return {
        "codec.decode_mb_per_s": enc_bytes / 1e6 / t_dec,
        "codec.encode_mb_per_s": enc_bytes / 1e6 / t_enc,
        "codec.bytes_per_posting": enc_bytes / int(ns.sum()),
    }, mismatches
