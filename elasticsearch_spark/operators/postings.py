"""Per-partition inverted-index segment build.

The Spark re-expression of the reference's bulk-ingest → engine → refresh
pipeline (SURVEY.md §3.2): one shuffle routes documents to their shard
(``shard = pmod(xxhash64(url), P)`` — the analog of
``server/.../cluster/routing/IndexRouting.java:113`` murmur3 routing), then
each partition builds a complete immutable segment (sorted postings +
docs/norms + lineage manifest) with numpy-vectorized tokenize/sort/encode —
exactly Lucene's "one DWPT per thread writes one segment" model, which is
what makes indexing embarrassingly parallel and linearly scalable: there is
NO global groupBy(term) in the build path, so term skew ("the" in 60% of
docs) never concentrates on one task.

Latest-by-url dedup (the engine's versioned upsert,
``server/.../index/engine/InternalEngine.java:1373``) happens inside the
segment build for free because routing co-locates all versions of a url.

doc_id = (pid << 40) | row_number (dense per partition, like Lucene's
per-segment docIDs with a segment base), deterministic given P.
"""

from __future__ import annotations

import hashlib
import os
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import analysis
from ..functions.smallfloat import byte4_to_int, int_to_byte4
from ..sources import index_store as store
from .codec import BLOCK_SIZE, encode_blocks

DOCID_PARTITION_SHIFT = 40

POSTINGS_FIELDS = [
    ("term", pa.string()),
    ("seg_id", pa.int32()),
    ("block_id", pa.int32()),
    ("first_doc_id", pa.int64()),
    ("last_doc_id", pa.int64()),
    ("n", pa.int32()),
    ("max_tf", pa.int32()),
    ("min_ql", pa.int32()),
    ("sum_tf", pa.int64()),
    # the encoded block (layout: codec.py); positions are always stored —
    # DOCS_AND_FREQS_AND_POSITIONS, the text-field default
    # (S/index/mapper/TextFieldMapper.java:101)
    ("ids_bytes", pa.binary()),
    ("tf_bytes", pa.binary()),
    ("pos_bytes", pa.binary()),
]
POSTINGS_PA_SCHEMA = pa.schema(POSTINGS_FIELDS)

METRICS_SCHEMA = (
    "pid int, status string, input_rows long, n_docs long, sum_dl long, "
    "n_terms long, n_blocks long, postings_bytes long, lineage string"
)


def lineage_hash(urls: pd.Series, ts: pd.Series) -> str:
    """Deterministic content hash of a partition's input (url, warc_ts)."""
    h = hashlib.md5()
    order = np.lexsort((ts.to_numpy(), urls.to_numpy()))
    u = urls.to_numpy()[order]
    t = ts.astype("int64").to_numpy()[order]
    h.update("\x00".join(map(str, u)).encode())
    h.update(t.tobytes())
    return h.hexdigest()


def tokenize_docs(texts: list[str], analyzer: str) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """texts → (flat token array, flat doc index array, doc lengths)."""
    fn = analysis.ANALYZERS[analyzer]
    tok_lists = [fn(t) if t else [] for t in texts]
    dls = np.fromiter((len(t) for t in tok_lists), dtype=np.int64, count=len(tok_lists))
    flat = np.concatenate([np.asarray(t, dtype=object) for t in tok_lists]) if len(tok_lists) else np.zeros(0, dtype=object)
    doc_idx = np.repeat(np.arange(len(tok_lists), dtype=np.int64), dls)
    return flat, doc_idx, dls


def _binary_col(stream: bytes, offsets64: np.ndarray):
    """pa.binary() column as a zero-copy view over one contiguous stream:
    entry j = stream[offsets64[j]:offsets64[j+1]]. Falls back to chunked
    slicing past the int32-offset limit (only reachable for a merged
    segment whose single stream exceeds 2 GB)."""
    if len(stream) < 2**31:
        off32 = offsets64.astype(np.int32)
        return pa.Array.from_buffers(
            pa.binary(), len(off32) - 1,
            [None, pa.py_buffer(off32.tobytes()), pa.py_buffer(stream)],
        )
    return pa.array(
        [stream[offsets64[j]:offsets64[j + 1]] for j in range(len(offsets64) - 1)],
        type=pa.binary(),
    )


def encode_postings_blocks(
    uniques: np.ndarray,
    p_code: np.ndarray,
    p_docid: np.ndarray,
    tfs: np.ndarray,
    p_ql: np.ndarray,
    seg_id: int,
    flat_pos: np.ndarray,
) -> pa.Table:
    """Flat postings (term-code, docID, tf, quantized-dl, and the
    postings' positions concatenated), lexsorted by (term, docID) → encoded
    block table: ≤BLOCK_SIZE postings per block, blocks never span terms,
    bytes from ``codec.encode_blocks``, per-block WAND stats (max_tf,
    min_ql). Shared by the initial segment build and the sort-merge
    compaction (both produce the identical layout, like Lucene segments
    regardless of provenance)."""
    # block split
    newterm = np.r_[True, p_code[1:] != p_code[:-1]]
    term_start_idx = np.nonzero(newterm)[0]
    run_pos = np.arange(len(p_code)) - np.repeat(term_start_idx, np.diff(np.r_[term_start_idx, len(p_code)]))
    is_block_start = newterm | (run_pos % BLOCK_SIZE == 0)
    block_starts = np.nonzero(is_block_start)[0]
    block_sizes = np.diff(np.r_[block_starts, len(p_code)])

    # one codec call encodes the whole run; each per-block binary column is
    # a zero-copy view over its stream (slicing out ~1 Python object per
    # block used to dominate the whole encode stage)
    ids_col, tf_col, pos_col = (
        _binary_col(stream, off)
        for stream, off in encode_blocks(p_docid, tfs, flat_pos, block_starts)
    )

    # per-block stats for WAND upper bounds: max tf, min quantized dl
    max_tf = np.maximum.reduceat(tfs, block_starts)
    min_ql = np.minimum.reduceat(p_ql, block_starts)
    sum_tf = np.add.reduceat(tfs, block_starts)
    first_doc = p_docid[block_starts]
    last_doc = p_docid[block_starts + block_sizes - 1]
    b_code = p_code[block_starts]
    # block_id within term
    term_of_block = np.r_[True, b_code[1:] != b_code[:-1]]
    tb_start = np.nonzero(term_of_block)[0]
    block_id = np.arange(len(b_code)) - np.repeat(tb_start, np.diff(np.r_[tb_start, len(b_code)]))

    import pyarrow.compute as pc

    # C-speed gather from the (small) vocabulary instead of materializing
    # one Python str per block
    term_col = pc.take(pa.array(np.asarray(uniques, dtype=object), type=pa.string()),
                       pa.array(b_code))
    return pa.table(
        {
            "term": term_col,
            "seg_id": pa.array(np.full(len(b_code), seg_id, dtype=np.int32)),
            "block_id": pa.array(block_id.astype(np.int32)),
            "first_doc_id": pa.array(first_doc.astype(np.int64)),
            "last_doc_id": pa.array(last_doc.astype(np.int64)),
            "n": pa.array(block_sizes.astype(np.int32)),
            "max_tf": pa.array(max_tf.astype(np.int32)),
            "min_ql": pa.array(min_ql.astype(np.int32)),
            "sum_tf": pa.array(sum_tf.astype(np.int64)),
            "ids_bytes": ids_col,
            "tf_bytes": tf_col,
            "pos_bytes": pos_col,
        },
        schema=POSTINGS_PA_SCHEMA,
    )


def build_segment_frames(
    pdf: pd.DataFrame, pid: int, analyzer: str, index_sort: tuple | None = None
) -> tuple[pd.DataFrame, pa.Table, dict]:
    """Build one segment from a partition's pages. Pure function (testable
    without Spark). Returns (docs_pdf, postings_arrow_table, stats).

    ``index_sort=(field, "asc"|"desc")`` is Lucene index sorting
    (``S/index/IndexSortConfig.java``): doc ids — and therefore the
    docs.parquet row order — follow the sort field within the segment, so
    a query sorting on that field early-terminates after k live rows per
    segment (``sorted_scan`` in operators/topk.py)."""
    # 1) latest-by-url dedup (engine upsert semantics), stable
    pdf = pdf.sort_values(["url", "warc_ts"], kind="mergesort")
    pdf = pdf.drop_duplicates("url", keep="last")
    # 2) deterministic dense doc ids within the partition (index sort when
    #    configured, url order otherwise)
    if index_sort:
        sfield, sorder = index_sort
        pdf = pdf.sort_values(
            [sfield, "url"], ascending=[sorder != "desc", True], kind="mergesort"
        ).reset_index(drop=True)
    else:
        pdf = pdf.sort_values("url", kind="mergesort").reset_index(drop=True)
    n_docs = len(pdf)
    base = pid << DOCID_PARTITION_SHIFT
    doc_ids = base + np.arange(n_docs, dtype=np.int64)

    # 3) analysis chain, one doc at a time: each core's working set stays
    #    cache-resident (the scaling control in BENCH/BASELINE.md)
    flat, doc_idx, dls = tokenize_docs(pdf["text"].tolist(), analyzer)
    norms = int_to_byte4(dls)
    ql = byte4_to_int(norms)  # quantized lengths (what BM25 sees)

    docs_pdf = pd.DataFrame(
        {
            "doc_id": doc_ids,
            "url": pdf["url"].to_numpy(),
            "warc_ts": pdf["warc_ts"].to_numpy(),
            "lang": pdf["lang"].to_numpy(),
            "text": pdf["text"].to_numpy(),
            "dl": dls,
            "norm": norms.astype(np.int32),
            "seg_id": np.int32(pid),
        }
    )
    # custom stored fields (any extra input columns — keyword/numeric/
    # dense_vector/…): ride the docs table verbatim, in sorted column
    # order so every segment writes the identical schema (the merge's
    # concat and the multi-segment scan both require it)
    for c in sorted(set(pdf.columns) - {"url", "warc_ts", "lang", "text", "pid"}):
        docs_pdf[c] = pdf[c].to_numpy()

    if int(dls.sum()) == 0:
        empty = pa.table({k: pa.array([], type=t) for k, t in POSTINGS_FIELDS})
        return docs_pdf, empty, {"n_docs": n_docs, "sum_dl": 0, "n_terms": 0, "n_blocks": 0}

    # 4) tf per (term, doc): factorize, lexsort, run-length; occurrence
    # positions ride along (lexsort is stable → within a (term, doc) run
    # occurrences keep ascending in-doc position order)
    codes, uniques = pd.factorize(flat, sort=True)
    order = np.lexsort((doc_idx, codes))
    doc_starts = np.r_[0, np.cumsum(dls)[:-1]]
    pos_in_doc = np.arange(len(codes), dtype=np.int64) - np.repeat(doc_starts, dls)
    flat_pos = pos_in_doc[order]
    c_s, d_s = codes[order], doc_idx[order]
    newpair = np.r_[True, (c_s[1:] != c_s[:-1]) | (d_s[1:] != d_s[:-1])]
    starts = np.nonzero(newpair)[0]
    tfs = np.diff(np.r_[starts, len(c_s)]).astype(np.int64)
    p_code = c_s[starts]
    p_doc = d_s[starts]  # already ascending within each term

    postings = encode_postings_blocks(
        uniques, p_code, doc_ids[p_doc], tfs, ql[p_doc], pid, flat_pos
    )
    stats = {
        "n_docs": int(n_docs),
        "sum_dl": int(dls.sum()),
        "n_terms": int(len(uniques)),
        "n_blocks": int(postings.num_rows),
    }
    return docs_pdf, postings, stats


def _write_file(seg_dir: str, name: str, table: pa.Table) -> None:
    """``table`` as ``seg_dir/name``, written under a temporary name and
    renamed into place."""
    tmp = os.path.join(seg_dir, f".{name}.tmp")
    pq.write_table(table, tmp, compression="zstd")
    os.replace(tmp, os.path.join(seg_dir, name))


def _docs_table(docs_pdf: pd.DataFrame, extra_types: dict | None) -> pa.Table:
    docs_tbl = pa.Table.from_pandas(docs_pdf, preserve_index=False)
    # custom stored fields: pin each extra column to the INPUT schema's
    # arrow type — a partition whose values are all null would otherwise
    # infer pa.null() and write a segment that disagrees with its siblings
    for cname, ctype in (extra_types or {}).items():
        i = docs_tbl.schema.get_field_index(cname)
        if i >= 0 and docs_tbl.schema.field(i).type != ctype:
            docs_tbl = docs_tbl.set_column(
                i, pa.field(cname, ctype), docs_tbl.column(i).cast(ctype)
            )
    # Spark cannot read TIMESTAMP(NANOS) parquet — store microseconds
    for i, f in enumerate(docs_tbl.schema):
        if pa.types.is_timestamp(f.type) and f.type.unit == "ns":
            docs_tbl = docs_tbl.set_column(
                i, pa.field(f.name, pa.timestamp("us")), docs_tbl.column(i).cast(pa.timestamp("us"))
            )
    return docs_tbl


def _extra_arrow_types(df: DataFrame) -> dict:
    """{custom stored column: pyarrow type} from a Spark schema — the
    driver-side truth the segment writer pins all-null partitions to."""
    from pyspark.sql.pandas.types import to_arrow_type

    fixed = {"url", "warc_ts", "lang", "text", "pid", "op"}
    return {
        f.name: to_arrow_type(f.dataType)
        for f in df.schema.fields
        if f.name not in fixed
    }


def write_segment(
    index_dir: str, pid: int, pdf: pd.DataFrame, analyzer: str,
    index_sort: tuple | None = None, extra_types: dict | None = None,
    deletes: np.ndarray | None = None, **manifest,
) -> dict:
    """Build the pages ``pdf`` into segment ``pid`` and commit it — the one
    segment write, run by each ``build_index`` task and by a bulk on the
    driver. The files go in commit order: docs.parquet, the doc ids of
    other segments that the segment supersedes (``deletes``, at
    ``store.deletes_path``), the manifest (``manifest`` plus the build
    stats), and last postings.parquet, whose rename is the commit point
    (``store.list_segs``). A crash before it leaves no live segment, so a
    bulk's deletes and adds land together or not at all. Returns the
    manifest. ``extra_types``: {column: pyarrow type} for custom stored
    fields, from the input Spark schema."""
    t0 = time.perf_counter()
    docs_pdf, postings, stats = build_segment_frames(pdf, pid, analyzer, index_sort)
    d = store.seg_dir(index_dir, pid)
    os.makedirs(d, exist_ok=True)
    _write_file(d, "docs.parquet", _docs_table(docs_pdf, extra_types))
    if deletes is not None and len(deletes):
        store.write_tombstones(store.deletes_path(index_dir, pid), deletes)
    manifest = {"pid": pid, **manifest, "status": "complete",
                "postings_bytes": int(postings.nbytes), **stats}
    # per-partition build metrics (the north rule's lineage + METRICS
    # contract): wall seconds and docs/s of the build and docs write
    manifest["build_s"] = round(time.perf_counter() - t0, 3)
    if manifest["build_s"] > 0:
        manifest["docs_per_sec"] = round(stats["n_docs"] / manifest["build_s"], 1)
    store.write_manifest(index_dir, pid, manifest)
    _write_file(d, "postings.parquet", postings)
    return manifest


def segment_builder(
    index_dir: str, analyzer: str, index_sort: tuple | None = None,
    extra_types: dict | None = None,
):
    """applyInPandas function: one partition's pages → one segment
    (``write_segment``), skipped when its manifest records the same input
    lineage and its segment committed; returns a one-row metrics frame."""
    # custom analyzer chains are driver-registered; ship the config so the
    # executor-side module can re-materialize the chain
    analyzer_config = analysis.ANALYZER_CONFIGS.get(analyzer)

    def fn(key, pdf):
        if analyzer not in analysis.ANALYZERS and analyzer_config is not None:
            analysis.register_analyzer(analyzer, *analyzer_config)
        pid = int(key[0])
        lin = lineage_hash(pdf["url"], pdf["warc_ts"])
        m = store.read_manifest(index_dir, pid)
        seg_present = os.path.exists(
            os.path.join(store.seg_dir(index_dir, pid), "postings.parquet")
        ) or pid in store.merged_away_segs(index_dir)
        status = "skipped"
        if not (m and m.get("lineage") == lin and m.get("status") == "complete" and seg_present):
            m, status = write_segment(index_dir, pid, pdf, analyzer, index_sort, extra_types,
                                      lineage=lin, input_rows=len(pdf)), "built"
        return pd.DataFrame([{
            "pid": pid, "status": status, "input_rows": len(pdf), "lineage": lin,
            **{k: m[k] for k in ("n_docs", "sum_dl", "n_terms", "n_blocks", "postings_bytes")},
        }])

    return fn


def build_index(
    spark: SparkSession,
    pages: DataFrame,
    index_dir: str,
    num_partitions: int | None = None,
    analyzer: str = "standard",
    index_sort: tuple | None = None,
    num_shards: int | None = None,
) -> dict:
    """Full index build: route → per-partition segment build → index meta.

    One shuffle total. Scale notes: num_partitions is the shard count — size
    it so one partition's working set (~tokens × pointers, roughly 100-200×
    the doc count in bytes) stays comfortably inside a worker's memory AND
    cache locality: measured on this class of hardware, per-core build
    throughput drops ~2× when partitions exceed ~5k web docs (page-fault /
    bandwidth pressure), so prefer MORE, SMALLER partitions — e.g. 100 TB /
    ~250 MB of text per partition ≈ 400k partitions. Oversplitting is cheap
    (tasks are ~seconds); undersplitting is superlinear. Nothing runs
    downstream of the build: each segment carries its term dictionary and
    its share of the collection statistics (``topk.IndexReader``). The
    index meta is written only when none exists; the returned
    ``doc_count`` / ``sum_dl`` / ``avgdl`` sum this build's partitions.
    """
    num_partitions = num_partitions or max(spark.sparkContext.defaultParallelism, 8)
    # rebuilding an EXISTING index with different structure must refuse
    # loudly: the per-partition resume keys on (url, warc_ts) lineage only,
    # so a changed analyzer would SKIP every partition and report postings
    # it never wrote, a changed index_sort would lie to sorted_scan's early
    # termination, and a smaller num_partitions would leave the old pids'
    # segments live and double-counted
    try:
        prev = store.IndexMeta.load(index_dir)
    except FileNotFoundError:
        prev = None
    if prev is not None:
        want_sort = list(index_sort) if index_sort else None
        for name, old, new in (
            ("analyzer", prev.analyzer, analyzer),
            ("num_partitions", prev.num_partitions, num_partitions),
            ("index_sort", prev.index_sort or None, want_sort),
            ("num_shards", prev.num_shards, num_shards),
        ):
            if old != new:
                raise ValueError(
                    f"index at {index_dir} was built with {name}={old!r}; "
                    f"rebuilding with {name}={new!r} would corrupt it — "
                    "use a fresh index_dir (or delete this one)")
    if num_shards:
        # number_of_shards (routing granularity) must divide the build
        # partition count so pid % num_shards == hash % num_shards — the
        # invariant routed search pruning relies on (sources/index_store
        # .shard_of). Partitions stay the parallelism knob; shards the
        # routing knob.
        if num_partitions % num_shards != 0:
            raise ValueError(
                f"num_shards={num_shards} must divide num_partitions={num_partitions}"
            )
    os.makedirs(index_dir, exist_ok=True)

    cols = [c for c in pages.columns if c != "html"]  # html never shuffles; text is the extracted source
    routed = pages.select(*cols).withColumn(
        "pid", F.pmod(F.xxhash64("url"), F.lit(num_partitions)).cast("int")
    )
    extra_types = _extra_arrow_types(routed)
    metrics = (
        routed.groupBy("pid")
        .applyInPandas(
            segment_builder(index_dir, analyzer, index_sort, extra_types), METRICS_SCHEMA
        )
        .collect()
    )

    if prev is None:
        cfg = analysis.ANALYZER_CONFIGS.get(analyzer)
        store.IndexMeta(
            analyzer=analyzer, num_partitions=num_partitions,
            analyzer_config=list(cfg) if cfg else None,
            index_sort=list(index_sort) if index_sort else None,
            num_shards=num_shards,
        ).save(index_dir)
    doc_count = sum(r["n_docs"] for r in metrics)
    sum_dl = sum(r["sum_dl"] for r in metrics)
    return {
        "doc_count": doc_count,
        "sum_dl": sum_dl,
        "avgdl": float(sum_dl) / doc_count if doc_count else 1.0,
        "partitions": num_partitions,
        "built": sum(1 for r in metrics if r["status"] == "built"),
        "skipped": sum(1 for r in metrics if r["status"] == "skipped"),
        "n_blocks": sum(r["n_blocks"] for r in metrics),
        "postings_bytes": sum(r["postings_bytes"] for r in metrics),
    }
