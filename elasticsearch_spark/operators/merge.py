"""Tiered segment merge (compaction).

The Spark re-expression of the reference's background merge
(``server/src/main/java/org/elasticsearch/index/MergePolicyConfig.java:108-113``:
≤10 segments per tier, 5 GB max merged segment, 2 MB floor;
``server/.../index/EsTieredMergePolicy.java:24-33``). Semantics: segments
are immutable sorted runs; a merge selects a size-tier of segments and
sort-merges their postings on (term, docID) into one new segment —
docID spaces of distinct segments are disjoint by construction
(``doc_id = pid << 40 | row``), so the merge is a concat-in-docID-order
per term followed by a re-block + re-encode, exactly Lucene's merge of
postings iterators.

Execution model: one Spark task per merge group (``mapInPandas`` over a
group-spec frame) — each task reads the group's segment files from shared
storage, merges in numpy, writes the new segment, and commits a merge
manifest. At 100 TB scale this is the standard compaction-job shape: the
work is embarrassingly parallel across groups and each group is bounded by
``max_merged_bytes``. A merged segment's postings carry its term
dictionary, so term statistics need no second pass: df stays the sum over
the live segments.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import SparkSession

from ..sources import index_store as store
from .codec import decode_blocks
from .postings import encode_postings_blocks

# reference defaults, scaled for sandbox testing via parameters
SEGMENTS_PER_TIER = 10
MAX_MERGED_BYTES = 5 * 2**30
FLOOR_BYTES = 2 * 2**20

MERGED_SEG_BASE = store.MERGED_SEG_BASE  # merged segment ids live above build pids


def _seg_sizes(index_dir: str) -> dict[int, int]:
    """segment id -> postings file size in bytes, live segments only."""
    out = {}
    for s in store.list_segs(index_dir):
        p = os.path.join(store.seg_dir(index_dir, s), "postings.parquet")
        if os.path.exists(p):
            out[s] = os.path.getsize(p)
    return out


def plan_merges(
    index_dir: str,
    segments_per_tier: int = SEGMENTS_PER_TIER,
    max_merged_bytes: int = MAX_MERGED_BYTES,
    floor_bytes: int = FLOOR_BYTES,
) -> list[list[int]]:
    """Tiered merge selection: sort segments by size ascending (sizes below
    ``floor_bytes`` count as the floor, like the reference's floorSegmentMB);
    greedily group up to ``segments_per_tier`` adjacent segments whose
    combined size stays under ``max_merged_bytes``. Groups of one are not
    merged.

    Groups never cross routing shards (the reference merges within one
    shard by construction): segments are bucketed by ``store.shard_of``
    first, so merged segments stay shard-pure and routed searches keep
    their segment-pruning guarantee across compactions. Unknown-shard
    segments (pre-upgrade merges) form their own bucket."""
    sizes = _seg_sizes(index_dir)
    meta = store.IndexMeta.load(index_dir)
    shard_key = {s: store.shard_of(index_dir, s, meta) for s in sizes}
    order = sorted(
        sizes,
        key=lambda s: (
            -1 if shard_key[s] is None else shard_key[s],
            max(sizes[s], floor_bytes),
            s,
        ),
    )
    groups: list[list[int]] = []
    cur: list[int] = []
    cur_bytes = 0
    for seg in order:
        sz = max(sizes[seg], floor_bytes)
        if cur and (
            len(cur) >= segments_per_tier
            or cur_bytes + sz > max_merged_bytes
            or shard_key[seg] != shard_key[cur[-1]]
        ):
            groups.append(cur)
            cur, cur_bytes = [], 0
        cur.append(seg)
        cur_bytes += sz
    if cur:
        groups.append(cur)
    return [g for g in groups if len(g) > 1]


def merge_group_local(index_dir: str, segs: list[int], new_seg: int) -> dict:
    """Sort-merge one group of segments into ``seg=<new_seg>``. Pure local
    function (one Spark task; also unit-testable). Returns the merge
    manifest dict."""
    # docs: concat, keep sorted by doc_id (disjoint per-segment ranges) —
    # except under index sorting (IndexSortConfig.java), where the merged
    # docs file must be re-sorted on the sort field so sorted_scan's
    # early termination stays valid on merged segments (doc ids are
    # untouched; only the row order changes)
    docs_tables = [pq.read_table(os.path.join(store.seg_dir(index_dir, s), "docs.parquet")) for s in sorted(segs)]
    docs = pa.concat_tables(docs_tables)
    isort = store.IndexMeta.load(index_dir).index_sort
    if isort:
        sfield, sorder = isort
        d_sort = pa.compute.sort_indices(
            docs, sort_keys=[(sfield, "descending" if sorder == "desc" else "ascending"),
                             ("doc_id", "ascending")]
        )
    else:
        d_sort = pa.compute.sort_indices(docs["doc_id"])
    docs = docs.take(d_sort)

    # expunge deletes (the reference's merge purging masked docs): drop
    # tombstoned rows here; the caller reconciles the tombstone store after
    # commit. Range-read only this merge group's id span — a broad
    # delete_by_query never ships the full tombstone set to every task.
    from .ops import read_tombstones_range

    ids_all = docs["doc_id"].to_numpy()
    tomb = (read_tombstones_range(index_dir, int(ids_all.min()), int(ids_all.max()))
            if len(ids_all) else np.zeros(0, dtype=np.int64))
    expunged: list[int] = []
    if len(tomb):
        ids = docs["doc_id"].to_numpy()
        pos = np.searchsorted(tomb, ids)
        dead = (pos < len(tomb)) & (tomb[np.minimum(pos, len(tomb) - 1)] == ids)
        if dead.any():
            expunged = [int(x) for x in ids[dead]]
            docs = docs.filter(pa.array(~dead))
    seg_col = pa.array(np.full(docs.num_rows, new_seg, dtype=np.int32))
    docs = docs.set_column(docs.schema.get_field_index("seg_id"), "seg_id", seg_col)

    # ql lookup for min_ql block stats — docs rows may be index-sort
    # ordered, so sort the lookup arrays by doc_id explicitly
    from ..functions.smallfloat import byte4_to_int

    doc_ids_sorted = docs["doc_id"].to_numpy()
    _id_order = np.argsort(doc_ids_sorted, kind="mergesort")
    doc_ids_sorted = doc_ids_sorted[_id_order]
    ql_sorted = byte4_to_int(docs["norm"].to_numpy())[_id_order]

    # postings: decode all blocks → flat (term, doc_id, tf, positions) in
    # one codec call, drop expunged docs, lexsort, re-encode
    post = pa.concat_tables(
        pq.read_table(os.path.join(store.seg_dir(index_dir, s), "postings.parquet"))
        for s in sorted(segs)
    )
    terms = post["term"].to_numpy(zero_copy_only=False)
    ns = post["n"].to_numpy()
    flat_ids, flat_tfs, flat_pos, occ_off = decode_blocks(
        post["first_doc_id"].to_numpy(), ns,
        *(post[c].to_numpy(zero_copy_only=False) for c in ("ids_bytes", "tf_bytes", "pos_bytes")),
    )
    # term codes WITHOUT hashing millions of strings: the dictionary is the
    # block-level term column (~1000× smaller) — unique it, map rows by
    # binary search, expand to postings by repeat
    global_terms = np.unique(terms)
    flat_codes = np.repeat(np.searchsorted(global_terms, terms), ns)
    if expunged:
        exp = np.sort(np.array(expunged, dtype=np.int64))
        pos = np.searchsorted(exp, flat_ids)
        sel = np.nonzero(~((pos < len(exp)) & (exp[np.minimum(pos, len(exp) - 1)] == flat_ids)))[0]
    else:
        sel = np.arange(len(flat_ids))

    if len(sel) == 0:
        from .postings import POSTINGS_FIELDS

        merged = pa.table({kname: pa.array([], type=t) for kname, t in POSTINGS_FIELDS})
    else:
        # source posting of each output posting, in (term, doc_id) order
        src = sel[np.lexsort((flat_ids[sel], flat_codes[sel]))]
        p_docid, p_tfs = flat_ids[src], flat_tfs[src]
        p_ql = ql_sorted[np.searchsorted(doc_ids_sorted, p_docid)]
        # gather the occurrence stream into the new posting order
        out_starts = np.cumsum(p_tfs) - p_tfs
        gather = np.repeat(occ_off[src] - out_starts, p_tfs) + np.arange(int(p_tfs.sum()))
        merged = encode_postings_blocks(
            global_terms, flat_codes[src], p_docid, p_tfs, p_ql, new_seg, flat_pos[gather]
        )

    d = store.seg_dir(index_dir, new_seg)
    os.makedirs(d, exist_ok=True)
    for name, tbl in (("docs.parquet", docs), ("postings.parquet", merged)):
        tmp = os.path.join(d, f".{name}.tmp")
        pq.write_table(tbl, tmp, compression="zstd")
        os.replace(tmp, os.path.join(d, name))

    # record the group's routing shard (shard-pure by plan_merges) so
    # routed searches can prune merged segments in O(1)
    _meta = store.IndexMeta.load(index_dir)
    shards = {store.shard_of(index_dir, s, _meta) for s in segs}
    manifest = {
        "new_seg": new_seg,
        "merged_from": sorted(int(s) for s in segs),
        "shard": shards.pop() if len(shards) == 1 else None,
        "n_docs": int(docs.num_rows),
        "n_blocks": int(merged.num_rows),
        "postings_bytes": int(merged.nbytes),
        "status": "complete",
    }
    mdir = os.path.join(index_dir, "manifests")
    os.makedirs(mdir, exist_ok=True)
    mp = os.path.join(mdir, f"merge-{new_seg}.json")
    with open(mp + ".tmp", "w") as f:
        json.dump(manifest, f)
    os.replace(mp + ".tmp", mp)  # commit point: manifest rename

    # only after commit: drop the source segment dirs. A crash before this
    # leaves both copies on disk, but readers consult merge manifests
    # (store.list_segs excludes merged_from) and store.reconcile reclaims
    # the dirs on the next merge round. Failed deletes raise — a swallowed
    # failure here used to silently double-count.
    for s in segs:
        shutil.rmtree(store.seg_dir(index_dir, s))
    return manifest


def merge_index(
    spark: SparkSession,
    index_dir: str,
    segments_per_tier: int = SEGMENTS_PER_TIER,
    max_merged_bytes: int = MAX_MERGED_BYTES,
    floor_bytes: int = FLOOR_BYTES,
) -> dict:
    """Run one round of tiered compaction: plan groups → one Spark task per
    group → tombstone reconcile. Scores are unchanged by construction
    (df, N and avgdl are sums over the segments, docIDs survive the merge
    verbatim) except that expunged deletes stop counting."""
    store.reconcile(index_dir)  # reclaim crash-leftover merged-away dirs
    groups = plan_merges(index_dir, segments_per_tier, max_merged_bytes, floor_bytes)
    if not groups:
        return {"merges": 0, "segments_after": len(_seg_sizes(index_dir))}
    existing_merged = [
        int(n.split("=", 1)[1])
        for n in os.listdir(os.path.join(index_dir, "segments"))
        if n.startswith("seg=") and int(n.split("=", 1)[1]) >= MERGED_SEG_BASE
    ]
    next_id = max(existing_merged, default=MERGED_SEG_BASE - 1) + 1
    specs = pd.DataFrame(
        {
            "gid": range(len(groups)),
            "new_seg": [next_id + i for i in range(len(groups))],
            "segs": [json.dumps(g) for g in groups],
        }
    )

    def run(batches):
        for pdf in batches:
            out = []
            for _, row in pdf.iterrows():
                m = merge_group_local(index_dir, json.loads(row["segs"]), int(row["new_seg"]))
                out.append({"new_seg": m["new_seg"], "n_docs": m["n_docs"], "n_blocks": m["n_blocks"]})
            yield pd.DataFrame(out)

    res = (
        spark.createDataFrame(specs)
        .repartition(len(groups), "gid")
        .mapInPandas(run, "new_seg int, n_docs long, n_blocks long")
        .collect()
    )

    # reconcile tombstones expunged by the merge (ids no longer in any
    # segment) — a fully distributed semi-join + clustered rewrite, never a
    # driver collect (delete-count-independent driver memory); deletes
    # stop counting after a merge, exactly the reference's behavior
    from .ops import reconcile_tombstones

    docs = spark.read.parquet(*store.docs_glob(index_dir))
    reconcile_tombstones(spark, index_dir, docs)
    return {
        "merges": len(res),
        "merged_docs": sum(r["n_docs"] for r in res),
        "segments_after": len(_seg_sizes(index_dir)),
    }
