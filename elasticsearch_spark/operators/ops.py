"""Bulk op types: index / create / update / delete against a live index.

The reference's engine op lifecycle (``server/src/main/java/org/
elasticsearch/index/engine/InternalEngine.java:920,1252,1373``): an
index/update of an existing ``_id`` is executed as delete+add — the old
doc version stays physically present in its segment, masked by a liveDocs
bitmap, until a merge expunges it (``MergePolicyConfig`` deletes-pct
tier). Document frequencies and counts keep including masked docs until
the merge — scores drift slightly exactly as they do in the reference.

Spark re-expression:
- new/changed docs build a NEW segment generation (op-batch-namespaced
  pids — segments stay immutable);
- superseded/deleted doc_ids append a batch file under ``tombstones/``
  (the liveDocs analog; a batch is committed by rename and never
  rewritten). The batch is part of the next commit
  (``index_store.commit_state``), so the Engine's reader reopens on it;
- the reader reads each tombstone file once and holds every segment's
  deleted doc ids, its live-doc mask, for all the searches of that
  commit (``topk.IndexReader``);
- ``merge_index`` expunges: merged segments drop tombstoned docs and their
  postings, then the driver swaps in the committed set less the expunged
  ids (``reconcile_tombstones``).
"""

from __future__ import annotations

import os
import shutil
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import index_store as store
from .postings import METRICS_SCHEMA, segment_builder

OPS_SEG_BASE = store.OPS_SEG_BASE  # op-batch segments live above initial pids, below merged


def tombstone_ids(path: str) -> np.ndarray:
    """The doc ids of one tombstone file."""
    return pq.read_table(path, columns=["doc_id"])["doc_id"].to_numpy()


def read_tombstones(index_dir: str) -> np.ndarray:
    """The sorted, distinct doc ids of every committed tombstone file."""
    parts = [tombstone_ids(f) for f in store.tombstone_files(index_dir)]
    parts = [p for p in parts if len(p)]
    if not parts:
        return np.zeros(0, dtype=np.int64)
    return np.unique(np.concatenate(parts))


def read_tombstones_range(index_dir: str, lo: int, hi: int) -> np.ndarray:
    """Tombstones within [lo, hi] only — the parquet reads prune on
    row-group doc_id stats (every writer clusters by doc_id), so a merge
    task pays for its group's id slice, not the global delete set."""
    parts = []
    for f in store.tombstone_files(index_dir):
        t = pq.read_table(
            f, filters=[("doc_id", ">=", int(lo)), ("doc_id", "<=", int(hi))])
        if t.num_rows:
            parts.append(t["doc_id"].to_numpy())
    if not parts:
        return np.zeros(0, dtype=np.int64)
    return np.unique(np.concatenate(parts))


def tombstones_df(spark: SparkSession, paths: list[str]) -> DataFrame | None:
    """Parquet-only Spark view of the tombstone files ``paths`` (for
    distributed anti-joins — never materialized on the driver)."""
    if not paths:
        return None
    return spark.read.parquet(*paths).select(F.col("doc_id").cast("long"))


def mask_tombstones(spark: SparkSession, docs: DataFrame, tomb_paths: list[str]) -> DataFrame:
    """liveDocs as a distributed anti-join (no driver materialization)
    against the tombstone files ``tomb_paths``: an index's live set
    (``live_docs``) or a pin's one file."""
    tdf = tombstones_df(spark, tomb_paths)
    return docs if tdf is None else docs.join(tdf, "doc_id", "left_anti")


def pin_files(paths: list[str], dest_dir: str) -> list[str]:
    """Hard-link each docs file of ``paths`` into a pin's ``dest_dir`` (a
    copy where no link can be made); returns the links. No writer rewrites
    a segment file in place, so a linked inode stays frozen, also after a
    merge deleted the original."""
    pinned = []
    for i, src in enumerate(paths):
        dst = os.path.join(dest_dir, f"docs_{i:04d}.parquet")
        try:
            os.link(src, dst)
        except OSError:
            shutil.copy2(src, dst)
        pinned.append(dst)
    return pinned


# row-group size for tombstone writes: small enough that range reads prune
# hard, large enough that footers stay tiny
_TOMB_ROW_GROUP = 131072


def write_tombstones(path: str, doc_ids: np.ndarray) -> None:
    """One sorted tombstone file of ``doc_ids`` at ``path``, written under
    a dot-prefixed temporary name and renamed into place, so no reader
    lists it half written."""
    tmp = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.tmp")
    pq.write_table(
        pa.table({"doc_id": pa.array(np.unique(doc_ids), type=pa.int64())}),
        tmp, row_group_size=_TOMB_ROW_GROUP)
    os.replace(tmp, path)


def append_tombstone_batch(index_dir: str, doc_ids: np.ndarray) -> None:
    """Driver-local tombstone append (for op batches bounded by bulk size):
    one new sorted batch file under ``tombstones/`` — the full set is never
    read or rewritten."""
    d = store.tombstones_dir(index_dir)
    os.makedirs(d, exist_ok=True)
    write_tombstones(os.path.join(d, f"batch-{uuid.uuid4().hex}.parquet"), doc_ids)


def append_tombstones(spark: SparkSession, index_dir: str, ids: DataFrame) -> int:
    """Distributed tombstone append: write the matching ``doc_id`` column
    straight from the executors into a new batch under ``tombstones/``,
    CLUSTERED by doc_id (sortWithinPartitions) so later range reads prune.
    The already-dead filter is a distributed anti-join against the parquet
    view — no driver materialization at any delete rate. Returns the
    number of NEW tombstones."""
    ids = ids.select(F.col("doc_id").cast("long")).distinct()
    ex_df = tombstones_df(spark, store.tombstone_files(index_dir))
    if ex_df is not None:
        ids = ids.join(ex_df, "doc_id", "left_anti")
    ids = ids.sortWithinPartitions("doc_id").persist()
    try:
        n = ids.count()
        if n:
            ids.write.mode("append").parquet(store.tombstones_dir(index_dir))
    finally:
        ids.unpersist()
    return int(n)


def reconcile_tombstones(index_dir: str, expunged: np.ndarray) -> None:
    """After a merge, on the driver: the committed tombstones less the ids
    the merge ``expunged`` (no segment holds them any more), written as
    one batch and swapped in with the old set parked at ``.old`` until the
    swap completes — a crash at any point leaves a superset of the
    surviving tombstones readable (extra masks of expunged ids are
    no-ops)."""
    live_dir = store.tombstones_dir(index_dir)
    rec, old_dir = live_dir + ".reconcile", live_dir + ".old"
    shutil.rmtree(rec, ignore_errors=True)
    os.makedirs(rec)
    surviving = np.setdiff1d(read_tombstones(index_dir), expunged)
    if len(surviving):
        write_tombstones(os.path.join(rec, f"batch-{uuid.uuid4().hex}.parquet"), surviving)
    shutil.rmtree(old_dir, ignore_errors=True)
    if os.path.isdir(live_dir):
        os.rename(live_dir, old_dir)          # park the current set
    os.rename(rec, live_dir)                  # swap the surviving set in
    shutil.rmtree(old_dir, ignore_errors=True)


def apply_ops(
    spark: SparkSession,
    index_dir: str,
    ops: DataFrame,
    num_partitions: int | None = None,
    version_type: str | None = None,
) -> dict:
    """Apply a bulk op batch to an existing index.

    ops(url string, op string in (index|create|update|delete),
        text string?, lang string?, warc_ts timestamp?[, version long]).

    index/update: delete+add (create: add only if url absent). delete:
    tombstone. ``version_type="external"`` (VersionType.EXTERNAL,
    ``server/.../index/VersionType.java``): an op whose ``version`` is not
    strictly greater than the stored doc's version is a version conflict —
    skipped and counted, exactly the reference's optimistic-concurrency
    contract for externally-versioned ingest. Returns counts {indexed,
    created, updated, deleted, create_conflicts, version_conflicts}."""
    meta = store.IndexMeta.load(index_dir)
    if version_type == "external" and "version" not in ops.columns:
        # the reference rejects externally-versioned ops without a version
        # (ActionRequestValidationException) — silent overwrite would defeat
        # the whole optimistic-concurrency contract
        raise ValueError("version_type=external requires a 'version' column")
    has_version = version_type == "external"
    if has_version:
        segs0 = store.list_segs(index_dir)
        stored_names = pq.read_schema(
            os.path.join(store.seg_dir(index_dir, segs0[0]), "docs.parquet")
        ).names if segs0 else ["version"]  # empty index: first write defines
        if "version" not in stored_names:
            raise ValueError(
                "version_type=external: the index's docs carry no 'version' field")
    doc_cols = ["doc_id", "url"] + (["version"] if has_version else [])
    docs = spark.read.parquet(*store.docs_glob(index_dir)).select(*doc_cols)
    docs = mask_tombstones(spark, docs, store.tombstone_files(index_dir))
    existing = docs.join(F.broadcast(ops.select("url").distinct()), "url")
    existing_rows = existing.collect()  # ops batch ≤ bulk size — small
    existing_ids = {r["url"]: r["doc_id"] for r in existing_rows}
    existing_ver = (
        {r["url"]: r["version"] for r in existing_rows} if has_version else {}
    )

    # ops apply IN ROW ORDER against evolving state (TransportBulkAction
    # executes a bulk sequentially per id): a delete sees the index op that
    # preceded it in the same batch, a second create on the same url
    # conflicts, and the last surviving write per url is what gets indexed.
    op_rows = ops.collect()
    new_tombs: list[int] = []
    disk_dead: set[str] = set()   # urls whose stored doc this batch tombstoned
    pending: dict[str, object] = {}  # url -> op row queued for indexing
    pending_ver: dict[str, int | None] = {}
    counts = {"indexed": 0, "created": 0, "updated": 0, "deleted": 0,
              "create_conflicts": 0, "version_conflicts": 0}
    for r in op_rows:
        op, url = r["op"], r["url"]
        in_batch = url in pending
        on_disk = url in existing_ids and url not in disk_dead
        if has_version and (in_batch or on_disk):
            cur = pending_ver.get(url) if in_batch else existing_ver.get(url)
            if cur is not None and r["version"] is not None \
                    and r["version"] <= cur:
                counts["version_conflicts"] += 1
                continue
        if op == "delete":
            if in_batch:
                del pending[url]
                pending_ver.pop(url, None)
            if on_disk:
                new_tombs.append(existing_ids[url])
                disk_dead.add(url)
            if in_batch or on_disk:
                counts["deleted"] += 1
            continue
        if op == "create" and (in_batch or on_disk):
            counts["create_conflicts"] += 1  # version_conflict_engine_exception
            continue
        if in_batch or on_disk:
            counts["updated"] += 1
        elif op == "create":
            counts["created"] += 1
        else:
            counts["indexed"] += 1
        if on_disk:
            new_tombs.append(existing_ids[url])
            disk_dead.add(url)
        pending[url] = r
        if has_version:
            pending_ver[url] = r["version"]
    to_index = list(pending.values())

    if to_index:
        # next op-batch base: DENSELY above every op segment id ever used —
        # manifests outlive merges, so ids never reuse (a reused id would
        # sit in a merge manifest's merged_from and be invisible/reclaimed);
        # the old gen*OPS_SEG_BASE scheme burned 65536 ids per batch and
        # collided with MERGED_SEG_BASE after 15 batches
        used = [
            int(m["pid"]) for m in store.all_manifests(index_dir)
            if OPS_SEG_BASE <= int(m.get("pid", -1)) < store.MERGED_SEG_BASE
        ]
        base = (max(used) + 1) if used else OPS_SEG_BASE
        P_cap = num_partitions or meta.num_partitions
        if base + P_cap > store.MERGED_SEG_BASE:
            raise ValueError(
                "op-batch segment namespace exhausted "
                f"(next base {base} + {P_cap} partitions crosses "
                f"MERGED_SEG_BASE={store.MERGED_SEG_BASE}); ids are never "
                "reused — rebuild the index to compact them")
        # preserve custom stored fields: rebuild the batch with the ops
        # frame's own schema minus the op column (extra columns must match
        # across bulks — every segment writes one docs schema)
        batch_schema = ops.drop("op").schema
        segs_live = store.list_segs(index_dir)
        if segs_live:
            existing = set(
                pq.read_schema(
                    os.path.join(store.seg_dir(index_dir, segs_live[0]), "docs.parquet")
                ).names
            ) - {"doc_id", "dl", "norm", "seg_id"}
            incoming = set(f.name for f in batch_schema.fields)
            if existing != incoming:
                raise ValueError(
                    "bulk schema mismatch vs the index's stored fields: "
                    f"index has {sorted(existing)}, batch has {sorted(incoming)} "
                    "(every segment must write one docs schema)"
                )
        # routing modulus: the INDEX's partition count (IndexRouting is an
        # index setting). A caller override is allowed only when it keeps
        # the pid → routing-shard derivation valid (S | P invariant)
        P = num_partitions or meta.num_partitions
        if meta.num_shards and P % meta.num_shards != 0:
            raise ValueError(
                f"op-batch num_partitions={P} breaks routing: "
                f"must be a multiple of num_shards={meta.num_shards}"
            )
        batch = spark.createDataFrame(
            [[r[f.name] for f in batch_schema.fields] for r in to_index], batch_schema
        ).withColumn(
            "pid", (F.lit(base) + F.pmod(F.xxhash64("url"), F.lit(P))).cast("int")
        )
        from .postings import _extra_arrow_types

        metrics = batch.groupBy("pid").applyInPandas(
            segment_builder(index_dir, meta.analyzer,
                        tuple(meta.index_sort) if meta.index_sort else None,
                        _extra_arrow_types(batch)), METRICS_SCHEMA
        ).collect()
        new_segs = [int(r["pid"]) for r in metrics]
        if meta.num_shards:
            # record each new segment's routing shard in its build manifest:
            # dense ids make the pid-offset → shard derivation impossible
            # arithmetically (store.shard_of reads this field). pid - base
            # = pmod(hash(url), P), and S | P ⇒ shard = (pid - base) % S.
            for s in new_segs:
                man = store.read_manifest(index_dir, s)
                if man is not None:
                    man["shard"] = (s - base) % P % meta.num_shards
                    store.write_manifest(index_dir, s, man)
    else:
        new_segs = []

    if new_tombs:
        # append the batch's tombstones (≤ bulk size) as one new batch file
        # under tombstones/ — never a rewrite of the full set, so per-bulk
        # driver work stays O(batch), independent of historical delete count
        append_tombstone_batch(index_dir, np.array(sorted(new_tombs), dtype=np.int64))

    return counts


def live_docs(spark: SparkSession, index_dir: str) -> DataFrame:
    """Docs minus tombstones (the liveDocs view used by fetch/tests) — a
    distributed anti-join against the parquet tombstone view."""
    docs = spark.read.parquet(*store.docs_glob(index_dir))
    return mask_tombstones(spark, docs, store.tombstone_files(index_dir))
