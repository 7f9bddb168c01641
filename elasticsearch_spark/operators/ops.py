"""Bulk op types: index / create / update / delete against a live index.

The reference's engine op lifecycle (``server/src/main/java/org/
elasticsearch/index/engine/InternalEngine.java:920,1252,1373``): an
index/update of an existing ``_id`` is executed as delete+add — the old
doc version stays physically present in its segment, masked by a liveDocs
bitmap, until a merge expunges it (``MergePolicyConfig`` deletes-pct
tier). Document frequencies and counts keep including masked docs until
the merge — scores drift slightly exactly as they do in the reference.

Re-expressed on the driver, with no Spark job once the index exists:
- ``apply_ops`` resolves the batch's urls through the open
  ``topk.IndexReader`` and applies the ops in row order;
- the indexed docs become ONE new segment per routing shard the batch
  touches (one refresh), written by ``postings.write_segment`` like a
  build task's. Each carries the doc ids its urls mask in its own
  directory (``store.deletes_path``), written before its postings, so a
  url's delete and its add commit in one rename;
- masked ids no new segment carries (pure deletes, a delete-by-query)
  append one batch file under ``tombstones/``, committed by rename;
- every tombstone file is part of the next commit
  (``index_store.commit_state``): the Engine's reader reopens on it and
  holds each segment's deleted doc ids, its live-doc mask;
- ``merge_index`` expunges: it folds the carried deletes of the segments
  it retires into ``tombstones/``, drops tombstoned docs and their
  postings, then swaps in the batches less the expunged ids
  (``reconcile_tombstones``).
"""

from __future__ import annotations

import os
import shutil
import uuid
from datetime import timezone

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import StructType, TimestampType

from ..sources import index_store as store
from .postings import _extra_arrow_types, write_segment
from .topk import IndexReader, routing_shard


def _union(paths: list[str], filters=None) -> np.ndarray:
    """The sorted, distinct doc ids of the tombstone files ``paths`` (those
    that pass the parquet ``filters``)."""
    return np.unique(np.concatenate([np.zeros(0, np.int64), *(
        pq.read_table(p, columns=["doc_id"], filters=filters)["doc_id"].to_numpy() for p in paths)]))


def read_tombstones(index_dir: str) -> np.ndarray:
    """The sorted, distinct doc ids of every committed tombstone file."""
    return _union(store.tombstone_files(index_dir))


def read_tombstones_range(index_dir: str, lo: int, hi: int,
                          files: list[str] | None = None) -> np.ndarray:
    """Tombstones within [lo, hi] only, of the tombstone ``files``
    (default every committed one) — the parquet reads prune on row-group
    doc_id stats (every writer clusters by doc_id), so a merge task pays
    for its group's id slice, not the global delete set."""
    return _union(store.tombstone_files(index_dir) if files is None else files,
                  [("doc_id", ">=", int(lo)), ("doc_id", "<=", int(hi))])


def mask_tombstones(spark: SparkSession, docs: DataFrame, tomb_paths: list[str]) -> DataFrame:
    """liveDocs as a distributed anti-join (no driver materialization)
    against the tombstone files ``tomb_paths``: an index's live set
    (``live_docs``) or a pin's one file."""
    if not tomb_paths:
        return docs
    tombs = spark.read.parquet(*tomb_paths).select(F.col("doc_id").cast("long"))
    return docs.join(tombs, "doc_id", "left_anti")


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


def append_tombstone_batch(index_dir: str, doc_ids: np.ndarray) -> None:
    """Driver-local tombstone append (for op batches bounded by bulk size):
    one new sorted batch file under ``tombstones/`` — the full set is never
    read or rewritten."""
    d = store.tombstones_dir(index_dir)
    os.makedirs(d, exist_ok=True)
    store.write_tombstones(os.path.join(d, f"batch-{uuid.uuid4().hex}.parquet"), doc_ids)


def reconcile_tombstones(index_dir: str, expunged: np.ndarray) -> None:
    """After a merge, on the driver: the ``tombstones/`` batches less the
    ids the merge ``expunged`` (no segment holds them any more), written as
    one batch and swapped in with the old set parked at ``.old`` until the
    swap completes — a crash at any point leaves a superset of the
    surviving tombstones readable (extra masks of expunged ids are
    no-ops). The carried deletes of live segments are theirs to keep."""
    live_dir = store.tombstones_dir(index_dir)
    rec, old_dir = live_dir + ".reconcile", live_dir + ".old"
    shutil.rmtree(rec, ignore_errors=True)
    os.makedirs(rec)
    surviving = np.setdiff1d(_union(store.tombstone_batches(index_dir)), expunged)
    if len(surviving):
        store.write_tombstones(os.path.join(rec, f"batch-{uuid.uuid4().hex}.parquet"), surviving)
    shutil.rmtree(old_dir, ignore_errors=True)
    if os.path.isdir(live_dir):
        os.rename(live_dir, old_dir)          # park the current set
    os.rename(rec, live_dir)                  # swap the surviving set in
    shutil.rmtree(old_dir, ignore_errors=True)


def _pages(schema: StructType, rows, tz: str) -> pd.DataFrame:
    """Collected ``rows`` of ``schema`` as a pages frame of the schema's
    Arrow types. A collected timestamp is a naive datetime in the driver
    process's local zone (``TimestampType.fromInternal``); it is stored as
    a build task receives it, naive wall time in the session zone ``tz``."""
    cols = {}
    for f in schema.fields:
        vals = [r[f.name] for r in rows]
        if isinstance(f.dataType, TimestampType):
            # astimezone reads a naive datetime as local time, fold included
            utc = pa.array([v and v.astimezone(timezone.utc) for v in vals], pa.timestamp("us", "UTC"))
            cols[f.name] = pc.local_timestamp(utc.cast(pa.timestamp("us", tz)))
        else:
            cols[f.name] = pa.array(vals, to_arrow_type(f.dataType))
    return pa.table(cols).to_pandas()


def apply_ops(
    spark: SparkSession,
    index_dir: str,
    ops: DataFrame,
    version_type: str | None = None,
    reader: IndexReader | None = None,
) -> dict:
    """Apply a bulk op batch to an existing index, on the driver.

    ops(url string, op string in (index|create|update|delete),
        text string?, lang string?, warc_ts timestamp?[, version long]).

    index/update: delete+add (create: add only if url absent). delete:
    tombstone. ``version_type="external"`` (VersionType.EXTERNAL,
    ``server/.../index/VersionType.java``): an op whose ``version`` is not
    strictly greater than the stored doc's version is a version conflict —
    skipped and counted, exactly the reference's optimistic-concurrency
    contract for externally-versioned ingest.

    The urls resolve through ``reader`` (the Engine's open one; a bare
    call opens one on ``index_dir``). The indexed docs become one segment
    per routing shard they touch, each carrying the ids its urls mask;
    masked ids of a shard with no new docs append one tombstone batch. A
    batch from a local frame runs no Spark job. Returns counts {indexed,
    created, updated, deleted, create_conflicts, version_conflicts}."""
    if version_type == "external" and "version" not in ops.columns:
        # the reference rejects externally-versioned ops without a version
        # (ActionRequestValidationException) — silent overwrite would defeat
        # the whole optimistic-concurrency contract
        raise ValueError("version_type=external requires a 'version' column")
    reader = reader or IndexReader(spark, index_dir)
    meta = reader.meta
    stored = reader.docs_footer.names if reader.docs_footer is not None else None
    has_version = version_type == "external"
    if has_version and stored is not None and "version" not in stored:
        raise ValueError(
            "version_type=external: the index's docs carry no 'version' field")
    op_rows = ops.collect()  # ops batch ≤ bulk size — small
    existing_ids: dict[str, list[int]] = {}
    existing_ver: dict[str, object] = {}
    found = reader.lookup(r["url"] for r in op_rows)
    for s, part in found.groupby("seg"):
        if has_version:
            ver = reader.segment(s).fetch(part["doc_id"].to_numpy(), ["version"])
            existing_ver.update(zip(part["url"], part["doc_id"].map(
                dict(zip(ver["doc_id"], ver["version"])))))
        for d, u in zip(part["doc_id"], part["url"]):
            existing_ids.setdefault(u, []).append(int(d))

    # ops apply IN ROW ORDER against evolving state (TransportBulkAction
    # executes a bulk sequentially per id): a delete sees the index op that
    # preceded it in the same batch, a second create on the same url
    # conflicts, and the last surviving write per url is what gets indexed.
    disk_dead: set[str] = set()   # urls whose stored doc this batch masks
    pending: dict[str, object] = {}  # url -> op row queued for indexing
    counts = {"indexed": 0, "created": 0, "updated": 0, "deleted": 0,
              "create_conflicts": 0, "version_conflicts": 0}
    for r in op_rows:
        op, url = r["op"], r["url"]
        in_batch = url in pending
        on_disk = url in existing_ids and url not in disk_dead
        if has_version and (in_batch or on_disk):
            cur = pending[url]["version"] if in_batch else existing_ver.get(url)
            if cur is not None and r["version"] is not None and r["version"] <= cur:
                counts["version_conflicts"] += 1
                continue
        if op == "delete":
            pending.pop(url, None)
            if on_disk:
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
            disk_dead.add(url)
        pending[url] = r

    # one segment per routing shard (IndexRouting is an index setting): a
    # url's masked ids ride the segment that holds its new version
    route = (lambda u: routing_shard(u, meta.num_shards)) if meta.num_shards else (lambda u: None)
    docs: dict = {}
    for r in pending.values():
        docs.setdefault(route(r["url"]), []).append(r)
    masked: dict = {}
    for u in disk_dead:
        masked.setdefault(route(u), []).extend(existing_ids[u])
    if docs:
        # custom stored fields ride along: the batch keeps the ops frame's
        # own columns minus op (extra columns must match across bulks —
        # every segment writes one docs schema)
        schema = StructType([f for f in ops.schema.fields if f.name != "op"])
        if stored is not None:
            have = set(stored) - {"doc_id", "dl", "norm", "seg_id"}
            if have != set(schema.names):
                raise ValueError(
                    "bulk schema mismatch vs the index's stored fields: "
                    f"index has {sorted(have)}, batch has {sorted(schema.names)} "
                    "(every segment must write one docs schema)"
                )
        # segment ids allocate DENSELY above every op segment id ever used:
        # manifests outlive merges, so ids never reuse (a reused id would
        # sit in a merge manifest's merged_from and be invisible/reclaimed)
        used = [p for p in store.manifest_ids(index_dir)
                if store.OPS_SEG_BASE <= p < store.MERGED_SEG_BASE]
        base = (max(used) + 1) if used else store.OPS_SEG_BASE
        if base + len(docs) > store.MERGED_SEG_BASE:
            raise ValueError(
                "op-batch segment namespace exhausted (next id "
                f"{base} + {len(docs)} segments crosses MERGED_SEG_BASE="
                f"{store.MERGED_SEG_BASE}); ids are never reused — rebuild "
                "the index to compact them")
        extra = _extra_arrow_types(ops)
        tz = spark.conf.get("spark.sql.session.timeZone")
        for pid, (shard, rows) in enumerate(docs.items(), base):
            write_segment(index_dir, pid, _pages(schema, rows, tz), meta.analyzer,
                          tuple(meta.index_sort) if meta.index_sort else None, extra,
                          deletes=np.array(masked.pop(shard, []), dtype=np.int64),
                          shard=shard)
    if masked:
        # the masked ids no new segment carries (≤ bulk size) append as one
        # batch file — never a rewrite of the full set
        append_tombstone_batch(index_dir, np.array(
            [d for ids in masked.values() for d in ids], dtype=np.int64))
    return counts


def live_docs(spark: SparkSession, index_dir: str) -> DataFrame:
    """Docs minus tombstones (the liveDocs view used by fetch/tests) — a
    distributed anti-join against the parquet tombstone view."""
    docs = spark.read.parquet(*store.docs_glob(index_dir))
    return mask_tombstones(spark, docs, store.tombstone_files(index_dir))
