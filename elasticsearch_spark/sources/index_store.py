"""Index storage layout, lineage manifests, and checkpoint-resume.

Plays the role of the reference's shard/segment/translog persistence
(segments: ``server/.../index/engine/InternalEngine.java:1800`` refresh;
translog + seqno checkpoints: ``server/.../index/translog/Translog.java:90-102``,
``server/.../index/seqno/LocalCheckpointTracker.java:99-133``), re-expressed
as: immutable Parquet segment files + per-partition JSON lineage manifests.
A manifest is written only after its segment files are fully written
(write-temp-then-rename), so a manifest's existence IS the commit point —
the resume path skips any partition whose manifest matches the input
lineage hash. In production the same layout is an Iceberg table whose
snapshot commit replaces the manifest-of-manifests; this sandbox has no
Iceberg runtime so plain Parquet directories stand in.

Layout:
    <index_dir>/
      index_meta.json            the settings: {analyzer, num_partitions,
                                  k1, b, analyzer_config, index_sort,
                                  num_shards, settings} — no collection
                                  totals: N and sum_dl are read from the
                                  open segments (operators/topk.IndexReader)
      segments/seg=<id>/docs.parquet       doc_id,url,warc_ts,lang,text,dl,norm,seg_id
      segments/seg=<id>/postings.parquet   term,seg_id,block_id,first_doc_id,
                                           last_doc_id,n,max_tf,min_ql,sum_tf,
                                           ids_bytes,tf_bytes,pos_bytes
                                           (block layout: operators/codec.py;
                                           positions are mandatory; a
                                           segment's term dictionary — df
                                           = Σ n, cf = Σ sum_tf per term —
                                           is read from these blocks)
      manifests/part-<pid>.json  {pid, lineage, input_rows, n_docs, sum_dl,
                                  n_terms, n_blocks, status, files}
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass


def meta_path(index_dir: str) -> str:
    return os.path.join(index_dir, "index_meta.json")


def seg_dir(index_dir: str, seg: int) -> str:
    return os.path.join(index_dir, "segments", f"seg={seg}")


def manifest_path(index_dir: str, pid: int) -> str:
    return os.path.join(index_dir, "manifests", f"part-{pid}.json")


def read_manifest(index_dir: str, pid: int) -> dict | None:
    p = manifest_path(index_dir, pid)
    if not os.path.exists(p):
        return None
    try:
        with open(p) as f:
            return json.load(f)
    except (json.JSONDecodeError, OSError):
        return None


def write_manifest(index_dir: str, pid: int, manifest: dict) -> None:
    os.makedirs(os.path.join(index_dir, "manifests"), exist_ok=True)
    p = manifest_path(index_dir, pid)
    tmp = p + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    os.replace(tmp, p)  # atomic commit point


OPS_SEG_BASE = 1 << 16  # op-batch segments live above initial pids
MERGED_SEG_BASE = 1 << 20  # merged segment ids live above build pids


def merge_manifest(index_dir: str, seg: int) -> dict | None:
    """The committed merge manifest that produced ``seg`` (None if ``seg``
    is not a merged segment)."""
    p = os.path.join(index_dir, "manifests", f"merge-{seg}.json")
    if not os.path.exists(p):
        return None
    try:
        with open(p) as f:
            return json.load(f)
    except (json.JSONDecodeError, OSError):
        return None


def shard_of(index_dir: str, seg: int, meta: "IndexMeta") -> int | None:
    """Routing shard that produced every doc in ``seg`` (None = unsharded
    index, or a mixed pre-sharding merge — searched by every routed query).

    ``number_of_shards`` is an index setting (meta.num_shards), decoupled
    from build parallelism: the build routes docs to ``P = num_partitions``
    partitions by ``pmod(hash(url), P)``, and with ``S | P`` every
    partition maps to routing shard ``pid % S`` (hash mod P mod S ==
    hash mod S). The id namespaces make the pid derivable without state:
    - initial build segments: seg == pid;
    - op-batch segments (``operators/ops.py``): pid = gen*OPS_SEG_BASE + p;
    - merged segments: the merge manifest records ``shard`` (shard-aware
      tiered merge keeps groups shard-pure).

    This is IndexRouting.java's shard→docs contract inverted: given a
    routing value, only segments whose shard matches can contain it — the
    query-time partition-pruning analog.
    """
    if not meta.num_shards:
        return None
    if seg < OPS_SEG_BASE:
        # initial build: seg == pid == pmod(hash, P), and S | P
        return seg % meta.num_partitions % meta.num_shards
    if seg < MERGED_SEG_BASE:
        # op-batch segments allocate DENSELY (operators/ops.py) so the pid
        # offset is no longer derivable arithmetically — apply_ops records
        # the shard in the build manifest post-build; None (pre-recording
        # crash or legacy) means unknown → routed searches keep the segment
        m = read_manifest(index_dir, seg)
        return m.get("shard") if m else None
    m = merge_manifest(index_dir, seg)
    if m is None:
        return None
    return m.get("shard")  # may be None (pre-sharding mixed merge)


def merged_away_segs(index_dir: str) -> set[int]:
    """Segments consumed by a committed merge (their files are gone but their
    docs live on in the merged segment) — the resume path must treat these
    build partitions as complete."""
    d = os.path.join(index_dir, "manifests")
    out: set[int] = set()
    if not os.path.isdir(d):
        return out
    for name in os.listdir(d):
        if name.startswith("merge-") and name.endswith(".json"):
            try:
                with open(os.path.join(d, name)) as f:
                    out.update(json.load(f).get("merged_from", []))
            except (json.JSONDecodeError, OSError):
                continue
    return out


def all_manifests(index_dir: str) -> list[dict]:
    d = os.path.join(index_dir, "manifests")
    if not os.path.isdir(d):
        return []
    out = []
    for name in sorted(os.listdir(d)):
        if name.startswith("part-") and name.endswith(".json"):
            with open(os.path.join(d, name)) as f:
                out.append(json.load(f))
    return out


@dataclass
class IndexMeta:
    """The index's settings (``index_meta.json``): written by
    ``Engine.create_index`` and ``put_settings``; ``build_index`` and the
    streaming ingest write a default one only when none exists, and no
    write path rewrites it. It holds no collection statistics — N and
    sum_dl are sums over the open segments (``topk.IndexReader``), so
    settings and statistics cannot drift apart in a crash or race."""

    analyzer: str
    num_partitions: int
    k1: float = 1.2
    b: float = 0.75
    # custom analyzer chain (tokenizer, filters), persisted so a fresh
    # driver process can re-register the chain by NAME alone — an
    # in-memory-only registration would KeyError (or silently tokenize
    # queries differently from the indexed postings) after driver restart
    analyzer_config: list | None = None
    # Lucene index sorting (IndexSortConfig.java): [field, "asc"|"desc"] —
    # segment doc order follows this field; queries sorting on it
    # early-terminate (operators/topk.py:sorted_scan)
    index_sort: list | None = None
    # number_of_shards (index setting, IndexMetadata.SETTING_NUMBER_OF_SHARDS):
    # enables routing-pruned search; must divide num_partitions. None =
    # unsharded (no routing pruning, merges may cross partitions freely)
    num_shards: int | None = None
    # free-form index settings bag (GET/PUT /{index}/_settings): dynamic
    # settings the engine doesn't interpret structurally live here verbatim
    settings: dict | None = None

    def save(self, index_dir: str) -> None:
        p = meta_path(index_dir)
        tmp = p + ".tmp"
        with open(tmp, "w") as f:
            json.dump(
                {
                    "analyzer": self.analyzer,
                    "num_partitions": self.num_partitions,
                    "k1": self.k1,
                    "b": self.b,
                    "analyzer_config": self.analyzer_config,
                    "index_sort": self.index_sort,
                    "num_shards": self.num_shards,
                    "settings": self.settings,
                },
                f,
            )
        os.replace(tmp, p)

    @classmethod
    def load(cls, index_dir: str) -> "IndexMeta":
        with open(meta_path(index_dir), "rb") as f:
            return cls.loads(f.read())

    @classmethod
    def loads(cls, raw: bytes) -> "IndexMeta":
        d = json.loads(raw)
        meta = cls(
            analyzer=d["analyzer"],
            num_partitions=d["num_partitions"],
            k1=d["k1"],
            b=d["b"],
            analyzer_config=d.get("analyzer_config"),
            index_sort=d.get("index_sort"),
            num_shards=d.get("num_shards"),
            settings=d.get("settings"),
        )
        if meta.analyzer_config is not None:
            from ..functions import analysis

            if meta.analyzer not in analysis.ANALYZERS:
                cfg = list(meta.analyzer_config) + [[]]  # legacy 2-elem configs
                tok, filters, char_filters = cfg[0], cfg[1], cfg[2]
                analysis.register_analyzer(
                    meta.analyzer, tok,
                    [tuple(f) if isinstance(f, list) else f for f in filters],
                    [tuple(c) if isinstance(c, list) else c for c in char_filters],
                )
        return meta


def list_segs(index_dir: str) -> list[int]:
    """Current segment ids (post-merge survivors) from the store layout.

    A segment listed in a committed merge manifest's ``merged_from`` is
    dead even if its files still exist on disk (crash between manifest
    rename and source-dir delete): its docs live on in the merged segment,
    so including it would double-count hits and inflate df and N.
    ``reconcile`` reclaims the space; this read path is correct either way.
    """
    root = os.path.join(index_dir, "segments")
    if not os.path.isdir(root):
        return []
    dead = merged_away_segs(index_dir)
    return sorted(
        s
        for n in os.listdir(root)
        if n.startswith("seg=")
        and os.path.exists(os.path.join(root, n, "postings.parquet"))
        and (s := int(n.split("=", 1)[1])) not in dead
        # a MERGED-namespace segment is live only once its merge manifest
        # committed: a crash between the segment-file renames and the
        # manifest rename leaves files whose docs still live in the (then
        # still-live) source segments — counting both doubles every doc
        and (s < MERGED_SEG_BASE or merge_manifest(index_dir, s) is not None)
    )


def reconcile(index_dir: str) -> list[int]:
    """Delete on-disk segment dirs already consumed by a committed merge
    (crash-leftovers), plus merged-namespace dirs whose merge never
    committed (crash BEFORE the manifest rename — their docs still live in
    the sources). Returns the reclaimed segment ids. Failures raise — a
    silently-surviving dir would be re-reclaimed next call anyway, but the
    caller should know. Do not run concurrently with an in-flight merge:
    its not-yet-committed output dir would be reclaimed."""
    import shutil

    root = os.path.join(index_dir, "segments")
    reclaimed = []
    if not os.path.isdir(root):
        return reclaimed
    for s in merged_away_segs(index_dir):
        d = seg_dir(index_dir, s)
        if os.path.isdir(d):
            shutil.rmtree(d)
            reclaimed.append(s)
    for n in os.listdir(root):
        if not n.startswith("seg="):
            continue
        s = int(n.split("=", 1)[1])
        if s >= MERGED_SEG_BASE and merge_manifest(index_dir, s) is None:
            shutil.rmtree(os.path.join(root, n))
            reclaimed.append(s)
    return reclaimed


def postings_glob(index_dir: str) -> list[str]:
    """Explicit postings file list for the CURRENT (manifest-reconciled)
    segments — not a filesystem glob, which would double-read segments a
    crashed merge left behind."""
    return [os.path.join(seg_dir(index_dir, s), "postings.parquet") for s in list_segs(index_dir)]


def docs_glob(index_dir: str) -> list[str]:
    return [os.path.join(seg_dir(index_dir, s), "docs.parquet") for s in list_segs(index_dir)]


@dataclass(frozen=True)
class CommitState:
    """What an open reader depends on, as committed on disk: the raw
    ``index_meta.json`` (the settings), the live segment list and each live
    segment's postings file identity (inode, mtime), so a partition a
    resumed build rewrote under the same id is a new segment. A bulk,
    forcemerge or streaming batch — from any process — changes the segment
    list, a settings change the meta, so comparing states is the reader's
    staleness test; a delete changes neither and reaches an open reader
    through each segment's live-doc mask."""

    meta: bytes
    segs: tuple
    postings: tuple


def commit_state(index_dir: str) -> CommitState:
    with open(meta_path(index_dir), "rb") as f:
        meta = f.read()
    while True:
        segs = list_segs(index_dir)
        try:
            files = [os.stat(os.path.join(seg_dir(index_dir, s), "postings.parquet")) for s in segs]
        except FileNotFoundError:
            continue  # a merge retired a listed segment: list again
        return CommitState(meta, tuple(segs), tuple((f.st_ino, f.st_mtime_ns) for f in files))
