"""Engine facade: the ES-client-shaped surface over the whole stack.

One object ties the layers together the way the reference's REST API does
(``server/src/main/java/org/elasticsearch/rest/action/``): index lifecycle
(create with mappings/analyzer → bulk → refresh-equivalent commit), the
search body (query DSL + aggs + sort + pagination + highlight), document
ops, analysis introspection, suggesters, and maintenance (merge, reindex,
delete_by_query). A user of the reference maps calls 1:1:

    es = Engine(spark, root="/data/indices")
    es.create_index("pages", mappings={...}, analyzer="standard")
    es.bulk("pages", docs_df)                    # POST /pages/_bulk
    es.search("pages", {"query": {...}, "aggs": {...}})   # POST /pages/_search
    es.count("pages", {"term": {"lang": "en"}})  # GET /pages/_count
    es.analyze("text to split")                   # GET /_analyze
    es.suggest("pages", "spakr")                  # term suggester
    es.explain("pages", ["spark"], "url1")        # GET /pages/_explain
    es.delete_by_query("pages", {"term": ...})    # POST /_delete_by_query
    es.forcemerge("pages")                        # POST /_forcemerge

Fulltext queries in ``search`` run against the INDEX (postings + WAND);
everything else in the body (filters, aggs, sort) runs on the live docs
view — the same split as the reference's query-then-fetch.
"""

from __future__ import annotations

import functools
import heapq
import itertools
import json
import os
import re
import shutil
import threading
import time
import uuid
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from .functions import analysis
from .operators import ops as ops_mod
from .operators.merge import merge_index
from .operators.phrase import highlight as highlight_fn
from .operators.postings import build_index
from .operators.suggest import explain as explain_fn
from .operators.suggest import term_suggest
from .operators.topk import (
    IndexReader, edit_distances, hits_frame, search_term_docs, search_topk,
)
from .plans import aggs as aggs_mod
from .plans import dsl
from .sources import index_store as store


def render_template(source: str, params: dict) -> str:
    """Mustache-subset renderer for search templates (the reference's
    ``modules/lang-mustache``): ``{{var}}`` substitution (strings inserted
    JSON-escaped, non-strings as JSON), conditional sections
    ``{{#var}}…{{/var}}`` / inverted ``{{^var}}…{{/var}}`` (kept when the
    param is truthy / falsy), and ``{{#toJson}}var{{/toJson}}``."""
    import json
    import re

    s = re.sub(
        r"\{\{#toJson\}\}\s*([\w.]+)\s*\{\{/toJson\}\}",
        lambda m: json.dumps(_tpl_get(params, m.group(1))),
        source,
    )
    # {{#join}}arrayvar{{/join}} — comma-join (CustomMustacheFactory's
    # JoinerTemplateFunction; lang_mustache/25_custom_functions.yml)
    s = re.sub(
        r"\{\{#join\}\}\s*([\w.]+)\s*\{\{/join\}\}",
        lambda m: ",".join(str(x) for x in (_tpl_get(params, m.group(1)) or [])),
        s,
    )
    def truthy(v):
        # Mustache section truthiness: false / missing / empty list skip
        # the section; 0 RENDERS it (Java mustache numbers are truthy —
        # the aggs-only {"size": 0} idiom depends on this)
        return not (v is None or v is False
                    or (isinstance(v, (list, str, dict)) and not v))

    prev = None
    while prev != s:
        prev = s
        s = re.sub(
            # 'url' is a template FUNCTION, not a param section — leave its
            # block for the post-substitution encode pass
            r"\{\{#(?!url\}\})([\w.]+)\}\}(.*?)\{\{/\1\}\}",
            lambda m: m.group(2) if truthy(_tpl_get(params, m.group(1))) else "",
            s, flags=re.S,
        )
        s = re.sub(
            r"\{\{\^([\w.]+)\}\}(.*?)\{\{/\1\}\}",
            lambda m: "" if truthy(_tpl_get(params, m.group(1))) else m.group(2),
            s, flags=re.S,
        )

    def var_of(escape_json: bool):
        def var(m):
            v = _tpl_get(params, m.group(1))
            if v is None:
                v = ""
            if not escape_json:
                return v if isinstance(v, str) else json.dumps(v)
            return json.dumps(v)[1:-1] if isinstance(v, str) else json.dumps(v)
        return var

    # {{#url}}…{{/url}} — substitute inner vars RAW (no JSON escaping: the
    # encoder sees the literal param text, UrlEncoderTemplateFunction), then
    # percent-encode; runs before the JSON-escaped pass
    import urllib.parse

    def _java_urlencode(v: str) -> str:
        # java.net.URLEncoder.encode (what CustomMustacheFactory calls):
        # space → '+', '*' stays bare, '~' → %7E — not RFC-3986 quote()
        return urllib.parse.quote_plus(v, safe="*").replace("~", "%7E")

    s = re.sub(
        r"\{\{#url\}\}(.*?)\{\{/url\}\}",
        lambda m: _java_urlencode(
            re.sub(r"\{\{([\w.]+)\}\}", var_of(False), m.group(1))),
        s, flags=re.S,
    )
    return re.sub(r"\{\{([\w.]+)\}\}", var_of(True), s)


# (percolate candidate-doc padding lives with the percolator now —
# operators/percolate._query_fields / _pad_fields)


def _fast_path_fields(kind: str, spec) -> set[str]:
    """Fields an index fast-path query reads: the one key of a match /
    match_phrase / match_phrase_prefix / intervals body, every field a
    span tree names; empty for any other kind."""
    if kind in ("match", "match_phrase", "match_phrase_prefix", "intervals",
                "span_term", "span_gap"):
        return set(spec)
    if kind == "span_multi":
        (_, inner), = spec["match"].items()
        return set(inner)
    if not kind.startswith("span_"):
        return set()
    subs = list(spec.get("clauses", [])) + [
        spec[k] for k in ("match", "include", "exclude", "big", "little", "query") if k in spec]
    return set().union(*(_fast_path_fields(*next(iter(c.items()))) for c in subs))


class _IndexText:
    """An Engine index's ``text`` field as ``dsl.SearchContext.index``: the
    index's analyzer, its postings BM25, df and term dictionary, its
    constant-score multi-term leaves (a doc-id union of the expanded
    terms) and its positional leaves (``Engine._index_hits``). A score
    frame holds every matching live doc of the reader's segments, one row
    per doc, built on the driver with no Spark job."""

    def __init__(self, engine: "Engine", reader: IndexReader):
        self.engine = engine
        self.reader = reader

    def analyze(self, text: str) -> list[str]:
        return analysis.analyze(text, self.reader.meta.analyzer)

    def doc_freqs(self, terms: list[str]) -> dict[str, int]:
        return {t: df for t, (_, df) in self.reader.term_weights(terms).items()}

    def doc_count(self) -> int:
        return self.reader.doc_count

    def bm25(self, terms: list[str], need: int, boost: float) -> DataFrame:
        r = self.reader
        hits = search_topk(
            self.engine.spark, r.index_dir, terms, k=r.doc_count,
            # "and" skips the segments when a term is missing from the index
            operator="and" if need == len(terms) else "or", minimum_should_match=need,
            mode="naive", fetch=False, reader=r, fields=("url",))
        return hits.select(F.col("url").alias("__key"), (F.col("score") * boost).alias("_score"),
                           F.col("n_terms_matched").alias("_matched"))

    def multi_term(self, kind: str, value: str, boost: float, fuzziness: int) -> DataFrame:
        if kind == "prefix":
            # the constant-score rewrite: every dictionary term of the prefix
            hits = search_term_docs(self.reader, ("url",), prefix=value)
        else:
            # the top-terms rewrite: the 50 closest terms (max_expansions),
            # ties in term order
            near = self.reader.expand_terms(kind, value, None, fuzziness=fuzziness)
            terms = [t for _, t in heapq.nsmallest(50, zip(edit_distances(value, near, fuzziness), near))]
            hits = search_term_docs(self.reader, ("url",), terms)
        return hits.select(F.col("url").alias("__key"), F.lit(float(boost)).alias("_score"))

    def positional(self, q: dict, boost: float) -> DataFrame:
        hits = self.engine._index_hits(self.reader, q, self.reader.doc_count, fetch=False)
        return hits.select(F.col("url").alias("__key"), (F.col("score") * boost).alias("_score"))


def _tpl_get(params: dict, dotted: str):
    """Mustache dotted-name resolution ({{obj.field}})."""
    cur = params
    for part in dotted.split("."):
        if not isinstance(cur, dict) or part not in cur:
            return None
        cur = cur[part]
    return cur


class _Pin(NamedTuple):
    """An open pin (``Engine._pin``); ``keep_alive`` in seconds."""

    index: str
    reader: IndexReader
    dir: str
    docs: list[str]
    keep_alive: float


def _pin_dirs(index_dir: str) -> list[str]:
    root = os.path.join(index_dir, "pins")
    return [os.path.join(root, n) for n in os.listdir(root)] if os.path.isdir(root) else []


def _expiry(pin_dir: str) -> float:
    """A pin's expiry (epoch seconds) from its ``pin.json``. A pin with none
    is being opened, or was left half-open by a crash: it lapses a minute
    after its directory last changed; a reaped one has lapsed."""
    try:
        with open(os.path.join(pin_dir, "pin.json")) as f:
            return json.load(f)["expires"]
    except (OSError, ValueError):
        try:
            return os.path.getmtime(pin_dir) + 60.0
        except OSError:
            return 0.0


def _store_files(index_dir: str):
    """The index's files, less ``pins/`` (hard links to files counted once
    already, or to files a merge retired)."""
    for base, dirs, files in os.walk(index_dir):
        if base == index_dir and "pins" in dirs:
            dirs.remove("pins")
        yield from (os.path.join(base, fn) for fn in files)


def _renew(pin_dir: str, keep_alive: float) -> None:
    """Set a pin's expiry to ``keep_alive`` seconds from now (``pin.json``
    replaced whole, so a reader never sees half of it)."""
    tmp = os.path.join(pin_dir, f".{uuid.uuid4().hex}")
    with open(tmp, "w") as f:
        json.dump({"expires": time.time() + keep_alive}, f)
    os.replace(tmp, os.path.join(pin_dir, "pin.json"))


class Engine:
    def __init__(self, spark: SparkSession, root: str = "/tmp/es_spark_indices"):
        self.spark = spark
        self.root = root
        self._pits: dict[str, _Pin] = {}  # pin id → open pin (PITs, scrolls)
        self._scrolls: dict[str, dict] = {}  # pin id → scroll cursor state
        self._seq = itertools.count(1)  # monotonic ids (ad-hoc names)
        self._readers: dict[str, IndexReader] = {}  # index dir → open reader
        self._readers_lock = threading.Lock()
        os.makedirs(root, exist_ok=True)
        self._load_stored_scripts()  # re-register {"id": ...} script refs
        self._apply_cluster_settings(self.get_cluster_settings())

    # ---- pins: point in time, scroll and the async partial reduce ---------

    def _pin(self, index: str, segs=None, keep_alive="1m") -> str:
        """Pin ``segs`` (None: all) of one index as of now — the
        reference's ``ReaderContext`` — and return its id, which a search
        body names as ``{"pit": {"id": ...}}``. Beside ``IndexReader.pin``,
        ``<index>/pins/<id>/`` holds hard links of the pinned docs files and
        one tombstone file of the reader's live-doc masks, so a Spark plan
        sees the reader's live set, also after a merge; and ``pin.json``."""
        concrete = self.resolve(index)
        if len(concrete) != 1:
            raise ValueError(f"a pin needs exactly one concrete index, got {concrete}")
        d = self._dir(concrete[0])
        self._reap_pins(d)
        reader = self._reader(concrete[0]).pin(segs)
        if not reader.segs:
            raise ValueError(f"index has no segments: {concrete[0]}")
        pid = uuid.uuid4().hex
        pin_dir = os.path.join(d, "pins", pid)
        os.makedirs(pin_dir)
        alive = self._ilm_age(keep_alive)
        _renew(pin_dir, alive)
        docs = ops_mod.pin_files([os.path.join(store.seg_dir(d, s), "docs.parquet")
                                  for s in reader.segs], pin_dir)
        store.write_tombstones(os.path.join(pin_dir, "tombstones.parquet"), np.concatenate(
            [reader.deleted(s) for s in reader.segs]))
        self._pits[pid] = _Pin(concrete[0], reader, pin_dir, docs, alive)
        return pid

    def _use(self, pid: str) -> _Pin:
        """The open pin ``pid``, its expiry renewed by its keep_alive; a
        lapsed pin is released and refused."""
        pin = self._pits.get(pid)
        if pin is None or _expiry(pin.dir) < time.time():
            self._release(pid)
            raise ValueError(f"point in time {pid} is unknown, closed or lapsed "
                             "(unused past its keep_alive)")
        _renew(pin.dir, pin.keep_alive)
        return pin

    def _release(self, pid: str) -> bool:
        """Close pin ``pid`` and its scroll cursor; False when unknown."""
        pin = self._pits.pop(pid, None)
        self._scrolls.pop(pid, None)
        if pin is not None:
            shutil.rmtree(pin.dir, ignore_errors=True)
        return pin is not None

    def _reap_pins(self, index_dir: str) -> None:
        """Remove the lapsed pins of an index, whichever Engine opened them
        (also one dropped with its pins open)."""
        now = time.time()
        for pin_dir in _pin_dirs(index_dir):
            if _expiry(pin_dir) < now:
                shutil.rmtree(pin_dir, ignore_errors=True)
        for pid in [p for p, pin in list(self._pits.items()) if not os.path.isdir(pin.dir)]:
            self._release(pid)

    def open_pit(self, index: str, keep_alive: str = "1m") -> dict:
        """POST /{index}/_pit: pin the index (``_pin``). ``keep_alive`` is
        honoured: each search renews it; a PIT unused for longer is
        refused, and reaped at the next pin open or forcemerge."""
        return {"id": self._pin(index, keep_alive=keep_alive), "keep_alive": keep_alive}

    def close_pit(self, pit_id: str) -> dict:
        return {"succeeded": self._release(pit_id)}

    # ---- scroll cursors (``search/Scroll.java``, ``scroll/10_basic.yml``):
    # a pin plus the last page's sort tuple; each page is the search over
    # the pin with keyset (search_after) continuation. -----

    def search_scroll(self, index: str, body: dict, scroll: str = "1m") -> dict:
        """GET /{index}/_search?scroll=...: open a cursor, return page 1.
        Response: {"_scroll_id", "hits": [Row...]} — pages are size-bounded
        (default 10), so the per-page collect is the reference's own
        response materialization, not a scale hazard. ``scroll`` is the
        cursor's keep_alive, honoured as ``open_pit``'s."""
        base = dict(body)
        # _source is applied per PAGE (after the cursor reads its sort
        # values) — the search's projection would drop non-envelope sort
        # columns and break keyset continuation
        src_spec = base.pop("_source", None)
        # ES parses each key of a multi-key sort object as its own sort.
        # _doc order ≈ the stable doc key (url) in this engine, in the
        # requested direction; _shard_doc (the PIT tiebreaker) maps the
        # same way. Exact-name match only: a FIELD named n_docs keeps its name
        sort = []
        for s in base.get("sort") or ["_doc"]:
            for f, spec in s.items() if isinstance(s, dict) else [(s, None)]:
                if f in ("_doc", "_shard_doc"):
                    spec = spec.get("order") if isinstance(spec, dict) else spec
                    f, spec = "url", spec or "asc"
                sort.append(f if spec is None else {f: spec})
        sort_fields = [s if isinstance(s, str) else next(iter(s)) for s in sort]
        if "url" not in sort_fields:
            # tie-break on the doc key so keyset pagination never stalls on
            # duplicate sort values (FieldSortBuilder's implicit shard-doc)
            sort.append({"url": "asc"})
            sort_fields.append("url")
        base["sort"] = sort
        sid = self._pin(index, keep_alive=scroll)
        self._scrolls[sid] = {"body": base, "fields": sort_fields, "after": None, "src": src_spec}
        return self.scroll(sid)

    def scroll(self, scroll_id: str) -> dict:
        """POST /_search/scroll — next page for an open cursor."""
        st = self._scrolls.get(scroll_id)
        if st is None:
            raise ValueError(f"unknown or cleared scroll id: {scroll_id}")
        body = {**st["body"], "pit": {"id": scroll_id}}
        if st["after"] is not None:
            body["search_after"] = st["after"]
        hits = self._search_impl(self._pits[scroll_id].index, body)["hits"]
        if st.get("src") is not None:
            # sort fields ride the envelope (ES returns them per hit) so the
            # cursor can read them even when _source drops the columns
            hits = self._source_filter(hits, st["src"],
                                       extra_meta=set(st["fields"]))
        rows = hits.collect()
        if rows:
            st["after"] = [rows[-1][f] for f in st["fields"]]
        return {"_scroll_id": scroll_id, "hits": rows}

    def clear_scroll(self, scroll_id: str) -> dict:
        """DELETE /_search/scroll — drop the cursor and its pin."""
        return {"succeeded": scroll_id in self._scrolls and self._release(scroll_id)}

    def _reader(self, index: str) -> IndexReader:
        """The open reader of a concrete index, kept across searches and
        reopened when the index's commit state on disk changed (any write,
        from this or another process — see ``IndexReader``)."""
        d = self._dir(index)
        state = store.commit_state(d)
        with self._readers_lock:
            r = self._readers.get(d)
            if r is None:
                r = self._readers[d] = IndexReader(self.spark, d, state)
            elif r.state != state:
                r = self._readers[d] = r.reopen(state)
        return r

    def _dir(self, index: str) -> str:
        if ":" in index:  # cluster-qualified (CCS) → the remote's storage
            cluster, ix = index.split(":", 1)
            return os.path.join(self._remote_root(cluster), ix)
        return os.path.join(self.root, index)

    # ---- index lifecycle --------------------------------------------------

    # ---- index templates ---------------------------------------------------

    def put_component_template(self, name: str, settings: dict) -> dict:
        """PUT /_component_template/{name} (``cluster/metadata/
        ComponentTemplate.java``): a named settings block that composable
        index templates pull in via ``composed_of``."""
        import json

        path = os.path.join(self.root, "_component_templates.json")
        all_c = {}
        if os.path.exists(path):
            with open(path) as f:
                all_c = json.load(f)
        all_c[name] = settings or {}
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(all_c, f)
        os.replace(tmp, path)
        return {"acknowledged": True}

    def _component_templates(self) -> dict:
        import json

        path = os.path.join(self.root, "_component_templates.json")
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
        return {}

    def put_index_template(
        self,
        name: str,
        index_patterns: list[str],
        priority: int = 0,
        settings: dict | None = None,
        composed_of: list[str] | None = None,
    ) -> dict:
        """PUT /_index_template/{name} (``server/.../cluster/metadata/
        ComposableIndexTemplate.java``): glob patterns → create_index
        settings (analyzer / analyzer_filters / num_partitions /
        index_sort). Highest-priority matching template applies at
        create_index / first write of a data-stream generation.
        ``composed_of`` layers component templates in list order, the
        template's own settings last (the reference's merge order)."""
        import json

        if composed_of:
            comps = self._component_templates()
            if missing := [c for c in composed_of if c not in comps]:
                raise ValueError(f"unknown component templates: {missing}")
        path = os.path.join(self.root, "_index_templates.json")
        all_t = {}
        if os.path.exists(path):
            with open(path) as f:
                all_t = json.load(f)
        all_t[name] = {
            "index_patterns": list(index_patterns),
            "priority": int(priority),
            "settings": settings or {},
            "composed_of": list(composed_of or []),
        }
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(all_t, f)
        os.replace(tmp, path)
        return {"acknowledged": True}

    def _match_template(self, index: str) -> dict | None:
        import fnmatch
        import json

        path = os.path.join(self.root, "_index_templates.json")
        if not os.path.exists(path):
            return None
        with open(path) as f:
            all_t = json.load(f)
        best = None
        for t in all_t.values():
            if any(fnmatch.fnmatch(index, p) for p in t["index_patterns"]):
                if best is None or t["priority"] > best["priority"]:
                    best = t
        if best and best.get("composed_of"):
            comps = self._component_templates()
            merged: dict = {}
            for c in best["composed_of"]:
                merged.update(comps.get(c, {}))
            merged.update(best["settings"])  # own settings win
            best = {**best, "settings": merged}
        return best

    def create_index(
        self,
        index: str,
        analyzer: str | None = None,
        analyzer_filters: list | None = None,
        num_partitions: int | None = None,
        index_sort: tuple | None = None,
        num_shards: int | None = None,
    ) -> None:
        """PUT /{index} — registers settings (including ``index.sort``);
        the physical build happens on the first bulk (segments are created
        per bulk batch). Settings not given explicitly (left None) come
        from the highest-priority matching index template, then the
        engine defaults — an explicitly passed value always wins."""
        tmpl = self._match_template(index)
        s = tmpl["settings"] if tmpl else {}
        if analyzer is None:
            analyzer = s.get("analyzer", "standard")
        if analyzer_filters is None:
            analyzer_filters = s.get("analyzer_filters")
        if num_partitions is None:
            num_partitions = int(s.get("num_partitions", 8))
        if index_sort is None and "index_sort" in s:
            index_sort = tuple(s["index_sort"])
        if num_shards is None and "number_of_shards" in s:
            num_shards = int(s["number_of_shards"])
        if analyzer_filters:
            analysis.register_analyzer(index + "__analyzer", analyzer, analyzer_filters)
            analyzer = index + "__analyzer"
        d = self._dir(index)
        os.makedirs(d, exist_ok=True)
        cfg = analysis.ANALYZER_CONFIGS.get(analyzer)
        meta = store.IndexMeta(
            analyzer=analyzer, num_partitions=num_partitions,
            analyzer_config=list(cfg) if cfg else None,
            index_sort=list(index_sort) if index_sort else None,
            num_shards=num_shards,
        )
        meta.save(d)

    def delete_index(self, index: str) -> None:
        d = self._dir(index)
        if os.path.islink(d):  # mounted searchable snapshot: unlink only,
            os.unlink(d)      # the repository copy is not ours to delete
        else:
            shutil.rmtree(d, ignore_errors=True)

    # ---- aliases / rollover / snapshots -----------------------------------

    # ---- cluster settings ---------------------------------------------------

    def _cluster_settings_path(self) -> str:
        return os.path.join(self.root, "_cluster_settings.json")

    def put_cluster_settings(self, body: dict) -> dict:
        """``PUT /_cluster/settings`` (persistent/transient flat keys).
        Dynamic settings apply immediately; currently actioned:
        ``search.allow_expensive_queries`` (SearchService.java:165 — gates
        prefix/wildcard/regexp/fuzzy/script/script_score at the exact
        points the reference does). Other keys persist verbatim."""
        import json

        settings = self.get_cluster_settings()
        for scope in ("persistent", "transient"):
            for k, v in (body.get(scope) or {}).items():
                if v is None:
                    settings.pop(k, None)
                else:
                    settings[k] = v
        tmp = self._cluster_settings_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(settings, f)
        os.replace(tmp, self._cluster_settings_path())
        if "search.allow_expensive_queries" not in settings:
            dsl.ALLOW_EXPENSIVE_QUERIES = True  # null-reset restores default
        self._apply_cluster_settings(settings)
        return {"acknowledged": True, "persistent": settings, "transient": {}}

    def get_cluster_settings(self) -> dict:
        import json

        try:
            with open(self._cluster_settings_path()) as f:
                return json.load(f)
        except (FileNotFoundError, ValueError):
            return {}

    def _apply_cluster_settings(self, settings: dict) -> None:
        # only an EXPLICIT setting touches the module-scoped flag: a second
        # Engine over a root with no _cluster_settings.json (e.g. the remote
        # Engine resolve() builds for "cluster:index" names) must not reset
        # a gate another engine's put_cluster_settings persisted
        if "search.allow_expensive_queries" in settings:
            v = settings["search.allow_expensive_queries"]
            dsl.ALLOW_EXPENSIVE_QUERIES = str(v).lower() != "false"

    # ---- remote clusters (cross-cluster search) ----------------------------

    def _remotes_path(self) -> str:
        return os.path.join(self.root, "_remote_clusters.json")

    def put_remote_cluster(self, name: str, root: str) -> dict:
        """``PUT /_cluster/settings`` ``cluster.remote.<name>.seeds`` analog
        (``server/.../transport/RemoteClusterService.java``): register a
        remote cluster under ``name``. Here a "cluster" is another engine
        root (in production: another warehouse path / catalog the same
        Spark application can read), so CCS needs no transport layer — the
        remote's segment files are directly readable and every per-index
        frame stays a lazy scan of that cluster's storage."""
        import json

        if ":" in name or "," in name:
            raise ValueError(f"invalid remote cluster name: {name!r}")
        remotes = self.get_remote_clusters()
        remotes[name] = {"root": root}
        tmp = self._remotes_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(remotes, f)
        os.replace(tmp, self._remotes_path())
        return {"acknowledged": True}

    def get_remote_clusters(self) -> dict:
        """GET /_remote/info analog: {name: {"root": path}}."""
        import json

        if os.path.exists(self._remotes_path()):
            with open(self._remotes_path()) as f:
                return json.load(f)
        return {}

    def _remote_root(self, cluster: str) -> str:
        remotes = self.get_remote_clusters()
        if cluster not in remotes:
            raise ValueError(
                f"unknown remote cluster {cluster!r}; registered: {sorted(remotes)}"
            )
        return remotes[cluster]["root"]

    def _aliases_path(self) -> str:
        return os.path.join(self.root, "_aliases.json")

    def _load_aliases(self) -> dict:
        import json

        p = self._aliases_path()
        if os.path.exists(p):
            with open(p) as f:
                return json.load(f)
        return {}

    def _save_aliases(self, aliases: dict) -> None:
        import json

        tmp = self._aliases_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(aliases, f)
        os.replace(tmp, self._aliases_path())

    def update_aliases(self, actions: list[dict]) -> dict:
        """POST /_aliases (``TransportIndicesAliasesAction``): add / remove
        {alias, index}; an alias maps to a LIST of indices (search fans out
        via search_multi), with at most one ``is_write_index``."""
        aliases = self._load_aliases()
        for act in actions:
            (verb, spec), = act.items()
            a, idx = spec["alias"], spec["index"]
            entry = aliases.setdefault(a, {"indices": [], "write_index": None})
            if verb == "add":
                if idx not in entry["indices"]:
                    entry["indices"].append(idx)
                if spec.get("is_write_index"):
                    entry["write_index"] = idx
            elif verb == "remove":
                entry["indices"] = [i for i in entry["indices"] if i != idx]
                if entry["write_index"] == idx:
                    entry["write_index"] = None
                if not entry["indices"]:
                    aliases.pop(a, None)
            else:
                raise ValueError(f"unsupported alias action: {verb}")
        self._save_aliases(aliases)
        return {"acknowledged": True}

    def get_aliases(self) -> dict:
        return self._load_aliases()

    def resolve(
        self,
        name: str,
        *,
        ignore_unavailable: bool = False,
        allow_no_indices: bool = True,
        expand_wildcards: str = "open",
    ) -> list[str]:
        """Alias / concrete / wildcard / ``_all`` / comma-list /
        ``-exclusion`` / ``remote:index`` → concrete indices
        (``IndexNameExpressionResolver.java``). Wildcard patterns expand
        against live indices AND alias names, honoring the indices options:

        - ``expand_wildcards``: comma-set of open/closed/hidden/all/none —
          ``open`` (default) skips closed indices, dot-prefixed (hidden)
          names match only when the pattern itself starts with ``.`` or
          ``hidden`` is requested (the reference's implicit-hidden rule);
        - ``allow_no_indices``: a wildcard matching nothing raises unless
          true (the default, matching the reference's search default);
        - ``ignore_unavailable``: a missing CONCRETE name raises
          index_not_found_exception unless true;
        - ``-pattern`` after a wildcard removes matching names.

        Cross-cluster names (``TransportSearchAction``'s
        ``RemoteClusterIndices`` split) resolve the index part against the
        REMOTE cluster's alias table and stay ``cluster:``-qualified — the
        qualified form is what ``_dir`` maps to the remote root and what
        search responses surface as ``_index``."""
        import fnmatch

        ew = set(str(expand_wildcards).split(","))
        out: list[str] = []
        aliases = self._load_aliases()
        live: list[str] | None = None  # lazy: most calls are concrete names

        def _state_ok(i: str, blocks: dict) -> bool:
            is_closed = "closed" in blocks.get(i, [])
            if is_closed:
                return bool({"closed", "all"} & ew)
            return bool({"open", "all"} & ew)

        def _expand(pat: str) -> list[str]:
            nonlocal live
            if live is None:
                live = self.indices()
            blocks = self._blocks()
            hits = set()
            for i in live:
                if not fnmatch.fnmatchcase(i, pat):
                    continue
                if i.startswith(".") and not pat.startswith(".") and \
                        not ({"hidden", "all"} & ew):
                    continue
                if _state_ok(i, blocks):
                    hits.add(i)
            for a, spec in aliases.items():
                # a wildcard matching an alias NAME resolves to its indices,
                # but the expand_wildcards open/closed state still filters
                # the concrete targets (same rule as direct matches)
                if fnmatch.fnmatchcase(a, pat):
                    hits.update(i for i in spec["indices"]
                                if _state_ok(i, blocks))
            return sorted(hits)

        for part in name.split(","):
            part = part.strip()
            if not part:
                continue
            if ":" in part:
                cluster, ix = part.split(":", 1)
                remote = Engine(self.spark, self._remote_root(cluster))
                out.extend(
                    f"{cluster}:{c}" for c in remote.resolve(
                        ix, ignore_unavailable=ignore_unavailable,
                        allow_no_indices=allow_no_indices,
                        expand_wildcards=expand_wildcards)
                )
                continue
            if part.startswith("-") and out:
                out = [i for i in out if not fnmatch.fnmatchcase(i, part[1:])]
                continue
            if part in aliases:
                out.extend(i for i in aliases[part]["indices"] if i not in out)
                continue
            if "*" in part or part == "_all":
                if "none" in ew:
                    # expand_wildcards=none: the pattern is a literal name
                    if ignore_unavailable:
                        continue
                    raise ValueError(
                        f"index_not_found_exception: no such index [{part}] "
                        "(expand_wildcards=none)")
                matched = _expand("*" if part == "_all" else part)
                if not matched and not allow_no_indices:
                    raise ValueError(
                        f"index_not_found_exception: no such index [{part}] "
                        "(allow_no_indices=false)")
                out.extend(i for i in matched if i not in out)
                continue
            if live is None:
                live = self.indices()
            if part not in live:
                if ignore_unavailable:
                    continue
                raise ValueError(
                    f"index_not_found_exception: no such index [{part}]")
            out.append(part)
        return out

    def _write_index(self, name: str) -> str:
        aliases = self._load_aliases()
        if name in aliases:
            w = aliases[name]["write_index"] or (
                aliases[name]["indices"][-1] if aliases[name]["indices"] else None
            )
            if w is None:
                raise ValueError(f"alias {name} has no write index")
            return w
        return name

    def rollover(
        self,
        alias: str,
        max_docs: int | None = None,
        conditions_met: bool | None = None,
        **create_kw,
    ) -> dict:
        """POST /{alias}/_rollover (``TransportRolloverAction``): when the
        write index exceeds ``max_docs`` (or ``conditions_met`` is forced),
        create ``<alias>-NNNNNN`` as the new write index behind the alias."""
        cur = self._write_index(alias)
        n_docs = self.count(cur)
        rolled = conditions_met if conditions_met is not None else (
            max_docs is not None and n_docs >= max_docs
        )
        if not rolled:
            return {"rolled_over": False, "old_index": cur, "new_index": cur}
        base, _, suffix = cur.rpartition("-")
        nxt = (
            f"{base}-{int(suffix) + 1:06d}" if suffix.isdigit() and base
            else f"{cur}-000002"
        )
        meta = store.IndexMeta.load(self._dir(cur))
        create_kw.setdefault(
            "index_sort", tuple(meta.index_sort) if meta.index_sort else None
        )
        # the new generation inherits the FULL structure — dropping
        # num_shards silently de-sharded it and routed searches lost pruning
        create_kw.setdefault("num_shards", meta.num_shards)
        self.create_index(
            nxt, analyzer=meta.analyzer,
            num_partitions=meta.num_partitions, **create_kw,
        )
        self.update_aliases([
            {"add": {"alias": alias, "index": nxt, "is_write_index": True}},
            {"add": {"alias": alias, "index": cur}},
        ])
        return {"rolled_over": True, "old_index": cur, "new_index": nxt}

    def snapshot(self, index: str, repo_dir: str, snapshot: str) -> dict:
        """PUT /_snapshot/{repo}/{snap} (``SnapshotsService``): segments are
        immutable files, so a snapshot is a manifest + hard-linked copy —
        incremental by construction (same-inode files shared across
        snapshots, the reference's incremental-segment-reuse semantics)."""
        import json

        src = self._dir(index)
        dst = os.path.join(repo_dir, snapshot, index)
        if os.path.exists(dst):
            raise ValueError(f"snapshot {snapshot} already exists for {index}")
        n_files = 0
        for s in _store_files(src):
            d = os.path.join(dst, os.path.relpath(s, src))
            os.makedirs(os.path.dirname(d), exist_ok=True)
            try:
                os.link(s, d)  # hard link: incremental, O(1) space
            except OSError:
                shutil.copy2(s, d)
            n_files += 1
        with open(os.path.join(repo_dir, snapshot, f"{index}.snapshot.json"), "w") as f:
            json.dump({"index": index, "files": n_files, "state": "SUCCESS"}, f)
        return {"snapshot": snapshot, "index": index, "files": n_files, "state": "SUCCESS"}

    def restore(self, repo_dir: str, snapshot: str, index: str,
                rename_to: str | None = None) -> dict:
        """POST /_snapshot/{repo}/{snap}/_restore: materialize the snapshot
        as a (possibly renamed) index."""
        src = os.path.join(repo_dir, snapshot, index)
        if not os.path.isdir(src):
            raise ValueError(f"no snapshot {snapshot} for {index}")
        target = rename_to or index
        dst = self._dir(target)
        if os.path.exists(os.path.join(dst, "index_meta.json")):
            raise ValueError(f"index {target} already exists")
        shutil.copytree(src, dst, dirs_exist_ok=True)
        return {"restored": target, "snapshot": snapshot}

    def mount_snapshot(
        self, repo_dir: str, snapshot: str, index: str,
        renamed_index: str | None = None,
    ) -> dict:
        """POST /_snapshot/{repo}/{snap}/_mount (x-pack
        searchable-snapshots, ``SearchableSnapshots`` mounting the snapshot
        directory as a read-only Lucene Directory): serve searches DIRECTLY
        from the repository copy — a zero-copy symlink into the engine root
        plus a write block. No restore, no duplication; unmount =
        delete_index (removes only the link)."""
        name = renamed_index or index
        src = os.path.join(repo_dir, snapshot, index)
        if not os.path.isdir(src):
            raise ValueError(f"no snapshot {snapshot} for {index}")
        if name in self.indices():
            raise ValueError(f"index {name} already exists")
        os.symlink(os.path.abspath(src), self._dir(name), target_is_directory=True)
        self.add_block(name, "write")
        return {"mounted": name, "snapshot": snapshot, "zero_copy": True}

    # ---- SLM: snapshot lifecycle management (x-pack/plugin/slm) ----

    def _slm_path(self) -> str:
        return os.path.join(self.root, "_slm.json")

    def _slm_load(self) -> dict:
        import json

        if os.path.exists(self._slm_path()):
            with open(self._slm_path()) as f:
                return json.load(f)
        return {"policies": {}, "history": []}

    def _slm_save(self, state: dict) -> None:
        import json

        tmp = self._slm_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(state, f)
        os.replace(tmp, self._slm_path())

    def put_slm_policy(self, name: str, policy: dict) -> dict:
        """PUT /_slm/policy/{name} (``x-pack/plugin/slm``,
        ``TransportPutSnapshotLifecycleAction`` /
        ``SnapshotLifecyclePolicy.java``): validates and stores the policy —
        ``name`` (date-math snapshot name pattern), ``repository``,
        ``config.indices``, ``retention`` (expire_after / min_count /
        max_count). ``schedule`` is stored verbatim; this engine has no
        daemon, so ticks are explicit (`execute_slm_policy`), like the
        reference's `_execute` API."""
        for req in ("name", "repository"):
            if req not in policy:
                raise ValueError(f"SLM policy missing required field: {req}")
        if bad := set(policy.get("retention", {})) - {
            "expire_after", "min_count", "max_count"
        }:
            raise ValueError(f"unsupported SLM retention fields: {sorted(bad)}")
        st = self._slm_load()
        st["policies"][name] = policy
        self._slm_save(st)
        return {"acknowledged": True}

    def get_slm_policy(self, name: str | None = None) -> dict:
        """GET /_slm/policy[/{name}]."""
        st = self._slm_load()
        if name is None:
            return dict(st["policies"])
        if name not in st["policies"]:
            raise ValueError(f"unknown SLM policy: {name}")
        return st["policies"][name]

    def delete_slm_policy(self, name: str) -> dict:
        """DELETE /_slm/policy/{name} — the policy's snapshots stay
        (reference semantics: deleting a policy never deletes data)."""
        st = self._slm_load()
        if st["policies"].pop(name, None) is None:
            raise ValueError(f"unknown SLM policy: {name}")
        self._slm_save(st)
        return {"acknowledged": True}

    @staticmethod
    def _resolve_snapshot_name(pattern: str, now: float) -> str:
        """``<prefix-{now/d}>`` date-math (``IndexNameExpressionResolver``
        date-math subset): ``{now/d}`` → yyyy.MM.dd, ``{now/M}`` →
        yyyy.MM.01, ``{now/h}`` → yyyy.MM.dd-HH — the rounding units SLM
        docs use. Plain names (no ``<>``) pass through."""
        import datetime as _dt

        if not (pattern.startswith("<") and pattern.endswith(">")):
            return pattern
        body = pattern[1:-1]
        t = _dt.datetime.fromtimestamp(now, tz=_dt.timezone.utc)

        def sub(m):
            unit = m.group(1)
            if unit == "d":
                return t.strftime("%Y.%m.%d")
            if unit == "M":
                return t.strftime("%Y.%m.01")
            if unit == "h":
                return t.strftime("%Y.%m.%d-%H")
            raise ValueError(f"unsupported date-math rounding: {{now/{unit}}}")

        return re.sub(r"\{now/(\w)\}", sub, body)

    def execute_slm_policy(self, name: str, now: float) -> dict:
        """POST /_slm/policy/{name}/_execute
        (``TransportExecuteSnapshotLifecycleAction``): resolve the date-math
        snapshot name, snapshot every index matched by ``config.indices``
        (wildcards resolved against live indices), record the run in the
        SLM history store. ``now`` is the injectable clock (the reference's
        scheduler tick time)."""
        pol = self.get_slm_policy(name)
        snap = self._resolve_snapshot_name(pol["name"], now)
        pats = pol.get("config", {}).get("indices", ["*"])
        if isinstance(pats, str):
            pats = [pats]
        live = self.indices()
        targets = sorted(
            i for i in live
            if any(re.fullmatch(re.escape(p).replace(r"\*", ".*"), i) for p in pats)
        )
        if not targets:
            raise ValueError(f"SLM policy {name} matches no indices")
        for idx in targets:
            self.snapshot(idx, pol["repository"], snap)
        st = self._slm_load()
        st["history"].append(
            {"policy": name, "snapshot": snap, "time": float(now),
             "indices": targets, "state": "SUCCESS"}
        )
        self._slm_save(st)
        return {"snapshot_name": snap, "indices": targets}

    def execute_slm_retention(self, now: float) -> dict:
        """POST /_slm/_execute_retention (``SnapshotRetentionTask``): for
        each policy, delete its expired snapshots — older than
        ``expire_after`` — but always keep the ``min_count`` most recent;
        then trim oldest-first down to ``max_count``. Deletion removes the
        repository copy (hard-linked segment files shared with other
        snapshots survive via link counts — the reference's incremental-
        segment GC falls out of the filesystem here)."""
        st = self._slm_load()
        deleted: list[str] = []
        for pname, pol in st["policies"].items():
            ret = pol.get("retention") or {}
            if not ret:
                continue
            runs = sorted(
                (h for h in st["history"]
                 if h["policy"] == pname and h["state"] == "SUCCESS"),
                key=lambda h: h["time"],
            )
            min_count = int(ret.get("min_count", 0))
            max_count = ret.get("max_count")
            drop: list[dict] = []
            if "expire_after" in ret:
                cutoff = now - self._ilm_age(ret["expire_after"])
                expired = [h for h in runs if h["time"] < cutoff]
                keep_floor = max(min_count - (len(runs) - len(expired)), 0)
                # clamp: with fewer expired snapshots than the floor the
                # negative slice used to delete the ones min_count protects
                drop.extend(expired[: max(len(expired) - keep_floor, 0)])
            survivors = [h for h in runs if h not in drop]
            if max_count is not None and len(survivors) > int(max_count):
                drop.extend(survivors[: len(survivors) - int(max_count)])
            for h in drop:
                repo = st["policies"][pname]["repository"]
                path = os.path.join(repo, h["snapshot"])
                shutil.rmtree(path, ignore_errors=False)
                h["state"] = "DELETED"
                deleted.append(h["snapshot"])
        self._slm_save(st)
        return {"deleted": deleted}

    def get_slm_stats(self) -> dict:
        """GET /_slm/stats: taken/deleted counters from the history store."""
        st = self._slm_load()
        return {
            "snapshots_taken": sum(
                1 for h in st["history"] if h["state"] in ("SUCCESS", "DELETED")
            ),
            "snapshots_deleted": sum(
                1 for h in st["history"] if h["state"] == "DELETED"
            ),
            "policy_count": len(st["policies"]),
        }

    def indices(self) -> list[str]:
        return sorted(
            n for n in os.listdir(self.root)
            if os.path.exists(os.path.join(self.root, n, "index_meta.json"))
        )

    def bulk(self, index: str, docs: DataFrame, version_type: str | None = None) -> dict:
        """POST /{index}/_bulk with implicit op=index. `docs` needs columns
        url, text (+ optional warc_ts, lang). First bulk builds the index;
        later bulks are op batches (delete+add upserts) applied through the
        open reader (``ops.apply_ops``). An alias routes to its write index
        (is_write_index semantics). ``version_type="external"`` with a
        ``version`` column enables the reference's optimistic-concurrency
        contract: stale versions are skipped and counted as
        version_conflicts."""
        index = self._write_index(index)
        self._check_write_allowed(index)
        if version_type == "external" and "version" not in docs.columns:
            # validate on the FIRST bulk too — the build path would otherwise
            # silently index with versioning disabled
            raise ValueError("version_type=external requires a 'version' column")
        d = self._dir(index)
        cols = docs.columns
        if "warc_ts" not in cols:
            docs = docs.withColumn("warc_ts", F.current_timestamp())
        if "lang" not in cols:
            docs = docs.withColumn("lang", F.lit("unk"))
        if not store.list_segs(d):
            meta = store.IndexMeta.load(d)
            return build_index(
                self.spark, docs, d,
                num_partitions=meta.num_partitions,
                analyzer=meta.analyzer,
                index_sort=tuple(meta.index_sort) if meta.index_sort else None,
                num_shards=meta.num_shards,
            )
        extra = [c for c in docs.columns if c not in ("url", "text", "lang", "warc_ts")]
        ops_df = docs.select(
            "url", F.lit("index").alias("op"), "text", "lang", "warc_ts", *extra
        )
        return ops_mod.apply_ops(self.spark, d, ops_df, version_type=version_type,
                                 reader=self._reader(index))

    def delete(self, index: str, urls: list[str]) -> dict:
        """DELETE /{index}/_doc/{id} (bulk form): one tombstone batch of the
        urls' live docs, with no Spark job."""
        index = self._write_index(index)
        self._check_write_allowed(index)
        ops_df = hits_frame(self.spark, pd.DataFrame({"url": list(urls), "op": "delete"}),
                            StructType([StructField("url", StringType()),
                                        StructField("op", StringType())]))
        return ops_mod.apply_ops(self.spark, self._dir(index), ops_df,
                                 reader=self._reader(index))

    def forcemerge(self, index: str, **kw) -> dict:
        """POST /{index}/_forcemerge — tiered compaction + delete expunge;
        first reaps the index's lapsed pins (``_reap_pins``)."""
        self._reap_pins(self._dir(index))
        return merge_index(self.spark, self._dir(index), **kw)

    # ---- index lifecycle management (x-pack/plugin/ilm) --------------------

    def _ilm_path(self) -> str:
        return os.path.join(self.root, "_ilm.json")

    def _ilm_load(self) -> dict:
        import json

        if os.path.exists(self._ilm_path()):
            with open(self._ilm_path()) as f:
                return json.load(f)
        return {"policies": {}, "managed": {}}

    def _ilm_save(self, state: dict) -> None:
        import json

        tmp = self._ilm_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(state, f)
        os.replace(tmp, self._ilm_path())

    @staticmethod
    def _ilm_age(spec) -> float:
        """`min_age`/`max_age` string → seconds ("7d", "30m", "45s", number)."""
        if isinstance(spec, (int, float)):
            return float(spec)
        unit = {"s": 1, "m": 60, "h": 3600, "d": 86400}.get(spec[-1])
        if unit is None:
            raise ValueError(f"unsupported ILM age unit in {spec!r}")
        return float(spec[:-1]) * unit

    def put_lifecycle_policy(self, name: str, policy: dict) -> dict:
        """PUT /_ilm/policy/{name} (``x-pack/plugin/ilm``,
        ``TransportPutLifecycleAction`` / ``TimeseriesLifecycleType.java``):
        phases hot/warm/delete with actions rollover (max_docs/max_age),
        readonly, forcemerge (max_num_segments), delete. Unsupported
        reference actions (shrink, searchable_snapshot, allocate, migrate)
        are rejected loudly — substrate concerns Spark storage replaces."""
        phases = policy.get("phases", {})
        if unknown := set(phases) - {"hot", "warm", "delete"}:
            raise ValueError(f"unsupported ILM phases: {sorted(unknown)}")
        allowed = {"rollover", "readonly", "forcemerge", "delete", "min_age"}
        for ph, body in phases.items():
            acts = set(body.get("actions", {})) | ({"min_age"} if "min_age" in body else set())
            if bad := acts - allowed:
                raise ValueError(f"unsupported ILM actions in {ph}: {sorted(bad)}")
        st = self._ilm_load()
        st["policies"][name] = policy
        self._ilm_save(st)
        return {"acknowledged": True}

    def apply_lifecycle(
        self,
        index: str,
        policy: str,
        rollover_alias: str | None = None,
        now: float | None = None,
    ) -> dict:
        """Attach a policy to an index (the ``index.lifecycle.name`` +
        ``index.lifecycle.rollover_alias`` settings). Phase clock starts
        now; ``now`` is injectable for tests — the reference's ILM service
        is likewise driven by an external clock tick."""
        import time as _t

        st = self._ilm_load()
        if policy not in st["policies"]:
            raise ValueError(f"unknown ILM policy: {policy}")
        st["managed"][index] = {
            "policy": policy,
            "rollover_alias": rollover_alias,
            "phase": "hot",
            "phase_time": now if now is not None else _t.time(),
            "readonly": False,
            "done": [],
        }
        self._ilm_save(st)
        return {"acknowledged": True}

    def get_lifecycle_policy(self, name: str | None = None) -> dict:
        """GET /_ilm/policy[/{name}]."""
        st = self._ilm_load()
        if name is None:
            return dict(st["policies"])
        if name not in st["policies"]:
            raise ValueError(f"unknown ILM policy: {name}")
        return st["policies"][name]

    def remove_lifecycle_policy(self, index: str) -> dict:
        """POST /{index}/_ilm/remove: detach ILM management (the index and
        its data stay; phase state is discarded)."""
        st = self._ilm_load()
        removed = st["managed"].pop(index, None) is not None
        self._ilm_save(st)
        return {"has_failures": False, "failed_indexes": [] if removed else [index]}

    def ilm_move_to_step(self, index: str, phase: str, now: float | None = None) -> dict:
        """POST /_ilm/move/{index} (simplified ``TransportMoveToStepAction``):
        force the index into a phase; the next ``ilm_step`` tick executes
        that phase's actions under the normal min_age rules (pass the phase
        clock via ``now`` to make it immediate)."""
        import time as _t

        st = self._ilm_load()
        if index not in st["managed"]:
            raise ValueError(f"index not ILM-managed: {index}")
        if phase not in ("hot", "warm", "delete", "complete"):
            raise ValueError(f"unknown ILM phase: {phase}")
        st["managed"][index]["phase"] = phase
        st["managed"][index]["phase_time"] = now if now is not None else _t.time()
        self._ilm_save(st)
        return {"acknowledged": True}

    def explain_lifecycle(self, index: str) -> dict:
        """GET /{index}/_ilm/explain: managed?, policy, phase, age."""
        import time as _t

        st = self._ilm_load()
        m = st["managed"].get(index)
        if not m:
            return {"index": index, "managed": False}
        return {
            "index": index, "managed": True, "policy": m["policy"],
            "phase": m["phase"], "age": _t.time() - m["phase_time"],
            "readonly": m["readonly"], "actions_done": list(m["done"]),
        }

    def ilm_step(self, now: float | None = None) -> list[dict]:
        """One ILM poll tick (``IndexLifecycleService.triggerPolicies`` —
        the reference runs this every ``indices.lifecycle.poll_interval``).
        Each managed index is evaluated independently: hot indices roll
        over when conditions are met (the rolled-FROM index advances to the
        next phase and the new write index picks up the policy in hot);
        warm runs readonly/forcemerge once ``min_age`` past rollover;
        delete drops the index and its alias membership. Control-plane
        only — per-index work (count/forcemerge/delete) is the same
        distributed ops the explicit APIs run. Returns the actions taken."""
        import time as _t

        now = now if now is not None else _t.time()
        st = self._ilm_load()
        actions: list[dict] = []
        for index in list(st["managed"]):
            m = st["managed"][index]
            policy = st["policies"][m["policy"]]
            phases = policy.get("phases", {})
            nxt = [p for p in ("warm", "delete") if p in phases]

            if m["phase"] == "hot":
                ro = phases.get("hot", {}).get("actions", {}).get("rollover")
                alias = m["rollover_alias"]
                if ro and alias and self._write_index(alias) == index:
                    met = False
                    if "max_docs" in ro and self.count(index) >= int(ro["max_docs"]):
                        met = True
                    if "max_age" in ro and now - m["phase_time"] >= self._ilm_age(ro["max_age"]):
                        met = True
                    if met:
                        res = self.rollover(alias, conditions_met=True)
                        new_ix = res["new_index"]
                        st["managed"][new_ix] = {
                            "policy": m["policy"], "rollover_alias": alias,
                            "phase": "hot", "phase_time": now,
                            "readonly": False, "done": [],
                        }
                        m["phase"] = nxt[0] if nxt else "complete"
                        m["phase_time"] = now
                        actions.append({"index": index, "action": "rollover",
                                        "new_index": new_ix})
                elif not ro and nxt:
                    # no rollover action (delete-only / warm-only policy):
                    # advance on the NEXT phase's min_age — the index used
                    # to stay "hot" forever
                    min_age = phases[nxt[0]].get("min_age", 0)
                    if now - m["phase_time"] >= self._ilm_age(min_age):
                        m["phase"] = nxt[0]
                        m["phase_time"] = now
                        actions.append({"index": index, "action": f"phase:{nxt[0]}"})

            elif m["phase"] == "warm":
                body = phases.get("warm", {})
                if now - m["phase_time"] >= self._ilm_age(body.get("min_age", 0)):
                    acts = body.get("actions", {})
                    if "readonly" in acts and "readonly" not in m["done"]:
                        m["readonly"] = True
                        m["done"].append("readonly")
                        actions.append({"index": index, "action": "readonly"})
                    if "forcemerge" in acts and "forcemerge" not in m["done"]:
                        self.forcemerge(index)
                        m["done"].append("forcemerge")
                        actions.append({"index": index, "action": "forcemerge"})
                    if set(acts) <= set(m["done"]):
                        # delete min_age counts from the SAME rollover epoch
                        # (reference: min_age is relative to rollover), so
                        # the phase clock is intentionally NOT reset here
                        m["phase"] = "delete" if "delete" in phases else "complete"

            elif m["phase"] == "delete" and "delete" in phases:
                body = phases["delete"]
                if now - m["phase_time"] >= self._ilm_age(body.get("min_age", 0)):
                    alias = m["rollover_alias"]
                    if alias:
                        self.update_aliases([
                            {"remove": {"alias": alias, "index": index}}
                        ])
                    self.delete_index(index)
                    del st["managed"][index]
                    actions.append({"index": index, "action": "delete"})

        self._ilm_save(st)
        return actions

    # ---- search -----------------------------------------------------------

    def _docs_view(self, index: str, pin: _Pin | None = None) -> DataFrame:
        """The live docs of ``index``, or of ``pin``: its docs files less
        its one tombstone file."""
        if pin is None:
            return ops_mod.live_docs(self.spark, self._dir(index))
        return ops_mod.mask_tombstones(self.spark, self.spark.read.parquet(*pin.docs),
                                       [os.path.join(pin.dir, "tombstones.parquet")])

    def _index_hits(self, reader: IndexReader, q: dict, k: int,
                    routing: str | None = None, offset: int = 0,
                    fields=(), fetch: bool = True) -> DataFrame | None:
        """The one index-leaf dispatcher: hits ``offset .. offset+k`` of the
        leaf ``q`` on the index's positional ``text`` field — match
        (``search_topk``), span_* (``search_spans``), match_phrase and
        match_phrase_prefix (``operators/phrase.py``) and intervals
        (``search_intervals_source``) — or None when the index cannot
        answer ``q`` (another field or kind). Text is analyzed by the
        index's analyzer and scored by its postings BM25; the stored
        ``fields`` ride the fetch. ``fetch=False`` (a match set, which
        needs only its keys) fetches ``url`` alone where match would also
        fetch ``lang`` and ``warc_ts``. ``routing`` keeps one shard's
        segments."""
        (kind, spec), = q.items()
        if _fast_path_fields(kind, spec) != {"text"}:
            return None
        opts = {"k": k, "routing": routing, "offset": offset, "fields": fields}
        if kind.startswith("span_"):
            from .operators.spans import search_spans

            return search_spans(reader, q, **opts)
        (_, qspec), = spec.items()
        if kind == "intervals":
            from .operators.intervals import search_intervals_source

            return search_intervals_source(reader, qspec, **opts)
        qspec = qspec if isinstance(qspec, dict) else {"query": qspec}
        if kind == "match":
            terms = analysis.analyze(qspec["query"], reader.meta.analyzer)
            if not fetch:
                opts["fields"] = ("url", *fields)
            return search_topk(
                self.spark, reader.index_dir, terms, operator=qspec.get("operator", "or"),
                minimum_should_match=dsl.resolve_msm(
                    qspec.get("minimum_should_match"), len(set(terms))),
                # WAND pays off only when k cuts the match set
                mode="wand" if offset + k < reader.doc_count else "naive",
                fetch=fetch, reader=reader, **opts)
        from .operators.phrase import search_phrase, search_phrase_prefix

        fn = search_phrase if kind == "match_phrase" else search_phrase_prefix
        return fn(reader, qspec["query"], slop=qspec.get("slop", 0), **opts)

    def _text_index(self, index: str, pin: _Pin | None = None) -> _IndexText | None:
        """``SearchContext.index`` over ``index``'s ``text`` field, read
        through ``pin``'s reader or the Engine's open one; None when the
        index has no meta yet (only the DSL can answer)."""
        if pin is not None:
            return _IndexText(self, pin.reader)
        if not os.path.exists(store.meta_path(self._dir(index))):
            return None
        return _IndexText(self, self._reader(index))

    def _context(self, index: str, docs: DataFrame, pin: _Pin | None = None) -> dsl.SearchContext:
        """The query context over ``docs``, a view of ``index``'s live docs
        (or ``pin``'s): key ``url``, the index's keyword normalizers and its
        text field."""
        return dsl.SearchContext(docs, "url", text_col="text",
                                 kw_norm=self._kw_normalizers(index),
                                 index=self._text_index(index, pin))

    def _matching(self, index: str, query: dict | None, docs: DataFrame | None = None,
                  pin: _Pin | None = None) -> DataFrame:
        """The rows of ``docs`` (default: the live docs view, or ``pin``'s)
        that ``query`` matches — the one answer to "which docs does this
        query match" for count and track_total_hits, aggs, validate_query,
        delete/update-by-query, reindex, datafeeds and vector tiles.
        A search's hits agree with it: text leaves on the index's ``text``
        field take their terms, df and scores from the index
        (``_IndexText``), computed by the driver-side query phase; every
        other clause compiles to a predicate over ``docs``. A query with no
        predicate (a scoring-only node, or a compound holding an index
        leaf) is a semi-join on its frame's keys (``dsl.matching``)."""
        docs = self._docs_view(index, pin) if docs is None else docs
        if not query or "match_all" in query:
            return docs
        return dsl.matching(dsl.parse(query), self._context(index, docs, pin))

    # ----- query rules (x-pack/plugin/ent-search rules API) -----

    def _query_rulesets_path(self) -> str:
        return os.path.join(self.root, "_query_rules.json")

    def _query_rulesets(self) -> dict:
        import json

        path = self._query_rulesets_path()
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
        return {}

    def put_query_ruleset(self, ruleset_id: str, rules: list[dict]) -> dict:
        """PUT /_query_rules/{ruleset_id} (``x-pack/plugin/ent-search/.../
        rules/QueryRuleset.java``): an ordered list of rules, each
        ``{rule_id, type: pinned|exclude, criteria: [...], actions:
        {ids|docs}}``. Evaluated by the ``rule`` query (plans/rules.py)."""
        import json

        all_rs = self._query_rulesets()
        all_rs[ruleset_id] = rules
        tmp = self._query_rulesets_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(all_rs, f)
        os.replace(tmp, self._query_rulesets_path())
        return {"result": "created"}

    def get_query_ruleset(self, ruleset_id: str) -> list[dict]:
        return self._query_rulesets()[ruleset_id]

    def delete_query_ruleset(self, ruleset_id: str) -> dict:
        import json

        all_rs = self._query_rulesets()
        all_rs.pop(ruleset_id, None)
        tmp = self._query_rulesets_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(all_rs, f)
        os.replace(tmp, self._query_rulesets_path())
        return {"acknowledged": True}

    def list_query_rulesets(self) -> list[str]:
        return sorted(self._query_rulesets())

    def search(self, index: str, body: dict, routing: str | None = None) -> dict:
        """POST /{index}/_search — see ``_search_impl``. ``profile: true``
        (the reference's ``SearchProfileResults`` phase tree) attaches the
        Spark physical plan of the hits frame — planning only, no extra
        execution."""
        # request-window validation (SearchService.java canMatch / 30_limits
        # yml): negative from/size refuse, and from + size must stay within
        # index.max_result_window (default 10000) — deep pagination belongs
        # to search_after / scroll, which stream past the window
        frm = int(body.get("from", 0) or 0)
        size = int(body.get("size", 10) or 0)
        if frm < 0:
            raise ValueError(f"[from] parameter cannot be negative but was [{frm}]")
        if size < 0:
            raise ValueError(f"[size] parameter cannot be negative but was [{size}]")
        window = self._max_result_window(index)
        if frm + size > window:
            raise ValueError(
                f"Result window is too large, from + size must be less than "
                f"or equal to: [{window}] but was "
                f"[{frm + size}]. See the scroll api for a more efficient "
                "way to request large data sets.")
        q = body.get("query")
        if isinstance(q, dict) and "percolate" in q:
            return self._search_percolate(index, body, q["percolate"])
        if isinstance(q, dict) and "rule" in q:
            # rule query (RuleQueryBuilder.doRewrite): coordinator-side
            # rewrite to pinned/excluding organic before planning
            from .plans.rules import apply_query_rules

            body = {**body, "query": apply_query_rules(q, self._query_rulesets())}
        out = self._search_impl(index, body, routing)
        if (
            isinstance(out, dict) and body.get("profile")
            and "profile" not in out and "hits" in out
        ):
            # fast paths (index WAND / sorted_scan) return before the DSL
            # path's profile attach — cover them with the same shape
            out["profile"] = {
                "hits_plan": out["hits"]._jdf.queryExecution().executedPlan().toString()
            }
        return out

    def _search_impl(self, index: str, body: dict, routing: str | None = None) -> dict:
        """POST /{index}/_search: full search body. Returns
        {"hits": DataFrame, "aggregations": {name: DataFrame}}.

        ``routing`` (the ``?routing=`` query param): prunes every index
        path (match, phrase, intervals, spans, sorted scan) to the routing
        value's shard segments — same results when docs were indexed with
        that routing, ~P× less scan work.

        A text leaf on ``text`` at the TOP level of the body (match,
        span_*, match_phrase, match_phrase_prefix, intervals) takes its
        hits from ``_index_hits`` with this engine's open reader of the
        index (``_reader``: meta, segments and term stats on the driver);
        the query phase, merge and fetch run on the driver and the hits
        frame is a local relation — no Spark job. Every other body runs
        through the DSL compiler over the live docs view; its text leaves
        on ``text`` ask the index (``_IndexText``: its analyzer, postings
        BM25, df, term dictionary and this dispatcher), so wrapping a query
        in ``bool`` keeps its matches and scores. ``aggs`` and
        ``track_total_hits`` count the docs ``_matching`` selects — the
        docs the hits come from. A body naming a pin (``{"pit": {"id":
        ...}}``: a PIT search, a scroll page, the partial reduce) takes the
        reader, the docs view and the context of every path from the pin.

        ``index`` may be an alias: multi-index aliases fan out through
        ``search_multi`` (cross-index semantics); their aggs run over the
        union of each index's ``_matching`` docs, tagged ``_index``, and
        their total is the sum of the per-index counts. ``aggregations``
        is accepted as a synonym of ``aggs``."""
        if "aggregations" in body:
            if "aggs" in body:
                raise ValueError("Found two aggregation definitions: [aggs] and [aggregations]")
            body = {("aggs" if k == "aggregations" else k): v for k, v in body.items()}
        pin = None
        if "pit" in body:
            # a pin id names both the index and its fixed view — the
            # reference's search-with-pit drops the URL index the same way
            pin = self._use(body["pit"]["id"])
            index = pin.index
        # runtime_mappings (search-time runtime fields,
        # ``server/.../search/runtime/``): computed columns over the live
        # docs view before query/agg compilation — one compiler
        # (dsl.runtime_field_expr) shared with dsl.search, so the DSL path
        # re-applying the same mapping is idempotent
        def _apply_runtime(df):
            for name, spec in (body.get("runtime_mappings") or {}).items():
                if isinstance(spec, dict) and spec.get("type") == "lookup":
                    df = self._apply_lookup_field(df, name, spec)
                else:
                    df = df.withColumn(name, dsl.runtime_field_expr(spec))
            return df

        concrete = self.resolve(index)
        for ix in concrete:
            self._check_block(ix, "read")

        if body.get("suggest") and len(concrete) > 1:
            # validate BEFORE any search work — suggesters read one index's
            # term dictionary
            raise ValueError(
                "suggest needs a single concrete index "
                "(suggesters read one term dictionary)")

        def _finish(out_dict: dict) -> dict:
            # response sections that apply to EVERY search path (the final
            # return and both early returns): lookup runtime fields,
            # suggest, _source filtering
            for lname, lspec in (body.get("runtime_mappings") or {}).items():
                if not (isinstance(lspec, dict) and lspec.get("type") == "lookup"):
                    continue
                hits0 = out_dict["hits"]
                if lname in hits0.columns:
                    continue
                inp = lspec["input_field"]
                if inp not in hits0.columns and "url" in hits0.columns:
                    # fetch the input field from EVERY resolved index (the
                    # single-index guard used to null the join key on
                    # multi-index searches, silently emitting NULL lookups)
                    views = []
                    for cix in concrete:
                        v = self._docs_view(cix, pin)
                        if inp in v.columns:
                            sel = v.select("url", inp)
                            if "_index" in hits0.columns:
                                sel = sel.withColumn("_index", F.lit(cix))
                            views.append(sel)
                    if views:
                        from functools import reduce

                        uv = reduce(lambda a, b: a.unionByName(b), views)
                        on = ["url", "_index"] if "_index" in hits0.columns \
                            else ["url"]
                        if on == ["url"] and len(views) > 1:
                            uv = uv.dropDuplicates(["url"])
                        hits0 = hits0.join(uv, on, "left")
                out_dict["hits"] = self._apply_lookup_field(hits0, lname, lspec)
            if body.get("suggest"):
                out_dict["suggest"] = self._run_suggest(concrete[0], body["suggest"])
            sfs = body.get("script_fields") or {}
            missing_sf = [n for n in sfs if n not in out_dict["hits"].columns]
            if missing_sf and len(concrete) == 1:
                # index fast paths (search_topk / sorted_scan) never saw the
                # source columns — fetch-phase join like highlight, then the
                # script expressions run over the ≤size joined rows
                hits0 = out_dict["hits"]
                docs_v = _apply_runtime(self._docs_view(concrete[0], pin))
                extra_src = [c for c in docs_v.columns if c not in hits0.columns]
                joined = hits0.join(docs_v.select("url", *extra_src), "url", "left")
                for n in missing_sf:
                    sspec = sfs[n]
                    ssrc, sparams = dsl.script_source(
                        sspec.get("script", sspec) if isinstance(sspec, dict) else sspec)
                    from .functions import painless as P

                    if P.is_painless(ssrc):
                        # same Painless routing as the DSL-path script_fields
                        rt = dsl._infer_painless_ret(joined, ssrc, sparams)
                        joined = joined.withColumn(
                            n, P.script_column(joined, ssrc, sparams, ret_type=rt))
                    else:
                        joined = joined.withColumn(
                            n, F.expr(dsl.expand_script(ssrc, sparams)))
                out_dict["hits"] = joined.select(*hits0.columns, *missing_sf)
            if "_source" in body:
                out_dict["hits"] = self._source_filter(
                    out_dict["hits"], body["_source"],
                    extra_meta=set(body.get("script_fields") or {}))
            return out_dict

        # SearchContext.java:61-63 — true = exact; int = custom cap ("gte"
        # relation past it); false disables hit counting, so the response
        # has no total. Counted only on request (an extra count action).
        tth = body.get("track_total_hits", False)

        def _total(n: int) -> dict:
            cap = None if tth is True else int(tth)
            return {
                "value": n if cap is None else min(n, cap),
                "relation": "eq" if (cap is None or n <= cap) else "gte",
            }

        q = body.get("query", {"match_all": {}})
        if len(concrete) > 1:
            # aggs and the total count each index's own _matching docs
            out = {"hits": self.search_multi(concrete, body)}
            if "aggs" in body:
                docs = functools.reduce(
                    lambda a, b: a.unionByName(b, allowMissingColumns=True),
                    (self._matching(ix, q, _apply_runtime(self._docs_view(ix)))
                     .withColumn("_index", F.lit(ix)) for ix in concrete))
                docs = docs.withColumn("_ccs_key", F.concat_ws(":", "_index", "url"))
                out["aggregations"] = aggs_mod.aggregate(
                    docs, body["aggs"], dsl.SearchContext(docs, "_ccs_key", text_col="text"))
            if tth is not False:
                out["total"] = _total(sum(self._matching(ix, q).count() for ix in concrete))
            return _finish(out)
        index = concrete[0]
        d = self._dir(index)
        size = int(body.get("size", 10))
        (kind, spec), = q.items()

        hits: DataFrame
        # the index fast paths below need the reader; with no index meta
        # only the DSL path can answer (an index path raises, re-opening it)
        reader = pin.reader if pin else (
            self._reader(index) if os.path.exists(store.meta_path(d)) else None)
        meta_sort = reader.meta.index_sort if reader else None
        if (
            kind == "match_all"
            and meta_sort
            and body.get("sort")
            and "search_after" not in body
            and "post_filter" not in body
            and not body.get("from")  # pagination falls to the DSL path
            and len(body["sort"]) == 1
            and not (isinstance(body["sort"][0], dict)
                     and len(body["sort"][0]) > 1)  # multi-key → DSL path
        ):
            s0 = body["sort"][0]
            if isinstance(s0, dict):
                (sf_, sd_), = s0.items()
                sdir = sd_.get("order", "asc") if isinstance(sd_, dict) else sd_
            else:
                sf_, sdir = s0, "asc"
            if [sf_, sdir] == list(meta_sort):
                # index-sorted early termination (sorted_scan): each segment
                # reads only its first k live rows
                from .operators.topk import sorted_scan

                hits = sorted_scan(reader, k=size, routing=routing)
                out = {"hits": hits}
                if "aggs" in body:
                    docs = _apply_runtime(self._docs_view(index, pin))
                    out["aggregations"] = aggs_mod.aggregate(
                        docs, body["aggs"], self._context(index, docs, pin))
                return _finish(out)
        # the index fast paths score the positional "text" postings; a
        # body on any other field takes the DSL path. `from` stays on the
        # index path: each segment emits from+size, the merge skips from.
        frm = int(body.get("from", 0) or 0)
        on_text = _fast_path_fields(kind, spec) == {"text"}
        # the fields retrieval API / docvalue_fields
        # (``server/.../search/fetch/subphase/FieldFetcher.java``,
        # ``FetchDocValuesPhase.java``): the stored fields they name ride an
        # index path's one post-merge fetch
        requested = list(dict.fromkeys(
            fspec["field"] if isinstance(fspec, dict) else fspec
            for k_ in ("fields", "docvalue_fields")
            for fspec in body.get(k_, [])
        ))

        def stored(reader: IndexReader, *names: str) -> list[str]:
            """The ``names`` the index stores (docs.parquet columns)."""
            have = reader.docs_footer.names if reader.docs_footer is not None else []
            return [n for n in names if n in have]

        hits = None
        if on_text and "sort" not in body and (
            kind.startswith("span_") or not {"search_after", "post_filter"} & body.keys()
        ):
            if "post_filter" in body:
                # span queries exist only on the index path, which has no
                # post-collection filter stage — refuse instead of
                # returning un-filtered hits
                raise ValueError("post_filter is not supported with span_* queries")
            hl = body.get("highlight") if kind == "match" else None
            reader = reader or self._reader(index)
            hits = self._index_hits(
                reader, q, size, routing=routing, offset=frm,
                fields=stored(reader, *requested, *(["text"] if hl else [])))
            if hl:
                (_, mspec), = spec.items()
                terms = analysis.analyze(
                    mspec["query"] if isinstance(mspec, dict) else mspec, reader.meta.analyzer)
                hl_terms = self._highlight_terms(hl, terms, reader.meta.analyzer)
                hits = highlight_fn(hits, hl_terms, **self._highlight_opts(hl))
                if "text" not in requested:
                    hits = hits.drop("text")
        if hits is None:
            # runtime mappings are applied INSIDE dsl.search (applying
            # them here too would double-apply shadowing scripts)
            docs = self._docs_view(index, pin)
            hits = dsl.search(self.spark, docs, body, key="url", text_col="text",
                              kw_norm=self._kw_normalizers(index),
                              index=self._text_index(index, pin))
            # requested fields a _source filter dropped come back by url
            have = [n for n in requested if n not in hits.columns and n in docs.columns]
            if have and "url" in hits.columns:
                hits = hits.join(docs.select("url", *have), "url", "left")

        # formatted values alongside hits as ``fields.<name>`` columns;
        # ``format`` renders dates (DocValueFormat.DateTime patterns)
        for fspec_key in ("fields", "docvalue_fields"):
            for fspec in body.get(fspec_key, []):
                name, fmt = (
                    (fspec["field"], fspec.get("format"))
                    if isinstance(fspec, dict)
                    else (fspec, None)
                )
                if name not in hits.columns:
                    continue
                c = F.col(name)
                dtype = dict(hits.dtypes).get(name, "")
                if fmt == "epoch_millis" and dtype.startswith("timestamp"):
                    # unix_millis needs TIMESTAMP (not NTZ); the cast is a
                    # no-op reinterpretation under the session UTC timezone
                    c = F.unix_millis(c.cast("timestamp")).cast("string")
                elif fmt and dtype.startswith("timestamp"):
                    c = F.date_format(c, fmt)  # ES date formats are Java-time patterns
                else:
                    c = c.cast("string")
                hits = hits.withColumn(f"fields.{name}", c)

        out = {"hits": hits}
        if kind == "nested" and "inner_hits" in spec:
            # InnerHitsPhase: the matching sub-docs per parent hit
            out["inner_hits"] = dsl.parse(q).inner_hits_frame(
                self._context(index, _apply_runtime(self._docs_view(index, pin)), pin),
                size=int((spec["inner_hits"] or {}).get("size", 3)))
        if "aggs" in body:
            docs = _apply_runtime(self._docs_view(index, pin))
            out["aggregations"] = aggs_mod.aggregate(
                self._matching(index, q, docs, pin), body["aggs"], self._context(index, docs, pin))
        if body.get("profile"):
            # SearchProfileResults analog: the Spark physical plan for the
            # hits frame (the honest profile of THIS engine — scan pushdown,
            # codegen spans, exchange placement)
            try:
                qe = hits._jdf.queryExecution()
                mode = self.spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
                out["profile"] = {"hits_plan": qe.explainString(mode)}
            except Exception as e:  # pragma: no cover - connect-mode fallback
                out["profile"] = {"hits_plan": f"unavailable: {e}"}
        if tth is not False:
            out["total"] = _total(self._matching(index, q, pin=pin).count())
        return _finish(out)

    @staticmethod
    def _source_filter(hits: DataFrame, src, extra_meta: set | None = None) -> DataFrame:
        """``_source`` response filtering (FetchSourcePhase /
        ``FetchSourceContext.java``): false drops every source field,
        a list/str keeps matching fields, {includes, excludes} supports
        wildcards. Hit metadata (_id/url, score, rank, highlight,
        ``fields.*`` projections) always survives — the reference filters
        the _source document, not the hit envelope. A pure projection, so
        Catalyst prunes the dropped columns out of the scan."""
        import fnmatch

        if src is True:  # "_source": true = return the full source (no-op)
            return hits
        meta_cols = {
            "url", "doc_id", "score", "_score", "_index", "_rank", "_ccs_key",
            "_shard", "highlight", "n_terms_matched", "matched_queries",
        } | (extra_meta or set())  # script_fields are envelope, not _source
        is_meta = lambda c: c in meta_cols or c.startswith("fields.")  # noqa: E731
        source_cols = [c for c in hits.columns if not is_meta(c)]
        if src is False:
            keep: set[str] = set()
        else:
            if isinstance(src, str):
                src = [src]
            if isinstance(src, list):
                inc, exc = src, []
            else:
                inc = src.get("includes") or ["*"]
                exc = src.get("excludes") or []
            keep = {
                c for c in source_cols
                if any(fnmatch.fnmatch(c, p) for p in inc)
                and not any(fnmatch.fnmatch(c, p) for p in exc)
            }
        return hits.select(*[F.col(f"`{c}`") for c in hits.columns if is_meta(c) or c in keep])

    def _run_suggest(self, index: str, suggest: dict) -> dict:
        """The search body ``suggest`` section (SuggestBuilder): named
        entries dispatch to the term / phrase / completion suggesters over
        this index's term dictionary / completion table. Returns
        {name: DataFrame} — the per-suggester frame shapes documented on
        the operators."""
        from .operators.suggest import completion_suggest

        d = self._dir(index)
        res: dict[str, DataFrame] = {}
        global_text = suggest.get("text")
        for name, spec in suggest.items():
            if name == "text":
                continue
            kinds = [k for k in ("term", "phrase", "completion") if k in spec]
            if len(kinds) != 1:
                raise ValueError(
                    f"suggest entry {name!r} must name exactly one of "
                    f"term/phrase/completion (got {kinds or 'none'})")
            skind, sbody = kinds[0], spec[kinds[0]]
            text = spec.get("text", global_text)
            if skind == "completion":
                # CompletionSuggestionBuilder: `prefix` is canonical, `text`
                # is the documented fallback spelling
                text = spec.get("prefix", text)
            if text is None:
                raise ValueError(
                    f"suggest entry {name!r} has no text/prefix and no "
                    "global suggest.text")
            if skind == "term":
                res[name] = term_suggest(
                    self.spark, d, text, reader=self._reader(index),
                    max_edits=sbody.get("max_edits", 2),
                    size=sbody.get("size", 3),
                    suggest_mode=sbody.get("suggest_mode", "missing"),
                    sort=sbody.get("sort", "score"),
                    prefix_length=sbody.get("prefix_length", 1),
                    min_word_length=sbody.get("min_word_length", 4),
                )
            elif skind == "phrase":
                fr = self.suggest_phrase(
                    index, text,
                    size=sbody.get("size", 3),
                    confidence=sbody.get("confidence", 1.0),
                    real_word_error_likelihood=sbody.get(
                        "real_word_error_likelihood", 0.95),
                )
                collate = sbody.get("collate")
                hl = sbody.get("highlight")
                if collate or hl:
                    fr = self._finish_phrase_suggest(
                        index, text, fr, collate, hl)
                res[name] = fr
            else:
                res[name] = completion_suggest(
                    self.spark, d, text, reader=self._reader(index),
                    size=sbody.get("size", 5),
                    fuzziness=dsl.resolve_fuzziness(
                        (sbody.get("fuzzy") or {}).get("fuzziness", 0), text),
                    contexts=spec.get("contexts") or sbody.get("contexts"),
                )
        return res

    def _finish_phrase_suggest(self, index: str, text: str, fr: DataFrame,
                               collate: dict | None,
                               hl: dict | None) -> DataFrame:
        """Phrase-suggester collate + highlight
        (PhraseSuggestionBuilder.collateQuery / highlight pre/post tags):
        collate renders the template per suggestion ({{suggestion}} bound)
        and checks for ≥1 hit — prune=false drops non-matching suggestions,
        prune=true keeps them with a collate_match flag; highlight wraps
        CHANGED tokens. The frame is ≤size rows by construction."""
        import json as _json

        rows = fr.collect()
        # compare against the ANALYZED input tokens — suggestions are built
        # from the analyzed stream, so whitespace-split raw text misaligns
        meta = store.IndexMeta.load(self._dir(index))
        in_toks = analysis.analyze(text, meta.analyzer)
        out = []
        for r in rows:
            rec = {"suggestion": r["suggestion"], "score": r["score"]}
            if hl:
                pre = hl.get("pre_tag", "<em>")
                post = hl.get("post_tag", "</em>")
                toks = r["suggestion"].split()
                rec["highlighted"] = " ".join(
                    t if i < len(in_toks) and t == in_toks[i]
                    else f"{pre}{t}{post}"
                    for i, t in enumerate(toks))
            if collate:
                tmpl = collate["query"]
                src = tmpl.get("source", tmpl) if isinstance(tmpl, dict) else tmpl
                if not isinstance(src, str):
                    src = _json.dumps(src)
                params = {**(collate.get("params") or {}),
                          "suggestion": r["suggestion"]}
                q = _json.loads(render_template(src, params))
                n = self.count(index, q if "query" not in q else q["query"])
                if not collate.get("prune", False):
                    if n == 0:
                        continue  # prune=false: non-matching drop, no flag
                else:
                    rec["collate_match"] = n > 0
            out.append(rec)
        prune = bool(collate and collate.get("prune", False))
        schema = "suggestion string, score double"
        if hl:
            schema += ", highlighted string"
        if prune:
            # the collate_match flag exists only under prune=true
            # (PhraseSuggester's response contract)
            schema += ", collate_match boolean"
        cols = ["suggestion", "score"] + (["highlighted"] if hl else []) \
            + (["collate_match"] if prune else [])
        return self.spark.createDataFrame(
            [tuple(rec[c] for c in cols) for rec in out], schema)

    def msearch(self, searches: list[tuple[str, dict]]) -> list[dict]:
        """POST /_msearch: a batch of (index, body) searches. Each returns
        frames: an index search's hits are a local frame, computed on the
        driver with no Spark job; a DSL search's frame stays lazy."""
        return [self.search(ix, body) for ix, body in searches]

    def search_multi(self, indices: list[str], body: dict) -> DataFrame:
        """Cross-index / cross-cluster search (the `remote:index` pattern,
        ``server/.../action/search/TransportSearchAction.java`` CCS path):
        the per-index live-doc views union into one corpus with an
        ``_index`` column; scoring uses GLOBAL df over the union — the
        reference's ccs_minimize_roundtrips=false merged-stats semantics.
        Hits are keyed by (_index, url) so the same url in two indices
        stays two hits."""
        frames = [
            self._docs_view(ix).withColumn("_index", F.lit(ix))
            for ix in indices
        ]
        u = frames[0]
        for fr in frames[1:]:
            u = u.unionByName(fr, allowMissingColumns=True)
        u = u.withColumn("_ccs_key", F.concat_ws(":", "_index", "url"))
        if "indices_boost" in body:
            # indices_boost (SearchSourceBuilder.indexBoosts): a per-index
            # score multiplier. Expressed as function_score weight
            # functions filtered on _index — the boost applies BEFORE the
            # global top-k, exactly the reference's semantics.
            ib = body["indices_boost"]
            pairs = (
                [(k, v) for d in ib for k, v in d.items()]
                if isinstance(ib, list)
                else list(ib.items())
            )
            body = {k: v for k, v in body.items() if k != "indices_boost"}
            body["query"] = {
                "function_score": {
                    "query": body.get("query", {"match_all": {}}),
                    "functions": [
                        {"filter": {"term": {"_index": ix}}, "weight": float(w)}
                        for ix, w in pairs
                    ],
                    "score_mode": "max",
                    "boost_mode": "multiply",
                }
            }
        return dsl.search(self.spark, u, body, key="_ccs_key", text_col="text")

    def build_vector_index(
        self,
        index: str,
        field: str,
        n_graphs: int | None = None,
        M: int = 16,
        ef_construction: int = 100,
    ) -> dict:
        """Materialize per-shard HNSW graphs for a dense_vector field
        (``index_options.type: hnsw`` — Lucene HnswGraphBuilder). The
        reference builds graphs at refresh; here the build is an explicit
        job over the live docs (re-run after bulks to refresh)."""
        from .operators.hnsw import build_hnsw_index

        path = os.path.join(self._dir(index), f"vector_hnsw_{field}")
        n = build_hnsw_index(
            self._docs_view(index), "url", field, path,
            n_graphs=n_graphs, M=M, ef_construction=ef_construction,
        )
        return {"graphs": n, "path": path}

    def knn_search(
        self, index: str, field: str, query_vector, k: int = 10,
        num_candidates: int = 64,
    ) -> DataFrame:
        """GET /{index}/_knn_search: probes the field's HNSW graphs when
        built (every shard graph, coordinator merge), else falls back to
        the exact brute-force scorer — the same auto-selection the
        reference makes from the field's index_options."""
        path = os.path.join(self._dir(index), f"vector_hnsw_{field}")
        if os.path.isdir(path):
            from .operators.hnsw import hnsw_topk

            hits = hnsw_topk(
                self.spark, path, query_vector, k=k,
                ef_search=num_candidates, key_type="string",
            )
            return (
                hits.withColumnRenamed("key", "url")
                .withColumnRenamed("cosine", "_score")
            )
        body = {"knn": {"field": field, "query_vector": [float(x) for x in query_vector], "k": k}, "size": k}
        return dsl.search(self.spark, self._docs_view(index), body, key="url", text_col="text")

    def percolate(self, index: str, stored_queries) -> DataFrame:
        """Percolator over the live docs view (operators/percolate.py)."""
        from .operators.percolate import percolate as percolate_fn

        return percolate_fn(self._docs_view(index), stored_queries, key="url")

    def _search_percolate(self, index: str, body: dict, spec: dict) -> dict:
        """The ``percolate`` QUERY kind (PercolateQueryBuilder,
        modules/percolator 10_basic.yml): a search against the QUERIES
        index returning the stored queries the candidate document matches.
        The document comes inline (``document``/``documents``) or by
        reference (``index`` + ``id``). Routes through the PRUNED percolate
        path (operators/percolate.py, the QueryAnalyzer analog): the
        queries index is passed as a DataFrame — term-extracted on
        executors, never collected wholesale — and only the candidate +
        unanalyzable queries are compiled driver-side."""
        import json as _json

        from .operators.percolate import percolate as percolate_fn

        concrete = self.resolve(index)
        for ix in concrete:
            self._check_block(ix, "read")
        field = spec.get("field", "query")
        docs = spec.get("documents") or (
            [spec["document"]] if "document" in spec else None)
        if docs is None:
            ref = self.get(spec["index"], spec["id"])
            if ref is None:
                raise KeyError(
                    f"percolate document not found: {spec['index']}/{spec['id']}")
            docs = [{k: v for k, v in ref.items()
                     if k not in ("doc_id", "dl", "norm", "seg_id")}]
        if not concrete:
            # pattern resolved to no indices (allow_no_indices): no stored
            # queries, so nothing can match. With no concrete index there
            # is no docs-view schema to mirror, so the empty hits frame
            # carries the minimal `url string` schema by contract —
            # schema-dependent consumers must treat the empty-pattern
            # case as schemaless beyond `url`.
            empty = self.spark.createDataFrame([], "url string")
            return {"hits": empty}
        qdf = None
        for ix in concrete:
            view = self._docs_view(ix).where(F.col(field).isNotNull())
            qcol = F.col(field)
            if dict(view.dtypes).get(field, "string") != "string":
                # percolator query stored as a struct/map column — render
                # REAL JSON (cast-to-string gives Spark's {v1, v2} form)
                qcol = F.to_json(qcol)
            part = view.select(F.col("url").alias("query_id"),
                               qcol.cast("string").alias("query_json"))
            qdf = part if qdf is None else qdf.unionByName(part)
        from pyspark.sql import Row

        keys = sorted({k for d in docs for k in d})

        # explicit typing so all-null fields, arrays, and objects all
        # construct (ES accepts explicit nulls; inference would refuse);
        # dicts become STRUCT columns so dotted DSL paths (obj.a) resolve
        def _sql_type(v):
            if isinstance(v, bool):
                return "boolean"
            if isinstance(v, int):
                return "bigint"
            if isinstance(v, float):
                return "double"
            if isinstance(v, (list, tuple)):
                inner = _sql_type(v[0]) if v else "string"
                return f"array<{inner}>"
            if isinstance(v, dict):
                inner = ", ".join(f"`{sk}`: {_sql_type(sv)}"
                                  for sk, sv in v.items())
                return f"struct<{inner}>"
            return "string"

        types = {}
        for k in keys:
            vals = [d.get(k) for d in docs if d.get(k) is not None]
            types[k] = _sql_type(vals[0]) if vals else "string"
        doc_df = self.spark.createDataFrame(
            [Row(**{k: d.get(k) for k in keys}) for d in docs],
            ", ".join(f"`{k}` {types[k]}" for k in keys))
        if "url" not in doc_df.columns:
            doc_df = doc_df.withColumn("url", F.monotonically_increasing_id()
                                       .cast("string"))
        # missing-field padding for the compiled remainder happens inside
        # the pruned path (percolate._pad_fields); the candidate join
        # simply yields no candidates for fields the doc lacks
        matches = percolate_fn(doc_df, qdf, key="url", prune=True)
        matched_ids = {r["query_id"] for r in matches.collect()}
        hits = self._docs_view(concrete[0]).where(
            F.col("url").isin(list(matched_ids)) if matched_ids else F.lit(False))
        if len(concrete) > 1:
            for ix in concrete[1:]:
                hits = hits.unionByName(self._docs_view(ix).where(
                    F.col("url").isin(list(matched_ids))
                    if matched_ids else F.lit(False)), allowMissingColumns=True)
        hits = hits.limit(int(body.get("size", 10)))
        if "_source" in body:
            hits = self._source_filter(hits, body["_source"])
        return {"hits": hits}

    def count(self, index: str, query: dict | None = None) -> int:
        """GET /{index}/_count (alias-aware: sums over the alias's indices)."""
        concrete = self.resolve(index)
        if len(concrete) > 1:
            return sum(self.count(i, query) for i in concrete)
        return self._matching(concrete[0], query).count()

    # ---- introspection / helpers -----------------------------------------

    def analyze_adhoc(
        self,
        text: str,
        tokenizer="standard",
        filters: list | None = None,
        char_filters: list | None = None,
    ) -> list[str]:
        """POST /_analyze with an inline chain definition (the request-body
        tokenizer/filter form of TransportAnalyzeAction): build the chain
        on the fly, no prior registration. Each call gets a unique registry
        name so concurrent/reentrant calls can't clobber each other."""
        tmp = f"__adhoc_analyze_{id(self)}_{next(self._seq)}"
        analysis.register_analyzer(tmp, tokenizer, filters, char_filters)
        try:
            return analysis.analyze(text, tmp)
        finally:
            analysis.ANALYZERS.pop(tmp, None)
            analysis.ANALYZER_CONFIGS.pop(tmp, None)

    def analyze(self, text: str, analyzer: str = "standard",
                explain: bool = False) -> list[dict] | dict:
        """GET /_analyze (detail form); ``explain=True`` returns the
        per-stage DetailAnalyzeResponse (charfilters → tokenizer → each
        token filter's stream)."""
        if explain:
            return analysis.analyze_explain(text, analyzer)
        return analysis.analyze_detail(text, analyzer)

    def suggest(self, index: str, text: str, **kw) -> DataFrame:
        return term_suggest(self.spark, self._dir(index), text, reader=self._reader(index), **kw)

    def suggest_phrase(self, index: str, text: str, **kw) -> DataFrame:
        """Phrase suggester with bigram-LM rescoring (PhraseSuggester.java);
        builds the bigram table on first use."""
        from .operators.suggest import build_bigram_lm, phrase_suggest

        d = self._dir(index)
        if not os.path.isdir(os.path.join(d, "lm_bigrams")):
            build_bigram_lm(self.spark, d)
        return phrase_suggest(self.spark, d, text, reader=self._reader(index), **kw)

    def esql(self, query: str, dims: list[str] | None = None,
             params=None) -> DataFrame:
        """POST /_query (x-pack ES|QL): the piped query language over the
        live docs view (plans/esql.py). FROM/TS resolve aliases; multi-index
        targets union with an ``_index`` tag. ``dims`` names the
        time_series_dimension columns for a TS source (STATS-with-RATE)."""
        import re

        from .plans.esql import esql as esql_run

        # every index-like name the pipe references resolves to a live view:
        # FROM/TS plus any ENRICH <policy> ON / LOOKUP JOIN <index> ON targets
        names = re.findall(r"\bFROM\s+([\w\-.*]+)", query, re.I)
        names += re.findall(r"^\s*TS\s+([\w\-.*]+)", query, re.I)
        names += re.findall(r"\bENRICH\s+([\w\-.*]+)\s+ON\b", query, re.I)
        names += re.findall(r"\bLOOKUP\s+JOIN\s+([\w\-.*]+)\s+ON\b", query, re.I)
        tables = {}
        for name in dict.fromkeys(names):
            concrete = self.resolve(name)
            if len(concrete) == 1:
                tables[name] = self._docs_view(concrete[0])
            else:
                parts = [
                    self._docs_view(i).withColumn("_index", F.lit(i))
                    for i in concrete
                ]
                v = parts[0]
                for p in parts[1:]:
                    v = v.unionByName(p)
                tables[name] = v
        return esql_run(self.spark, query, tables, dims=dims, params=params)

    def sql(self, query: str) -> DataFrame:
        """POST /_sql (x-pack SQL): standard SQL over the live docs view,
        with the fulltext extensions MATCH(field,'q') / QUERY('qs') /
        SCORE() translated through the DSL (plans/essql.py). FROM resolves
        aliases; multi-index aliases union with an ``_index`` tag."""
        import re

        from .plans.essql import es_sql

        m = re.search(r"\bFROM\s+([\w\-.]+)", query, re.I)
        if not m:
            raise ValueError("ES SQL statement needs a FROM <index>")
        name = m.group(1)
        concrete = self.resolve(name)
        if len(concrete) == 1:
            df = self._docs_view(concrete[0])
        else:
            parts = [
                self._docs_view(i).withColumn("_index", F.lit(i)) for i in concrete
            ]
            df = parts[0]
            for p in parts[1:]:
                df = df.unionByName(p)
        safe = re.sub(r"\W", "_", name)
        query = re.sub(rf"\bFROM\s+{re.escape(name)}", f"FROM {safe}", query, count=1)
        return es_sql(self.spark, {safe: df}, query, key="url")

    def transform(self, source: str, dest_path: str, pivot: dict) -> dict:
        """x-pack transform (batch pivot, ``x-pack/plugin/transform``):
        group_by sources × aggregations materialized to a destination
        table — one partial/final aggregation plus the write. (Continuous
        mode = the same plan under streaming/ingest.py's micro-batching.)"""
        docs = self._docs_view(source)
        keys = []
        for name, gspec in pivot["group_by"].items():
            c, _ = aggs_mod._bucket_col(gspec)
            keys.append((c if hasattr(c, "alias") else F.col(c)).alias(name))
        grouped = aggs_mod._apply_metric_subaggs(
            docs.groupBy(*keys), pivot.get("aggregations"), df=docs
        )
        grouped.write.mode("overwrite").parquet(dest_path)
        n = self.spark.read.parquet(dest_path).count()
        return {"dest": dest_path, "docs_written": n}

    def graph_explore(
        self,
        index: str,
        seed_terms: list[str],
        hops: int = 1,
        size: int = 10,
        min_doc_count: int = 3,
    ) -> dict:
        """Graph explore (``x-pack/plugin/graph`` ``TransportGraphExploreAction``):
        wander the term-co-occurrence graph from seed terms. Each hop:
        docs containing any frontier term (semi join on the token stream)
        → co-occurring terms ranked by shared-doc count → next frontier.
        Returns {"vertices": [(term, hop, doc_count)], "connections":
        [(source, target, doc_count)]}. All joins are doc_id-keyed over
        the exploded token frame — co-partitioned aggregations, no
        all-pairs term join."""
        meta = store.IndexMeta.load(self._dir(index))
        docs = self._docs_view(index)
        toks = docs.select(
            "url", F.explode(
                F.array_distinct(analysis.tokens_udf(meta.analyzer)("text"))
            ).alias("term"),
        ).cache()
        vertices = [(t, 0, None) for t in seed_terms]
        connections = []
        frontier = list(seed_terms)
        seen = set(seed_terms)
        for hop in range(1, hops + 1):
            fdf = self.spark.createDataFrame([(t,) for t in frontier], "term string")
            # docs touching the frontier, tagged with WHICH frontier term
            touched = toks.join(F.broadcast(fdf), "term").select(
                "url", F.col("term").alias("src")
            )
            co = (
                toks.join(touched, "url")
                .where(F.col("term") != F.col("src"))
                .groupBy("src", "term")
                .agg(F.countDistinct("url").alias("doc_count"))
                .where(F.col("doc_count") >= min_doc_count)
            )
            from pyspark.sql import Window

            w = Window.partitionBy("src").orderBy(
                F.desc("doc_count"), F.asc("term")
            )
            top = (
                co.withColumn("__r", F.row_number().over(w))
                .where(F.col("__r") <= size)
                .drop("__r")
                .collect()
            )
            nxt = []
            for r in top:
                connections.append((r["src"], r["term"], int(r["doc_count"])))
                if r["term"] not in seen:
                    seen.add(r["term"])
                    vertices.append((r["term"], hop, int(r["doc_count"])))
                    nxt.append(r["term"])
            frontier = nxt
            if not frontier:
                break
        toks.unpersist()
        return {"vertices": vertices, "connections": connections}

    def search_template(self, index: str, body: dict) -> dict:
        """POST /{index}/_search/template (``server/.../script/mustache``
        module): render the mustache source with params, then search."""
        import json

        src = body.get("source") or body.get("template")
        if isinstance(src, dict):
            src = json.dumps(src)
        rendered = render_template(src, body.get("params") or {})
        return self.search(index, json.loads(rendered))

    def msearch_template(self, searches: list[tuple[str, dict]]) -> list[dict]:
        """POST /_msearch/template: batched templated searches."""
        return [self.search_template(ix, body) for ix, body in searches]

    # ----- search applications (x-pack/plugin/ent-search) -----

    def _search_apps_path(self) -> str:
        return os.path.join(self.root, "_search_applications.json")

    def _search_apps(self) -> dict:
        import json

        if os.path.exists(self._search_apps_path()):
            with open(self._search_apps_path()) as f:
                return json.load(f)
        return {}

    def put_search_application(
        self, name: str, indices: list[str], template: dict | None = None
    ) -> dict:
        """PUT /_application/search_application/{name} (``x-pack/plugin/
        ent-search/.../search/SearchApplication.java``): a named set of
        indices plus a stored search template
        (``{"script": {"source": …, "params": {defaults}}}``; the
        reference's default template passes ``query_string`` through)."""
        import json

        apps = self._search_apps()
        apps[name] = {
            "indices": indices,
            "template": template or {"script": {
                "source": '{"query": {"query_string": {"query": "{{query_string}}"}}}',
                "params": {"query_string": "*"},
            }},
        }
        tmp = self._search_apps_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(apps, f)
        os.replace(tmp, self._search_apps_path())
        return {"result": "created"}

    def get_search_application(self, name: str) -> dict:
        return self._search_apps()[name]

    def delete_search_application(self, name: str) -> dict:
        import json

        apps = self._search_apps()
        apps.pop(name, None)
        tmp = self._search_apps_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(apps, f)
        os.replace(tmp, self._search_apps_path())
        return {"acknowledged": True}

    def list_search_applications(self) -> list[str]:
        return sorted(self._search_apps())

    def search_application_search(self, name: str, params: dict | None = None) -> dict:
        """POST /_application/search_application/{name}/_search: render the
        app's stored template with (defaults ⊕ request params), run against
        the app's indices (one index → plain search; several → the
        cross-index path)."""
        import json

        app = self._search_apps()[name]
        script = app["template"]["script"]
        merged = {**script.get("params", {}), **(params or {})}
        body = json.loads(render_template(script["source"], merged))
        # one path for any index count: search() resolves comma-lists and
        # its multi-index branch applies the read-block check, _source
        # filtering, script_fields, and the suggest validation — the old
        # raw search_multi call bypassed all of them
        return self.search(",".join(app["indices"]), body)

    def render_search_template(self, body: dict) -> dict:
        """POST /_render/template: the rendered body without executing."""
        import json

        src = body.get("source") or body.get("template")
        if isinstance(src, dict):
            src = json.dumps(src)
        return json.loads(render_template(src, body.get("params") or {}))

    def field_caps(self, index: str) -> dict:
        """GET /{index}/_field_caps: per-field type + searchable/aggregatable
        (TransportFieldCapabilitiesAction.java) from the live docs schema."""
        docs = self._docs_view(index)
        out = {}
        for f in docs.schema.fields:
            t = f.dataType.simpleString()
            es_type = {
                "string": "keyword", "bigint": "long", "int": "integer",
                "double": "double", "float": "float", "timestamp": "date",
                "boolean": "boolean", "binary": "binary",
            }.get(t, t)
            if f.name == "text":
                es_type = "text"
            out[f.name] = {
                "type": es_type,
                "searchable": True,
                "aggregatable": es_type != "text",
            }
        return out

    def terms_enum(
        self,
        index: str,
        field: str = "text",
        string: str = "",
        size: int = 10,
        case_insensitive: bool = False,
        search_after: str | None = None,
    ) -> dict:
        """POST /{index}/_terms_enum (TransportTermsEnumAction.java):
        enumerate up to ``size`` index terms for ``field`` starting with
        ``string``, ascending. For the analyzed text field the source is
        the term DICTIONARY (the open reader's segment dictionaries, never
        the postings blocks); other fields enumerate distinct doc-values.
        Like the reference, terms from deleted-but-unmerged docs may still
        appear. Alias-aware: per-index frames union, dedup, and re-cut to
        size."""
        frames = []
        for concrete in self.resolve(index):
            if field == "text":
                src = self.spark.createDataFrame(
                    self._reader(concrete).term_stats().select(["term"])
                ).select(F.col("term").alias("t"))
            else:
                src = self._docs_view(concrete).select(
                    F.col(field).cast("string").alias("t")
                ).where(F.col("t").isNotNull())
            if string:
                if case_insensitive:
                    src = src.where(F.lower("t").startswith(string.lower()))
                else:
                    src = src.where(F.col("t").startswith(string))
            if search_after is not None:
                src = src.where(F.col("t") > search_after)
            # per-index pre-cut keeps the cross-index union ≤ n_indices·(size+1);
            # the +1 lookahead is what decides the `complete` flag
            frames.append(src.distinct().orderBy("t").limit(size + 1))
        out = frames[0]
        for fr in frames[1:]:
            out = out.union(fr)
        rows = out.distinct().orderBy("t").limit(size + 1).collect()
        return {
            "terms": [r["t"] for r in rows[:size]],
            "complete": len(rows) <= size,
        }

    def mget(self, index: str, ids: list[str]) -> DataFrame:
        """POST /{index}/_mget: the live docs of the url ids, in input
        order, found through the open reader (``IndexReader.lookup``) and
        read by row (``Segment.fetch``): a local relation, no Spark job."""
        reader = self._reader(index)
        names = reader.docs_footer.names if reader.docs_footer is not None else ["url"]
        cols = ["url", *(c for c in names if c != "url")]
        fields = [c for c in cols if c != "doc_id"]
        docs = [reader.segment(s).fetch(g.to_numpy(), fields)
                for s, g in reader.lookup(ids).groupby("seg")["doc_id"]]
        rows = pd.DataFrame({"url": list(ids), "__ord": range(len(ids))}).merge(
            pd.concat(docs), on="url").sort_values("__ord", kind="stable") if docs else None
        return hits_frame(self.spark, rows, reader.docs_schema(cols))

    def validate_query(self, index: str, query: dict) -> dict:
        """GET /{index}/_validate/query: compile the DSL without executing
        (ValidateQueryAction) — reports the parse/compile error if any.
        Accepts a bare query dict or a full ``{"query": ..., "explain":
        bool}`` body; ``explain: true`` adds the analyzed Spark plan of the
        matching docs (the reference's Lucene-query explanation analog).
        The compile is ``_matching``'s, so it is not free of work: a text
        leaf on the index runs its query phase and builds its match set on
        the driver."""
        explain = False
        if set(query) <= {"query", "explain", "rewrite"}:
            explain = bool(query.get("explain"))
            query = query.get("query", {"match_all": {}})
        docs = self._docs_view(index)
        try:
            plan = self._matching(index, query, docs)._jdf.queryExecution().analyzed()
            out = {"valid": True, "error": None}
            if explain:
                out["explanation"] = plan.toString()
            return out
        except Exception as e:  # noqa: BLE001 — the API reports, not raises
            return {"valid": False, "error": f"{type(e).__name__}: {e}"}

    def rank_eval(self, index: str, requests: list[dict], metric: dict) -> dict:
        """POST /{index}/_rank_eval (``server/.../index/rankeval/``):
        precision/recall@k, MRR, (n)DCG over rated search results."""
        import math

        (mkind, mspec), = metric.items()
        k = int(mspec.get("k", 10))
        thr = int(mspec.get("relevant_rating_threshold", 1))
        details = {}
        for pos, req in enumerate(requests):
            ratings = {r["_id"]: int(r["rating"]) for r in req["ratings"]}
            body = dict(req["request"])
            body["size"] = k
            hits = [r["url"] for r in self.search(index, body)["hits"].collect()[:k]]
            rel = [ratings.get(u, 0) for u in hits]
            if mkind == "precision":
                n_rel = sum(1 for r in rel if r >= thr)
                score = n_rel / len(hits) if hits else 0.0
            elif mkind == "recall":
                total_rel = sum(1 for v in ratings.values() if v >= thr)
                n_rel = sum(1 for r in rel if r >= thr)
                score = n_rel / total_rel if total_rel else 0.0
            elif mkind == "mean_reciprocal_rank":
                score = next(
                    (1.0 / (i + 1) for i, r in enumerate(rel) if r >= thr), 0.0
                )
            elif mkind == "dcg":
                dcg = sum((2 ** r - 1) / math.log2(i + 2) for i, r in enumerate(rel))
                if mspec.get("normalize"):
                    ideal = sorted(ratings.values(), reverse=True)[:k]
                    idcg = sum((2 ** r - 1) / math.log2(i + 2) for i, r in enumerate(ideal))
                    score = dcg / idcg if idcg else 0.0
                else:
                    score = dcg
            else:
                raise ValueError(f"unsupported rank_eval metric: {mkind}")
            # id-less requests key by POSITION, '#'-prefixed; a user is free
            # to pass '#N' explicitly, so a positional key that's already
            # taken deterministically extends until unique instead of
            # raising a spurious duplicate. Duplicate EXPLICIT ids remain an
            # input error, not a silent last-wins.
            rid = req.get("id")
            if rid is None:
                rid = f"#{pos}"
                while rid in details:
                    rid += "'"
            elif rid in details:
                raise ValueError(f"duplicate rank_eval request id: {rid!r}")
            details[rid] = round(score, 6)
        vals = list(details.values())
        return {
            "metric_score": round(sum(vals) / len(vals), 6) if vals else 0.0,
            "details": details,
        }

    def explain(self, index: str, terms: list[str], url: str) -> DataFrame:
        return explain_fn(self.spark, self._dir(index), terms, url, reader=self._reader(index))

    def termvectors(self, index: str, url: str, term_statistics: bool = False) -> DataFrame:
        """GET /{index}/_termvectors/{id} (``server/src/main/java/org/
        elasticsearch/action/termvectors/TermVectorsRequest.java``): per-term
        term_freq + ordered positions for one document, re-analyzed from the
        stored field with the index analyzer (``TermVectorsService.java``
        does the same when vectors aren't stored). One-doc case of
        mtermvectors."""
        return self.mtermvectors(index, [url], term_statistics).drop("url")

    def get(self, index: str, url: str) -> dict | None:
        """GET /{index}/_doc/{id}: one document from the live view (the
        realtime get; tombstone-masked like every read)."""
        rows = self.mget(index, [url]).collect()
        return rows[0].asDict(recursive=True) if rows else None

    def update(self, index: str, url: str, doc: dict | None = None,
               script_expr: str | None = None, script: dict | str | None = None,
               upsert: dict | None = None, doc_as_upsert: bool = False,
               scripted_upsert: bool = False) -> dict:
        """POST /{index}/_update/{id}: partial-doc merge or scripted update —
        one-row op batch through the bulk op lifecycle (UpdateHelper.java:
        fetch, merge, reindex-as-update). The full request surface:
        ``upsert`` indexes the fallback document when the id is missing,
        ``scripted_upsert`` runs the script over the upsert source first
        (ctx.op == 'create', 25_script_upsert.yml), ``doc_as_upsert`` uses
        ``doc`` as the upsert body; Painless scripts see ``ctx._source``
        (mutable), ``ctx._index``/``ctx._id``/``ctx._now`` and may set
        ``ctx.op`` to 'none' (noop) or 'delete' (UpdateHelper.UpdateOpType).
        ``script_expr`` keeps the legacy SQL-expression path rewriting
        ``text``."""
        cur = self.get(index, url)
        created = cur is None
        if created:
            if doc is not None and doc_as_upsert:
                cur = dict(doc)
            elif upsert is not None:
                cur = dict(upsert)
                if not scripted_upsert:
                    script = None  # plain upsert indexes the body as-is
            else:
                raise KeyError(f"document not found: {url}")
        elif doc is not None:
            cur.update(doc)
        cur["url"] = url  # upsert bodies don't carry the id
        op = "update"
        if script is not None:
            import time

            from .functions import painless as P

            src, params = dsl.script_source(
                script if isinstance(script, (dict, str)) else {"source": script})
            source = {k: P._clean(v) for k, v in cur.items()
                      if k not in ("url", "doc_id", "dl", "norm", "seg_id")}
            ctx = {"_source": source, "_index": index, "_id": url,
                   "_now": int(time.time() * 1000),
                   "op": "create" if created else "index"}
            P.execute(P.compile_painless(src),
                      {"params": dict(params or {}), "ctx": ctx})
            if ctx.get("op") in ("none", "noop"):
                return {"result": "noop"}
            if ctx.get("op") == "delete":
                return self.delete(index, [url])
            def _unwrap(v):
                import datetime as _dt

                if isinstance(v, P.JDateTime):
                    return v.dt.replace(tzinfo=None)
                if isinstance(v, P.JInstant):
                    # exact millis → datetime (float fromtimestamp mis-
                    # rounds pre-epoch values)
                    return _dt.datetime(1970, 1, 1) + \
                        _dt.timedelta(milliseconds=v.ms)
                return v

            cur = {"url": url,
                   **{k: _unwrap(v) for k, v in ctx["_source"].items()}}
        # carry EVERY stored field (incl. custom columns) — a 4-column
        # update frame on a custom-field index would trip the op-batch
        # schema guard and, worse, silently drop the extras
        reader = self._reader(index)
        keep = [c for c in reader.docs_footer.names if c not in ("doc_id", "dl", "norm", "seg_id")]
        schema = reader.docs_schema(keep)
        # fields the script/upsert introduced beyond the stored schema ride
        # along (apply_ops dynamic-maps them, like update_by_query's path)
        from .sources.ingest_pipeline import _py_spark_type
        extras = [k for k in cur if k not in keep
                  and k not in ("url", "doc_id", "dl", "norm", "seg_id")]
        for e in extras:
            if isinstance(cur[e], dict) or (
                    isinstance(cur[e], list) and cur[e]
                    and isinstance(cur[e][0], dict)):
                # object-valued NEW fields need a declared struct column —
                # the engine's stored schema is fixed at first bulk; a
                # best-effort string type would crash deep in Arrow
                raise ValueError(
                    f"update script added object field {e!r}; object fields "
                    "must be declared in the index's stored schema at first "
                    "bulk (one docs schema per index)")
        row = [tuple(cur.get(c) for c in keep) + tuple(cur[e] for e in extras)]
        schema_str = ", ".join(
            [f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields]
            + [f"`{e}` {_py_spark_type(cur[e])}" for e in extras])
        updated = self.spark.createDataFrame(row, schema_str).select(
            "url", F.lit(op).alias("op"),
            *[c for c in keep if c != "url"], *extras)
        if script_expr:
            updated = updated.withColumn("text", F.expr(script_expr))
        res = ops_mod.apply_ops(self.spark, self._dir(index), updated, reader=reader)
        if isinstance(res, dict):
            res.setdefault("result", "created" if created else "updated")
        return res

    def simulate_pipeline(self, processors: list[dict], docs: list[dict]) -> list[dict]:
        """POST /_ingest/pipeline/_simulate: run a processor chain over
        literal documents and return the transformed docs."""
        from .sources.ingest_pipeline import run_pipeline

        df = self.spark.createDataFrame(docs)
        out = run_pipeline(df, processors)
        return [r.asDict(recursive=True) for r in out.collect()]

    def cat_indices(self) -> list[dict]:
        """GET /_cat/indices: one row per index — docs.count, docs.deleted,
        store.size, segments.count (driver-side metadata + one count per
        index; same sources as _stats)."""
        out = []
        for idx in self.indices():
            st = self.stats(idx)
            out.append({
                "index": idx,
                "docs.count": st["docs"]["count"],
                "docs.deleted": st["docs"]["deleted"],
                "store.size": st["store"]["size_in_bytes"],
                "segments.count": st["segments"]["count"],
            })
        return out

    def cat_segments(self, index: str) -> list[dict]:
        """GET /_cat/segments/{index}: one row per live segment — docs
        count, size, and routing shard (when the index is sharded)."""
        d = self._dir(index)
        meta = store.IndexMeta.load(d)
        out = []
        for seg in store.list_segs(d):
            p = os.path.join(store.seg_dir(d, seg), "postings.parquet")
            dp = os.path.join(store.seg_dir(d, seg), "docs.parquet")
            import pyarrow.parquet as pq

            out.append({
                "segment": seg,
                "docs.count": pq.read_metadata(dp).num_rows,
                "size": os.path.getsize(p) + os.path.getsize(dp),
                "shard": store.shard_of(d, seg, meta),
            })
        return out

    def cat_aliases(self) -> list[dict]:
        """GET /_cat/aliases: one row per (alias, index) pair."""
        return [
            {"alias": a, "index": ix, "is_write_index": entry.get("write_index") == ix}
            for a, entry in self._load_aliases().items()
            for ix in entry["indices"]
        ]

    # -- async search (x-pack/plugin/async-search) ---------------------------

    def async_search_submit(self, index: str, body: dict) -> dict:
        """POST /{index}/_async_search (x-pack async-search,
        TransportSubmitAsyncSearchAction): run the search detached from the
        caller on a background thread — Spark job submission is thread-safe,
        so the async search drives its own jobs against the shared session.
        Hits materialize inside the task (bounded by the body's ``size``).

        Mid-flight PARTIAL REDUCES (the reference's per-shard partials →
        MutableSearchResponse snapshots): computed LAZILY — a ``get`` that
        arrives before completion runs one bounded reduce over the first
        half of the segment set (hits + aggs over only those segments,
        ``_shards.successful`` = slice size) and caches it for later polls.
        A search nobody polls pays zero partial-reduce cost, and nothing
        accumulates per sid after delete/completion. The final response is
        the one-shot full search (exact scores/stats); partial hit scores
        are relative to the completed subset — the same caveat the
        reference documents for partial aggs accuracy."""
        import concurrent.futures

        if not hasattr(self, "_async_pool"):
            self._async_pool = concurrent.futures.ThreadPoolExecutor(
                max_workers=4, thread_name_prefix="async_search"
            )
            self._async_searches: dict[str, object] = {}
            self._async_meta: dict[str, dict] = {}
            self._async_seq = 0
        self._async_seq += 1
        sid = f"async_{self._async_seq:06d}"
        self._async_meta[sid] = {"index": index, "body": body, "snap": None}

        def run():
            # job groups are THREAD-LOCAL in Spark: every job this search
            # submits lands in group `sid`, so async_search_delete can
            # cancel the running work (the reference's task cancellation,
            # x-pack/plugin/async-search TransportDeleteAsyncSearchAction)
            sc = self.spark.sparkContext
            sc.setJobGroup(sid, f"async_search {sid}", interruptOnCancel=True)
            try:
                out = self.search(index, body)
                return {
                    "hits": out["hits"].collect(),
                    "aggregations": {
                        k: v.collect() for k, v in out.get("aggregations", {}).items()
                    },
                }
            finally:
                sc.setJobGroup(None, None)

        self._async_searches[sid] = self._async_pool.submit(run)
        return {"id": sid, "is_running": True}

    def _partial_reduce(self, index: str, body: dict) -> dict | None:
        """One partial snapshot: the search over a pin of the first half of
        the segment set (best-effort; None when the index shape doesn't
        allow it)."""
        try:
            ix, = self.resolve(index)
            segs = self._reader(ix).segs
            if len(segs) < 2:
                return None
            half = segs[:len(segs) // 2]
            pid = self._pin(ix, half)
            try:
                out = self._search_impl(ix, {**body, "pit": {"id": pid}})
                return {
                    "hits": out["hits"].collect(),
                    "aggregations": {n: f.collect() for n, f in out.get("aggregations", {}).items()},
                    "_shards": {"total": len(segs), "successful": len(half)},
                }
            finally:
                self._release(pid)
        except Exception:  # noqa: BLE001 — partials are best-effort
            return None

    def async_search_get(self, sid: str, wait_seconds: float | None = None) -> dict:
        """GET /_async_search/{id}: status plus the response — the final
        one once done, else the latest PARTIAL reduce over completed
        segments (``is_partial: true``) if one has been published.
        ``wait_seconds`` mirrors wait_for_completion_timeout — block up to
        that long before answering."""
        fut = self._async_searches.get(sid)
        if fut is None:
            raise KeyError(f"unknown async search id: {sid}")
        if wait_seconds:
            import concurrent.futures

            try:
                fut.result(timeout=wait_seconds)
            except concurrent.futures.TimeoutError:
                pass
        if not fut.done():
            meta = getattr(self, "_async_meta", {}).get(sid)
            snap = None
            if meta is not None:
                if meta["snap"] is None:
                    meta["snap"] = self._partial_reduce(
                        meta["index"], meta["body"])
                snap = meta["snap"]
            return {"id": sid, "is_running": True, "is_partial": True,
                    "response": snap}
        getattr(self, "_async_meta", {}).pop(sid, None)  # done → drop partials
        return {"id": sid, "is_running": False, "is_partial": False,
                "response": fut.result()}

    def async_search_delete(self, sid: str) -> dict:
        """DELETE /_async_search/{id}: cancel if running, drop the result.
        A search whose jobs are already on the cluster is cancelled through
        its Spark JOB GROUP (= the async id, set thread-locally at submit),
        so the backing stages stop rather than running to completion —
        the reference's async-task cancellation."""
        fut = self._async_searches.pop(sid, None)
        if fut is None:
            raise KeyError(f"unknown async search id: {sid}")
        getattr(self, "_async_meta", {}).pop(sid, None)
        if not fut.cancel():  # already running → kill its job group
            self.spark.sparkContext.cancelJobGroup(sid)
        return {"acknowledged": True}

    def tasks_list(self) -> dict:
        """GET /_tasks (task management over the async registry — the only
        long-running detached work this embedded engine owns)."""
        out = {}
        for sid, fut in getattr(self, "_async_searches", {}).items():
            out[sid] = {
                "action": "indices:data/read/async_search",
                "running": not fut.done(),
                "cancellable": not fut.done(),
            }
        return {"tasks": out}

    def tasks_cancel(self, task_id: str) -> dict:
        """POST /_tasks/{id}/_cancel."""
        fut = getattr(self, "_async_searches", {}).get(task_id)
        if fut is None:
            raise KeyError(f"unknown task: {task_id}")
        return {"cancelled": fut.cancel()}

    def cluster_stats(self) -> dict:
        """GET /_cluster/stats (indices section — node/JVM sections are the
        Spark cluster manager's domain): totals over every live index."""
        idx = self.cat_indices()
        return {
            "indices": {
                "count": len(idx),
                "docs": {"count": sum(i["docs.count"] for i in idx)},
                "segments": {"count": sum(i["segments.count"] for i in idx)},
            },
            "remote_clusters": sorted(self.get_remote_clusters()),
        }

    # -- data streams (server DataStream metadata + TransportRollover) -------

    def create_data_stream(self, name: str, **create_kw) -> dict:
        """PUT /_data_stream/{name}: a write alias over generation-numbered
        backing indices ``.ds-<name>-NNNNNN`` (DataStream.java naming).
        Index templates match against the STREAM name (the reference
        resolves templates for the data stream, not the backing index), so
        template settings are passed through explicitly."""
        backing = f".ds-{name}-000001"
        tmpl = self._match_template(name)
        s = dict((tmpl or {}).get("settings", {}))
        for k_tpl, k_arg in (
            ("analyzer", "analyzer"), ("analyzer_filters", "analyzer_filters"),
            ("num_partitions", "num_partitions"), ("number_of_shards", "num_shards"),
        ):
            if k_tpl in s and k_arg not in create_kw:
                create_kw[k_arg] = s[k_tpl]
        if "index_sort" in s and "index_sort" not in create_kw:
            create_kw["index_sort"] = tuple(s["index_sort"])
        self.create_index(backing, **create_kw)
        self.update_aliases([
            {"add": {"alias": name, "index": backing, "is_write_index": True}}
        ])
        return {"acknowledged": True, "backing_index": backing}

    def data_streams(self) -> list[dict]:
        """GET /_data_stream: streams = aliases whose indices are all
        ``.ds-`` backing indices, with their generation count."""
        out = []
        for a, entry in sorted(self._load_aliases().items()):
            idxs = entry["indices"]
            if idxs and all(ix.startswith(".ds-") for ix in idxs):
                out.append({
                    "name": a,
                    "generation": len(idxs),
                    "indices": sorted(idxs),
                    "write_index": entry.get("write_index"),
                })
        return out

    def cat_count(self, index: str | None = None) -> dict:
        """GET /_cat/count[/{index}]: live doc count for one index or all."""
        targets = [index] if index else self.indices()
        return {"count": sum(self.stats(ix)["docs"]["count"] for ix in targets)}

    def cat_shards(self, index: str) -> list[dict]:
        """GET /_cat/shards/{index}: one row per routing shard — segment
        and live-doc counts rolled up from the segment listing (shard =
        pid % number_of_shards, the routed-search pruning unit)."""
        meta = store.IndexMeta.load(self._dir(index))
        n_shards = meta.num_shards or 1
        rows: dict[int, dict] = {
            s: {"index": index, "shard": s, "docs": 0, "segments": 0}
            for s in range(n_shards)
        }
        for seg in self.cat_segments(index):
            sid = seg["shard"] if seg["shard"] is not None else 0  # unsharded
            r = rows.setdefault(
                sid,
                {"index": index, "shard": sid, "docs": 0, "segments": 0},
            )
            r["docs"] += seg["docs.count"]
            r["segments"] += 1
        return [rows[s] for s in sorted(rows)]

    def cat_templates(self) -> list[dict]:
        """GET /_cat/templates: one row per composable index template."""
        import json

        path = os.path.join(self.root, "_index_templates.json")
        if not os.path.exists(path):
            return []
        with open(path) as f:
            all_t = json.load(f)
        return [
            {"name": n, "index_patterns": t["index_patterns"], "order": t["priority"]}
            for n, t in sorted(all_t.items())
        ]

    def mtermvectors(self, index: str, urls: list[str],
                     term_statistics: bool = False) -> DataFrame:
        """POST /{index}/_mtermvectors: termvectors for several documents in
        ONE pass — the per-doc posexplode/groupBy runs over all requested
        docs together (no per-id jobs), keyed by url."""
        d = self._dir(index)
        meta = store.IndexMeta.load(d)
        docs = (
            self._docs_view(index)
            .where(F.col("url").isin(urls))
            .select("url", analysis.tokens_udf(meta.analyzer)("text").alias("toks"))
        )
        tv = (
            docs.select("url", F.posexplode("toks").alias("pos", "term"))
            .groupBy("url", "term")
            .agg(
                F.count("*").cast("bigint").alias("term_freq"),
                F.array_sort(F.collect_list("pos")).alias("positions"),
            )
        )
        if term_statistics:
            stats = self.spark.createDataFrame(self._reader(index).term_stats())
            tv = tv.join(
                F.broadcast(
                    stats.join(tv.select("term").distinct(), "term", "left_semi")
                ),
                "term",
                "left",
            )
        return tv.orderBy("url", "term")

    def stats(self, index: str) -> dict:
        """GET /{index}/_stats (docs + store + segments + search subset):
        live doc count, segment count, on-disk store bytes and the open
        search contexts (unlapsed pins, from any Engine) — read from the
        open reader (each segment's doc ids less its deleted ones) with no
        Spark job. The store bytes leave out ``pins/``, hard links to files
        counted once already or to files a merge retired."""
        d = self._dir(index)
        reader = self._reader(index)
        live = reader.live_count()
        now = time.time()
        return {
            "docs": {"count": live, "deleted": reader.doc_count - live},
            "segments": {"count": len(reader.segs)},
            "store": {"size_in_bytes": sum(map(os.path.getsize, _store_files(d)))},
            "search": {"open_contexts": sum(_expiry(p) >= now for p in _pin_dirs(d))},
        }

    def delete_by_query(self, index: str, query: dict) -> dict:
        """POST /{index}/_delete_by_query: a tombstone write of the docs
        ``_matching`` selects — the same docs a search with this query
        hits. Their doc_ids are collected and appended as one driver batch,
        like every other delete; returns the number of distinct docs it
        masked. doc_count/df keep counting masked docs until a merge
        expunges them — reference semantics."""
        self._check_write_allowed(index)
        if set(query) == {"query"}:  # REST body shape {"query": {...}}
            query = query["query"]
        matched = self._matching(index, query).select("doc_id").toArrow()
        ids = np.unique(matched["doc_id"].to_numpy())
        if len(ids):
            ops_mod.append_tombstone_batch(self._dir(index), ids)
        return {"deleted": len(ids)}

    @staticmethod
    def _source_script(docs: DataFrame, script_expr: str) -> DataFrame:
        """Shared update_by_query / reindex script application: a Painless
        ``ctx._source.*`` mutator runs in the interpreter over Arrow
        batches (``ctx._source`` = the stored document map; new fields
        materialize, removed fields drop); a plain SQL expression keeps the
        JVM fast path rewriting ``text``."""
        from .functions import painless as P

        if not P.is_painless(script_expr):
            return docs.withColumn("text", F.expr(script_expr))
        # ctx._source sugar: the ingest ctx-script machinery already does
        # trial-row schema inference + per-row execution; _source maps onto
        # the flat stored-column ctx
        src = re.sub(r"\bctx\._source\b", "ctx", script_expr)
        from .sources.ingest_pipeline import _ctx_script

        return _ctx_script(docs, src, None)

    def update_by_query(self, index: str, query: dict, script_expr: str) -> dict:
        """POST /{index}/_update_by_query (scan + rewrite + reindex-as-
        update). The script is either a SQL expression over ``text`` (fast
        path) or a Painless ``ctx._source`` mutator
        (UpdateByQueryRequest's script context)."""
        self._check_write_allowed(index)
        matched = self._matching(index, query)
        rewritten = self._source_script(
            matched.drop("doc_id", "dl", "norm", "seg_id"), script_expr)
        extra = [c for c in rewritten.columns
                 if c not in ("url", "text", "lang", "warc_ts")]
        updated = rewritten.select(
            "url", F.lit("update").alias("op"), "text", "lang", "warc_ts", *extra,
        )
        return ops_mod.apply_ops(self.spark, self._dir(index), updated,
                                 reader=self._reader(index))

    def reindex(self, source: str, dest: str, query: dict | None = None,
                script: str | dict | None = None) -> dict:
        """POST /_reindex: scan the source's live docs (optionally filtered,
        optionally transformed by a reindex script — Painless ``ctx._source``
        mutations supported), bulk into dest."""
        # full _source: every stored column rides along (ES reindex copies
        # the whole document) — the fixed 4-column select silently dropped
        # custom fields
        docs = self._matching(source, query).drop("doc_id", "dl", "norm", "seg_id")
        if script is not None:
            ssrc, _ = dsl.script_source(script)
            docs = self._source_script(docs, ssrc)
        return self.bulk(dest, docs)

    # ---- shard-count transforms (shrink / split / clone) -------------------

    def _refactor_index(self, source: str, target: str, num_partitions: int) -> dict:
        """Shared body of shrink/split/clone: a fresh routed build of the
        source's live docs at the target partition count — one shuffle, the
        same distributed path as any bulk. (The reference recovers segment
        files shard-by-shard; re-routing IS the Spark-native equivalent —
        partitioning is declarative here, not a filesystem layout.)"""
        if target in self.indices():
            raise ValueError(f"target index already exists: {target}")
        meta = store.IndexMeta.load(self._dir(source))
        self.create_index(target, analyzer=meta.analyzer, num_partitions=num_partitions,
                          num_shards=meta.num_shards if num_partitions % (meta.num_shards or 1) == 0 else None)
        docs = self._docs_view(source).drop("doc_id", "dl", "norm", "seg_id")
        info = self.bulk(target, docs)
        return {"acknowledged": True, "target": target, **{
            k: info[k] for k in ("doc_count", "partitions") if k in info
        }}

    def shrink_index(self, source: str, target: str, num_partitions: int) -> dict:
        """POST /{index}/_shrink/{target} (``TransportResizeAction``): the
        target partition count must divide the source's (factor-of
        contraction, the reference's constraint)."""
        src_p = store.IndexMeta.load(self._dir(source)).num_partitions
        if num_partitions > src_p or src_p % num_partitions != 0:
            raise ValueError(
                f"shrink target partitions {num_partitions} must divide source {src_p}"
            )
        return self._refactor_index(source, target, num_partitions)

    def split_index(self, source: str, target: str, num_partitions: int) -> dict:
        """POST /{index}/_split/{target}: target must be a multiple of the
        source partition count (factor-of expansion)."""
        src_p = store.IndexMeta.load(self._dir(source)).num_partitions
        if num_partitions < src_p or num_partitions % src_p != 0:
            raise ValueError(
                f"split target partitions {num_partitions} must be a multiple of {src_p}"
            )
        return self._refactor_index(source, target, num_partitions)

    def clone_index(self, source: str, target: str) -> dict:
        """POST /{index}/_clone/{target}: same partition count."""
        src_p = store.IndexMeta.load(self._dir(source)).num_partitions
        return self._refactor_index(source, target, src_p)

    # ---- index blocks / open / close ---------------------------------------

    def _blocks_path(self) -> str:
        return os.path.join(self.root, "_index_blocks.json")

    def _blocks(self) -> dict:
        import json

        if os.path.exists(self._blocks_path()):
            with open(self._blocks_path()) as f:
                return json.load(f)
        return {}

    def _apply_lookup_field(self, df, name: str, spec: dict):
        """Runtime field ``type: lookup`` (LookupRuntimeFieldType.java,
        search/390_lookup_fields.yml): enrich each hit with fields fetched
        from a target index where ``target_field`` equals the doc's
        ``input_field`` value. The reference runs a per-hit fetch round to
        the lookup index; here the lookup index is a small dimension by
        construction, so this is a broadcast hash join — no per-row
        round-trips, no shuffle of the hits side, scale-free in the number
        of hits. Result shape matches the reference: an array of structs
        (multiple matching lookup docs → multiple entries), NULL when the
        key finds nothing. Core join in dsl.lookup_field."""
        target = self.resolve(spec["target_index"])[0]
        tf = spec.get("target_field", "_id")
        fetch = [f["field"] if isinstance(f, dict) else f
                 for f in spec.get("fetch_fields", [])]
        return dsl.lookup_field(
            df, self._docs_view(target), name, spec["input_field"],
            "url" if tf in ("_id", "url") else tf, fetch)

    def _max_result_window(self, index: str) -> int:
        """index.max_result_window (IndexSettings.MAX_RESULT_WINDOW_SETTING,
        default 10000) for the first concrete index the name maps to, from
        its open reader's meta — missing and remote indices defer to the
        default so the not-found error (raised later by resolve) stays the
        primary failure."""
        try:
            concrete = self.resolve(index, ignore_unavailable=True)
            if not concrete or ":" in concrete[0]:
                return 10_000
            meta = self._reader(concrete[0]).meta
            return int((meta.settings or {}).get(
                "index.max_result_window",
                (meta.settings or {}).get("max_result_window", 10_000)))
        except Exception:  # noqa: BLE001 — window check must never mask the real error
            return 10_000

    def get_settings(self, index: str) -> dict:
        """GET /{index}/_settings: the structural settings the engine
        interprets (shards/partitions/analyzer/sort/similarity) plus the
        free-form bag put_settings stored, under the reference's
        ``{index: {"settings": {"index": {...}}}}`` shape."""
        meta = store.IndexMeta.load(self._dir(index))
        # free-form bag first: the STRUCTURAL keys (what the engine really
        # runs with) must win over anything a caller stashed verbatim —
        # the settings API must never report a config the engine ignores
        s = {
            **(meta.settings or {}),
            "number_of_shards": meta.num_shards,
            "num_partitions": meta.num_partitions,
            "analyzer": meta.analyzer,
            "sort": meta.index_sort,
            "similarity": {"default": {"type": "BM25", "k1": meta.k1, "b": meta.b}},
            "blocks": {b: True for b in self._blocks().get(index, [])},
        }
        return {index: {"settings": {"index": s}}}

    def put_settings(self, index: str, settings: dict) -> dict:
        """PUT /{index}/_settings (``TransportUpdateSettingsAction``):
        dynamic settings update. Interpreted keys — ``index.blocks.read`` /
        ``index.blocks.write`` / ``index.blocks.read_only`` (true adds the
        block, false removes it) and ``index.similarity.default.{k1,b}``
        (affects subsequent scoring; the reference requires close/open for
        similarity — this engine's searches read meta per request, so the
        update is immediate, documented divergence). Everything else
        persists verbatim into the settings bag."""
        d = self._dir(index)
        meta = store.IndexMeta.load(d)
        bag = dict(meta.settings or {})
        flat = {}

        def _flatten(prefix, obj):
            for k, v in obj.items():
                key = f"{prefix}.{k}" if prefix else k
                if isinstance(v, dict):
                    _flatten(key, v)
                else:
                    flat[key] = v

        _flatten("", settings)
        # validate EVERYTHING before mutating anything — a rejected request
        # must not leave partial state (half-applied blocks, lost k1)
        for key, v in flat.items():
            k = key.removeprefix("index.")
            if k.startswith("blocks.") and \
                    k.removeprefix("blocks.") not in ("write", "read", "read_only"):
                raise ValueError(f"unsupported block: {k.removeprefix('blocks.')}")
            if k in ("similarity.default.k1", "similarity.default.b"):
                float(v)  # pre-validate: a bad value must fail BEFORE any block mutates
        for key, v in flat.items():
            k = key.removeprefix("index.")
            if k.startswith("blocks."):
                block = k.removeprefix("blocks.")
                if v:
                    self.add_block(index, block)
                else:
                    self.remove_block(index, block)
            elif k == "similarity.default.k1":
                meta.k1 = float(v)
            elif k == "similarity.default.b":
                meta.b = float(v)
            else:
                bag[k] = v
        meta.settings = bag or None
        meta.save(d)
        return {"acknowledged": True}

    def disk_usage(self, index: str) -> dict:
        """POST /{index}/_disk_usage (``TransportAnalyzeIndexDiskUsageAction``):
        per-field on-disk byte accounting. Parquet column-chunk compressed
        sizes give the exact per-column cost; columns map to the
        reference's categories — postings columns = inverted_index,
        positions = term_vectors-equivalent positional payload, docs
        columns = stored_fields. Driver walks file METADATA footers only
        (O(segments × columns)), never data pages — same cost shape as the
        reference's per-shard analyze."""
        import pyarrow.parquet as pq

        d = self._dir(index)
        fields: dict[str, dict] = {}
        total = 0
        for fp in _store_files(d):
            sz = os.path.getsize(fp)
            total += sz
            if not fp.endswith(".parquet"):
                continue
            if "postings" in fp:
                cat = "inverted_index"
            else:
                cat = "stored_fields"
            md = pq.ParquetFile(fp).metadata
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                for ci in range(g.num_columns):
                    col = g.column(ci)
                    name = col.path_in_schema.split(".")[0]
                    rec = fields.setdefault(
                        name, {"total_in_bytes": 0, cat + "_in_bytes": 0})
                    rec["total_in_bytes"] += col.total_compressed_size
                    rec[cat + "_in_bytes"] = (
                        rec.get(cat + "_in_bytes", 0) + col.total_compressed_size
                    )
        return {index: {"store_size_in_bytes": total, "fields": fields}}

    def _save_blocks(self, b: dict) -> None:
        import json

        tmp = self._blocks_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(b, f)
        os.replace(tmp, self._blocks_path())

    def add_block(self, index: str, block: str) -> dict:
        """PUT /{index}/_block/{block} (``TransportAddIndexBlockAction``):
        ``write`` blocks bulk; ``read`` blocks search; ``read_only`` both."""
        if block not in ("write", "read", "read_only"):
            raise ValueError(f"unsupported block: {block}")
        b = self._blocks()
        b.setdefault(index, []).append(block)
        b[index] = sorted(set(b[index]))
        self._save_blocks(b)
        return {"acknowledged": True}

    def remove_block(self, index: str, block: str) -> dict:
        """DELETE-side of the block API: clear one named block."""
        if block not in ("write", "read", "read_only"):
            raise ValueError(f"unsupported block: {block}")
        b = self._blocks()
        b[index] = [x for x in b.get(index, []) if x != block]
        self._save_blocks(b)
        return {"acknowledged": True}

    def close_index(self, index: str) -> dict:
        """POST /{index}/_close: no reads, no writes, data retained. The
        ``closed`` marker additionally drops the index out of default
        (``expand_wildcards=open``) wildcard resolution."""
        b = self._blocks()
        b[index] = sorted(set(b.get(index, [])) | {"read_only", "closed"})
        self._save_blocks(b)
        return {"acknowledged": True}

    def open_index(self, index: str) -> dict:
        """POST /{index}/_open: clear all blocks."""
        b = self._blocks()
        b.pop(index, None)
        self._save_blocks(b)
        return {"acknowledged": True}

    def _check_block(self, index: str, op: str) -> None:
        blocks = self._blocks().get(index, [])
        if "read_only" in blocks or op in blocks:
            raise ValueError(f"index {index} is blocked for {op} (blocks: {blocks})")

    def _check_write_allowed(self, index: str) -> None:
        """The ONE write gate: settings blocks + ILM warm-phase readonly.
        Every mutating entry point (bulk/delete/update/x_by_query) must run
        through it — a write block that only bulk honored let delete_by_query
        tombstone a mounted snapshot's shared repository copy."""
        self._check_block(index, "write")
        m = self._ilm_load()["managed"].get(index)
        if m and m.get("readonly"):
            # ILM warm-phase readonly action (the index.blocks.write block)
            raise ValueError(f"index {index} is read-only (ILM warm phase)")

    # ---- cross-cluster replication (x-pack/plugin/ccr) ---------------------

    def _ccr_path(self) -> str:
        return os.path.join(self.root, "_ccr.json")

    def _ccr_load(self) -> dict:
        import json

        if os.path.exists(self._ccr_path()):
            with open(self._ccr_path()) as f:
                return json.load(f)
        return {}

    def _ccr_save(self, st: dict) -> None:
        import json

        tmp = self._ccr_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(st, f)
        os.replace(tmp, self._ccr_path())

    def _ccr_sync_one(self, leader: str, follower: str) -> dict:
        """One replication pass: mirror the leader's index directory.

        Segments are immutable, so the diff is exact: copy segment dirs the
        follower lacks, drop segment dirs the leader no longer lists (a
        merge replaced them), then refresh the small control files (stats,
        manifests, tombstones, index_meta) LAST so a reader that races the
        sync resolves segments through a consistent manifest view. This is
        the reference's file-based shard recovery
        (``x-pack/plugin/ccr/.../repository/CcrRestoreSourceService.java``)
        re-expressed over the segment store; in production the copies are
        distributed filesystem copies, here shutil."""
        lsrc, fdst = self._dir(leader), self._dir(follower)
        os.makedirs(fdst, exist_ok=True)
        lseg = os.path.join(lsrc, "segments")
        fseg = os.path.join(fdst, "segments")
        os.makedirs(fseg, exist_ok=True)
        lead_segs = set(os.listdir(lseg)) if os.path.exists(lseg) else set()
        foll_segs = set(os.listdir(fseg))
        copied, removed = [], []
        for s in sorted(lead_segs - foll_segs):
            shutil.copytree(os.path.join(lseg, s), os.path.join(fseg, s))
            copied.append(s)
        for name in os.listdir(lsrc):  # control files: manifests/meta/tombstones/…
            if name in ("segments", "pins"):  # pins are the leader's readers
                continue
            src_p, dst_p = os.path.join(lsrc, name), os.path.join(fdst, name)
            if os.path.isdir(src_p):
                shutil.rmtree(dst_p, ignore_errors=True)
                shutil.copytree(src_p, dst_p)
            else:
                shutil.copy2(src_p, dst_p)
        for s in sorted(foll_segs - lead_segs):  # merged-away segments last
            shutil.rmtree(os.path.join(fseg, s), ignore_errors=True)
            removed.append(s)
        return {"copied_segments": copied, "removed_segments": removed}

    def ccr_follow(self, leader: str, follower: str) -> dict:
        """PUT /{follower}/_ccr/follow: register + bootstrap. ``leader`` is
        usually cluster-qualified (``west:pages``) via the remote-cluster
        registry; the follower is a full local index (searchable without
        the leader) that ``ccr_poll`` keeps in sync."""
        if follower in self.indices():
            raise ValueError(f"follower index already exists: {follower}")
        st = self._ccr_load()
        st[follower] = {"leader": leader, "paused": False}
        self._ccr_save(st)
        info = self._ccr_sync_one(leader, follower)
        return {"follow_index_created": True, **info}

    def ccr_poll(self) -> list[dict]:
        """One replication tick for every active follower (the reference
        polls the leader's global checkpoint the same way)."""
        out = []
        for follower, cfg in self._ccr_load().items():
            if cfg.get("paused"):
                continue
            info = self._ccr_sync_one(cfg["leader"], follower)
            if info["copied_segments"] or info["removed_segments"]:
                out.append({"follower": follower, **info})
        return out

    def ccr_pause_follow(self, follower: str) -> dict:
        st = self._ccr_load()
        if follower not in st:
            raise ValueError(f"not a follower index: {follower}")
        st[follower]["paused"] = True
        self._ccr_save(st)
        return {"acknowledged": True}

    def ccr_resume_follow(self, follower: str) -> dict:
        st = self._ccr_load()
        if follower not in st:
            raise ValueError(f"not a follower index: {follower}")
        st[follower]["paused"] = False
        self._ccr_save(st)
        return {"acknowledged": True}

    def ccr_unfollow(self, follower: str) -> dict:
        """POST /{follower}/_ccr/unfollow: stop replication; the follower
        stays as a normal writable index."""
        st = self._ccr_load()
        st.pop(follower, None)
        self._ccr_save(st)
        return {"acknowledged": True}

    def ccr_stats(self) -> dict:
        return {
            f: {"leader": c["leader"], "paused": c.get("paused", False),
                "follower_segments": len(store.list_segs(self._dir(f)))}
            for f, c in self._ccr_load().items()
        }

    # ---- misc API parity ---------------------------------------------------

    def resolve_index(self, name: str) -> dict:
        """GET /_resolve/index/{name}: concrete indices + aliases matched."""
        aliases = self._load_aliases()
        return {
            "indices": [c for c in self.resolve(name) if c in self.indices() or ":" in c],
            "aliases": [a for a in aliases if a == name],
        }

    def search_shards(self, index: str) -> dict:
        """GET /{index}/_search_shards: the shard layout routed search uses
        (num_shards from index meta; None = unsharded, every segment scanned)."""
        concrete = self.resolve(index)
        out = {}
        for ix in concrete:
            meta = store.IndexMeta.load(self._dir(ix))
            out[ix] = {
                "num_shards": meta.num_shards,
                "num_partitions": meta.num_partitions,
                "segments": len(store.list_segs(self._dir(ix))),
            }
        return out

    def simulate_index_template(self, index: str) -> dict:
        """POST /_index_template/_simulate_index/{index}: the merged
        settings the matching (component-layered) template would apply."""
        t = self._match_template(index)
        return {"overlapping": [], "template": {"settings": t["settings"]} if t else None}

    # ---- stored scripts (PUT/GET/DELETE /_scripts/{id}) ---------------------

    def _scripts_path(self) -> str:
        return os.path.join(self.root, "_stored_scripts.json")

    def _load_stored_scripts(self) -> dict:
        import json

        path = self._scripts_path()
        if os.path.exists(path):
            with open(path) as f:
                stored = json.load(f)
        else:
            stored = {}
        dsl.STORED_SCRIPTS.update(stored)  # re-register after driver restart
        return stored

    def put_script(self, script_id: str, body: dict) -> dict:
        """PUT /_scripts/{id} (``S/action/admin/cluster/storedscripts/
        TransportPutStoredScriptAction.java``): persist a named script;
        referenced anywhere a script spec allows ``{"id": ...}``."""
        import json

        spec = body.get("script", body)
        from .functions import painless as P

        lang = spec.get("lang", "painless")
        if lang == "painless" and isinstance(spec["source"], str) \
                and P.is_painless(spec["source"]):
            # the reference compiles stored scripts at PUT and rejects
            # invalid ones (17_update_error.yml expects /compile error/)
            try:
                P.compile_painless(spec["source"])
            except P.PainlessError as exc:
                raise ValueError(f"compile error: {exc}") from exc
        stored = self._load_stored_scripts()
        stored[script_id] = {"source": spec["source"],
                             "params": spec.get("params")}
        tmp = self._scripts_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(stored, f)
        os.replace(tmp, self._scripts_path())
        dsl.STORED_SCRIPTS[script_id] = stored[script_id]
        return {"acknowledged": True}

    def get_script(self, script_id: str) -> dict:
        return {"_id": script_id,
                "script": self._load_stored_scripts()[script_id]}

    def delete_script(self, script_id: str) -> dict:
        import json

        stored = self._load_stored_scripts()
        stored.pop(script_id, None)
        dsl.STORED_SCRIPTS.pop(script_id, None)
        tmp = self._scripts_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(stored, f)
        os.replace(tmp, self._scripts_path())
        return {"acknowledged": True}

    # ---- x-pack ml: trained models / anomaly jobs / datafeeds --------------

    def _ml_path(self) -> str:
        return os.path.join(self.root, "_ml.json")

    def _load_ml(self) -> dict:
        import json

        if os.path.exists(self._ml_path()):
            with open(self._ml_path()) as f:
                state = json.load(f)
        else:
            state = {"models": {}, "jobs": {}, "datafeeds": {}}
        from .operators import ltr as ltr_mod

        for mid, mdef in state["models"].items():
            ltr_mod.TRAINED_MODELS.setdefault(mid, mdef)
        return state

    def _save_ml(self, state: dict) -> None:
        import json

        tmp = self._ml_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(state, f)
        os.replace(tmp, self._ml_path())

    def put_trained_model(self, model_id: str, body: dict) -> dict:
        """PUT /_ml/trained_models/{id} (``TransportPutTrainedModelAction``):
        persist a tree-ensemble inference definition; referenced by the
        `inference` pipeline agg, the LTR rescorer, and `infer_trained_model`.
        Accepts the reference's envelope ``{"definition": {"trained_model":
        {"ensemble": ...}}}`` or a bare ensemble dict."""
        from .operators import ltr as ltr_mod

        definition = body.get("definition", body)
        definition = definition.get("trained_model", definition)
        state = self._load_ml()
        state["models"][model_id] = definition
        self._save_ml(state)
        ltr_mod.TRAINED_MODELS[model_id] = definition
        return {"model_id": model_id, "acknowledged": True}

    def get_trained_model(self, model_id: str) -> dict:
        return {"model_id": model_id,
                "definition": self._load_ml()["models"][model_id]}

    def delete_trained_model(self, model_id: str) -> dict:
        from .operators import ltr as ltr_mod

        state = self._load_ml()
        state["models"].pop(model_id, None)
        self._save_ml(state)
        ltr_mod.TRAINED_MODELS.pop(model_id, None)
        return {"acknowledged": True}

    def infer_trained_model(self, model_id: str, docs: list[dict]) -> list[float]:
        """POST /_ml/trained_models/{id}/_infer analog: score a small batch
        of feature docs. The model compiles to one CASE-WHEN projection —
        the same JVM codegen path the pipeline agg and rescorer use — so
        this is one tiny local-relation job, not a Python loop."""
        from .operators import ltr as ltr_mod

        self._load_ml()
        model, feat_map = ltr_mod.safe_feature_model(
            ltr_mod.resolve_trained_model(model_id))
        rows = [{ph: float(d.get(feat)) if d.get(feat) is not None else None
                 for ph, feat in feat_map.items()} for d in docs]
        schema = ", ".join(f"{ph} double" for ph in feat_map)
        frame = self.spark.createDataFrame(rows, schema=schema)
        out = frame.select(F.expr(ltr_mod.ensemble_sql(model)).alias("value"))
        return [r["value"] for r in out.collect()]

    def put_anomaly_job(self, job_id: str, config: dict) -> dict:
        """PUT /_ml/anomaly_detectors/{id}: store the job config
        (``analysis_config.bucket_span`` + one detector + optional
        ``partition_field_name``; ``data_description.time_field``)."""
        state = self._load_ml()
        state["jobs"][job_id] = config
        self._save_ml(state)
        return {"job_id": job_id, "acknowledged": True}

    def put_datafeed(self, datafeed_id: str, config: dict) -> dict:
        """PUT /_ml/datafeeds/{id}: ``{job_id, indices: [index], query?}`` —
        the query feeds the job's detector exactly like the reference's
        datafeed extractor."""
        state = self._load_ml()
        if config["job_id"] not in state["jobs"]:
            raise KeyError(f"unknown anomaly job: {config['job_id']}")
        state["datafeeds"][datafeed_id] = config
        self._save_ml(state)
        return {"datafeed_id": datafeed_id, "acknowledged": True}

    def start_datafeed(
        self, datafeed_id: str, start: str | None = None, end: str | None = None,
    ) -> DataFrame:
        """POST /_ml/datafeeds/{id}/_start: pull the datafeed's (optionally
        query-filtered, time-bounded) docs and run the job's detector →
        anomaly record frame (``plans/ml.anomaly_detect``). Batch analog of
        the reference's lookback run: the extractor query and the bucketed
        detector both stay distributed; only the per-partition robust
        baseline reduces small."""
        from .plans.ml import anomaly_detect

        state = self._load_ml()
        feed = state["datafeeds"][datafeed_id]
        job = state["jobs"][feed["job_id"]]
        docs = functools.reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True),
            [self._matching(index, feed.get("query")) for index in feed["indices"]])
        ac = job["analysis_config"]
        tf = job.get("data_description", {}).get("time_field", "warc_ts")
        if start:
            docs = docs.where(F.col(tf) >= F.lit(start).cast("timestamp"))
        if end:
            docs = docs.where(F.col(tf) < F.lit(end).cast("timestamp"))
        det = ac["detectors"][0]
        m = re.fullmatch(r"(\d+)([smhd])", str(ac.get("bucket_span", "1h")))
        if not m:
            raise ValueError(f"unsupported bucket_span: {ac.get('bucket_span')!r}")
        span = int(m.group(1)) * {"s": 1, "m": 60, "h": 3600, "d": 86400}[m.group(2)]
        return anomaly_detect(
            docs, tf, span,
            function=det.get("function", "count"),
            field=det.get("field_name"),
            partition_field=det.get("partition_field_name"),
        )

    def scripts_painless_execute(
        self, script: dict, context_doc: dict | None = None,
        context: str | None = None, context_setup: dict | None = None,
    ) -> dict:
        """POST /_scripts/painless/_execute: evaluate a script against an
        optional one-doc context; stored ``{"id": ...}`` references resolve
        via the script registry. Painless-subset sources (statements,
        loops, doc values — functions/painless.py) run in the interpreter;
        single SQL expressions stay on the JVM path.

        ``context``/``context_setup`` mirror the REST API's result shaping
        (modules/lang-painless/.../70_execute_painless_scripts.yml +
        PainlessExecuteAction.java): the emit-based ``*_field`` contexts
        always return a LIST (boolean_field sorted false<true — the
        runtime BooleanFieldScript stores false/true counts; date_field
        renders epoch millis as fixed-millis ISO; ip_field canonicalizes;
        geo_point_field takes emit(lat, lon) and returns GeoJSON points),
        ``filter`` a boolean, ``score`` a double, and the default
        painless_test context Java-toString-renders the value."""
        self._load_stored_scripts()
        src, params = dsl.script_source(script)
        from .functions import painless as P

        doc_in = dict(context_doc or {})
        if context_setup:
            doc_in.update(context_setup.get("document") or {})
        # mapping-aware coercion: typed fields behave like their
        # ScriptDocValues (date → ZonedDateTime analog, geo_point → GeoPoint)
        field_types: dict = {}
        setup_index = (context_setup or {}).get("index")
        if setup_index:
            try:
                props = self.get_mapping(setup_index).get("properties", {})
                field_types = {f: s.get("type") for f, s in props.items()}
            except Exception:  # noqa: BLE001 — index without mappings
                field_types = {}

        def _coerce_field(name, v):
            t = field_types.get(name)
            if t in ("date", "date_nanos"):
                import datetime as _dt

                # strict_date_optional_time||epoch_millis: ISO strings,
                # numeric epoch millis, numeric strings; unparseable
                # values stay raw (the script sees what it was given)
                if isinstance(v, (int, float)) and not isinstance(v, bool):
                    try:
                        return P.JDateTime(_dt.datetime.fromtimestamp(
                            v / 1000.0, _dt.timezone.utc))
                    except (ValueError, OverflowError, OSError):
                        return v  # out-of-range epoch stays raw
                if isinstance(v, str):
                    s = v.replace("Z", "+00:00")
                    try:
                        return P.JDateTime(_dt.datetime.fromisoformat(s))
                    except ValueError:
                        try:
                            return P.JDateTime(_dt.datetime.fromtimestamp(
                                int(v) / 1000.0, _dt.timezone.utc))
                        except (ValueError, OverflowError):
                            return v
            if t == "geo_point":
                if isinstance(v, str) and "," in v:
                    lat, lon = v.split(",", 1)
                    return P.GeoPoint(float(lat), float(lon))
                if isinstance(v, dict):
                    return P.GeoPoint(v["lat"], v["lon"])
                if isinstance(v, (list, tuple)):  # GeoJSON order [lon, lat]
                    return P.GeoPoint(v[1], v[0])
            return P._clean(v)

        if P.is_painless(src) or (context or "").endswith("_field") \
                or context in ("filter", "score", "painless_test"):
            doc = {k: _coerce_field(k, v) for k, v in doc_in.items()}
            env = {"params": dict(params or {}), "doc": P.DocMap(doc),
                   "ctx": dict(doc), "_score": 0.0}
            emitted: list = []
            env["emit"] = (lambda *a: emitted.append(a[0] if len(a) == 1 else a))
            val = P.execute(P.compile_painless(src), env)
            return {"result": self._shape_execute_result(
                context, val, emitted, P)}
        expr = dsl.expand_script(src, params)
        row = self.spark.createDataFrame([doc_in or {"__dummy": 0}])
        val = row.select(F.expr(expr).alias("result")).collect()[0]["result"]
        return {"result": val}

    @staticmethod
    def _shape_execute_result(context: str | None, val, emitted: list, P):
        """Per-context result rendering (PainlessExecuteAction.java's
        Response#innerToXContent per ScriptContext)."""
        if context == "filter":
            return bool(val)
        if context == "score":
            return float(val)
        if context is None or context == "painless_test":
            if emitted:  # legacy emit-through-default path
                return emitted[0] if len(emitted) == 1 else emitted
            # REST parity: the painless_test response renders the value
            # through Java toString ("0.1", "-90"); the Python-native
            # default (no explicit context) keeps the raw value
            return P._jstr(val) if context == "painless_test" else val
        if context.endswith("_field"):
            vals = list(emitted)
            if context == "boolean_field":
                # BooleanFieldScript stores false/true counts → sorted output
                return sorted(bool(v) for v in vals)
            if context == "long_field":
                return [int(v) for v in vals]
            if context == "double_field":
                return [float(v) for v in vals]
            if context == "keyword_field":
                return [P._jstr(v) for v in vals]
            if context == "date_field":
                return [P._iso_millis(int(v)) for v in vals]
            if context == "ip_field":
                import ipaddress

                return [str(ipaddress.ip_address(v)) for v in vals]
            if context == "geo_point_field":
                return [{"coordinates": [float(lon), float(lat)],
                         "type": "Point"} for lat, lon in vals]
            if context == "composite_field":
                out: dict = {}
                for v in vals:
                    if isinstance(v, dict):
                        out.update(v)
                return out
            return vals
        raise ValueError(f"unsupported _execute context: {context}")

    def scripts_painless_context(self, context: str | None = None) -> dict:
        """GET /_script_context (71_context_api.yml): the script contexts
        this engine's interpreter serves. Per-context whitelist class dumps
        are a JVM-introspection surface — out of scope; the context list is
        the real routing contract."""
        contexts = sorted([
            "aggs", "aggregation_selector", "boolean_field", "composite_field",
            "date_field", "double_field", "field", "filter",
            "geo_point_field", "ingest", "interval", "ip_field",
            "keyword_field", "long_field", "moving-function", "number_sort",
            "painless_test", "processor_conditional", "runtime_fields",
            "score", "script_heuristic", "similarity", "string_sort",
            "update", "bucket_aggregation",
        ])
        if context is None:
            return {"contexts": contexts}
        if context not in contexts:
            raise ValueError(f"unknown script context: {context}")
        return {"name": context}

    def search_mvt(
        self, index: str, field: str, zoom: int, x: int, y: int,
        query: dict | None = None, grid_precision: int = 8,
    ) -> DataFrame:
        """GET /{index}/_mvt/{field}/{z}/{x}/{y} (vector-tile search,
        ``x-pack/plugin/vector-tile``): points inside web-mercator tile
        z/x/y, aggregated into the tile's sub-grid at
        ``zoom + grid_precision`` — the reference's ``aggs`` layer. Output
        is the grid-cell frame (key=z/x/y, doc_count), not protobuf MVT
        encoding (a serialization concern, documented out of scope); the
        spatial math — tile bbox from slippy-map coordinates, sub-tile
        binning — is the real thing."""
        import math as _m

        from .plans import aggs as aggs_mod

        n = 1 << zoom
        lon_min = x / n * 360.0 - 180.0
        lon_max = (x + 1) / n * 360.0 - 180.0
        lat_max = _m.degrees(_m.atan(_m.sinh(_m.pi * (1 - 2 * y / n))))
        lat_min = _m.degrees(_m.atan(_m.sinh(_m.pi * (1 - 2 * (y + 1) / n))))
        docs = self._matching(index, query)
        in_tile = docs.where(
            (F.col(f"{field}.lon") >= lon_min) & (F.col(f"{field}.lon") < lon_max)
            & (F.col(f"{field}.lat") > lat_min) & (F.col(f"{field}.lat") <= lat_max)
        )
        sub_zoom = min(zoom + grid_precision, 29)
        return aggs_mod.compile_agg(
            in_tile, "grid",
            {"geotile_grid": {"field": field, "precision": sub_zoom, "size": 65536}},
        )

    def get_source(self, index: str, url: str) -> dict | None:
        """GET /{index}/_source/{id}: the stored fields only (no metadata)."""
        d = self.get(index, url)
        if d is None:
            return None
        return {k: v for k, v in d.items() if not k.startswith("_")}

    def exists_source(self, index: str, url: str) -> bool:
        return self.get(index, url) is not None

    def grok_patterns(self) -> dict:
        """GET /_ingest/processor/grok: the built-in pattern bank."""
        from .sources.ingest_pipeline import _GROK_PATTERNS

        return dict(_GROK_PATTERNS)

    # ---- mappings ----------------------------------------------------------

    def put_mapping(self, index: str, mapping: dict) -> dict:
        """PUT /{index}/_mapping: persist the (merged) field mapping in the
        index directory; additive merges only, like the reference."""
        import json

        d = self._dir(index)
        path = os.path.join(d, "_mapping.json")
        cur = {}
        if os.path.exists(path):
            with open(path) as f:
                cur = json.load(f)
        props = {**cur.get("properties", {}), **mapping.get("properties", mapping)}
        for k, v in cur.get("properties", {}).items():
            new = props.get(k)
            if new and new.get("type") != v.get("type"):
                raise ValueError(
                    f"mapper [{k}] cannot change type {v.get('type')} -> {new.get('type')}"
                )
        merged = {"properties": props}
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(merged, f)
        os.replace(tmp, path)
        return {"acknowledged": True}

    @staticmethod
    def _highlight_opts(hl) -> dict:
        """HighlightBuilder options → highlight() kwargs. Global options
        merge under per-field ones (``fields.text``); ``type``
        (unified/plain/fvh) is accepted and normalized — all three
        highlighters differ only in how they FIND offsets (postings vs
        term vectors vs re-analysis); the passage output contract is the
        unified one this engine implements, so type selects nothing here."""
        if not isinstance(hl, dict):
            return {}
        fields = hl.get("fields") or {}
        if isinstance(fields, list):  # ES also allows a list of one-key maps
            merged_f = {}
            for f in fields:
                merged_f.update(f)
            fields = merged_f
        fspec = fields.get("text") or {}
        merged = {**hl, **fspec}
        if merged.get("type") not in (None, "unified", "plain", "fvh"):
            raise ValueError(f"unsupported highlighter type: {merged['type']!r}")
        return {
            "pre_tag": (merged.get("pre_tags") or ["<em>"])[0],
            "post_tag": (merged.get("post_tags") or ["</em>"])[0],
            "fragment_size": merged.get("fragment_size", 100),
            "number_of_fragments": merged.get("number_of_fragments", 1),
            "no_match_size": merged.get("no_match_size", 0),
        }

    @staticmethod
    def _highlight_terms(hl, default_terms: list[str], analyzer: str) -> list[str]:
        """``highlight_query`` (HighlightBuilder.highlightQuery): highlight
        against a DIFFERENT query's terms — the rescore/boosting idiom;
        falls back to the search query's terms."""
        if not isinstance(hl, dict):
            return default_terms
        fields = hl.get("fields") or {}
        if isinstance(fields, list):
            m = {}
            for f in fields:
                m.update(f)
            fields = m
        hq = (fields.get("text") or {}).get("highlight_query") \
            or hl.get("highlight_query")
        if not hq:
            return default_terms
        texts: list[str] = []

        raw_terms: list[str] = []

        def walk(q):
            if isinstance(q, dict):
                for k, v in q.items():
                    if k in ("match", "match_phrase", "match_phrase_prefix") \
                            and isinstance(v, dict):
                        (fld, mv), = v.items()
                        texts.append(mv["query"] if isinstance(mv, dict) else mv)
                    elif k == "term" and isinstance(v, dict):
                        (fld, tv), = v.items()
                        raw_terms.append(str(
                            tv["value"] if isinstance(tv, dict) else tv))
                    elif k == "terms" and isinstance(v, dict):
                        (fld, tl), = ((fk, fv) for fk, fv in v.items()
                                      if fk != "boost")
                        if isinstance(tl, list):
                            raw_terms.extend(str(t) for t in tl)
                    elif k in ("query_string", "simple_query_string") \
                            and isinstance(v, dict):
                        texts.append(str(v.get("query", "")))
                    else:
                        walk(v)
            elif isinstance(q, list):
                for x in q:
                    walk(x)

        walk(hq)
        out: list[str] = list(raw_terms)
        for t in texts:
            out.extend(analysis.analyze(str(t), analyzer))
        return list(dict.fromkeys(out)) or default_terms

    def _kw_normalizers(self, index: str) -> dict:
        """field → normalizer filter chain, from the persisted mapping
        (KeywordFieldMapper ``normalizer`` param). The value may be the
        builtin ``"lowercase"``, or an inline filter list (the engine's
        stand-in for index-settings normalizer definitions)."""
        out = {}
        for fld, spec in self.get_mapping(index).get("properties", {}).items():
            nz = spec.get("normalizer") if isinstance(spec, dict) else None
            if not nz:
                continue
            out[fld] = [nz] if isinstance(nz, str) else list(nz)
        return out

    def get_mapping(self, index: str) -> dict:
        """GET /{index}/_mapping."""
        import json

        path = os.path.join(self._dir(index), "_mapping.json")
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
        return {"properties": {}}

    def get_field_mapping(self, index: str, fields: str) -> dict:
        """GET /{index}/_mapping/field/{fields}
        (``TransportGetFieldMappingsAction``): per-field mapping extracts,
        comma-list + wildcards, reference response shape
        ``{index: {"mappings": {field: {"full_name", "mapping"}}}}`` —
        unmatched patterns simply produce no entry."""
        import fnmatch

        props = self.get_mapping(index).get("properties", {})
        out: dict = {}
        for pat in fields.split(","):
            pat = pat.strip()
            for name, spec in props.items():
                if fnmatch.fnmatchcase(name, pat):
                    out[name] = {"full_name": name, "mapping": {name: spec}}
        return {index: {"mappings": out}}
