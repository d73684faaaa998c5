"""Solr searcher-cache twins: filterCache / queryResultCache /
documentCache (conf/solr/docs/conf/solrconfig.xml:454-481) with the
queryResultWindowSize=20 / queryResultMaxDocsCached=200 paging policy
(:560-565).

Solr's SolrIndexSearcher owns three LRU caches keyed per searcher
generation; this module re-expresses each with the Spark-native value
type its semantics call for:

- **filterCache** (:454, FastLRUCache size=512): fq match sets as
  DocSets. Here the value is the fq's ``doc_id`` DataFrame PERSISTED
  (``MEMORY_AND_DISK``) — the distributed DocSet: a repeated fq skips
  its whole sub-query re-evaluation and semi-joins the cached set into
  any ``q`` via ``boolean_search(require=...)``. Eviction unpersists.
  At cluster scale this is the same win Solr gets (fq evaluation is the
  expensive half of faceted navigation), with the set co-located where
  the join needs it instead of on one heap.
- **queryResultCache** (:467, size=512): the ordered ``(doc_id, score)``
  page list for a (q, fq, sort-mode) key. Solr collects a SUPERSET of
  the requested page — ``queryResultWindowSize=20`` rounds the collect
  up, ``queryResultMaxDocsCached=200`` bounds what may be inserted —
  so nearby pages (the classic next-page click) are served without a
  new search. Implemented verbatim: the engine runs once for
  ``ceil((start+rows)/20)*20`` rows, the id+score list is cached
  driver-side (bounded: <= 200 tuples), and any later page inside the
  cached prefix launches no Spark job at all: the page (ids and scores
  from this cache, metadata from the documentCache) goes back as an
  Arrow ``LocalRelation`` (``search.local_frame``). An entry that exhausted
  the match set (returned fewer rows than asked) also serves every
  DEEPER page (they are empty by construction).
- **documentCache** (:478, size=512): stored fields by internal doc id.
  Values are the metadata tuples the response page carries; ids missing
  from the cache are fetched in ONE bounded ``doc_id IN (...)`` point
  lookup against the docmap (the same pushed-predicate point scan as
  sources/readers.py S9), never a per-row loop.

Lifecycle: like Solr, caches belong to ONE searcher generation — a
commit (segment append, compaction, docmap update) must open fresh
caches. ``invalidate()`` drops every entry and unpersists the cached
docsets; it is the ``newSearcher`` event. Nothing here is wired
implicitly: ``select()``/``boolean_search()`` stay pure, and callers
that want Solr's caching behavior route reads through
:class:`SearcherCaches` exactly as Solr routes them through its
searcher."""

from __future__ import annotations

import math
import uuid
from collections import OrderedDict

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

__all__ = ["LRUCache", "SearcherCaches"]

_MISSING = object()


def _index_ident(ix):
    """Stable identity of a mapped field index for cache keys: its
    on-disk root (two Index objects over the same root ARE the same
    filter domain — a reopened index must hit), falling back to a stamp
    set on a synthetic view without paths on first sight. ADVICE r5:
    field NAMES alone let the same fq string under a different
    field_indexes wiring with identical names return the wrong cached
    docset; a raw ``id()`` is recycled once its view is collected, so a
    new view could hit a dead one's docset."""
    root = getattr(getattr(ix, "paths", None), "root", None)
    if root:
        return root
    if getattr(ix, "_cache_stamp", None) is None:
        ix._cache_stamp = ("view", uuid.uuid4().hex)
    return ix._cache_stamp


def _fields_key(field_indexes):
    return tuple(
        sorted((f, _index_ident(ix)) for f, ix in (field_indexes or {}).items())
    )


def _resolve_now(now, *texts):
    """The NOW component of a cache key, plus the instant to parse with.

    Solr's caches key on the PARSED query — dates already resolved — so
    a date-math query must key on its resolved instant (ADVICE r5: the
    old keys omitted it, serving the first resolution stale and ignoring
    a caller-anchored ``NOW=``). An anchored request keys on that
    instant and hits across identical anchors; an un-anchored one
    resolves the wall clock and is NOT cacheable — its result is computed
    but never inserted, exactly Solr, where un-rounded NOW queries are
    uncacheable by design (its docs recommend ``NOW/DAY`` rounding for
    cacheability); a fresh key per call would only evict useful entries.
    Texts without a NOW anchor keep a NOW-free key and full cacheability
    (the common case; a literal term containing "NOW" conservatively
    degrades only cacheability, never correctness). Returns
    ``(key_part, now, cacheable)``."""
    if not _has_now(*texts):
        return None, now, True
    from datetime import datetime, timezone

    if now is None:
        return None, datetime.now(timezone.utc), False
    if now.tzinfo is None:
        now = now.replace(tzinfo=timezone.utc)
    return now.isoformat(), now, True


def _has_now(*texts) -> bool:
    return any(t and "NOW" in t for t in texts)


class LRUCache:
    """Solr LRUCache/FastLRUCache twin: bounded, move-to-front on hit,
    hit/insert/eviction stats (the cache page of Solr's admin UI), an
    ``on_evict`` hook for entries owning external state (persisted
    DataFrames)."""

    def __init__(self, size: int, on_evict=None):
        if size < 1:
            raise ValueError("cache size must be >= 1")
        self.size = int(size)
        self._d: OrderedDict = OrderedDict()
        self._on_evict = on_evict
        self.hits = 0
        self.misses = 0
        self.inserts = 0
        self.evictions = 0

    def get(self, key):
        v = self._d.get(key, _MISSING)
        if v is _MISSING:
            self.misses += 1
            return _MISSING
        self._d.move_to_end(key)
        self.hits += 1
        return v

    def put(self, key, value) -> None:
        if key in self._d:
            old = self._d.pop(key)
            if self._on_evict is not None and old is not value:
                self._on_evict(old)
        self._d[key] = value
        self.inserts += 1
        while len(self._d) > self.size:
            _, old = self._d.popitem(last=False)
            self.evictions += 1
            if self._on_evict is not None:
                self._on_evict(old)

    def clear(self) -> None:
        if self._on_evict is not None:
            for v in self._d.values():
                self._on_evict(v)
        self._d.clear()

    @property
    def stats(self) -> dict:
        return {
            "size": len(self._d),
            "hits": self.hits,
            "misses": self.misses,
            "inserts": self.inserts,
            "evictions": self.evictions,
        }


def _unpersist(df: DataFrame) -> None:
    try:
        df.unpersist()
    except Exception:  # noqa: BLE001 — session already stopped
        pass


class SearcherCaches:
    """One searcher generation's caches (see module docstring)."""

    def __init__(
        self,
        *,
        filter_size: int = 512,
        query_result_size: int = 512,
        document_size: int = 512,
        window: int = 20,
        max_docs_cached: int = 200,
    ):
        self.filter_cache = LRUCache(filter_size, on_evict=_unpersist)
        self.query_result_cache = LRUCache(query_result_size)
        self.document_cache = LRUCache(document_size)
        self.window = int(window)
        self.max_docs_cached = int(max_docs_cached)

    # -- filterCache --------------------------------------------------------
    def filter_docset(
        self,
        index,
        fq: str,
        *,
        default_op: str = "OR",
        field_indexes: dict | None = None,
        now=None,
    ) -> DataFrame:
        """The fq's match set as a persisted ``doc_id`` DataFrame
        (filterCache twin). Key = (fq, q.op, field wiring, resolved NOW)
        — same normalization Solr applies (the cache key is the parsed
        filter query, dates already resolved). ``now`` is the request's
        ``NOW=`` anchor; date-math fqs resolve against it and carry it
        in the key (see :func:`_resolve_now`)."""
        # the key carries WHICH fields scored/filtered as index
        # IDENTITIES too: the same fq string under different
        # field_indexes wirings is a different filter query (Solr's key
        # is the parsed query object)
        now_key, now, cacheable = _resolve_now(now, fq)
        key = (fq, default_op, _fields_key(field_indexes), now_key)
        if cacheable:
            hit = self.filter_cache.get(key)
            if hit is not _MISSING:
                return hit
        from ..functions.queryparser import parse_query
        from .boolean import _scored_docs

        sub = _scored_docs(
            index, parse_query(fq, default_op=default_op, now=now),
            field_indexes=field_indexes,
        )
        if sub is None:
            raise ValueError(f"fq {fq!r} parses to an empty query")
        if not cacheable:
            return sub.select("doc_id")
        docset = sub.select("doc_id").persist(StorageLevel.MEMORY_AND_DISK)
        self.filter_cache.put(key, docset)
        return docset

    def filter_docsets(
        self, index, fqs, *, default_op: str = "OR",
        field_indexes: dict | None = None, now=None,
    ):
        """A request's fq strings as ONE intersected doc set from the
        filterCache, plus the fq strings it leaves to the caller: with an
        un-anchored request (``now`` None) a NOW-bearing fq is not
        cacheable, and the caller evaluates it against the request's own
        instant — one NOW for q and every fq. Returns
        ``(require_docset_or_None, uncached_fqs)``."""
        require, uncached = None, []
        for s in fqs:
            if now is None and _has_now(s):
                uncached.append(s)
                continue
            ds = self.filter_docset(
                index, s, default_op=default_op,
                field_indexes=field_indexes, now=now,
            )
            require = (
                ds if require is None
                else require.join(ds, "doc_id", "left_semi")
            )
        return require, uncached

    # -- documentCache ------------------------------------------------------
    def fetch_docs(self, index, ids: list[int]) -> dict:
        """Stored-field rows for ``ids`` (documentCache twin): cached
        tuples served from memory, the misses fetched in one bounded
        ``doc_id IN (...)`` docmap point lookup."""
        out, missing = {}, []
        for i in ids:
            v = self.document_cache.get(i)
            if v is _MISSING:
                missing.append(i)
            else:
                out[i] = v
        if missing:
            from pyspark.sql import functions as F

            rows = (
                index.docmap.select("doc_id", "conv_id", "turn_idx", "role")
                .filter(F.col("doc_id").isin(missing))
                .collect()
            )
            for r in rows:
                v = (r["conv_id"], r["turn_idx"], r["role"])
                self.document_cache.put(int(r["doc_id"]), v)
                out[int(r["doc_id"])] = v
        return out

    # -- queryResultCache ---------------------------------------------------
    def search(
        self,
        index,
        q: str,
        *,
        rows: int = 10,
        start: int = 0,
        fq=None,
        mode: str = "full",
        default_op: str = "OR",
        now=None,
    ) -> DataFrame:
        """A cached ``boolean_search`` page: (doc_id, score, conv_id,
        turn_idx, role) with the engine's exact ordering. fq strings go
        through the filterCache; the (q, fq, mode) page list through the
        queryResultCache with Solr's window/cap policy; metadata through
        the documentCache. Falls through to the engine verbatim when
        caching cannot apply (start+rows beyond queryResultMaxDocsCached).
        ``now`` anchors date math for the page AND every fq — ONE
        instant per request, Solr's model — and joins the page key when
        any text carries a NOW anchor; an un-anchored NOW request is
        answered without inserting into any cache."""
        from .boolean import boolean_search
        from .search import META_SCHEMA, empty_result, local_frame

        fqs = tuple([fq] if isinstance(fq, str) else list(fq or []))
        require, uncached = self.filter_docsets(
            index, fqs, default_op=default_op, now=now
        )
        now_key, now, cacheable = _resolve_now(now, q, *fqs)
        if rows <= 0:
            return empty_result(index.spark, with_meta=True)
        need = start + rows
        if need > self.max_docs_cached or not cacheable:
            # Solr: pages beyond queryResultMaxDocsCached are never
            # inserted, nor are un-anchored NOW pages — run the engine
            # directly (cacheable fqs still cached)
            return boolean_search(
                index, q, k=need, mode=mode, default_op=default_op,
                fq=uncached or None, require=require, with_meta=True,
                now=now,
            ).offset(start)
        key = (q, fqs, mode, default_op, now_key)
        entry = self.query_result_cache.get(key)
        if entry is _MISSING or (
            len(entry["page"]) < need and not entry["exhausted"]
        ):
            n = min(
                int(math.ceil(need / self.window)) * self.window,
                self.max_docs_cached,
            )
            got = [
                (int(r["doc_id"]), float(r["score"]))
                for r in boolean_search(
                    index, q, k=n, mode=mode, default_op=default_op,
                    require=require, with_meta=False, now=now,
                ).collect()
            ]
            entry = {"page": got, "exhausted": len(got) < n}
            self.query_result_cache.put(key, entry)
        ids_scores = entry["page"][start:need]
        meta = self.fetch_docs(index, [i for i, _ in ids_scores])
        data = [
            (i, s) + meta.get(i, (None, None, None))
            for i, s in ids_scores
        ]
        return local_frame(index.spark, data, META_SCHEMA)

    # -- warming ------------------------------------------------------------
    def warm(self, index, queries: list) -> int:
        """QuerySenderListener twin (solrconfig.xml:585-600): run each
        static warming query through the cached path so its window and
        documents are primed before user traffic — the firstSearcher /
        newSearcher event body. Each entry is a query string or a dict of
        ``search`` kwargs (the NamedList analog: ``{"q": ..., "fq": ...,
        "rows": ...}``). The reference config ships one firstSearcher
        query and an empty newSearcher list; autowarmCount=0 on every
        cache (:454-481) means there is no entry-copying autowarm to
        mirror — static queries are the whole warming story. Returns the
        number of queries executed."""
        n = 0
        for spec in queries:
            kw = dict(spec) if isinstance(spec, dict) else {"q": spec}
            q = kw.pop("q")
            self.search(index, q, **kw).collect()
            n += 1
        return n

    # -- lifecycle ----------------------------------------------------------
    def invalidate(self) -> None:
        """The newSearcher event: a commit (segment append, compaction,
        docmap update) invalidates every per-searcher cache."""
        self.filter_cache.clear()
        self.query_result_cache.clear()
        self.document_cache.clear()

    @property
    def stats(self) -> dict:
        return {
            "filter": self.filter_cache.stats,
            "query_result": self.query_result_cache.stats,
            "document": self.document_cache.stats,
        }
