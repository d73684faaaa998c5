"""Query-time BM25 top-k over the explicit index tables.

Reimplements what the reference gets from Solr's ``/select`` handler
(`src/parserindexer/solr.py:106-127` is only an HTTP client; the actual
query pipeline — analyzer -> boolean query over postings -> BM25 -> top-k
heap — lives inside Lucene, configured by solrconfig.xml:38,770,841-848).

Plan shape (SURVEY.md §3.3):
  analyze query on the driver (same analyzer twin)
  -> termstats point-lookups (filter + collect: a few rows)
  -> postings scan pruned by (bucket partition, term predicate pushdown)
  -> vectorized decode + contrib (Arrow batches, canonical scoring module)
  -> groupBy(doc_id) with ORDER-DETERMINISTIC score fold (sorted term order)
  -> optional structured filter (semi-join on docmap, Solr `fq` analog —
     filters don't change scoring stats, matching Solr semantics)
  -> orderBy(score desc, doc_id asc).limit(k)  == TakeOrderedAndProject

Modes: 'full' (exhaustive; the rank-identity oracle path) and 'pruned'
(block-max pruning with exact rescoring + verified threshold, provably
rank-identical, falls back to 'full' when the bound check fails).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..functions.analyzer import analyze_text
from ..functions.varint import decode_deltas, decode_varint
from .build import IndexPaths, open_table, term_bucket
from .scoring import bm25_contrib

_DECODED_SCHEMA = "term string, doc_id long, tf int, contrib double"

# result-schema contract, single-sourced (every empty result is built
# by empty_result below — a hand-restated copy is how the pruned path's
# empty-result schema drifted in round 4)
SCORE_SCHEMA = "doc_id long, score double"
META_SCHEMA = (
    "doc_id long, score double, conv_id string, turn_idx int, role string"
)


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """A DataFrame over rows the driver already holds (a pandas frame or
    a list of tuples; ``schema`` a DDL string or StructType). Rows cross
    into the JVM as one Arrow batch and become a ``LocalRelation``, so
    collecting, joining or broadcasting the frame launches no Spark job —
    a bare ``createDataFrame(list)`` is an RDD scan that costs one job on
    every collect. Empty input is an empty ``LocalRelation`` too
    (``limit(0)`` is optimized away with its RDD child)."""
    if not len(rows):
        return spark.createDataFrame([], schema).limit(0)
    if not isinstance(rows, pd.DataFrame):
        st = StructType.fromDDL(schema) if isinstance(schema, str) else schema
        rows = pd.DataFrame.from_records(rows, columns=st.fieldNames())
    return spark.createDataFrame(rows, schema)


def empty_result(spark: SparkSession, with_meta: bool) -> DataFrame:
    """Empty result with the SAME schema a non-empty call returns — a
    caller selecting conv_id on an empty result must not crash."""
    return local_frame(spark, [], META_SCHEMA if with_meta else SCORE_SCHEMA)


def clamp_k(k: int, *indexes) -> int:
    """``k`` bounded by the largest doc count among ``indexes``: no top-k
    can hold more docs than exist, and Spark's TakeOrdered allocates a
    buffer of 2k slots up front — ``limit(10**9)`` below the plan root
    exhausts the driver heap."""
    return min(int(k), max(int(ix.n_docs) for ix in indexes))


@dataclass
class Index:
    """One committed index: corpus statistics from globals.json, and its
    tables, each opened once with its recorded schema (no Spark job) and
    held. A table directory that changed since it was opened — a docmap
    partition swapped in by ``update_docmap``, a tombstone generation
    added by ``delete_docs`` — is opened again on the next access, so
    those writes are visible without reloading the Index."""

    spark: SparkSession
    paths: IndexPaths
    n_docs: int
    avgdl: float
    n_buckets: int
    positions: bool = False
    schemas: dict = field(default_factory=dict)  # globals.json "schemas"
    _cached: dict = None  # populated by .cache()
    _open: dict = field(default_factory=dict, repr=False)

    def _table(self, name: str) -> "DataFrame | None":
        """Table ``name`` as held for its directory's current state (the
        directory mtime); None for an absent or empty tombstones dir."""
        if self._cached and name in self._cached:
            return self._cached[name]
        path = getattr(self.paths, name)
        try:
            gen = os.stat(path).st_mtime_ns
        except FileNotFoundError:
            if name == "tombstones":
                return None
            raise
        held = self._open.get(name)
        if held is None or held[0] != gen:
            df = None
            if name != "tombstones" or any(
                f.endswith(".parquet") for f in os.listdir(path)
            ):
                df = open_table(self.spark, path, self.schemas.get(name))
            held = self._open[name] = (gen, df)
        return held[1]

    @property
    def postings(self) -> DataFrame:
        return self._table("postings")

    @property
    def termstats(self) -> DataFrame:
        return self._table("termstats")

    @property
    def docmap(self) -> DataFrame:
        return self._table("docmap")

    @property
    def tombstones(self) -> "DataFrame | None":
        """Deleted doc_ids (Lucene liveDocs analog, index/update.py
        delete_docs), or None when nothing was ever deleted. Ids may
        repeat across generations: every consumer semi/anti-joins on
        them. A delete is visible to the next query without reloading
        the Index (Solr's commit-then-newSearcher made cheap by a
        directory stat). Deleted docs vanish from every match set /
        top-k; term statistics (df/cf, termstats-backed surfaces:
        spellcheck, suggest, /terms) stay STALE until a compaction
        rewrites the segment — exactly Lucene's semantics, where liveDocs
        filter postings iteration but docFreq ignores deletions until
        merge."""
        return self._table("tombstones")

    def blocks_for_terms(self, terms: list[str]) -> DataFrame:
        """The postings blocks of ``terms``: bucket partitions pruned,
        the term predicate pushed to the scan."""
        buckets = sorted({term_bucket(t, self.n_buckets) for t in terms})
        return self.postings.filter(
            F.col("bucket").isin(buckets) & F.col("term").isin(terms)
        )

    def term_stats(self, terms: list[str]) -> dict:
        """``{term: (df, cf, idf)}`` for the ``terms`` present: one
        termstats point lookup (a MergedSegmentsView answers the same
        call from its segments). The one point lookup behind WAND's
        cutover, conjunctive pruning, phrase idf, the spellcheck and
        wordbreak dfs, MLT term selection and ``explain``."""
        rows = (
            self.termstats.filter(F.col("term").isin(list(terms)))
            .select("term", "df", "cf", "idf")
            .collect()
        )
        return {
            r["term"]: (int(r["df"]), int(r["cf"]), float(r["idf"]))
            for r in rows
        }

    def cache(self) -> "Index":
        """Pin the index tables in executor memory for query-heavy
        workloads (Solr keeps its segments page-cached; this is the Spark
        analog). Partition pruning on `bucket` still applies — the cache
        keys on the partitioned scan."""
        self._cached = {
            name: self._table(name).cache()
            for name in ("postings", "termstats", "docmap")
        }
        return self

    def uncache(self) -> None:
        for df in (self._cached or {}).values():
            df.unpersist()
        self._cached = None


def load_index(spark: SparkSession, root: str) -> Index:
    paths = IndexPaths(root)
    with open(paths.globals_json) as f:
        g = json.load(f)
    return Index(
        spark, paths, g["n_docs"], g["avgdl"], g["n_buckets"],
        g.get("positions", False), g.get("schemas", {}),
    )


def stored_fields(index, ids) -> dict:
    """``{doc_id: (conv_id, turn_idx, role)}`` for ``ids``: one pushed
    ``doc_id IN (...)`` docmap lookup (Lucene's stored fields by docID)."""
    rows = (
        index.docmap.select("doc_id", "conv_id", "turn_idx", "role")
        .filter(F.col("doc_id").isin([int(i) for i in ids]))
        .collect()
    )
    return {
        int(r["doc_id"]): (r["conv_id"], r["turn_idx"], r["role"])
        for r in rows
    }


def _block_docs(pdf: pd.DataFrame) -> np.ndarray:
    """GLOBAL doc ids of one Arrow batch of blocks: the docs_bin deltas,
    plus the per-block ``base`` docID offset a multi-segment view
    (streaming/merged.py) carries — segment-local ids become global ids
    inside the batch."""
    docs = np.concatenate(
        [decode_deltas(b, n) for b, n in zip(pdf["docs_bin"], pdf["n"])]
    ).astype(np.int64)
    if "base" in pdf.columns:
        docs += np.repeat(
            pdf["base"].to_numpy(dtype=np.int64), pdf["n"].to_numpy()
        )
    return docs


def _member(docs: np.ndarray, cand: np.ndarray) -> np.ndarray:
    """Mask of ``docs`` present in the SORTED, non-empty id array
    ``cand``."""
    i = np.searchsorted(cand, docs)
    return (i < len(cand)) & (cand[np.minimum(i, len(cand) - 1)] == docs)


def _make_decoder(avgdl: float | None, cand: "np.ndarray | None" = None):
    """mapInPandas block decoder (iterator of Arrow batches): blocks ->
    ``(term, doc_id, tf, contrib)``, or bare ``doc_id`` when ``avgdl`` is
    None — doc-SET consumers (candidate sets, constant-score and MUST_NOT
    clauses, facet match sets) skip the tf/dl varint passes and the BM25
    float work a ``.distinct()`` would discard. Contribs are computed HERE
    (numpy, canonical module) so they are bit-identical to the oracle's —
    no JVM float arithmetic on the path.

    ``cand`` (SORTED global doc ids) drops non-candidate entries inside
    the batch — pruned phase 3, the explain page, and conjunctive
    evaluation when the rarest term is selective (a doc lacking it can
    never reach n_terms == |terms|), the same lossless filter the phrase
    path applies."""

    def decode(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            docs, keep = _block_docs(pdf), None
            if cand is not None:
                keep = _member(docs, cand)
                if not keep.any():
                    continue
                docs = docs[keep]
            if avgdl is None:
                yield pd.DataFrame({"doc_id": docs})
                continue
            n = pdf["n"].to_numpy()
            terms = np.repeat(pdf["term"].to_numpy(), n)
            idfs = np.repeat(pdf["idf"].to_numpy(dtype=np.float64), n)
            tfs = np.concatenate(
                [decode_varint(b, m) for b, m in zip(pdf["tfs_bin"], n)]
            ).astype(np.int64)
            dls = np.concatenate(
                [decode_varint(b, m) for b, m in zip(pdf["dls_bin"], n)]
            ).astype(np.float64)
            if keep is not None:
                terms, idfs, tfs, dls = (
                    terms[keep], idfs[keep], tfs[keep], dls[keep]
                )
            contrib = bm25_contrib(tfs, dls, 1.0, avgdl) * idfs
            yield pd.DataFrame(
                {
                    "term": terms,
                    "doc_id": docs,
                    "tf": tfs.astype(np.int32),
                    "contrib": contrib,
                }
            )

    return decode


def _decode(
    blocks: DataFrame,
    avgdl: float | None = None,
    cand: "np.ndarray | None" = None,
) -> DataFrame:
    """Decode postings ``blocks`` through :func:`_make_decoder`: scored
    ``(term, doc_id, tf, contrib)`` rows with ``avgdl``, ``doc_id`` rows
    without it. Projects only the payload the decoder reads."""
    if avgdl is None:
        cols, schema = ["n", "docs_bin"], "doc_id long"
    else:
        cols = ["term", "n", "idf", "docs_bin", "tfs_bin", "dls_bin"]
        schema = _DECODED_SCHEMA
    if "base" in blocks.columns:
        cols.append("base")
    return blocks.select(*cols).mapInPandas(_make_decoder(avgdl, cand), schema)


def _docs_with_any(index: "Index", terms: list[str]) -> DataFrame:
    """Distinct doc_ids containing >= 1 of ``terms`` (docs-only decode of
    only those terms' blocks)."""
    if not terms:
        return local_frame(index.spark, [], "doc_id long")
    return _decode(index.blocks_for_terms(terms)).distinct()


def _apply_boosts(decoded: DataFrame, terms: list[str], boost_of) -> DataFrame:
    """Per-term clause boosts: multiply each decoded contrib by its term's
    boost BEFORE the deterministic fold. ONE shared implementation (the
    boolean clause evaluator and the WAND delegation both call this) so
    the float op order — and therefore bit-identity between the two paths
    and the oracle — is fixed in a single place. No-boost queries skip the
    multiply entirely (the oracle mirrors the same guard)."""
    if not any(boost_of(t) != 1.0 for t in terms):
        return decoded
    bmap = F.create_map(
        *[x for t in terms for x in (F.lit(t), F.lit(float(boost_of(t))))]
    )
    return decoded.withColumn("contrib", F.col("contrib") * bmap[F.col("term")])


_POS_DECODED_SCHEMA = "term string, doc_id long, dl long, positions array<int>"


def _make_pos_decoder(cand: "np.ndarray | None" = None):
    """mapInPandas block decoder for the PHRASE path: blocks (with
    positional payload) -> one row per posting entry carrying that entry's
    absolute token-position list. Doc ids and the ``cand`` membership
    test are the flat decoder's (:func:`_block_docs`, :func:`_member`).

    ``cand`` (SORTED global doc ids) filters emitted entries to candidate
    docs INSIDE the Arrow batch — a phrase doc must contain the rarest
    term, so entries of other docs can never match and dropping them here
    shrinks the positions-array shuffle (the expensive bytes) by the
    candidate selectivity. Pure numpy membership; lossless."""
    from ..functions.varint import decode_deltas_resets

    def decode(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            out_term, out_doc, out_dl, out_pos = [], [], [], []
            batch_docs = _block_docs(pdf)
            batch_keep = None if cand is None else _member(batch_docs, cand)
            ends = np.cumsum(pdf["n"].to_numpy())
            for row, end in zip(pdf.itertuples(index=False), ends):
                n = int(row.n)
                docs = batch_docs[end - n:end]
                keep = None if batch_keep is None else batch_keep[end - n:end]
                if keep is not None and not keep.any():
                    continue
                tfs = decode_varint(row.tfs_bin, n).astype(np.int64)
                dls = decode_varint(row.dls_bin, n).astype(np.int64)
                occ_starts = np.zeros(n, dtype=np.int64)
                np.cumsum(tfs[:-1], out=occ_starts[1:])
                pos = decode_deltas_resets(
                    row.pos_bin, int(tfs.sum()), occ_starts
                ).astype(np.int32)
                plists = np.split(pos, occ_starts[1:])
                if keep is not None:
                    docs, dls = docs[keep], dls[keep]
                    plists = [p for p, k in zip(plists, keep) if k]
                    n = int(keep.sum())
                out_term.append(np.repeat(row.term, n))
                out_doc.append(docs)
                out_dl.append(dls)
                out_pos.extend(plists)
            if not out_doc:
                continue
            yield pd.DataFrame(
                {
                    "term": np.concatenate(out_term),
                    "doc_id": np.concatenate(out_doc),
                    "dl": np.concatenate(out_dl),
                    "positions": out_pos,
                }
            )

    return decode


# phrase candidate pruning engages only when the rarest phrase term has
# at most this many postings (bounds the driver-collected doc-id list:
# 1M longs = 8 MB, shipped to executors once per stage via the broadcast
# task binary) AND the other terms are >= 2x bigger in aggregate.
# Measured at 6.5M docs: still a 1.8x win at 730k candidates
# ("bace cedi" 37.9s -> 20.8s), so the cap is set by memory comfort,
# not by where the win runs out.
PHRASE_PRUNE_CAND_CAP = 1_000_000
# the per-candidate block-range semi-join (pre-IO block pruning) only
# pays when candidates are FEW: it is a broadcast nested loop over block
# metadata (O(cand x blocks)), and uniformly-spread candidates hit ~every
# block anyway (measured at 6.5M docs: 149k uniform candidates pruned 4%
# of blocks while the join cost 12s). Above this, the in-decoder
# membership filter alone does the work.
PHRASE_BLOCK_JOIN_CAP = 5_000


def sloppy_phrase_freq(
    position_lists: list, slop: int
) -> int:
    """Ordered-proximity frequency: the number of occurrences p of the
    FIRST token that admit strictly-increasing positions for the remaining
    tokens (in query order) with total window stretch
    (p_last - p - (m-1)) <= slop. Greedy earliest-completion per start is
    optimal for the window criterion, so this is deterministic and
    O(total positions). slop=0 is exactly adjacency (Lucene PhraseQuery
    slop=0); slop>0 is a deliberately simplified, ORDERED subset of
    Lucene's sloppy semantics (Lucene also permits reordering) — the
    pure-Python oracle implements the identical definition, so the gate is
    exact equality, not approximation. Shared by the Arrow UDF below and
    oracle.BM25Oracle.phrase_search."""
    lists = [np.asarray(p, dtype=np.int64) for p in position_lists]
    m = len(lists)
    count = 0
    for p in lists[0]:
        q = int(p)
        ok = True
        for lst in lists[1:]:
            i = int(np.searchsorted(lst, q + 1))
            if i == len(lst):
                ok = False
                break
            q = int(lst[i])
        if ok and (q - int(p) - (m - 1)) <= slop:
            count += 1
    return count


def phrase_scores(
    index: "Index",
    tokens: list[str],
    *,
    slop: int = 0,
    prune_cand_cap: int | None = None,
) -> DataFrame:
    """Per-doc phrase scores for EVERY matching doc — (doc_id, score,
    phrase_freq), unfiltered and un-limited. The composable core behind
    both ``phrase_eval`` (quoted-query top-k) and the boolean evaluator
    (index/boolean.py), where a phrase is one clause among several and its
    scores join against other clauses' before any top-k.

    Semantics (Lucene PhraseQuery, slop=0 — the quoted form the default
    parser the reference fronts accepts out of the box,
    solrconfig.xml:841-848): a doc matches when some start position p has
    token_i at p+i for every i; freq = number of such p; score =
    BM25(tf=freq) with idf = SUM of the tokens' idfs (one addend per
    token INSTANCE, in query order — the float fold order both the
    engine and the pure-Python oracle use). ``tokens`` is the ORDERED
    analyzed sequence (duplicates allowed: "the cat the hat" is four
    offsets). ``slop`` relaxes adjacency to ordered proximity
    (sloppy_phrase_freq).

    Plan: decode blocks with positions (Arrow) -> one shuffle to
    groupBy(doc_id) -> adjacency verified in Catalyst (array_intersect
    chain over the per-term position arrays, all JVM-side) -> vectorized
    scoring UDF on the surviving docs only. A token absent from a doc
    makes the map lookup NULL and the intersect chain NULL, so presence
    checking is implicit — no separate n_terms filter."""
    spark = index.spark
    empty = local_frame(
        spark, [], "doc_id long, score double, phrase_freq int"
    )
    if not tokens:
        return empty
    if not getattr(index, "positions", False):
        raise ValueError(
            "phrase search requires an index built with positions=True "
            "(build_index(..., positions=True))"
        )
    terms = sorted(set(tokens))
    st = index.term_stats(terms)
    stats = {t: idf for t, (_, _, idf) in st.items()}
    dfs = {t: df for t, (df, _, _) in st.items()}
    if any(t not in stats for t in terms):
        return empty  # a phrase token with df=0 can never match
    # one addend per token instance, query order (oracle mirrors this)
    idf_sum = 0.0
    for t in tokens:
        idf_sum += stats[t]
    blocks = index.blocks_for_terms(terms)
    # candidate pruning (lossless): a phrase doc must contain EVERY term,
    # so when the rarest term is much smaller than the rest, collect its
    # docs-only list (cheap decode — no positions/tf/dl; bounded by the
    # cap like WAND's driver candidate list) and drop other terms'
    # entries for non-candidate docs INSIDE the positional decoder — the
    # positions-array shuffle (the expensive bytes of the phrase path)
    # shrinks by the candidate selectivity. When candidates are FEW, also
    # prune whole blocks pre-IO via the [doc_min, doc_max] semi-join
    # (WAND phase-3 style; doc_min/doc_max are GLOBAL in both index
    # shapes — the merged view shifts them at construction, only the
    # docs_bin deltas are segment-local). The nested-loop block join is
    # gated on PHRASE_BLOCK_JOIN_CAP: measured at 6.5M docs, 149k
    # uniformly-spread candidates pruned ~4% of blocks while the join
    # cost 12s. Hot-term phrases skip all of this (no selectivity =>
    # pure overhead).
    cap = PHRASE_PRUNE_CAND_CAP if prune_cand_cap is None else prune_cand_cap
    rare = min(terms, key=lambda t: dfs[t])
    cand_arr = None
    if (
        len(terms) > 1
        and dfs[rare] <= cap
        and sum(dfs.values()) >= 3 * dfs[rare]
    ):
        # Arrow transfer (toPandas), not row-object collect: at the 1M
        # cap this is an 8 MB int64 column, not a million Row objects
        cand_arr = np.sort(
            _docs_with_any(index, [rare])
            .toPandas()["doc_id"]
            .to_numpy(dtype=np.int64)
        )
        if cand_arr.size == 0:
            return empty
        others = blocks.filter(F.col("term") != rare).filter(
            # coarse bounds: pushed to the block-metadata parquet scan
            (F.col("doc_max") >= int(cand_arr[0]))
            & (F.col("doc_min") <= int(cand_arr[-1]))
        )
        if cand_arr.size <= PHRASE_BLOCK_JOIN_CAP:
            cand_df = local_frame(
                spark, pd.DataFrame({"cand": cand_arr}), "cand long"
            )
            others = others.join(
                F.broadcast(cand_df),
                (F.col("cand") >= F.col("doc_min"))
                & (F.col("cand") <= F.col("doc_max")),
                "left_semi",
            )
        blocks = blocks.filter(F.col("term") == rare).unionByName(others)
    cols = ["term", "n", "docs_bin", "tfs_bin", "dls_bin", "pos_bin"]
    if "base" in blocks.columns:
        cols.append("base")
    decoded = blocks.select(*cols).mapInPandas(
        _make_pos_decoder(cand_arr), _POS_DECODED_SCHEMA
    )
    per_doc = decoded.groupBy("doc_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct("term", "positions"))
        ).alias("pm"),
        F.min("dl").alias("dl"),
    )
    def _shifted(term: str, off: int):
        # single-arg lambda only: a 2-arg callable makes F.transform pass
        # the ARRAY INDEX as the second argument, silently shadowing a
        # default-bound offset
        return F.transform(F.col("pm")[term], lambda p: p - F.lit(off))

    if slop == 0:
        cand = F.col("pm")[tokens[0]]
        for i, t in enumerate(tokens[1:], 1):
            cand = F.array_intersect(cand, _shifted(t, i))
        freq_col = F.size(cand)
    else:
        # ordered proximity: positions interleave per start, which the
        # rigid intersect chain cannot express — Arrow-batched UDF over
        # the per-doc position arrays (query-term positions only; the
        # decode already pruned to the query's blocks)
        toks = list(tokens)
        s = int(slop)

        @F.pandas_udf("int")
        def _sloppy(arrs: pd.Series) -> pd.Series:
            out = np.zeros(len(arrs), dtype=np.int32)
            for r, pm in enumerate(arrs):
                if pm is None:
                    continue
                if not isinstance(pm, dict):  # arrow map as (k, v) pairs
                    pm = dict(pm)
                lists = [pm.get(t) for t in toks]
                if any(p is None or not len(p) for p in lists):
                    continue
                out[r] = sloppy_phrase_freq(lists, s)
            return pd.Series(out)

        freq_col = _sloppy("pm")
    matched = (
        per_doc.withColumn("phrase_freq", freq_col)
        .filter(F.col("phrase_freq") > 0)
        .select("doc_id", "dl", "phrase_freq")
    )
    avgdl = index.avgdl

    @F.pandas_udf("double")
    def _pscore(freq: pd.Series, dl: pd.Series) -> pd.Series:
        return pd.Series(
            bm25_contrib(
                freq.to_numpy(dtype=np.float64),
                dl.to_numpy(dtype=np.float64),
                idf_sum,
                avgdl,
            )
        )

    return matched.withColumn("score", _pscore("phrase_freq", "dl")).drop("dl")


def phrase_eval(
    index: "Index",
    tokens: list[str],
    k: int,
    *,
    slop: int = 0,
    role: str | None = None,
    filters: dict | None = None,
    with_meta: bool = True,
) -> DataFrame:
    """Quoted-query top-k over ``phrase_scores`` (doc-set filters, order,
    limit, metadata — the same post-processing the term paths apply)."""
    scored = phrase_scores(index, tokens, slop=slop)
    allowed = allowed_docs(index, role, filters)
    if allowed is not None:
        scored = scored.join(allowed, "doc_id", "left_semi")
    ts = index.tombstones  # Lucene liveDocs (see search())
    if ts is not None:
        scored = scored.join(F.broadcast(ts), "doc_id", "left_anti")
    topk = (
        scored.select("doc_id", "score", "phrase_freq")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(clamp_k(k, index))
    )
    if with_meta:
        meta = index.docmap.select("doc_id", "conv_id", "turn_idx", "role")
        topk = (
            topk.join(meta, "doc_id", "left")
            .orderBy(F.desc("score"), F.asc("doc_id"))
        )
    return topk


def _score_decoded(decoded: DataFrame, keep_cs: bool = False) -> DataFrame:
    """Deterministic per-doc score: fold contribs in ascending term order.
    ``keep_cs`` retains the collected (term, contrib) structs so callers
    can derive extra per-doc facts (e.g. synonym-group coverage) from the
    same single aggregation pass."""
    out = (
        decoded.groupBy("doc_id")
        .agg(
            F.sort_array(F.collect_list(F.struct("term", "contrib"))).alias("cs"),
            F.count("*").alias("n_terms"),
        )
        .withColumn(
            "score",
            F.aggregate(
                "cs", F.lit(0.0), lambda acc, x: acc + x["contrib"]
            ),
        )
    )
    return out if keep_cs else out.drop("cs")


def _containment_filter(
    scored: DataFrame, contain_all: list | None, contain_any: list | None
) -> DataFrame:
    """Score-neutral term-containment filters over the collected ``cs``
    structs (single-arg lambdas only — see boolean.py's _has note)."""

    def _has(term: str):
        return F.exists("cs", lambda x: x["term"] == F.lit(term))

    cond = None
    for t in sorted(set(contain_all or [])):
        c = _has(t)
        cond = c if cond is None else (cond & c)
    for grp in contain_any or []:
        gc = None
        for t in sorted(set(grp)):
            c = _has(t)
            gc = c if gc is None else (gc | c)
        if gc is not None:
            cond = gc if cond is None else (cond & gc)
    return scored if cond is None else scored.filter(cond)


@dataclass(frozen=True)
class Between:
    """Range marker for ``search(filters=...)`` — the Solr
    ``fq=field:[lo TO hi]`` form. An explicit type because a bare 2-tuple
    is ambiguous: ``('user', 'assistant')`` intended as IN would silently
    become BETWEEN over string ordering (round-2 ADVICE). Inclusive by
    default; ``lo_inc=False`` / ``hi_inc=False`` give Lucene's exclusive
    ``{lo TO hi}`` brackets, and a None endpoint is the open bound
    (``[* TO hi]``) — NOT a null-comparison, which is what naively
    passing ``'*'`` into ``between()`` would produce."""

    lo: object
    hi: object
    lo_inc: bool = True
    hi_inc: bool = True

    def condition(self, col):
        conds = []
        if self.lo is not None:
            conds.append(col >= self.lo if self.lo_inc else col > self.lo)
        if self.hi is not None:
            conds.append(col <= self.hi if self.hi_inc else col < self.hi)
        if not conds:  # [* TO *] = field exists (Solr semantics)
            return col.isNotNull()
        cond = conds[0]
        for c in conds[1:]:
            cond = cond & c
        return cond


def allowed_docs(index: Index, role: str | None, filters: dict | None):
    """Solr ``fq`` analog: build the allowed-docID set from docmap-field
    predicates (scalar = equality, list/set/tuple = IN, ``Between(lo, hi)``
    = range). Returns None when unfiltered. Predicates reach the
    docmap parquet scan as pushed filters."""
    conds = []
    if role is not None:
        conds.append(F.col("role") == role)
    for fld, v in (filters or {}).items():
        if isinstance(v, Between):
            conds.append(v.condition(F.col(fld)))
        elif isinstance(v, tuple):
            raise ValueError(
                f"filters[{fld!r}] is a bare tuple — ambiguous between IN "
                "and range semantics. Pass a list/set for IN or "
                "Between(lo, hi) for an inclusive range."
            )
        elif isinstance(v, (list, set, frozenset)):
            conds.append(F.col(fld).isin(list(v)))
        else:
            conds.append(F.col(fld) == v)
    if not conds:
        return None
    cond = conds[0]
    for c in conds[1:]:
        cond = cond & c
    return index.docmap.filter(cond).select("doc_id")


def search(
    index: Index,
    query: str,
    k: int = 10,
    *,
    conjunctive: bool = False,
    role: str | None = None,
    filters: dict | None = None,
    mode: str = "full",
    with_meta: bool = True,
    pool_target: int | None = None,
    full_cutover: int | None = None,
    synonyms: dict[str, list[str]] | None = None,
    with_excerpt: bool = False,
    phrase: bool = False,
    slop: int = 0,
    boosts: dict | None = None,
    require: DataFrame | None = None,
    exclude: DataFrame | None = None,
    min_match: int = 0,
    contain_all: list | None = None,
    contain_any: list | None = None,
) -> DataFrame:
    """BM25 top-k. Returns (doc_id, score[, conv_id, turn_idx, role
    [, excerpt]]). ``with_excerpt`` attaches an F11 sentence excerpt around
    the first query-term occurrence (functions/excerpt.py) — the k-row
    equivalent of Solr highlighting; computed only on the k results.

    ``mode='pruned'`` is ADAPTIVE: below ``full_cutover`` total query-term
    postings (default wand.FULL_CUTOVER_POSTINGS) it runs the full path —
    pruning's extra driver round-trips only pay off on large posting sets.

    ``synonyms`` is the QUERY-TIME synonym hook (default empty), mirroring
    the reference's query analyzer SynonymFilter (managed-schema:548-553;
    the index chain has none) — see functions.analyzer.parse_synonyms.
    Synonym targets are themselves analyzed (a multi-word target becomes
    several OR terms). With ``conjunctive=True``, Solr's SynonymQuery
    semantics apply: a document must match at least one variant of EVERY
    original token, not every expanded term — expanded-AND queries run
    group-aware on the full path.

    ``filters`` generalizes ``role`` to arbitrary docmap fields — the full
    Solr ``fq`` surface (P10; solr.py /select clients pass fq on any
    stored field): scalar = equality, list/set = IN, ``Between(lo, hi)`` =
    inclusive range (e.g. ``{"tool": "search", "ts": Between(t0, t1)}``;
    a bare 2-tuple raises — ambiguous with IN). Like Solr, fq
    never changes scoring statistics — it is a semi-join on the docmap
    applied after scoring.

    ``boosts``/``require``/``exclude`` are the delegated boolean-query
    hooks (see full_eval) — per-term score multipliers plus score-neutral
    required/excluded doc-set DataFrames; both evaluation modes honor
    them (the pruned path's completeness check runs after the joins, so
    rank identity with the full path is preserved)."""
    from ..functions.analyzer import synonym_groups

    if slop and not phrase:
        raise ValueError("slop only applies to phrase=True queries")
    if (contain_all or contain_any) and (phrase or synonyms):
        raise ValueError(
            "contain_all/contain_any are delegated term-query hooks; "
            "phrase/synonym queries compose through index.boolean"
        )
    if min_match and (conjunctive or synonyms):
        raise ValueError(
            "min_match applies to plain disjunctive queries only "
            "(conjunctive already requires every term; synonym expansion "
            "changes what a matched-term count means)"
        )
    if phrase and (boosts or require is not None or exclude is not None):
        raise ValueError(
            "boosts/require/exclude are term-query hooks; phrase=True "
            "queries compose them through index.boolean instead"
        )
    if phrase:
        # quoted-phrase semantics: ordered token sequence, full evaluation
        # (positions are doc-local facts; block-max bounds don't apply to
        # proximity). ``slop`` relaxes adjacency to ordered proximity
        # (see phrase_eval / sloppy_phrase_freq).
        # conjunctive/synonyms don't compose with a phrase.
        if conjunctive or synonyms:
            raise ValueError(
                "phrase=True is a positional query; conjunctive/synonyms "
                "do not apply (Lucene PhraseQuery semantics)"
            )
        seq = analyze_text(query)
        topk = phrase_eval(
            index, seq, k, slop=slop, role=role, filters=filters,
            with_meta=with_meta,
        )
        if with_meta and with_excerpt:
            topk = _attach_excerpts(index, topk, sorted(set(seq)))
        return topk

    tokens = sorted(set(analyze_text(query)))
    groups = synonym_groups(tokens, synonyms)
    terms = sorted({t for g in groups for t in g})
    spark = index.spark
    if not terms:
        return empty_result(spark, with_meta)
    # Lucene liveDocs: deleted docs ride the existing exclude hook, so
    # BOTH evaluation modes (and every boolean delegation through here)
    # drop them before the top-k — scores of survivors are untouched
    # because df/dl statistics intentionally stay stale until compaction
    ts = index.tombstones
    if ts is not None:
        exclude = ts if exclude is None else exclude.unionByName(ts)
    # unexpanded queries keep the cheaper n_terms conjunctive filter;
    # group semantics only differ (and only engage) under real expansion
    expanded = any(len(g) > 1 for g in groups) or len(terms) != len(groups)
    groups = groups if expanded else None
    if mode == "pruned":
        from .wand import search_pruned

        topk = search_pruned(
            index, terms, k, conjunctive=conjunctive, groups=groups,
            role=role, filters=filters,
            with_meta=with_meta, pool_target=pool_target,
            full_cutover=full_cutover,
            boosts=boosts, require=require, exclude=exclude,
            min_match=min_match,
            contain_all=contain_all, contain_any=contain_any,
        )
    else:
        topk = full_eval(
            index, terms, k, conjunctive=conjunctive, groups=groups,
            role=role, filters=filters, with_meta=with_meta,
            boosts=boosts, require=require, exclude=exclude,
            min_match=min_match,
            contain_all=contain_all, contain_any=contain_any,
        )
    if with_meta and with_excerpt:
        topk = _attach_excerpts(index, topk, terms)
    return topk


def full_eval(
    index: Index,
    terms: list[str],
    k: int,
    *,
    conjunctive: bool = False,
    groups: list[set] | None = None,
    role: str | None = None,
    filters: dict | None = None,
    with_meta: bool = True,
    boosts: dict | None = None,
    require: DataFrame | None = None,
    exclude: DataFrame | None = None,
    min_match: int = 0,
    contain_all: list | None = None,
    contain_any: list | None = None,
) -> DataFrame:
    """Exhaustive evaluation over an ALREADY-ANALYZED term list — the
    single implementation behind search(mode='full'), the adaptive-cutover
    route, and the pruned path's completeness fallback (all three must
    evaluate the exact same term set; re-analyzing a joined query string
    could re-tokenize synonym-expanded terms differently).

    ``groups`` (optional, with conjunctive) holds one expansion set per
    original query token: a doc qualifies when it matches >= 1 term of
    every group (Solr SynonymQuery AND semantics).

    ``boosts``/``require``/``exclude`` carry delegated boolean-query
    semantics (index/boolean.py): per-term score multipliers (applied via
    the shared ``_apply_boosts`` fold), a score-neutral required doc set
    (semi-join — used for fq match-set restrictions), and a score-neutral
    excluded doc set (anti-join — the union of all MUST_NOT clauses'
    docs). ``min_match`` (exclusive with ``conjunctive``) is delegated
    minimumNumberShouldMatch over a pure disjunction: keep docs matching
    >= that many of ``terms`` — the same n_terms count the conjunctive
    filter uses.

    ``contain_all`` / ``contain_any`` are TERM-containment constraints
    over terms that are ALREADY in ``terms`` (delegated MUST clauses
    beside SHOULD clauses, and flattened MUST groups): they filter on the
    per-doc (term, contrib) structs the scoring aggregation collects —
    the same ``exists`` mechanism the clause evaluator uses — so no
    separate doc-set decode or join is needed (a hot MUST term's require
    DataFrame would cost a full docs-only decode; this costs nothing
    beyond keeping ``cs`` through the aggregation)."""
    blocks = index.blocks_for_terms(terms)
    # conjunctive rare-term pruning (lossless, same rule as the phrase
    # path): a doc lacking the rarest term can never reach
    # n_terms == |terms|, so when that term is selective its docs-only
    # list filters the other terms' entries inside the decoder — the
    # groupBy(doc_id) shuffle shrinks by the candidate selectivity.
    # groups (synonym-AND) are excluded: there the requirement is >= 1
    # term PER GROUP, not every term.
    cand_arr = None
    if conjunctive and groups is None and len(terms) > 1:
        dfs = {t: df for t, (df, _, _) in index.term_stats(terms).items()}
        if len(dfs) == len(terms):  # every term exists (else no pruning;
            rare = min(terms, key=lambda t: dfs[t])  # n_terms filter wins)
            if (
                dfs[rare] <= PHRASE_PRUNE_CAND_CAP
                and sum(dfs.values()) >= 3 * dfs[rare]
            ):
                cand_arr = np.sort(
                    _docs_with_any(index, [rare])
                    .toPandas()["doc_id"]
                    .to_numpy(dtype=np.int64)
                )
                if cand_arr.size:
                    blocks = blocks.filter(
                        (F.col("doc_max") >= int(cand_arr[0]))
                        & (F.col("doc_min") <= int(cand_arr[-1]))
                    )
                else:
                    cand_arr = None
    decoded = _decode(blocks, index.avgdl, cand_arr)
    if boosts:
        decoded = _apply_boosts(decoded, terms, lambda t: boosts.get(t, 1.0))
    use_groups = conjunctive and groups is not None
    need_cs = bool(contain_all or contain_any)
    scored = _score_decoded(decoded, keep_cs=use_groups or need_cs)
    if need_cs:
        scored = _containment_filter(scored, contain_all, contain_any)
        if not use_groups:
            scored = scored.drop("cs")
    if use_groups:
        # group coverage from the SAME collected (term, contrib) structs
        # _score_decoded aggregates — one decode pass, no second subtree.
        # A term may sit in several groups (shared synonym variant):
        # flatten term -> [gids] and count distinct gids per doc.
        gids_of = F.create_map(
            *[
                x
                for t in terms
                for x in (
                    F.lit(t),
                    F.array(
                        *[
                            F.lit(gi)
                            for gi, g in enumerate(groups)
                            if t in g
                        ]
                    ),
                )
            ]
        )
        n_groups = F.size(
            F.array_distinct(
                F.flatten(F.transform("cs", lambda x: gids_of[x["term"]]))
            )
        )
        scored = (
            scored.withColumn("n_groups", n_groups)
            .filter(F.col("n_groups") == len(groups))
            .drop("n_groups", "cs")
        )
    elif conjunctive:
        scored = scored.filter(F.col("n_terms") == len(terms))
    elif min_match > 0:
        scored = scored.filter(F.col("n_terms") >= int(min_match))
    scored = scored.drop("n_terms")
    allowed = allowed_docs(index, role, filters)
    if allowed is not None:
        scored = scored.join(allowed, "doc_id", "left_semi")
    if require is not None:
        scored = scored.join(require, "doc_id", "left_semi")
    if exclude is not None:
        scored = scored.join(exclude, "doc_id", "left_anti")
    topk = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(
        clamp_k(k, index)
    )
    if with_meta:
        meta = index.docmap.select("doc_id", "conv_id", "turn_idx", "role")
        topk = (
            topk.join(meta, "doc_id", "left")
            .orderBy(F.desc("score"), F.asc("doc_id"))
        )
    return topk


def _attach_excerpts(index: Index, topk: DataFrame, terms: list[str]) -> DataFrame:
    """Join the k result rows back to their stored text and attach the F11
    excerpt column (k-row join against the docmap — the text column never
    flows through scoring)."""
    from ..functions.excerpt import excerpt_for_terms_udf

    texts = index.docmap.select("doc_id", "text")
    return (
        topk.join(texts, "doc_id", "left")
        .withColumn("excerpt", excerpt_for_terms_udf(terms)(F.col("text")))
        .drop("text")
        .orderBy(F.desc("score"), F.asc("doc_id"))
    )


def facet_counts(
    index: Index, query: str, field: str, limit: int = 10
) -> DataFrame:
    """Facet value counts over the matching doc set (Solr facet.field,
    docs/mte-samplequeries.md:53-90): value counts of a docmap field among
    docs containing ANY query term, ordered (count desc, value asc)."""
    terms = sorted(set(analyze_text(query)))
    if not terms:
        return local_frame(index.spark, [], f"{field} string, n long")
    return (
        _docs_with_any(index, terms)
        .join(index.docmap.select("doc_id", field), "doc_id")
        .groupBy(field)
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc(field))
        .limit(limit)
    )


def suggest(index: Index, prefix: str, count: int = 20) -> DataFrame:
    """Prefix suggester (solrconfig.xml:1241-1265, count=20 default at
    :1258): top terms by collection frequency under an analyzed prefix.
    The termstats scan prunes on the term column (parquet min/max)."""
    toks = analyze_text(prefix)
    p = toks[-1] if toks else ""
    if not p:
        return local_frame(index.spark, [], "term string, cf long")
    return (
        index.termstats.filter(F.col("term").startswith(p))
        .select("term", "cf")
        .orderBy(F.desc("cf"), F.asc("term"))
        .limit(count)
    )


def paged_search(
    index: Index, query: str, start: int, rows: int, **kw
) -> DataFrame:
    """S10: Solr start/rows pagination (solr.py:106-127) — deterministic
    offset+limit over the scored order. Fetches start+rows then offsets:
    the top-k heap stays distributed; only the page reaches the driver."""
    top = search(index, query, k=start + rows, with_meta=True, **kw)
    return top.offset(start).limit(rows)
