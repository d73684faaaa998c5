"""DebugComponent twin — Solr's ``debugQuery=true`` score explanation.

The reference wires ``solr.DebugComponent`` into every SearchHandler's
component chain (conf/solr/docs/conf/solrconfig.xml:1077, the default
``<searchComponent name="debug">`` list at :1072-1078), so any sample
query can ask for the per-document Lucene ``Explanation`` tree. For the
schema's BM25 similarity that tree is, per matching term::

    score(doc, term) = idf * tf_norm
    idf      = ln(1 + (N - df + 0.5) / (df + 0.5))
    tf_norm  = tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))

and the document's score is the sum over its matching SHOULD/MUST terms
(coord-free BooleanQuery). :func:`explain` returns that breakdown as a
DataFrame — the flattened Explanation rows Solr renders as nested JSON.

Fidelity: the per-(doc, term) ``contrib`` values come from the SAME
Arrow decoder the search path scores with (search._decode — the
canonical numpy expression in scoring.bm25_contrib), restricted to the
top-k docs via its candidate filter, so the explanation is bit-identical
to the score it explains rather than a re-derivation that could drift.

Plan shape: one bounded ``search()`` for the top-k ids (k rows to the
driver — the page being explained, same bound Solr has), then a second
block scan decoding ONLY those candidates (pushed bucket/term filters,
in-batch candidate drop), broadcast-joined to the k-row score page and
the |terms|-row termstats. No full rescore, no unbounded state.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.analyzer import analyze_text
from .search import (
    SCORE_SCHEMA,
    _blocks_for_terms,
    _decode,
    local_frame,
    search,
)


def explain(index, query: str, k: int = 10) -> DataFrame:
    """Per-(doc, term) BM25 explanation for the top-``k`` docs of a
    bag-of-words ``query`` (the DebugComponent's TermQuery-sum case —
    every reference sample query that ranks is this shape).

    Columns: ``doc_id, term, tf, df, idf, contrib, score`` — one row per
    matching (doc, term); ``score`` repeats the doc's total so each
    Explanation row carries its root value, exactly like Solr's nested
    ``explain`` section. Ordered by (score desc, doc_id, term); floats
    rounded to 6 decimals for display stability.
    """
    terms = sorted(set(analyze_text(query)))
    if not terms:
        raise ValueError(f"query {query!r} analyzes to no terms")
    hits = search(index, query, k=k, with_meta=False)
    rows = hits.collect()  # bounded: the k-row page being explained
    if not rows:
        return local_frame(
            hits.sparkSession,
            [],
            "doc_id long, term string, tf long, df long, "
            "idf double, contrib double, score double",
        )
    cand = np.sort(np.array([r["doc_id"] for r in rows], dtype=np.int64))
    page = local_frame(
        hits.sparkSession,
        [(r["doc_id"], r["score"]) for r in rows],
        SCORE_SCHEMA,
    )
    decoded = _decode(_blocks_for_terms(index, terms), index.avgdl, cand)
    stats = index.termstats.filter(F.col("term").isin(terms)).select(
        "term", "df", "idf"
    )
    return (
        decoded.join(F.broadcast(stats), "term")
        .join(F.broadcast(page), "doc_id")
        .select(
            "doc_id",
            "term",
            F.col("tf").cast("long").alias("tf"),
            F.col("df").cast("long").alias("df"),
            F.round("idf", 6).alias("idf"),
            F.round("contrib", 6).alias("contrib"),
            F.round("score", 6).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"), F.asc("term"))
    )
