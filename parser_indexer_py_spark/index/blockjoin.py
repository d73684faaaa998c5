"""ToParentBlockJoinQuery twin: rank PARENTS by their matching
children's scores.

The reference stores parent documents with nested annotation children
(Solr block-join layout — docs/mte-samplequeries.md's ``[child ...]``
transformer, parser-indexer's ``_childDocuments_`` writes), and Lucene's
``ToParentBlockJoinQuery`` is the query-side of that layout: a child
query runs, and each parent scores by an aggregate of its matching
children under a ``ScoreMode`` (None, Avg, Max, Total, Min). For this
engine's transcript corpus the natural block is the CONVERSATION: rank
conversations by the BM25 scores of their matching turns — the classic
"find the conversations that contain relevant turns" retrieval shape.

Spark-first evaluation: the child query's FULL match set comes from the
same clause evaluator every other path uses (``_scored_docs`` — no
top-k truncation: a parent's aggregate needs every matching child, which
is also why Lucene gives BlockJoin no WAND bounds), the parent key joins
in from the docmap, and the rollup is ONE partial-aggregating groupBy on
the parent key — max/min/sum/count combine map-side, so the shuffle
carries one row per (partition, parent), not per child. The final top-k
is a rows-bounded TakeOrderedAndProject.

Determinism note: ``max``/``min``/``none`` aggregate by order-independent
extremes of EXACT per-child scores — reproducible at any partitioning.
``total``/``avg`` are floating-point folds whose addition order Spark
does not fix; they match a serial oracle only to float tolerance (the
same caveat DESIGN.md records for any float sum — the engine's own
per-child scores stay exact)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .search import clamp_k, local_frame

__all__ = ["parent_search", "SCORE_MODES"]

SCORE_MODES = ("max", "total", "avg", "min", "none")


def parent_search(
    index,
    q: str,
    *,
    k: int = 10,
    score_mode: str = "max",
    parent_field="conv_id",
    fq=None,
    default_op: str = "OR",
    min_children: int = 1,
    mode: str = "full",
    full_cutover: int | None = None,
) -> DataFrame:
    """Top-``k`` parents for child query ``q``. Returns
    ``(parent, score, n_matched)`` ordered score desc, parent asc.

    ``score_mode`` is Lucene's ScoreMode over the parent's matching
    children: ``max`` (default — Solr's ``{!parent}`` default is none,
    Lucene's BlockJoin examples use Max for best-child ranking),
    ``total`` (sum), ``avg``, ``min``, ``none`` (constant 1.0 — pure
    containment). ``parent_field`` is a docmap column name or any Column
    expression over the docmap (e.g. a bucketing expression when the
    corpus has no natural block key). ``min_children`` keeps only
    parents with at least that many matching children (the
    ``{!parent}``-with-``fq``-on-child-count idiom). ``fq`` restricts
    the CHILD match set, exactly like fq restricts ``q`` everywhere
    else.

    ``mode="pruned"`` (ScoreMode=Max only): the one ScoreMode with a
    sound doc-level bound — a parent's aggregate equals its BEST child,
    so the top-k parents are determined by the doc-level ranking: walk
    the (block-max pruned) doc top-M in score order, the first
    occurrence of each parent IS that parent's max, and once k distinct
    parents are seen, any UNSEEN parent's max is <= the M-th doc score.
    Completeness check in the engine's two-pass spirit: sound only when
    the k-th parent's max is STRICTLY above the M-th doc score (an
    equal unseen parent could win the parent-asc tie-break), else M
    grows 4x and retries; an exhausted match set (fewer than M docs) is
    exact by construction — including exact n_matched counts. The
    non-exhausted pruned path returns n_matched as NULL (unknowable
    without the full match set — Lucene's BlockJoin reports no child
    counts either) and rejects ``min_children > 1`` / other ScoreModes
    loudly. Rank+score identity with mode="full" is pytest-gated.

    MEASURED expectation (BENCH/BASELINE.md round-5d addendum): the
    delegation's win equals the DOC-LEVEL pruning win for the query
    shape, nothing more — the rollup itself was already free relative
    to scoring. On the 6.5M topical corpus the 3-term band query is
    parity (~11s both; its bound structure needs pass 2 regardless),
    and clustered corpora push M well above k (top docs span few
    conversations), eroding the head start. Keep mode="full" as the
    default; "pruned" pays off exactly where search(mode="pruned")
    does (selective hot+rare mixes, MLT-style term sets)."""
    from ..functions.queryparser import parse_query
    from .boolean import _apply_fq, _scored_docs

    if score_mode not in SCORE_MODES:
        raise ValueError(
            f"score_mode {score_mode!r} not in {SCORE_MODES}"
        )
    if mode == "pruned":
        return _parent_pruned(
            index, q, k=k, score_mode=score_mode,
            parent_field=parent_field, fq=fq, default_op=default_op,
            min_children=min_children, full_cutover=full_cutover,
        )
    if mode != "full":
        raise ValueError(f"mode {mode!r} not in ('full', 'pruned')")
    scored = _scored_docs(index, parse_query(q, default_op=default_op))
    if scored is None:
        raise ValueError(f"q {q!r} parses to an empty query")
    if fq:
        scored = _apply_fq(index, scored, fq, default_op)
    parent = (
        F.col(parent_field) if isinstance(parent_field, str) else parent_field
    ).alias("parent")
    agg = {
        "max": F.max("score"),
        "total": F.sum("score"),
        "avg": F.avg("score"),
        "min": F.min("score"),
        "none": F.max(F.lit(1.0)),
    }[score_mode]
    rolled = (
        scored.join(
            index.docmap.select("doc_id", parent), "doc_id"
        )
        .groupBy("parent")
        .agg(
            agg.cast("double").alias("score"),
            F.count("*").alias("n_matched"),
        )
    )
    if min_children > 1:
        rolled = rolled.filter(F.col("n_matched") >= int(min_children))
    return rolled.orderBy(F.desc("score"), F.asc("parent")).limit(
        clamp_k(k, index)
    )


_PRUNED_CAP = 200_000  # driver rows ceiling before falling back to full


def _parent_pruned(
    index, q, *, k, score_mode, parent_field, fq, default_op, min_children,
    full_cutover=None,
):
    """The ScoreMode=Max delegation (see parent_search docstring)."""
    from pyspark.sql import types as T

    from .boolean import boolean_search

    if score_mode != "max":
        raise ValueError(
            "mode='pruned' needs ScoreMode=Max (the only aggregate whose "
            "top-k is determined by the doc-level ranking)"
        )
    if min_children > 1:
        raise ValueError(
            "mode='pruned' cannot count children (needs the full match "
            "set) — use mode='full' with min_children"
        )
    parent = (
        F.col(parent_field) if isinstance(parent_field, str) else parent_field
    ).alias("parent")
    pmeta = index.docmap.select("doc_id", parent)
    ptype = pmeta.schema["parent"].dataType
    # start well above k: on clustered corpora (the realistic shape —
    # topical docs from one conversation rank together) the top docs
    # span FEW parents, and every retry re-runs the doc search
    M = max(32 * int(k), 320)
    while M <= _PRUNED_CAP:
        page = (
            boolean_search(
                index, q, k=M, fq=fq, default_op=default_op,
                mode="pruned", with_meta=False, full_cutover=full_cutover,
            )
            .join(pmeta, "doc_id")
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .collect()
        )
        exhausted = len(page) < M
        best: dict = {}
        counts: dict = {}
        for r in page:
            p = r["parent"]
            counts[p] = counts.get(p, 0) + 1
            if p not in best:
                best[p] = float(r["score"])
        winners = sorted(best, key=lambda p: (-best[p], p))[:k]
        if exhausted:
            rows = [(p, best[p], counts[p]) for p in winners]
        elif len(winners) == k and best[winners[-1]] > float(
            page[-1]["score"]
        ):
            # sound: every unseen parent's max <= the M-th doc score
            # < the k-th winner's max (counts unknowable -> NULL)
            rows = [(p, best[p], None) for p in winners]
        else:
            M *= 4
            continue
        schema = T.StructType(
            [
                T.StructField("parent", ptype, True),
                T.StructField("score", T.DoubleType(), False),
                T.StructField("n_matched", T.LongType(), True),
            ]
        )
        return local_frame(index.spark, rows, schema)
    # pathological overlap (k parents need > _PRUNED_CAP docs): full eval
    return parent_search(
        index, q, k=k, score_mode=score_mode, parent_field=parent_field,
        fq=fq, default_op=default_op, min_children=min_children,
        mode="full",
    )
