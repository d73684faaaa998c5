"""Boolean query evaluation + Solr-style /select facade.

The reference never exposes raw posting intersections to users — its whole
query surface is Solr's ``/select`` handler fed with Lucene classic-syntax
strings (``q=type:doc AND source:corenlp``, ``fq=id:1249``, quoted
phrases; docs/mte-samplequeries.md throughout, parser configured at
conf/solr/docs/conf/solrconfig.xml:841-848). This module is that front
door for the engine: :func:`parse_query` (functions/queryparser.py)
produces a flat clause list, and :func:`boolean_search` evaluates it by
COMPOSING the existing primitives — the Arrow block decoder + deterministic
score fold for term clauses, ``phrase_scores`` for positional clauses,
``allowed_docs`` for field clauses — into one declarative plan.

Scoring (Lucene BooleanQuery, coord-free since Lucene 6):

- score(doc) = sum of the scores of the POSITIVE clauses the doc matches:
  the BM25 term-clause sum (ascending-term fold, same as ``search()``)
  plus each matching phrase clause's PhraseQuery score, folded in clause
  order (fixed ``coalesce(s0)+coalesce(s1)+...`` expression — float
  order is deterministic and mirrored by the pure-Python oracle).
- MUST clauses constrain: a doc must match every required clause
  (inner joins). With no MUST clause, a doc must match >= 1 SHOULD
  clause (full outer union of the optional pieces).
- MUST_NOT clauses exclude (anti joins), each independently.
- parenthesized groups are nested BooleanQueries: ``_scored_docs``
  recurses into the group's own ParsedQuery; a matching group
  contributes its subclause-sum x boost as one piece of this level's
  fold, a MUST_NOT group excludes its match set.
- fuzzy terms (``term~N``) use the constant-score multi-term rewrite
  like prefixes (queryparser docstring documents the deviation from
  Lucene's blended-frequency rewrite).
- field clauses: score-neutral docmap filters by default; with
  ``field_indexes`` (per-field indexes like edismax_qf's) a
  ``field:value`` clause SCORES as a Lucene TermQuery over that field's
  own index (round 5 — the remaining collapse is occur: positive
  fielded clauses stay required, matching every reference sample
  query's restriction-style usage).
- a PURE-NEGATIVE or pure-filter query behaves like Solr's top-level
  rewrite (``*:*`` minus exclusions) with constant score 1.0 — the
  reference's own ``q=type:doc&rows=0`` facet queries are this shape.
  This rewrite applies INSIDE groups too (a positive ``(-a)`` group
  scores 1.0 for docs lacking ``a``) — a documented deviation from
  Lucene's nested match-nothing semantics, kept for consistency with
  the top level; the oracle twin implements the same rule.

Scale shape: every join here is on ``doc_id`` over already-decoded,
query-term-sized subsets (never the corpus); the per-clause pieces reuse
the same pruned block decode the plain search paths use, so a boolean
query costs ~ the sum of its clauses' term scans plus small doc_id joins
that AQE plans (broadcast when one side is tiny).
"""

from __future__ import annotations

from datetime import datetime, timezone
from functools import reduce

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.queryparser import (
    MAX_PREFIX_EXPANSIONS,
    MUST,
    MUST_NOT,
    SHOULD,
    ParsedQuery,
    RangeValue,
    flatten_query,
    parse_query,
    with_fuzzy_transpositions,
)
from .search import (
    Between,
    Index,
    _apply_boosts,
    _attach_excerpts,
    _decode,
    _docs_with_any,
    _score_decoded,
    allowed_docs,
    clamp_k,
    empty_result,
    local_frame,
    phrase_scores,
)

__all__ = ["boolean_search", "edismax_search", "edismax_qf", "select"]


def _conv_filters(raw: dict) -> dict:
    """queryparser RangeValue -> search.Between; scalars/lists pass."""
    return {
        f: Between(v.lo, v.hi, v.lo_inc, v.hi_inc)
        if isinstance(v, RangeValue) else v
        for f, v in raw.items()
    }


def _validate_fields(index: Index, *filter_dicts: dict) -> None:
    cols = set(index.docmap.columns)
    for d in filter_dicts:
        for f in d:
            if f not in cols:
                raise ValueError(
                    f"unknown field {f!r}; docmap fields: {sorted(cols)}"
                )


def _expand_prefix(index: Index, prefix: str) -> list[str]:
    """Lucene PrefixQuery rewrite step: the matching terms from the term
    dictionary (termstats point scan — the prefix predicate pushes to the
    parquet term column), capped at MAX_PREFIX_EXPANSIONS like
    BooleanQuery.maxClauseCount (a loud error beats a silent 10^6-term
    scan on a hot prefix at 100 TB)."""
    rows = (
        index.termstats.filter(F.col("term").startswith(prefix))
        .select("term")
        .limit(MAX_PREFIX_EXPANSIONS + 1)
        .collect()
    )
    if len(rows) > MAX_PREFIX_EXPANSIONS:
        raise ValueError(
            f"prefix {prefix!r}* expands past {MAX_PREFIX_EXPANSIONS} terms "
            "(Lucene maxClauseCount); narrow the prefix"
        )
    return sorted(r["term"] for r in rows)


def _damerau_dist(q: str, b: str) -> int:
    """TRUE Damerau-Levenshtein (Lowrance-Wagner matrix DP): adjacent
    transposition is ONE edit, even with later edits landing inside the
    swapped pair — d('ca','abc') == 2, unlike the optimal-string-
    alignment restriction's 3. This is the distance DuckDB's
    ``damerau_levenshtein`` computes and the semantics of Lucene
    FuzzyQuery ``transpositions=true``; gated against DuckDB on
    exhaustive small-alphabet pairs in tests/test_fuzzy_damerau.py."""
    m, n = len(q), len(b)
    inf = m + n
    # (m+2)x(n+2): row/col 0 is the "minus one" sentinel rail
    d = [[inf] * (n + 2) for _ in range(m + 2)]
    d[1][1] = 0
    for i in range(1, m + 1):
        d[i + 1][1] = i
    for j in range(1, n + 1):
        d[1][j + 1] = j
    last_row: dict[str, int] = {}
    for i in range(1, m + 1):
        last_col = 0
        for j in range(1, n + 1):
            i1 = last_row.get(b[j - 1], 0)
            j1 = last_col
            cost = 0 if q[i - 1] == b[j - 1] else 1
            if cost == 0:
                last_col = j
            d[i + 1][j + 1] = min(
                d[i][j] + cost,            # substitute / match
                d[i + 1][j] + 1,           # insert
                d[i][j + 1] + 1,           # delete
                d[i1][j1] + (i - i1 - 1) + 1 + (j - j1 - 1),
            )
        last_row[q[i - 1]] = i
    return d[m + 1][n + 1]


def _damerau_filter_udf(term: str, max_edits: int):
    """Arrow-batched true Damerau-Levenshtein keep-mask against a constant
    query term (``_damerau_dist``). Spark has no Damerau builtin, so this
    is the one place the fuzzy path leaves codegen — it runs only on
    candidates that survive the JVM-side length window AND the
    ``levenshtein <= 2*max_edits`` prefilter (a transposition costs at
    most two plain-Levenshtein substitutions, so lev <= 2*DL always;
    fuzz-verified exhaustively on a 2-letter alphabet), a vanishing
    fraction of the dictionary."""

    @F.pandas_udf("boolean")
    def keep(terms: pd.Series) -> pd.Series:
        return terms.map(lambda t: _damerau_dist(term, t) <= max_edits)

    return keep


def _expand_fuzzy(
    index: Index, term: str, max_edits: int, transpositions: bool = False
) -> list[str]:
    """Lucene FuzzyQuery rewrite step: the dictionary terms within
    ``max_edits`` edit distance (prefixLength=0, Lucene's default,
    so the scan covers the whole term dictionary — vocabulary-sized, with
    the |len(a)-len(b)| <= maxEdits window pushed to the parquet term
    column stats; transpositions never change length, so the window
    holds for both distances). Capped at MAX_PREFIX_EXPANSIONS like
    every multi-term rewrite. ``max_edits == 0`` matches the exact term
    only. ``transpositions=True`` is Lucene FuzzyQuery's own default
    semantics (Damerau): the JVM ``levenshtein`` becomes a 2x prefilter
    and the exact Damerau DP (``_damerau_filter_udf``) decides."""
    if max_edits == 0:
        return [term]
    dist = F.levenshtein(F.col("term"), F.lit(term))
    cand = index.termstats.filter(
        F.abs(F.length("term") - F.lit(len(term))) <= max_edits
    )
    if transpositions:
        cand = cand.filter(dist <= 2 * max_edits).filter(
            _damerau_filter_udf(term, max_edits)(F.col("term"))
        )
    else:
        cand = cand.filter(dist <= max_edits)
    rows = (
        cand.select("term")
        .limit(MAX_PREFIX_EXPANSIONS + 1)
        .collect()
    )
    if len(rows) > MAX_PREFIX_EXPANSIONS:
        raise ValueError(
            f"fuzzy {term!r}~{max_edits} expands past "
            f"{MAX_PREFIX_EXPANSIONS} terms (Lucene maxClauseCount)"
        )
    return sorted(r["term"] for r in rows)


def _expand_wildcard(index: Index, pattern: str) -> list[str]:
    """Lucene WildcardQuery rewrite step (round-5): dictionary terms
    matching the anchored ``*``/``?`` pattern. The literal prefix (up to
    the first wildcard) is PUSHED to the parquet term column like
    PrefixQuery's; the remainder evaluates as an anchored regex
    JVM-side (``rlike`` — patterns are restricted to [a-z0-9*?] by the
    parser, so no regex-metacharacter escaping hazards exist). Capped at
    MAX_PREFIX_EXPANSIONS like every multi-term rewrite."""
    import re as _re

    lit = _re.match(r"^[a-z0-9]*", pattern).group(0)
    rx = "^" + "".join(
        ".*" if c == "*" else "." if c == "?" else c for c in pattern
    ) + "$"
    cand = index.termstats
    if lit:
        cand = cand.filter(F.col("term").startswith(lit))
    rows = (
        cand.filter(F.col("term").rlike(rx))
        .select("term")
        .limit(MAX_PREFIX_EXPANSIONS + 1)
        .collect()
    )
    if len(rows) > MAX_PREFIX_EXPANSIONS:
        raise ValueError(
            f"wildcard {pattern!r} expands past "
            f"{MAX_PREFIX_EXPANSIONS} terms (Lucene maxClauseCount)"
        )
    return sorted(r["term"] for r in rows)


def _exclusion_docs(
    index: Index, pq: ParsedQuery, not_filters: dict
) -> DataFrame | None:
    """The union of every MUST_NOT clause's doc set (terms, phrases,
    prefixes, fielded) as ONE DataFrame for the delegated WAND path's
    anti-join — set-equivalent to the clause evaluator's per-clause anti
    joins. Returns None when the query has no negative clauses."""
    parts: list[DataFrame] = []
    nt = sorted(set(pq.must_not_terms))
    if nt:
        parts.append(_docs_with_any(index, nt))
    for pc in pq.phrases:
        if pc.occur == MUST_NOT:
            parts.append(
                phrase_scores(index, list(pc.tokens), slop=pc.slop)
                .select("doc_id")
            )
    for pc in pq.prefixes:
        if pc.occur == MUST_NOT:
            parts.append(
                _docs_with_any(index, _expand_prefix(index, pc.prefix))
            )
    for fc in pq.fuzzies:
        if fc.occur == MUST_NOT:
            parts.append(
                _docs_with_any(
                    index, _expand_fuzzy(
                index, fc.term, fc.max_edits, fc.transpositions
            )
                )
            )
    for wc in pq.wildcards:
        if wc.occur == MUST_NOT:
            parts.append(
                _docs_with_any(index, _expand_wildcard(index, wc.pattern))
            )
    for f, v in not_filters.items():
        parts.append(allowed_docs(index, None, {f: v}))
    if not parts:
        return None
    out = parts[0]
    for p in parts[1:]:  # anti-join semantics need no distinct/dedup
        out = out.unionByName(p)
    return out


def _fielded_tokens(field: str, v) -> list[str] | None:
    """Analyzed token list for a q-level fielded SCORING clause (round-5:
    ``field:value`` as a scoring TermQuery when ``field_indexes`` carries
    that field — solrconfig.xml:841-848 + managed-schema:153-154, where
    title/authors are real indexed text fields). Returns None when the
    value shape stays a metadata filter (ranges, ints); raises on a value
    that does not analyze to exactly one token (a silent fallback to
    whole-value equality would be a misread)."""
    from ..functions.analyzer import analyze_text

    vals = v if isinstance(v, list) else [v]
    if any(not isinstance(x, str) for x in vals):
        return None
    toks = []
    for x in vals:
        t = analyze_text(x)
        if len(t) != 1:
            raise ValueError(
                f"fielded clause {field}:{x!r} must analyze to one token "
                f"to score against the {field!r} index (got {t!r})"
            )
        toks.append(t[0])
    return sorted(set(toks))


def _scored_docs(
    index: Index,
    pq: ParsedQuery,
    *,
    role: str | None = None,
    extra_filters: dict | None = None,
    match_all_score: float = 1.0,
    min_should_match: int = 0,
    field_indexes: dict | None = None,
) -> DataFrame | None:
    """Liveness wrapper over :func:`_scored_docs_raw`: anti-joins the
    index's tombstoned doc_ids (Lucene liveDocs — index/update.py
    delete_docs) out of the match set, so every clause-evaluator surface
    (boolean_search, select match sets + facets, fq evaluation,
    filterCache, /export, MLT, block join) drops deleted docs in one
    place. Scores of surviving docs are untouched: df/dl statistics
    intentionally stay stale until compaction, exactly Lucene's
    semantics. No-op (no extra plan nodes) when nothing was deleted.
    Group recursion re-enters through this wrapper — redundant but
    harmless (removing deleted docs from a sub match set never changes a
    surviving doc's membership or score, including MUST_NOT subs, whose
    tombstoned members are dropped at the top level anyway)."""
    out = _scored_docs_raw(
        index, pq, role=role, extra_filters=extra_filters,
        match_all_score=match_all_score,
        min_should_match=min_should_match, field_indexes=field_indexes,
    )
    if out is None:
        return None
    ts = index.tombstones
    if ts is not None:
        out = out.join(F.broadcast(ts), "doc_id", "left_anti")
    return out


def _scored_docs_raw(
    index: Index,
    pq: ParsedQuery,
    *,
    role: str | None = None,
    extra_filters: dict | None = None,
    match_all_score: float = 1.0,
    min_should_match: int = 0,
    field_indexes: dict | None = None,
) -> DataFrame | None:
    """(doc_id, score) for every doc matching ``pq`` — the pre-top-k core
    shared by boolean_search (scores kept) and fq evaluation (doc set
    only). Returns None when the query matches nothing by construction
    (empty string).

    ``field_indexes`` (field name -> :class:`Index` built from the SAME
    source rows, like edismax_qf's) switches ``field:value`` clauses in
    ``q`` from score-neutral docmap filters to SCORING TermQueries over
    that field's own index (Lucene classic-parser semantics; per-field
    BM25 statistics). The occur collapse stays: positive fielded clauses
    are required (the module's documented fq-style rewrite — every
    reference sample query uses them as restrictions), and a repeated
    field ORs its values (match any, matched values' contribs sum).
    Negative ``-field:value`` excludes docs whose FIELD contains the
    token. fq strings never score regardless — exactly Solr's q-vs-fq
    split. Applies inside parenthesized groups too (recursion below)."""
    filters = dict(extra_filters or {})
    scored_fields: list[tuple[str, list[str]]] = []
    for f, v in _conv_filters(pq.filters).items():
        if field_indexes and f in field_indexes:
            toks = _fielded_tokens(f, v)
            if toks is not None:
                if field_indexes[f].n_docs != index.n_docs:
                    raise ValueError(
                        f"field index {f!r} has {field_indexes[f].n_docs} "
                        f"docs vs the main index's {index.n_docs} — they "
                        "must be built from the same source rows"
                    )
                scored_fields.append((f, toks))
                continue
        if f in filters:
            raise ValueError(f"field {f!r} constrained twice (q and fq)")
        filters[f] = v
    not_filters = {}
    scored_not: list[tuple[str, list[str]]] = []
    for f, v in _conv_filters(pq.not_filters).items():
        if field_indexes and f in field_indexes:
            toks = _fielded_tokens(f, v)
            if toks is not None:
                if field_indexes[f].n_docs != index.n_docs:
                    raise ValueError(
                        f"field index {f!r} has {field_indexes[f].n_docs} "
                        f"docs vs the main index's {index.n_docs} — they "
                        "must be built from the same source rows"
                    )
                scored_not.append((f, toks))
                continue
        not_filters[f] = v
    _validate_fields(index, filters, not_filters)

    # mm counts SHOULD clauses only (Lucene minimumNumberShouldMatch);
    # more required matches than SHOULD clauses exist can never be met
    should_set = sorted(set(pq.should_terms))
    n_should_clauses = (
        len(should_set)
        + sum(1 for p in pq.phrases if p.occur == SHOULD)
        + sum(1 for p in pq.prefixes if p.occur == SHOULD)
        + sum(1 for p in pq.fuzzies if p.occur == SHOULD)
        + sum(1 for w in pq.wildcards if w.occur == SHOULD)
        + sum(1 for g in pq.subs if g.occur == SHOULD)
    )
    if min_should_match > n_should_clauses:
        return None

    # positive pieces, in clause order: terms, phrases, prefixes,
    # fuzzies, then parenthesized groups (the float fold follows this
    # piece order; the oracle mirrors it exactly).
    # Each entry: (required, df(doc_id, score), counts_toward_mm)
    pieces: list[tuple[bool, DataFrame, bool]] = []
    pos_terms = sorted(set(pq.should_terms) | set(pq.must_terms))
    term_piece_has_ns = False
    if pos_terms:
        decoded = _decode(index.blocks_for_terms(pos_terms), index.avgdl)
        # clause boosts multiply the per-term contrib BEFORE the
        # deterministic fold — the SHARED _apply_boosts expression, so
        # this path, the WAND delegation, and the oracle use one float
        # op order (no-boost queries skip the multiply inside it)
        decoded = _apply_boosts(decoded, pos_terms, pq.boost_of)
        keep_cs = bool(pq.must_terms) or (
            min_should_match > 0 and bool(should_set)
        )
        scored = _score_decoded(decoded, keep_cs=keep_cs)
        if keep_cs:
            def _has(term: str):
                # single-arg lambda only (arity is inspected; a default-arg
                # second parameter makes ArrayExists reject the bind)
                return F.exists("cs", lambda x: x["term"] == F.lit(term))

            if min_should_match > 0 and should_set:
                term_piece_has_ns = True
                scored = scored.withColumn(
                    "_ns",
                    F.size(
                        F.filter(
                            "cs",
                            lambda x: x["term"].isin(should_set),
                        )
                    ),
                )
            cond = None
            for t in sorted(set(pq.must_terms)):
                c = _has(t)
                cond = c if cond is None else (cond & c)
            if cond is not None:
                scored = scored.filter(cond)
            scored = scored.drop("cs")
        cols = ["doc_id", "score"] + (["_ns"] if term_piece_has_ns else [])
        pieces.append((bool(pq.must_terms), scored.select(*cols), False))
    for pc in pq.phrases:
        if pc.occur == MUST_NOT:
            continue
        ps = phrase_scores(index, list(pc.tokens), slop=pc.slop)
        ps = ps.select(
            "doc_id", (F.col("score") * F.lit(float(pc.boost))).alias("score")
        )
        pieces.append((pc.occur == MUST, ps, pc.occur == SHOULD))
    for pc in pq.prefixes:
        if pc.occur == MUST_NOT:
            continue
        # constant-score rewrite: matching any expanded term scores
        # boost * 1.0 (Lucene PrefixQuery CONSTANT_SCORE) — tf is
        # irrelevant for multi-term rewrites
        docs = _docs_with_any(index, _expand_prefix(index, pc.prefix))
        pieces.append(
            (
                pc.occur == MUST,
                docs.withColumn("score", F.lit(1.0 * pc.boost)),
                pc.occur == SHOULD,
            )
        )
    for fc in pq.fuzzies:
        if fc.occur == MUST_NOT:
            continue
        # constant-score multi-term rewrite, like prefixes (queryparser
        # docstring documents the deviation from Lucene's blended rewrite)
        docs = _docs_with_any(
            index, _expand_fuzzy(
                index, fc.term, fc.max_edits, fc.transpositions
            )
        )
        pieces.append(
            (
                fc.occur == MUST,
                docs.withColumn("score", F.lit(1.0 * fc.boost)),
                fc.occur == SHOULD,
            )
        )
    for wc in pq.wildcards:
        if wc.occur == MUST_NOT:
            continue
        # constant-score multi-term rewrite over the anchored pattern
        # expansion — exactly the PrefixQuery treatment (round-5)
        docs = _docs_with_any(index, _expand_wildcard(index, wc.pattern))
        pieces.append(
            (
                wc.occur == MUST,
                docs.withColumn("score", F.lit(1.0 * wc.boost)),
                wc.occur == SHOULD,
            )
        )
    for gc in pq.subs:
        if gc.occur == MUST_NOT:
            continue
        # nested BooleanQuery: recurse — the group's own clause algebra
        # (incl. its fielded filters and negatives) runs in the sub-call;
        # its per-doc score feeds this level's fold, x the group boost
        sub = _scored_docs(index, gc.sub, field_indexes=field_indexes)
        if sub is None:
            continue  # empty-by-construction subquery matches nothing
        if gc.boost != 1.0:
            sub = sub.select(
                "doc_id",
                (F.col("score") * F.lit(float(gc.boost))).alias("score"),
            )
        pieces.append(
            (gc.occur == MUST, sub.select("doc_id", "score"),
             gc.occur == SHOULD)
        )
    for f, toks in scored_fields:
        # scoring fielded clause: the value token(s) decoded from the
        # FIELD's index (own df/dl/avgdl statistics) — required piece,
        # match-any over repeated values, ascending-token fold, stable
        # docIDs align it with the main index's docs
        fidx = field_indexes[f]
        fdec = _decode(fidx.blocks_for_terms(toks), fidx.avgdl)
        pieces.append(
            (True, _score_decoded(fdec).select("doc_id", "score"), False)
        )

    allowed = allowed_docs(index, role, filters)
    if not pieces:
        # pure-filter / match-all / pure-negative query (Solr top-level
        # rewrite). Constant score like MatchAllDocsQuery.
        has_neg = bool(pq.must_not_terms or not_filters or scored_not) or any(
            p.occur == MUST_NOT
            for p in list(pq.phrases) + list(pq.prefixes)
            + list(pq.fuzzies) + list(pq.wildcards) + list(pq.subs)
        )
        if allowed is None and not (pq.match_all or has_neg):
            return None  # genuinely empty query ("" or all-stopword)
        base = allowed if allowed is not None else index.docmap.select("doc_id")
        out = base.withColumn("score", F.lit(float(match_all_score)))
    else:
        req = [(i, df) for i, (r, df, _) in enumerate(pieces) if r]
        opt = [(i, df) for i, (r, df, _) in enumerate(pieces) if not r]
        req_ids = {i for i, _ in req}
        acc: DataFrame | None = None
        for i, df in req + opt:  # required first => inner joins shrink early
            extra = ["_ns"] if i == 0 and term_piece_has_ns else []
            df = df.select(
                "doc_id", F.col("score").alias(f"_s{i}"), *extra
            )
            if acc is None:
                acc = df
            elif i in req_ids:
                acc = acc.join(df, "doc_id", "inner")
            else:
                # optional: keeps acc's docs when something is required,
                # else unions doc sets (>=1 SHOULD must match)
                acc = acc.join(df, "doc_id", "left" if req else "full")
        score = None
        for i in range(len(pieces)):  # clause-order float fold
            c = F.coalesce(F.col(f"_s{i}"), F.lit(0.0))
            score = c if score is None else (score + c)
        if min_should_match > 0:
            # matched SHOULD clauses: distinct should terms (from the term
            # piece's cs filter) + each matching SHOULD phrase/prefix piece
            msum = (
                F.coalesce(F.col("_ns"), F.lit(0))
                if term_piece_has_ns
                else F.lit(0)
            )
            for i, (_, _, counts_mm) in enumerate(pieces):
                if counts_mm:
                    msum = msum + F.when(
                        F.col(f"_s{i}").isNotNull(), 1
                    ).otherwise(0)
            acc = acc.filter(msum >= min_should_match)
        out = acc.select("doc_id", score.alias("score"))
        if allowed is not None:
            out = out.join(allowed, "doc_id", "left_semi")
        for grp in pq.must_any:
            # flattened MUST group: score-neutral >=1-of containment
            out = out.join(
                _docs_with_any(index, sorted(set(grp))),
                "doc_id",
                "left_semi",
            )

    # MUST_NOT exclusions — each clause excludes independently (anti joins)
    nt = sorted(set(pq.must_not_terms))
    if nt:
        out = out.join(_docs_with_any(index, nt), "doc_id", "left_anti")
    for pc in pq.phrases:
        if pc.occur == MUST_NOT:
            out = out.join(
                phrase_scores(index, list(pc.tokens), slop=pc.slop)
                .select("doc_id"),
                "doc_id",
                "left_anti",
            )
    for pc in pq.prefixes:
        if pc.occur == MUST_NOT:
            out = out.join(
                _docs_with_any(index, _expand_prefix(index, pc.prefix)),
                "doc_id",
                "left_anti",
            )
    for fc in pq.fuzzies:
        if fc.occur == MUST_NOT:
            out = out.join(
                _docs_with_any(
                    index, _expand_fuzzy(
                index, fc.term, fc.max_edits, fc.transpositions
            )
                ),
                "doc_id",
                "left_anti",
            )
    for wc in pq.wildcards:
        if wc.occur == MUST_NOT:
            out = out.join(
                _docs_with_any(index, _expand_wildcard(index, wc.pattern)),
                "doc_id",
                "left_anti",
            )
    for gc in pq.subs:
        if gc.occur == MUST_NOT:
            sub = _scored_docs(index, gc.sub)
            if sub is not None:
                out = out.join(sub.select("doc_id"), "doc_id", "left_anti")
    for f, v in not_filters.items():
        ex = allowed_docs(index, None, {f: v})
        out = out.join(ex, "doc_id", "left_anti")
    for f, toks in scored_not:
        # -field:value over an indexed field: exclude docs whose FIELD
        # contains the token (MUST_NOT never scores in Lucene either)
        out = out.join(
            _docs_with_any(field_indexes[f], toks), "doc_id", "left_anti"
        )
    return out


def _hl_terms(pq: ParsedQuery, *, phrase_aware: bool = False) -> list[str]:
    """Highlightable terms of a query: bare/required terms plus positive
    phrase tokens, recursively through positive groups (prefix/fuzzy
    expansions are index-dependent and excluded). With ``phrase_aware``
    (hl.usePhraseHighlighter), EXACT positive phrases are excluded here —
    they highlight span-wise via :func:`_hl_phrases` instead; sloppy
    phrases keep degrading to term highlighting (documented: the greedy
    ordered-window span set is not worth a second matcher in the page
    path, and tagging every term occurrence is Solr's own
    pre-usePhraseHighlighter behavior)."""
    terms = (
        set(pq.should_terms)
        | set(pq.must_terms)
        | {
            t
            for p in pq.phrases
            if p.occur != MUST_NOT and not (phrase_aware and p.slop == 0)
            for t in p.tokens
        }
    )
    for gc in pq.subs:
        if gc.occur != MUST_NOT:
            terms |= set(_hl_terms(gc.sub, phrase_aware=phrase_aware))
    return sorted(terms)


def _hl_phrases(pq: ParsedQuery) -> list[tuple[str, ...]]:
    """Exact (slop=0) positive phrases, recursively through positive
    groups — the span-highlighted clauses under usePhraseHighlighter."""
    out = [
        tuple(p.tokens)
        for p in pq.phrases
        if p.occur != MUST_NOT and p.slop == 0 and p.tokens
    ]
    for gc in pq.subs:
        if gc.occur != MUST_NOT:
            out += _hl_phrases(gc.sub)
    return sorted(set(out))


def _hl_sloppy(pq: ParsedQuery) -> list[tuple[tuple[str, ...], int]]:
    """Sloppy (slop>0) positive phrases with their slop, recursively —
    highlighted at their actual ordered-window occurrences (round-5h)."""
    out = [
        (tuple(p.tokens), int(p.slop))
        for p in pq.phrases
        if p.occur != MUST_NOT and p.slop > 0 and p.tokens
    ]
    for gc in pq.subs:
        if gc.occur != MUST_NOT:
            out += _hl_sloppy(gc.sub)
    return sorted(set(out))


def _hl_section(
    index, resp, pq, hl, fragsize, snippets, pre, post, alternate,
    use_phrase_highlighter=True,
):
    """select()'s ``highlighting`` response section: the HighlightComponent
    twin over the page rows, or None when hl is off / nothing to
    highlight / rows=0. Lazy like every other section — consuming it
    re-derives the page doc_ids from the (lazy) response plan.
    ``use_phrase_highlighter`` defaults True like Solr's
    hl.usePhraseHighlighter: exact phrase clauses tag only their actual
    adjacent occurrences (highlight.py span rule)."""
    if not hl or resp is None:
        return None
    phrases = _hl_phrases(pq) if use_phrase_highlighter else []
    sloppy = _hl_sloppy(pq) if use_phrase_highlighter else []
    terms = _hl_terms(pq, phrase_aware=use_phrase_highlighter)
    if not terms and not phrases and not sloppy:
        return None
    from .highlight import highlighting

    return highlighting(
        index, resp, terms, phrases=phrases or None,
        sloppy_phrases=sloppy or None, fragsize=fragsize,
        snippets=snippets, pre=pre, post=post, alternate=alternate,
    )


def _apply_fl(resp: DataFrame, fl) -> DataFrame:
    """Solr fl: validate-and-project the response columns (shared by the
    fast and match-set paths of select()). ``"*"`` expands to every
    response column — ``fl=["*"]`` / ``fl=["*", "score"]`` are the
    /browse handler's own ``fl=*,score`` shape (solrconfig.xml:878;
    score is already a response column here, so the glob simply keeps
    order stable: expanded columns first, then explicit names not
    already present)."""
    if not fl:
        return resp
    avail = set(resp.columns)
    cols: list[str] = []
    for c in fl:
        if c == "*":
            cols += [x for x in resp.columns if x not in cols]
            continue
        if c not in avail:
            raise ValueError(f"fl column {c!r} not in {sorted(avail)}")
        if c not in cols:
            cols.append(c)
    return resp.select(*cols)


def _apply_fq(
    index: Index, out: DataFrame, fq, default_op: str = "OR",
    field_indexes: dict | None = None, now=None,
) -> DataFrame:
    """Solr fq semantics: each fq string is itself a query; a doc must
    MATCH every fq (score-neutral semi-joins — statistics untouched).
    Accepts one string or a list (Solr allows repeated fq params;
    reference clients send both field fq (``fq=id:1249``) and TEXT fq
    (``fq=Manganese``, mte-samplequeries.md:96)). ``default_op`` applies
    to fq strings exactly as q.op does in Solr's lucene parser.
    ``field_indexes`` makes ``fq=title:foo`` a field-CONTAINMENT filter
    (the sub-evaluation's scores are discarded, so fq stays
    score-neutral — Solr's fq on an indexed text field)."""
    for s in [fq] if isinstance(fq, str) else list(fq or []):
        sub = _scored_docs(
            index, parse_query(s, default_op=default_op, now=now),
            field_indexes=field_indexes,
        )
        if sub is None:
            raise ValueError(f"fq {s!r} parses to an empty query")
        out = out.join(sub.select("doc_id"), "doc_id", "left_semi")
    return out


def boolean_search(
    index: Index,
    query: str,
    k: int = 10,
    *,
    fq: str | list[str] | None = None,
    role: str | None = None,
    filters: dict | None = None,
    min_should_match: int = 0,
    mode: str = "full",
    default_op: str = "OR",
    with_meta: bool = True,
    with_excerpt: bool = False,
    full_cutover: int | None = None,
    pool_target: int | None = None,
    field_indexes: dict | None = None,
    require: DataFrame | None = None,
    fuzzy_transpositions: bool = False,
    now=None,
    boost_funcs: list | str | None = None,
    boost_queries: list | str | None = None,
    multiplicative_boost: list | str | None = None,
) -> DataFrame:
    """Top-k for a Lucene classic-syntax query string (module docstring
    has the semantics). Returns (doc_id, score[, conv_id, turn_idx, role
    [, excerpt]]), ties broken by ascending doc_id like every other path.

    ``fuzzy_transpositions=True`` evaluates every ``term~N`` clause with
    true Damerau-Levenshtein distance (adjacent transposition = one
    edit) — Lucene FuzzyQuery's own default. Default False keeps plain
    Levenshtein (the documented deviation in functions/queryparser.py).

    ``field_indexes`` makes ``field:value`` clauses in ``q`` SCORE
    against that field's own index instead of filtering on a docmap
    column (see ``_scored_docs`` — the round-5 close of the last
    documented classic-parser deviation). Queries whose fielded clauses
    score run the clause evaluator (their per-field contributions have
    no single-index block bounds).

    ``fq``/``role``/``filters`` compose exactly as in ``search()`` —
    score-neutral doc-set restrictions applied before the top-k.
    ``min_should_match`` is Lucene's minimumNumberShouldMatch (Solr mm):
    a doc must match >= that many SHOULD clauses — MUST matches never
    count toward it, and mm > #SHOULD-clauses matches nothing.
    ``default_op`` is Solr's q.op (``"AND"`` requires bare clauses).
    ``boost_funcs`` (edismax ``bf``) adds each function-query
    expression's value (functions/funcquery.py grammar over docmap
    fields) to every matching doc's score; ``boost_queries`` (edismax
    ``bq``) adds each boost query's own score to docs that also match
    it. Both are ADDITIVE and doc-dependent, so they force the clause
    evaluator (no WAND delegation — Lucene's FunctionScoreQuery pays
    the same), applied to the full match set before the top-k.
    ``require`` is a pre-materialized doc-set DataFrame (a ``doc_id``
    column) semi-joined before the top-k exactly like an fq match set —
    the injection point for cached filterCache docsets (index/caches.py);
    both the WAND-delegated and clause-evaluator paths honor it.

    WAND-COMPATIBLE queries delegate to ``search()``: any query whose
    POSITIVE scoring clauses are bare terms (SHOULD and/or MUST, boosted
    or not) runs the ordinary term-query engine — including
    ``mode='pruned'`` block-max WAND with its adaptive cutover, which the
    clause evaluator cannot use (rank identity of both hand-offs is
    pytest-gated; at 6.5M docs delegation is ~7x: 15.6s clause path vs
    2.2s pruned). Negative clauses of EVERY kind (``-term``,
    ``-"phrase"``, ``-pre*``, ``-field:v``) are score-neutral for
    surviving docs, so they compose as one excluded doc set (Lucene
    evaluates ReqExcl with pruning the same way); mixed MUST+SHOULD
    terms pass the MUST containment as a required doc set; per-term
    boosts scale block upper bounds inside WAND. Positive phrase/prefix
    clauses, mm, match-all, and fq stay on the clause evaluator (their
    scoring genuinely precludes term upper bounds). ``mode`` only
    applies to delegable queries; the clause evaluator is always a full
    evaluation. ``now`` (Solr's ``NOW=``) anchors date math; without it
    the wall clock is read ONCE, so q, every fq and the boosts share one
    instant."""
    now = now or datetime.now(timezone.utc)
    pq = parse_query(query, default_op=default_op, now=now)
    if fuzzy_transpositions:
        pq = with_fuzzy_transpositions(pq)
    if min_should_match == 0:
        # Lucene's BooleanQuery rewrite: simple nested groups fold into
        # this level (shared flatten_query — the oracle applies the same
        # rewrite), making shapes like '(a OR b) AND c' WAND-delegable.
        # mm queries skip it: flattening changes the SHOULD-clause count
        # mm is measured against.
        pq = flatten_query(pq)
    # mm delegates only for pure-SHOULD term queries (there n_terms ==
    # matched SHOULD count; MUST/boost shapes would need the clause
    # evaluator's per-piece indicators)
    mm_delegable = min_should_match == 0 or (
        bool(pq.should_terms) and not pq.must_terms
    )
    scored_fielded = bool(field_indexes) and bool(
        (set(pq.filters) | set(pq.not_filters)) & set(field_indexes)
    )
    delegable = (
        all(p.occur == MUST_NOT for p in pq.phrases)
        and all(p.occur == MUST_NOT for p in pq.prefixes)
        and all(p.occur == MUST_NOT for p in pq.fuzzies)
        and all(w.occur == MUST_NOT for w in pq.wildcards)
        and not pq.subs  # groups need the recursive clause algebra
        and not pq.match_all
        and mm_delegable
        and not scored_fielded  # per-field contribs have no term bounds
        # additive doc-dependent boosts break per-term upper bounds —
        # Lucene's FunctionScoreQuery forces full evaluation the same way
        and not boost_funcs
        and not boost_queries
        and not multiplicative_boost
        and bool(pq.should_terms or pq.must_terms)
    )
    if delegable:
        from .search import search

        merged = dict(filters or {})
        for f, v in _conv_filters(pq.filters).items():
            if f in merged:
                raise ValueError(f"field {f!r} constrained twice (q and fq)")
            merged[f] = v
        not_filters = _conv_filters(pq.not_filters)
        _validate_fields(index, merged, not_filters)
        should = sorted(set(pq.should_terms))
        must = sorted(set(pq.must_terms))
        terms = sorted(set(should) | set(must))
        if min_should_match > len(should):
            return empty_result(index.spark, with_meta)
        # MUST alongside SHOULD terms and flattened MUST groups are
        # TERM-containment constraints: they ride the scoring
        # aggregation's collected structs (search._containment_filter —
        # the clause evaluator's own exists mechanism) instead of
        # separate doc-set decodes, which for hot terms would cost a
        # full docs-only scan + join before pruning even starts
        contain_all = must if (must and should) else None
        contain_any = [tuple(g) for g in pq.must_any] or None
        # a caller-supplied require doc set (e.g. a cached filterCache
        # docset, index/caches.py) chains exactly like an fq match set
        require = require.select("doc_id") if require is not None else None
        # fq strings are score-neutral match-set restrictions (Solr fq)
        # — each one's doc set chains into the same required semi-join
        for s in [fq] if isinstance(fq, str) else list(fq or []):
            sub = _scored_docs(
                index, parse_query(s, default_op=default_op, now=now),
                field_indexes=field_indexes,
            )
            if sub is None:
                raise ValueError(f"fq {s!r} parses to an empty query")
            sub_ids = sub.select("doc_id")
            require = (
                sub_ids
                if require is None
                else require.join(sub_ids, "doc_id", "left_semi")
            )
        exclude = _exclusion_docs(index, pq, not_filters)
        boosts = {
            t: pq.boost_of(t) for t in terms if pq.boost_of(t) != 1.0
        } or None
        # terms are already analyzed; the analyzer is idempotent on its
        # own output, so re-analysis inside search() is exact
        return search(
            index,
            " ".join(terms),
            k,
            conjunctive=bool(must) and not should,
            role=role,
            filters=merged or None,
            mode=mode,
            with_meta=with_meta,
            with_excerpt=with_excerpt,
            boosts=boosts,
            require=require,
            exclude=exclude,
            min_match=min_should_match,
            contain_all=contain_all,
            contain_any=contain_any,
            full_cutover=full_cutover,
            pool_target=pool_target,
        )
    if full_cutover is not None or pool_target is not None:
        # loud, not silent: the clause evaluator has no pruning knobs
        raise ValueError(
            "full_cutover/pool_target apply only to WAND-delegable "
            "queries (this query runs the clause evaluator)"
        )
    out = _scored_docs(
        index, pq, role=role, extra_filters=filters,
        min_should_match=min_should_match, field_indexes=field_indexes,
    )
    if out is None:
        return empty_result(index.spark, with_meta)
    if fq:
        out = _apply_fq(index, out, fq, default_op, field_indexes, now)
    if require is not None:
        out = out.join(require.select("doc_id"), "doc_id", "left_semi")
    if boost_funcs:
        out = _apply_boost_funcs(index, out, boost_funcs, now)
    if boost_queries:
        out = _apply_boost_queries(
            index, out, boost_queries, default_op, field_indexes, now
        )
    if multiplicative_boost:
        out = _apply_boost_funcs(
            index, out, multiplicative_boost, now, multiply=True
        )
    topk = out.orderBy(F.desc("score"), F.asc("doc_id")).limit(
        clamp_k(k, index)
    )
    if with_meta:
        meta = index.docmap.select("doc_id", "conv_id", "turn_idx", "role")
        topk = topk.join(meta, "doc_id", "left").orderBy(
            F.desc("score"), F.asc("doc_id")
        )
        if with_excerpt and _hl_terms(pq):
            topk = _attach_excerpts(index, topk, _hl_terms(pq))
    return topk


def _apply_boost_funcs(
    index: Index, out: DataFrame, bfs, now=None, multiply: bool = False
) -> DataFrame:
    """edismax ``bf`` (additive boost functions): score += each parsed
    function-query expression, evaluated over the doc's docmap fields —
    a k-free match-set join against only the referenced columns, BEFORE
    the top-k (additive boosts reorder, so they must see every match;
    Lucene's FunctionScoreQuery pays the same full evaluation)."""
    from ..functions.funcquery import parse_func_query

    cols = [c for c in index.docmap.columns if c != "text"]
    exprs, fields = [], set()
    for bf in [bfs] if isinstance(bfs, str) else list(bfs):
        col, flds = parse_func_query(bf, cols, now=now)
        exprs.append(col)
        fields.update(flds)
    if fields:
        out = out.join(
            index.docmap.select("doc_id", *sorted(fields)), "doc_id"
        )
    score = F.col("score")
    for e in exprs:
        score = (score * e) if multiply else (score + e)
    return out.select("doc_id", score.alias("score"))


def _apply_boost_queries(
    index: Index, out: DataFrame, bqs, default_op, field_indexes, now
) -> DataFrame:
    """edismax ``bq`` (additive boost queries): each bq is a full query
    whose score ADDS to docs that also match it (non-matching docs keep
    their base score — Solr's optional-clause fold). Evaluated by the
    same clause evaluator, boosts via the standard ``term^2`` syntax."""
    from ..functions.queryparser import parse_query as _parse

    for q in [bqs] if isinstance(bqs, str) else list(bqs):
        sub = _scored_docs(
            index, _parse(q, default_op=default_op, now=now),
            field_indexes=field_indexes,
        )
        if sub is None:
            raise ValueError(f"bq {q!r} parses to an empty query")
        out = (
            out.join(
                sub.select("doc_id", F.col("score").alias("_bq")),
                "doc_id",
                "left",
            )
            .select(
                "doc_id",
                (F.col("score") + F.coalesce(F.col("_bq"), F.lit(0.0)))
                .alias("score"),
            )
        )
    return out


_UNSORTABLE = {"text", "dkey"}  # analyzed body / internal partition key


def _parse_sort(
    index: Index, sort: str, *, allow_funcs: bool = False, now=None
):
    """Solr sort syntax: 'field asc, field2 desc' (or 'score desc').
    Returns (orderBy columns incl. the ascending-doc_id tiebreak,
    the docmap field names the sort needs). With ``allow_funcs``
    (select's main sort), a clause may be a FUNCTION QUERY —
    ``sort="recip(ms(NOW,ts),1,1,1) desc"``, Solr's sort-by-function;
    its field references join in like plain sort fields. Function
    clauses contain no spaces (the Solr convention), so 'expr dir'
    still splits on whitespace."""
    cols, fields = [], []
    # split on TOP-LEVEL commas only — function clauses carry their own
    # (recip(ms(NOW,ts),1,1,1) has argument commas)
    parts, depth, cur = [], 0, []
    for ch in sort:
        if ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
            continue
        depth += ch == "("
        depth -= ch == ")"
        cur.append(ch)
    parts.append("".join(cur))
    for part in parts:
        bits = part.split()
        if len(bits) != 2 or bits[1] not in ("asc", "desc"):
            raise ValueError(
                f"sort clause {part.strip()!r} is not 'field asc|desc'"
            )
        fld, direction = bits
        if "(" in fld:
            if not allow_funcs:
                raise ValueError(
                    f"function sort {fld!r} is not supported here "
                    "(select's main sort only)"
                )
            from ..functions.funcquery import parse_func_query

            c, ffields = parse_func_query(
                fld, [x for x in index.docmap.columns if x != "text"],
                now=now,
            )
            for f in ffields:
                if f not in fields:
                    fields.append(f)
            cols.append(c.asc() if direction == "asc" else c.desc())
            continue
        if fld in _UNSORTABLE:
            raise ValueError(f"field {fld!r} is not sortable")
        if fld != "score":
            if fld not in index.docmap.columns:
                raise ValueError(f"unknown sort field {fld!r}")
            if fld not in fields:
                fields.append(fld)
        c = F.col(fld)
        cols.append(c.asc() if direction == "asc" else c.desc())
    cols.append(F.asc("doc_id"))
    return cols, fields


def _parse_mm(mm, n: int) -> int:
    """Solr mm syntax subset: an int, or 'N%' of the optional clause
    count rounded DOWN (the Solr spec's percentage rule)."""
    if isinstance(mm, int):
        return mm
    s = str(mm).strip()
    if s.endswith("%"):
        return (n * int(s[:-1])) // 100
    return int(s)


def edismax_search(
    index: Index, query: str, k: int = 10, *, mm="100%", pf: bool = True, **kw
) -> DataFrame:
    """edismax-lite: the parser the reference's /browse handler runs
    (defType=edismax, mm=100%, conf/solr/docs/conf/solrconfig.xml:870-876;
    qf field boosts collapse — this schema has ONE text field).

    For a bare term query (the shape /browse users type):
    - ``mm`` (int or 'N%', floor like Solr) sets how many terms must
      match; the configured mm=100% makes every term required;
    - ``pf=True`` adds the whole query as an implicit SHOULD phrase —
      edismax's phrase-boost: docs containing the exact sequence rank
      above equal bags of words. Applied at mm=100% (the reference's
      configuration), where it cannot interact with the mm count; below
      100% the phrase boost is skipped (Solr excludes pf from mm — our
      mm counts every SHOULD clause, so appending it would change
      matching).

    A query carrying explicit operators falls through to
    ``boolean_search`` unchanged (edismax accepts full Lucene syntax)."""
    pq = parse_query(query)
    bare = bool(pq.should_terms) and not (
        pq.phrases or pq.prefixes or pq.fuzzies or pq.subs
        or pq.must_terms or pq.must_not_terms
        or pq.filters or pq.not_filters or pq.boosts or pq.match_all
    )
    if not bare:
        return boolean_search(index, query, k, **kw)
    toks = list(pq.should_terms)
    n = len(set(toks))
    mm_n = _parse_mm(mm, n)
    if mm_n >= n:
        q2 = " ".join("+" + t for t in dict.fromkeys(toks))
        # pf needs positional postings; like Solr's pf on a field without
        # positions, the phrase boost degrades away rather than erroring —
        # a default-built (positions=False) index must accept default
        # edismax calls (round-3 ADVICE)
        if pf and len(toks) >= 2 and getattr(index, "positions", False):
            q2 += ' "' + " ".join(toks) + '"'
        return boolean_search(index, q2, k, **kw)
    return boolean_search(
        index, " ".join(toks), k, min_should_match=mm_n, **kw
    )


def _qf_union(
    indexes: dict,
    fields: list[str],
    terms: list[str],
    qf: dict[str, float],
    blocks_of=None,
    cand=None,
) -> DataFrame:
    """Per-field scaled-contrib rows ``(field, term, doc_id, fc)`` — the
    input both edismax_qf evaluation paths score. Each field decodes with
    its OWN avgdl (per-field similarities); ``fc = contrib * qf_f`` is the
    identical expression in both paths, so a candidate doc's rows here are
    bit-equal whether or not pruning selected it. ``blocks_of(f)``
    replaces field f's query-term block scan (pruned phase 3's doc-range +
    candidate joins); ``cand`` (sorted int64 ids) filters inside the
    Arrow decoder."""
    per_field = []
    for f in fields:
        idx = indexes[f]
        blocks = (
            idx.blocks_for_terms(terms) if blocks_of is None
            else blocks_of(f)
        )
        dec = _decode(blocks, idx.avgdl, cand)
        per_field.append(
            dec.select(
                F.lit(f).alias("field"),
                "term",
                "doc_id",
                (F.col("contrib") * F.lit(float(qf[f]))).alias("fc"),
            )
        )
    return reduce(DataFrame.unionByName, per_field)


def _qf_score(un: DataFrame, tie: float) -> DataFrame:
    """The deterministic DisjunctionMax fold (docstring of edismax_qf):
    per (term, doc) the field scores fold in FIELD order, per doc the term
    scores in ascending term order. ONE implementation shared by the full
    and block-max pruned paths so their scores are bit-identical."""
    per_td = un.groupBy("term", "doc_id").agg(
        F.sort_array(F.collect_list(F.struct("field", "fc"))).alias("fs")
    )
    mx = F.array_max(F.transform("fs", lambda x: x["fc"]))
    if tie == 0.0:
        # pure DisjunctionMax: skip the tie arithmetic entirely so the
        # single-field degenerate case is bit-identical to plain BM25
        score_td = mx
    else:
        sm = F.aggregate("fs", F.lit(0.0), lambda a, x: a + x["fc"])
        score_td = mx + F.lit(float(tie)) * (sm - mx)
    return (
        per_td.select("term", "doc_id", score_td.alias("s"))
        .groupBy("doc_id")
        .agg(
            F.sort_array(F.collect_list(F.struct("term", "s"))).alias("ts"),
            F.count("*").alias("n_terms"),
        )
        .withColumn(
            "score",
            F.aggregate("ts", F.lit(0.0), lambda a, x: a + x["s"]),
        )
    )


def _qf_full(
    indexes: dict,
    fields: list[str],
    terms: list[str],
    qf: dict[str, float],
    tie: float,
    mm_n: int,
    k: int,
    meta_index,
    with_meta: bool,
) -> DataFrame:
    """Full-evaluation edismax_qf: every query term's complete postings in
    every qf field. The pruned path's fallback target and its equality
    oracle (tests pin both and compare collected rows)."""
    un = _qf_union(indexes, fields, terms, qf)
    scored = _qf_score(un, tie)
    if mm_n > 0:
        scored = scored.filter(F.col("n_terms") >= mm_n)
    topk = (
        scored.select("doc_id", "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(clamp_k(k, meta_index))
    )
    if with_meta:
        meta = meta_index.docmap.select(
            "doc_id", "conv_id", "turn_idx", "role"
        )
        topk = topk.join(meta, "doc_id", "left").orderBy(
            F.desc("score"), F.asc("doc_id")
        )
    return topk


def edismax_qf(
    indexes: dict[str, Index],
    query: str,
    qf: dict[str, float],
    k: int = 10,
    *,
    tie: float = 0.0,
    mm="100%",
    with_meta: bool = True,
    mode: str = "auto",
    pool_target: int | None = None,
    full_cutover: int | None = None,
) -> DataFrame:
    """Multi-field edismax (the reference /browse handler's real shape:
    ``qf=title^10.0 author^2.0 text^0.5 ...``, mm=100%, NO tie param =>
    Solr's default tie=0.0, conf/solr/docs/conf/solrconfig.xml:870-876).

    ``indexes`` maps field name -> that field's own :class:`Index`; all
    must be built from the SAME source rows, so the shuffle-free stable
    docID assignment (build.py W4 — a pure function of the
    (conv_id, turn_idx) order) gives every row the same doc_id in every
    field index; n_docs is asserted equal. Each field keeps its OWN
    df/avgdl/dl statistics, exactly like Lucene per-field similarities.

    Scoring (Lucene DisjunctionMaxQuery per query term):

        score_t(doc) = max_f(qf_f * bm25_f(t, doc))
                       + tie * (sum_f(...) - max_f(...))
        score(doc)   = sum over matched terms, ascending-term fold

    deterministic end to end: the per-term field scores fold in FIELD
    order (sorted names), the per-doc term scores in ascending term
    order — the pure-Python twin (oracle.dismax_search) mirrors both
    folds. ``mm`` counts terms matched in ANY field (int or 'N%',
    floored like Solr). Bare-term queries only — operator syntax is the
    single-field ``edismax_search``/``boolean_search`` surface.

    ``mode``: 'full' evaluates every term's complete postings in every
    field; 'pruned' runs the block-max engine (wand.block_max_topk —
    Lucene's BlockMaxScorer over a DisMax query) with one block source
    per qf field, bounds scaled by qf_f and folded per term by the same
    max + tie combine the scorer uses; phase 3 rescores candidates
    through ``_qf_union``/``_qf_score``, so it is rank-identical by
    construction (exact rescore + completeness check with fallback);
    'auto' picks pruned above the postings-volume cutover. The
    pool/cutover knobs pass through to the engine (tests pin them to
    force branches)."""
    if not indexes or set(qf) - set(indexes):
        raise ValueError(
            f"qf fields {sorted(set(qf) - set(indexes))} have no index"
        )
    if any(b <= 0 for b in qf.values()):
        raise ValueError("qf boosts must be positive")
    sizes = {f: indexes[f].n_docs for f in qf}
    if len(set(sizes.values())) != 1:
        raise ValueError(
            f"field indexes disagree on n_docs ({sizes}) — they must be "
            "built from the same source rows"
        )
    pq = parse_query(query)
    bare = bool(pq.should_terms) and not (
        pq.phrases or pq.prefixes or pq.fuzzies or pq.subs
        or pq.must_terms or pq.must_not_terms
        or pq.filters or pq.not_filters or pq.boosts or pq.match_all
    )
    if not bare:
        raise ValueError(
            "edismax_qf scores bare term queries; operator syntax goes "
            "through the single-field edismax_search/boolean_search"
        )
    terms = sorted(set(pq.should_terms))
    fields = sorted(qf)
    # metadata must come from a QF FIELD's index — those are the ones the
    # n_docs consistency assertion covered; an extra non-qf entry in
    # ``indexes`` could be stale/misaligned (review finding, round 4)
    meta_index = indexes["text"] if "text" in qf else indexes[fields[0]]
    mm_n = _parse_mm(mm, len(terms))
    if mm_n > len(terms):
        return empty_result(meta_index.spark, with_meta)

    if mode not in ("auto", "full", "pruned"):
        raise ValueError(f"mode must be auto|full|pruned, got {mode!r}")

    def full():
        return _qf_full(
            indexes, fields, terms, qf, tie, mm_n, k, meta_index, with_meta
        )

    if mode == "full":
        return full()
    from .wand import block_max_topk  # cycle-free

    def rescore(blocks_of, cand):
        un = _qf_union(
            indexes, fields, terms, qf, blocks_of=blocks_of, cand=cand
        )
        scored = _qf_score(un, tie)
        return scored.filter(F.col("n_terms") >= mm_n) if mm_n > 0 else scored

    return block_max_topk(
        [(f, indexes[f], {t: float(qf[f]) for t in terms}) for f in fields],
        terms, k, rescore=rescore, fallback=full, meta_index=meta_index,
        with_meta=with_meta, tie=float(tie),
        pool_target=pool_target, full_cutover=full_cutover,
    )


_MAX_RANGE_BUCKETS = 10_000  # loud guard: a +1SECOND gap over 10 years
# is a request bug, not a 300M-row driver loop


def _resolve_facet_range(facet_range: tuple, now):
    """Normalize ``facet_range`` for date math: the /browse defaults are
    ``f.manufacturedate_dt.facet.range.start=NOW/YEAR-10YEARS`` /
    ``end=NOW`` / ``gap=+1YEAR`` (solrconfig.xml:907-910). Returns
    ``(resolved_range, edges)`` — edges is None for the numeric form,
    else the list of ``(lo, hi)`` bucket bounds obtained by repeatedly
    applying the gap string to the start (Solr's own edge construction,
    which is why month/year buckets have irregular widths; the last
    bucket runs past end — facet.range.hardend=false, Solr's default).
    One driver-side list, facet-cardinality-sized, never data-sized."""
    from ..functions.datemath import (
        apply_date_math, is_date_math, parse_date_math,
    )

    fld, lo, hi, gap = facet_range
    if not (is_date_math(lo) or is_date_math(hi) or isinstance(gap, str)):
        return facet_range, None
    lo = parse_date_math(lo, now) if isinstance(lo, str) else lo
    hi = parse_date_math(hi, now) if isinstance(hi, str) else hi
    if not isinstance(gap, str) or not gap.startswith("+"):
        raise ValueError(
            f"date facet.range needs a '+N<UNIT>' gap string, got {gap!r}"
        )
    if hi <= lo:
        raise ValueError("facet.range needs end > start")
    edges, cur = [], lo
    while cur < hi:
        nxt = apply_date_math(cur, gap)
        if nxt <= cur:
            raise ValueError(f"facet.range gap {gap!r} does not advance")
        edges.append((cur, nxt))
        if len(edges) > _MAX_RANGE_BUCKETS:
            raise ValueError(
                f"facet.range produces > {_MAX_RANGE_BUCKETS} buckets — "
                "widen the gap"
            )
        cur = nxt
    return (fld, lo, hi, gap), edges


def _cached_fq(index, caches, fq, default_op, field_indexes, anchor):
    """Route fq strings through a SearcherCaches filterCache when one is
    provided (Solr: every handler's fq hits the filterCache). Returns
    (require_docset_or_None, remaining_fq): with caches, every cacheable
    fq string becomes part of one intersected persisted doc set; what
    remains is the NOW-bearing fqs of an un-anchored request (``anchor``
    None), which the caller evaluates at its request instant."""
    if caches is None or not fq:
        return None, fq
    req, uncached = caches.filter_docsets(
        index, [fq] if isinstance(fq, str) else list(fq),
        default_op=default_op, field_indexes=field_indexes, now=anchor,
    )
    return req, uncached or None


def select(
    index: Index,
    q: str = "*:*",
    *,
    fq: str | list[str] | None = None,
    rows: int = 10,
    start: int = 0,
    sort: str | None = None,
    fl: list[str] | None = None,
    q_op: str = "OR",
    facet_field: str | list | None = None,
    facet_limit: int = 10,
    facet_sort: str = "count",
    facet_mincount: int = 0,
    facet_missing: bool = False,
    facet_range: tuple | None = None,
    facet_range_other: tuple | list | None = None,
    facet_pivot: tuple | list | None = None,
    facet_query: list | None = None,
    group_field: str | None = None,
    group_limit: int = 1,
    group_ngroups: bool = False,
    group_sort: str | None = None,
    group_offset: int = 0,
    hl: bool = False,
    hl_fragsize: int = 100,
    hl_snippets: int = 1,
    hl_pre: str = "<em>",
    hl_post: str = "</em>",
    hl_alternate: bool = False,
    hl_use_phrase_highlighter: bool = True,
    mode: str = "full",
    field_indexes: dict | None = None,
    caches=None,
    now=None,
    bf: list | str | None = None,
    bq: list | str | None = None,
    boost: list | str | None = None,
) -> dict:
    """Solr ``/select`` twin — the request shape every reference sample
    query uses (docs/mte-samplequeries.md; handler defaults rows=10 at
    solrconfig.xml:770). Returns a dict mirroring the response:

    - ``"response"``: the result page DataFrame (rows/start pagination
      over the scored order, metadata attached; ``hl=True`` adds the F11
      excerpt column AND a ``"highlighting"`` section — the REAL
      HighlightComponent twin (index/highlight.py): per-page-doc tagged
      snippets under ``hl_fragsize``/``hl_snippets``/``hl_pre``/
      ``hl_post``, with ``hl_alternate`` as the hl.alternateField
      fallback — solrconfig.xml:916-928, :1427-1530),
    - ``"facets"``: value counts of ``facet_field`` over the ENTIRE
      matching doc set (not the page), like facet.field with rows=0
      (mte-samplequeries.md:54-90), or None.

    ``sort`` is Solr sort syntax ('ts desc, turn_idx asc'; default
    relevance = 'score desc'); ``fl`` selects response columns; ``q_op``
    is the default operator (see parse_query);
    ``facet_range=(field, start, end, gap)`` adds ``"range_facets"``
    (counts per [lo, lo+gap) bucket — the /browse facet.range shape,
    solrconfig.xml:898-908; date math accepted for all three, the
    handler's own ``NOW/YEAR-10YEARS`` / ``NOW`` / ``+1YEAR`` defaults
    at :907-910 — resolved against ``now``, buckets labeled by their
    lower-bound timestamp, zero buckets emitted, hardend=false); ``facet_pivot=(f1, f2[, f3])`` adds
    ``"pivot_facets"`` (Solr facet.pivot hierarchical counts, flattened:
    one row per combination with each level's count, facet.sort=count
    ordering and per-level ``facet_limit``); ``facet_query=[q1, ...]``
    adds ``"query_facets"`` (Solr facet.query: per-sub-query match-set
    counts — score-neutral semi-joins, one lazy union DataFrame);
    ``group_field``/``group_limit`` add
    ``"groups"`` (Solr result grouping: top-N docs per field value by
    relevance, `rank_in_group` column); ``group_sort`` (round-5f,
    Solr group.sort) orders WITHIN each group by its own Solr sort
    string instead of relevance, and ``group_offset`` (group.offset)
    skips the first N docs of every group — rank_in_group stays the
    1-based within-group position under the group's ordering, so an
    offset page starts at rank group_offset+1. Lazy like everything
    else: each value is an unevaluated DataFrame; no count job runs
    unless the caller asks (numFound is ``response_all.count()`` —
    deliberately not precomputed, a 100-TB match set's exact count is
    its own job).

    ``now`` is Solr's ``NOW=`` request parameter: one instant shared by
    every date-math consumer in the request (q/fq range endpoints,
    facet.range bounds, bf/boost ms() expressions). ``bf``/``bq``/
    ``boost`` are the edismax boost parameters (see boolean_search's
    boost_funcs/boost_queries/multiplicative_boost) — they reshape the
    relevance ordering, and every response section that reads scores
    (page, grouping) sees the boosted values; a boosted request skips
    the page-only fast path (additive/multiplicative boosts need the
    full match set). ``field_indexes`` passes through to both
    evaluation paths (scoring
    fielded clauses — see boolean_search). ``mode`` passes through to
    the page-only fast path below: a
    relevance-sorted request with NO full-match-set component (no
    facets, no range facets, no grouping, no field sort) needs only the
    top start+rows docs, so it rides ``boolean_search`` — identical
    scoring and ordering (pytest-gated equality with the match-set
    path), and WAND-delegable ``q`` shapes get block-max pruning with
    ``mode='pruned'``. Anything needing the whole match set evaluates
    it once and derives every response section from it."""
    anchor, now = now, now or datetime.now(timezone.utc)
    pq = parse_query(q, default_op=q_op, now=now)
    if facet_range_other is not None and facet_range is None:
        raise ValueError("facet_range_other requires facet_range")
    range_edges = None
    if facet_range is not None:
        # date-math ranges (the /browse manufacturedate_dt defaults)
        # resolve once here, against the request's NOW like everything
        # else; facet_range_other below reuses the resolved lo/hi
        facet_range, range_edges = _resolve_facet_range(facet_range, now)
    needs_match_set = (
        facet_field is not None
        or facet_range is not None
        or facet_pivot is not None
        or facet_query is not None
        or group_field is not None
        or sort is not None
    )
    if not needs_match_set and rows > 0 and not (bf or bq or boost):
        from ..functions.queryparser import _is_empty

        if _is_empty(pq):
            raise ValueError(f"q {q!r} parses to an empty query")
        # keep the pre-fl page: the highlighting section joins by doc_id,
        # which an fl projection may drop from the returned response
        req, fq_eff = _cached_fq(
            index, caches, fq, q_op, field_indexes, anchor
        )
        page = boolean_search(
            index, q, k=start + rows, fq=fq_eff, default_op=q_op,
            mode=mode, with_meta=True, with_excerpt=hl,
            field_indexes=field_indexes, require=req, now=now,
        ).offset(start)
        return {
            "response": _apply_fl(page, fl),
            "facets": None,
            "ngroups": None,
            "range_facets": None,
            "range_other": None,
            "pivot_facets": None,
            "query_facets": None,
            "groups": None,
            "highlighting": _hl_section(
                index, page, pq, hl, hl_fragsize, hl_snippets, hl_pre,
                hl_post, hl_alternate, hl_use_phrase_highlighter,
            ),
        }
    pq = flatten_query(pq)  # match-set path evaluates here; fast path
    scored = _scored_docs(  # left flattening to boolean_search
        index, pq, field_indexes=field_indexes
    )
    if scored is None:
        raise ValueError(f"q {q!r} parses to an empty query")
    if fq:
        req, fq_eff = _cached_fq(
            index, caches, fq, q_op, field_indexes, anchor
        )
        if req is not None:
            scored = scored.join(req, "doc_id", "left_semi")
        if fq_eff:
            scored = _apply_fq(
                index, scored, fq_eff, q_op, field_indexes, now
            )
    if bf:
        scored = _apply_boost_funcs(index, scored, bf, now)
    if bq:
        scored = _apply_boost_queries(
            index, scored, bq, q_op, field_indexes, now
        )
    if boost:
        scored = _apply_boost_funcs(index, scored, boost, now, multiply=True)
    resp = None
    if rows > 0:
        meta_cols = ["doc_id", "conv_id", "turn_idx", "role"]
        if sort:
            order, sort_fields = _parse_sort(
                index, sort, allow_funcs=True, now=now
            )
            # the meta join carries any extra fields the sort needs (ts,
            # tool, dl, ...) and precedes the (still distributed-heap)
            # orderBy+limit so field sorts can see their columns
            meta = index.docmap.select(
                *meta_cols,
                *[f for f in sort_fields if f not in meta_cols],
            )
            resp = (
                scored.join(meta, "doc_id", "left")
                .orderBy(*order)
                .limit(start + rows)
                .offset(start)
            )
        else:
            meta = index.docmap.select(*meta_cols)
            order = [F.desc("score"), F.asc("doc_id")]
            # relevance sort: page FIRST (k rows), then join metadata
            resp = (
                scored.orderBy(*order)
                .limit(start + rows)
                .offset(start)
                .join(meta, "doc_id", "left")
                .orderBy(*order)
            )
        if hl and _hl_terms(pq):
            resp = _attach_excerpts(index, resp, _hl_terms(pq))
            resp = resp.orderBy(*order)
    # pre-fl page for the highlighting section (needs doc_id; fl may
    # project it away from the returned response)
    page = resp
    if resp is not None:
        resp = _apply_fl(resp, fl)
    facets = None
    if facet_field is not None:
        if facet_sort not in ("count", "index"):
            raise ValueError(
                f"facet_sort {facet_sort!r} not in ('count', 'index')"
            )

        def _one_facet(ff: str) -> DataFrame:
            if ff not in index.docmap.columns:
                raise ValueError(f"unknown facet field {ff!r}")
            counted = (
                scored.select("doc_id")
                .join(index.docmap.select("doc_id", ff), "doc_id")
                .groupBy(ff)
                .agg(F.count("*").alias("n"))
            )
            # Solr facet.field semantics: NULL (missing) is never a
            # ranked value — it is excluded from the list, and
            # facet.missing=true appends one missing-count bucket AFTER
            # the limited values (also subject to mincount). The /browse
            # handler configures facet.mincount=1 + facet.missing=true
            # (solrconfig.xml:889-895). facet.sort: 'count' = n desc
            # (value asc tiebreak), 'index' = value order.
            order = (
                [F.desc("n"), F.asc(ff)]
                if facet_sort == "count"
                else [F.asc(ff)]
            )
            out = (
                counted.filter(F.col(ff).isNotNull())
                .filter(F.col("n") >= int(facet_mincount))
                .orderBy(*order)
                .limit(facet_limit)
            )
            if facet_missing:
                # Solr returns the missing bucket even at count 0 (it
                # only disappears under mincount), so aggregate to
                # exactly one row rather than filtering — an empty NULL
                # group must still surface as n=0.
                miss = (
                    counted.filter(F.col(ff).isNull())
                    .agg(F.coalesce(F.sum("n"), F.lit(0)).alias("n"))
                    .select(
                        F.lit(None)
                        .cast(index.docmap.schema[ff].dataType)
                        .alias(ff),
                        "n",
                    )
                    .filter(F.col("n") >= int(facet_mincount))
                )
                out = out.unionByName(miss)
            return out

        # repeated facet.field params (Solr allows any number): a list
        # returns Solr's facet_fields MAP shape {field: DataFrame};
        # a single string keeps the bare-DataFrame back-compat shape
        if isinstance(facet_field, (list, tuple)):
            facets = {ff: _one_facet(ff) for ff in facet_field}
        else:
            facets = _one_facet(facet_field)
    range_facets = None
    if facet_range is not None:
        # Solr facet.range (the reference's /browse wires it with explicit
        # start/end/gap, solrconfig.xml:898-908): counts per [lo, lo+gap)
        # bucket over the numeric field, buckets labeled by their lower
        # bound, computed over the FULL match set like facet.field
        fld, lo, hi, gap = facet_range
        if fld not in index.docmap.columns:
            raise ValueError(f"unknown facet.range field {fld!r}")
        v = F.col(fld)
        if range_edges is not None:
            # date branch: the driver-side edge list (facet-cardinality-
            # sized) broadcast-range-joins the match set's field values;
            # every bucket is emitted, zeros included (Solr emits the
            # full edge walk). Buckets are labeled by their lower-bound
            # timestamp — the ISO rendering Solr does is presentation.
            edges_df = local_frame(
                index.spark, range_edges,
                "bucket timestamp, bucket_end timestamp",
            )
            counts = (
                scored.select("doc_id")
                .join(index.docmap.select("doc_id", fld), "doc_id")
                .join(
                    F.broadcast(edges_df),
                    (v >= F.col("bucket")) & (v < F.col("bucket_end")),
                )
                .groupBy("bucket")
                .agg(F.count("*").alias("n"))
            )
            range_facets = (
                edges_df.select("bucket")
                .join(counts, "bucket", "left")
                .select("bucket", F.coalesce("n", F.lit(0)).alias("n"))
                .orderBy(F.asc("bucket"))
            )
        else:
            if gap <= 0 or hi <= lo:
                raise ValueError(
                    "facet.range needs end > start and gap > 0"
                )
            bucket = (
                F.floor((v - F.lit(lo)) / F.lit(gap)) * F.lit(gap)
                + F.lit(lo)
            )
            range_facets = (
                scored.select("doc_id")
                .join(index.docmap.select("doc_id", fld), "doc_id")
                .filter((v >= lo) & (v < hi))
                .groupBy(bucket.alias("bucket"))
                .agg(F.count("*").alias("n"))
                .orderBy(F.asc("bucket"))
            )
    range_other = None
    if facet_range_other is not None:
        # Solr facet.range.other: out-of-range companions to facet.range —
        # 'before' counts v < start, 'after' counts v >= end, 'between'
        # counts start <= v < end (the in-range total). 'all' = all three.
        # One partial-aggregating pass over the match set produces every
        # requested label (conditional sums), then a tiny literal-stack
        # unpivot yields (other, n) rows in Solr's before/after/between
        # order — no per-label job, no second shuffle.
        labels = (
            ["before", "after", "between"]
            if facet_range_other == "all"
            or list(facet_range_other) == ["all"]
            else [str(s) for s in facet_range_other]
        )
        bad = set(labels) - {"before", "after", "between"}
        if bad or not labels:
            raise ValueError(
                "facet_range_other takes 'all' or a list from "
                f"{{'before','after','between'}}, got {sorted(bad)}"
            )
        fld, lo, hi, _gap = facet_range
        v = F.col(fld)
        cnt = {
            "before": F.sum(F.when(v < lo, 1).otherwise(0)),
            "after": F.sum(F.when(v >= hi, 1).otherwise(0)),
            "between": F.sum(F.when((v >= lo) & (v < hi), 1).otherwise(0)),
        }
        one = (
            scored.select("doc_id")
            .join(index.docmap.select("doc_id", fld), "doc_id")
            .agg(*[cnt[s].alias(s) for s in labels])
        )
        order = {"before": 0, "after": 1, "between": 2}
        stack = ", ".join(
            f"'{s}', coalesce({s}, 0L)"
            for s in sorted(set(labels), key=order.get)
        )
        range_other = one.selectExpr(
            f"stack({len(set(labels))}, {stack}) as (other, n)"
        )
    query_facets = None
    if facet_query is not None:
        # Solr facet.query: for each sub-query, the count of match-set
        # docs ALSO matching it (score-neutral semi-join, like fq). All
        # labels ride ONE lazy union-of-aggregates DataFrame; each leg is
        # a partial-aggregating count over a semi-join, so nothing wider
        # than (doc_id) ever shuffles.
        if isinstance(facet_query, str):
            raise ValueError("facet_query takes a list of query strings")
        legs = []
        base_ids = scored.select("doc_id")
        for s in facet_query:
            sub = _scored_docs(
                index, parse_query(s, default_op=q_op, now=now),
                field_indexes=field_indexes,
            )
            if sub is None:
                raise ValueError(f"facet.query {s!r} parses to an empty query")
            legs.append(
                base_ids.join(sub.select("doc_id"), "doc_id", "left_semi")
                .agg(F.count("*").alias("n"))
                .select(F.lit(s).alias("facet_query"), "n")
            )
        query_facets = legs[0]
        for leg in legs[1:]:
            query_facets = query_facets.unionByName(leg)
    pivot_facets = None
    if facet_pivot is not None:
        # Solr facet.pivot=f1,f2[,f3] (hierarchical facets): nested value
        # counts over the FULL match set, rendered flat — one row per
        # deepest present combination, each level carrying its own count
        # (n1 >= n2 >= n3, since docmap fields are single-valued).
        # Plan: ONE shuffle aggregates the leaf (f1..fk) counts — every
        # parent level re-aggregates that already-tiny result, and the
        # per-level facet.limit ranks run over facet-cardinality rows,
        # never over the match set.
        flds = list(facet_pivot)
        if not 2 <= len(flds) <= 3:
            raise ValueError("facet.pivot takes 2 or 3 fields")
        for f in flds:
            if f not in index.docmap.columns:
                raise ValueError(f"unknown facet.pivot field {f!r}")
        if len(set(flds)) != len(flds):
            raise ValueError("facet.pivot fields must be distinct")
        from pyspark.sql import Window

        leaf = (
            scored.select("doc_id")
            .join(index.docmap.select("doc_id", *flds), "doc_id")
            .groupBy(*flds)
            .agg(F.count("*").alias(f"n{len(flds)}"))
        )
        out = leaf
        for lvl in range(len(flds) - 1, 0, -1):
            prefix = flds[:lvl]
            totals = leaf.groupBy(*prefix).agg(
                F.sum(f"n{len(flds)}").alias(f"n{lvl}")
            )
            out = out.join(F.broadcast(totals), prefix)
        # per-level facet.limit: keep the top values at every depth
        # (count desc, value asc — Solr's facet.sort=count ordering)
        for lvl in range(1, len(flds) + 1):
            parent = flds[: lvl - 1]
            w = Window.partitionBy(
                *[F.col(c) for c in parent] or [F.lit(0)]
            ).orderBy(F.desc(f"n{lvl}"), F.asc(flds[lvl - 1]))
            out = (
                out.withColumn("_rk", F.dense_rank().over(w))
                .filter(F.col("_rk") <= int(facet_limit))
                .drop("_rk")
            )
        ordered = []
        for lvl in range(1, len(flds) + 1):
            ordered += [F.desc(f"n{lvl}"), F.asc(flds[lvl - 1])]
        sel = []
        for lvl in range(1, len(flds) + 1):
            sel += [flds[lvl - 1], f"n{lvl}"]
        pivot_facets = out.select(*sel).orderBy(*ordered)
    groups = None
    ngroups = None
    if group_field is not None:
        # Solr result grouping (group=true&group.field=...): top
        # ``group_limit`` docs per field value by relevance
        if group_field not in index.docmap.columns:
            raise ValueError(f"unknown group field {group_field!r}")
        if group_offset < 0:
            raise ValueError("group_offset must be >= 0")
        gorder = [F.desc("score"), F.asc("doc_id")]
        gsort_fields: list[str] = []
        if group_sort is not None and group_sort.strip() != "score desc":
            gorder, gsort_fields = _parse_sort(index, group_sort)
        gcols = ["doc_id", "conv_id", "turn_idx", "role"]
        for f in [group_field] + gsort_fields:
            if f not in gcols:
                gcols.append(f)
        joined = scored.join(index.docmap.select(*gcols), "doc_id")
        if group_ngroups:
            # group.ngroups: distinct matching group values, the NULL
            # bucket counting as one group like Solr's grouping does
            ngroups = joined.agg(
                (
                    F.countDistinct(group_field)
                    + F.coalesce(
                        F.max(
                            F.when(F.col(group_field).isNull(), 1)
                            .otherwise(0)
                        ),
                        F.lit(0),
                    )
                ).alias("ngroups")
            )
        if int(group_limit) == 1 and group_sort is None and not group_offset:
            # the common top-1-per-group case: max_by with a
            # (score, -doc_id) ordering struct — PARTIAL-aggregatable
            # (map-side combine before the shuffle), no per-group sort;
            # the window form below sorts every group's full match set.
            # doc_id uniqueness makes the ordering total, so ties are
            # impossible and the result matches the window rank exactly
            # (equality pytest-gated).
            ordk = F.struct(
                F.col("score"), (-F.col("doc_id")).alias("nd")
            )
            row = F.struct(*[F.col(c) for c in joined.columns])
            groups = (
                joined.groupBy(F.col(group_field).alias("_g"))
                .agg(F.max_by(row, ordk).alias("t"))
                .select("t.*")
                .withColumn("rank_in_group", F.lit(1))
                .orderBy(F.asc(group_field), F.asc("rank_in_group"))
            )
        else:
            # general top-N per group: window rank over the match set
            from pyspark.sql import Window

            w = Window.partitionBy(group_field).orderBy(*gorder)
            lo, hi = int(group_offset), int(group_offset) + int(group_limit)
            groups = (
                joined
                .withColumn("rank_in_group", F.row_number().over(w))
                .filter(
                    (F.col("rank_in_group") > lo)
                    & (F.col("rank_in_group") <= hi)
                )
                .orderBy(F.asc(group_field), F.asc("rank_in_group"))
            )
    return {
        "response": resp,
        "facets": facets,
        "ngroups": ngroups,
        "range_facets": range_facets,
        "range_other": range_other,
        "pivot_facets": pivot_facets,
        "query_facets": query_facets,
        "groups": groups,
        "highlighting": _hl_section(
            index, page, pq, hl, hl_fragsize, hl_snippets, hl_pre, hl_post,
            hl_alternate, hl_use_phrase_highlighter,
        ),
    }


# ---------------------------------------------------------------------------
# cursorMark deep paging (Solr's Deep Paging with a Cursor)
# ---------------------------------------------------------------------------

def encode_cursor(values: list) -> str:
    """Opaque cursorMark token: url-safe base64 of the JSON-encoded sort
    key values of a page's last row. Floats round-trip exactly (json uses
    repr), so an equality predicate against the re-evaluated score is
    sound; timestamps are carried as their ``str()`` form and cast back."""
    import base64
    import json

    return base64.urlsafe_b64encode(
        json.dumps(values, separators=(",", ":")).encode()
    ).decode()


def decode_cursor(mark: str) -> list:
    import base64
    import json

    try:
        out = json.loads(base64.urlsafe_b64decode(mark.encode()))
        if not isinstance(out, list):
            raise ValueError("not a list")
        return out
    except Exception as e:
        raise ValueError(f"malformed cursorMark {mark!r}") from e


def _cursor_after(keys: list, vals: list):
    """Strictly-after predicate for a lexicographic (mixed-direction) sort
    position: OR over key prefixes of (all earlier keys equal) AND (this
    key strictly past the cursor value). The trailing unique doc_id key
    guarantees strict progress, so no row is ever returned twice."""
    pred = F.lit(False)
    eq = F.lit(True)
    for (name, direction, dtype), v in zip(keys, vals):
        lit = F.lit(v)
        if dtype.startswith("timestamp"):
            lit = lit.cast(dtype)
        c = F.col(name)
        pred = pred | (eq & ((c > lit) if direction == "asc" else (c < lit)))
        eq = eq & (c == lit)
    return pred


def cursor_page(
    index: Index,
    q: str = "*:*",
    *,
    rows: int = 10,
    sort: str | None = None,
    cursor_mark: str = "*",
    fq: str | list[str] | None = None,
    q_op: str = "OR",
    fl: list[str] | None = None,
    field_indexes: dict | None = None,
) -> dict:
    """Solr cursorMark deep paging (the CursorMark API every SearchHandler
    supports; Solr requires the sort to end with the uniqueKey — satisfied
    by construction here because _parse_sort always appends the ascending
    doc_id tiebreak, and relevance sort is (score desc, doc_id asc)).

    ``cursor_mark="*"`` starts the walk; each response carries a
    ``next_cursor_mark`` CALLABLE that runs the (rows-bounded) page job
    and returns the token for the next call — when it returns the mark
    you passed, the walk is done (Solr's end-of-results contract). Solr
    forbids ``start`` with a cursor; this API doesn't take one.

    Why this exists at 100 TB: ``select(start=N)`` pages with
    orderBy().limit(N+rows).offset(N) — the distributed top-k heap grows
    with the DEPTH of the page, so page 10,000 sorts 100,010 rows per
    partition. The cursor page instead filters to rows strictly after the
    cursor position and takes ``limit(rows)`` — TakeOrderedAndProject of
    a CONSTANT ``rows`` elements per partition regardless of depth
    (plan-asserted in tests), which is why Solr mandates cursors for
    export-style deep walks. Scores are deterministic re-evaluations
    (the same fold plan), so the float equality inside the
    strictly-after predicate is exact."""
    if int(rows) <= 0:
        raise ValueError("cursor paging needs rows > 0")
    pq = flatten_query(parse_query(q, default_op=q_op))
    scored = _scored_docs(index, pq, field_indexes=field_indexes)
    if scored is None:
        raise ValueError(f"q {q!r} parses to an empty query")
    if fq:
        scored = _apply_fq(index, scored, fq, q_op, field_indexes)
    meta_cols = ["doc_id", "conv_id", "turn_idx", "role"]
    if sort:
        order, sort_fields = _parse_sort(index, sort)
        keys = []
        for part in sort.split(","):
            fld, direction = part.split()
            if fld != "score" and fld not in meta_cols:
                meta_cols.append(fld)
            keys.append((fld, direction))
        keys.append(("doc_id", "asc"))
        joined = scored.join(index.docmap.select(*meta_cols), "doc_id", "left")
        dtypes = dict(joined.dtypes)
        keys = [(n, d, dtypes[n]) for n, d in keys]
        if cursor_mark != "*":
            vals = decode_cursor(cursor_mark)
            if len(vals) != len(keys):
                raise ValueError(
                    f"cursorMark carries {len(vals)} keys, sort has {len(keys)}"
                )
            joined = joined.filter(_cursor_after(keys, vals))
        resp = joined.orderBy(*order).limit(int(rows))
    else:
        order = [F.desc("score"), F.asc("doc_id")]
        keys = [("score", "desc", "double"), ("doc_id", "asc", "bigint")]
        if cursor_mark != "*":
            vals = decode_cursor(cursor_mark)
            if len(vals) != 2:
                raise ValueError("relevance cursorMark carries (score, doc_id)")
            scored = scored.filter(_cursor_after(keys, vals))
        # page FIRST (rows-bounded heap), then attach metadata
        resp = (
            scored.orderBy(*order)
            .limit(int(rows))
            .join(index.docmap.select(*meta_cols), "doc_id", "left")
            .orderBy(*order)
        )

    key_names = [n for n, _, _ in keys]
    page_keys = resp.select(*key_names)

    def next_cursor_mark() -> str:
        tail = page_keys.collect()  # bounded: <= rows
        if not tail:
            return cursor_mark
        last = tail[-1]
        vals = []
        for n, _, dtype in keys:
            v = last[n]
            vals.append(str(v) if dtype.startswith("timestamp") else v)
        return encode_cursor(vals)

    return {
        "response": _apply_fl(resp, fl),
        "next_cursor_mark": next_cursor_mark,
    }
