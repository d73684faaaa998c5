"""The remaining Solr searchComponents the reference registers but the
engine had not yet surfaced as first-class API — each re-expressed as a
declarative DataFrame plan over the explicit index tables:

- ``terms_enum``    — TermsComponent, the ``/terms`` handler
  (``conf/solr/docs/conf/solrconfig.xml:1385-1397``): raw term-dictionary
  enumeration under a prefix with ``terms.mincount`` / ``terms.limit`` /
  ``terms.sort`` semantics.
- ``term_vectors``  — TermVectorComponent, the ``/tvrh`` handler
  (``solrconfig.xml:1271-1290``): per-document term vectors (tf, corpus
  df, positions). The reference schema stores fields without
  ``termVectors="true"`` (``managed-schema:153-166``), so Solr itself
  would re-analyze the stored field on demand — this does the same
  against the docmap's stored text, which is exactly O(|doc_ids|) rows.
- ``stats_field``   — StatsComponent (``solrconfig.xml:1076``):
  count/missing/min/max/sum/mean/stddev over a numeric field, optionally
  grouped (the ``stats.facet`` analog). The stddev uses Solr's exact
  formula ``sqrt((sumOfSquares*count - sum^2) / (count*(count-1)))``
  computed from INTEGER sums when the column is integral, so the result
  is deterministic across partitionings (Spark float folds are not).
- ``elevate``       — QueryElevationComponent, the ``/elevate`` handler
  (``solrconfig.xml:1407-1424``): editorial results pinned above the
  organic ranking in configured order, with Solr's ``forceElevation``
  and ``[elevated]`` marker semantics.
- ``cluster_results`` — ClusteringComponent, the ``/clustering`` handler
  (``solrconfig.xml:1297-1366``): top-k result clustering under term
  labels — a DOCUMENTED simplified stand-in for Carrot2's Lingo (Java,
  unavailable here); see its docstring.
- ``suggest``        — SuggestComponent, the ``/suggest`` handler
  (``solrconfig.xml:1241-1264``): FuzzyLookupFactory completion over a
  DocumentDictionaryFactory — full field values whose analyzed prefix
  fuzzily matches the query, weight-ranked; see its docstring for the
  exact Lucene-defaults semantics. ``build_suggest_dict`` is the
  ``buildOnStartup``/``suggest.build`` analog: a deduped,
  analyzed-sorted parquet dictionary whose range layout turns the
  lookup's prefix guard into a pushed, file-pruning range predicate.

Scale notes: ``terms_enum`` is a pruned termstats scan (parquet min/max
on the term column) + top-k; ``term_vectors`` broadcasts the k requested
docs' (term, tf) rows against termstats instead of broadcasting the term
dictionary; ``stats_field`` is one partial-aggregating groupBy;
``elevate`` runs the organic search once plus one search restricted to
the elevated handful (the ``require`` semi-join hook), so elevated docs
carry their EXACT organic score even when they rank below the page.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .search import Index, local_frame, search

__all__ = [
    "terms_enum",
    "term_vectors",
    "stats_field",
    "elevate",
    "cluster_results",
    "suggest",
    "build_suggest_dict",
]



def terms_enum(
    index: Index,
    prefix: str = "",
    *,
    mincount: int = 1,
    maxcount: int | None = None,
    limit: int = 10,
    sort: str = "count",
    regex: str | None = None,
    lower: str | None = None,
    upper: str | None = None,
) -> DataFrame:
    """TermsComponent: enumerate the term dictionary. Returns
    (term, df) — ``sort='count'`` orders by df desc (term asc tie-break,
    Solr's default), ``sort='index'`` by term asc. Unlike ``suggest``
    (cf-ranked, analyzed prefix), this is the raw-dictionary admin view:
    the prefix is taken verbatim and df (not cf) ranks.

    Round-5g tail of the /terms parameter set: ``regex``
    (terms.regex — Java-style full-match like Solr, so the pattern is
    anchored; a literal prefix in the pattern is ALSO pushed as a
    startswith so the parquet scan prunes), ``lower``/``upper``
    (terms.lower/terms.upper inclusive-lower/exclusive-upper dictionary
    range, the paging idiom), ``maxcount`` (terms.maxcount upper df
    bound, the stopword-window trick)."""
    if sort not in ("count", "index"):
        raise ValueError(f"terms.sort must be 'count' or 'index', got {sort!r}")
    ts = index.termstats.select("term", "df")
    if prefix:
        ts = ts.filter(F.col("term").startswith(prefix))
    if regex is not None:
        import re as _re

        _re.compile(regex)  # raise here, not in the executor
        lit = _re.match(r"[a-z0-9]+", regex)
        if lit and not prefix:
            # sarg-able envelope: a literal pattern head can only match
            # terms sharing it — pushed like terms.prefix
            ts = ts.filter(F.col("term").startswith(lit.group()))
        # rlike is a contains-match; anchor for Solr's full-match regex
        ts = ts.filter(F.col("term").rlike(f"^(?:{regex})$"))
    if lower is not None:
        ts = ts.filter(F.col("term") >= lower)
    if upper is not None:
        ts = ts.filter(F.col("term") < upper)
    if mincount > 1:
        ts = ts.filter(F.col("df") >= mincount)
    if maxcount is not None:
        ts = ts.filter(F.col("df") <= maxcount)
    order = (
        [F.desc("df"), F.asc("term")] if sort == "count" else [F.asc("term")]
    )
    return ts.orderBy(*order).limit(limit)


def term_vectors(
    index: Index,
    doc_ids: list[int],
    *,
    with_df: bool = True,
    with_positions: bool = True,
) -> DataFrame:
    """TermVectorComponent: (doc_id, term, tf[, positions][, df]) for the
    requested documents. Terms come from re-analyzing the stored text
    with the SAME vectorized analyzer the build used (tokenize_udf), so
    tf/positions equal what the postings hold; df is the corpus-wide
    document frequency from termstats. Positions are 1-based token
    ordinals.

    Plan: docmap point-lookup (|doc_ids| rows) -> posexplode(tokens) ->
    groupBy(doc_id, term); the tiny result broadcasts into the termstats
    join, so the term dictionary is scanned once with no shuffle of the
    big side."""
    from ..functions.analyzer import tokenize_udf

    ids = [int(d) for d in doc_ids]
    toks = (
        index.docmap.filter(F.col("doc_id").isin(ids))
        .select(
            "doc_id",
            F.posexplode(tokenize_udf(F.col("text"))).alias("pos0", "term"),
        )
    )
    aggs = [F.count("*").cast("long").alias("tf")]
    if with_positions:
        aggs.append(
            F.sort_array(F.collect_list(F.col("pos0") + 1)).alias("positions")
        )
    tv = toks.groupBy("doc_id", "term").agg(*aggs)
    if with_df:
        tv = index.termstats.select("term", "df").join(
            F.broadcast(tv), "term"
        )
        cols = ["doc_id", "term", "tf"] + (
            ["positions"] if with_positions else []
        ) + ["df"]
        tv = tv.select(*cols)
    return tv


def stats_field(
    df: DataFrame, field: str, *, by: str | None = None,
    percentiles: list | None = None,
) -> DataFrame:
    """StatsComponent over ``df[field]``: one row per ``by`` group (or a
    single global row) with Solr's stats set — count, missing, min, max,
    sum, mean, stddev. Apply filters to ``df`` first for the ``q``/``fq``
    match-set composition (Solr computes stats over the match set).

    mean/stddev are derived from the exact integer (or decimal) sums —
    ``stddev = sqrt((sum_sq*count - sum^2) / (count*(count-1)))``, the
    formula Solr's StatsValuesFactory uses — rather than Spark's
    float-accumulating ``avg``/``stddev_samp``, so results do not drift
    with partitioning.

    ``percentiles=[50, 95, ...]`` (round-5g, stats.percentiles): EXACT
    linear-interpolated percentiles via Spark's ``percentile`` — a
    deliberate deviation from Solr's t-digest ESTIMATES, documented
    rather than replicated: the approximation is a memory tactic, not a
    semantic, and facet-cardinality groups fit the exact sort easily
    (DuckDB's quantile_cont computes the same interpolation, which is
    what makes the oracle row possible at all — a t-digest has no
    cross-engine twin). Columns come back as ``p50``, ``p95`` (dots
    flattened: 99.9 -> p99_9)."""
    c = F.col(field)
    keys = [by] if by else []
    g = df.groupBy(*keys).agg(
        F.count(c).cast("long").alias("count"),
        F.sum(F.when(c.isNull(), 1).otherwise(0)).cast("long").alias("missing"),
        F.min(c).alias("min"),
        F.max(c).alias("max"),
        F.sum(c).alias("sum"),
        F.sum(c * c).alias("sum_sq"),
        *[
            F.percentile(c, F.lit(p / 100.0)).alias(
                "p" + str(p).replace(".", "_").removesuffix("_0")
            )
            for p in (percentiles or [])
        ],
    )
    n = F.col("count")
    s = F.col("sum")
    mean = s.cast("double") / n.cast("double")
    var_num = (F.col("sum_sq") * n - s * s).cast("double")
    stddev = F.when(
        n > 1, F.sqrt(var_num / (n * (n - F.lit(1))).cast("double"))
    ).otherwise(F.lit(0.0))
    return g.withColumn("mean", mean).withColumn("stddev", stddev).drop(
        "sum_sq"
    )


def elevate(
    index: Index,
    query: str,
    elevated: list,
    k: int = 10,
    *,
    key: str | None = None,
    force: bool = True,
    with_meta: bool = False,
    mode: str = "full",
    **search_kw,
) -> DataFrame:
    """QueryElevationComponent: pin ``elevated`` docs above the organic
    BM25 ranking in the given (configured) order, then fill the page with
    non-elevated results by score. Returns
    (doc_id, score, elev_rank, elevated[, meta...]) ordered
    elevated-first; ``elev_rank`` is the position in the elevation list
    (null for organic rows) and ``elevated`` the Solr ``[elevated]``
    response marker.

    ``key`` resolves the elevation list against a docmap column (Solr
    elevates by uniqueKey, not the internal Lucene docID); None means the
    list already holds internal doc ids. ``force=True`` is
    ``forceElevation``: an elevated doc that does NOT match the query is
    still pinned, with score 0.0; matching elevated docs always carry
    their exact organic score (computed by a second search restricted to
    the elevated handful via the ``require`` semi-join — exact even when
    they rank below the organic top-k).

    Plan note (measured at 6.5M docs): the single lazy union plan runs
    BOTH search subtrees concurrently in one action. A driver-merge
    variant (collect the organic page, second search only for pins that
    fell outside it) was tried and REJECTED: it wins ~25% when every pin
    is in-page (12.6s vs 16.5s) but its sequential jobs cost ~1.8x when
    a pin is outside (23.9s vs 13.3s) — the concurrent plan has the
    better worst case and no driver-side branch."""
    spark = index.spark
    if key is not None:
        vals = [str(v) for v in elevated]
        rows = (
            index.docmap.filter(F.col(key).cast("string").isin(vals))
            .select("doc_id", F.col(key).cast("string").alias("_k"))
            .collect()
        )
        resolved: dict[str, int] = {}
        for r in rows:
            if r["_k"] in resolved and resolved[r["_k"]] != int(r["doc_id"]):
                # Solr elevates by uniqueKey; a key matching several docs
                # would pin an arbitrary one — refuse loudly instead
                raise ValueError(
                    f"elevation key {key}={r['_k']!r} is ambiguous "
                    "(matches multiple documents)"
                )
            resolved[r["_k"]] = int(r["doc_id"])
        missing = [v for v in vals if v not in resolved]
        if missing:
            raise ValueError(f"elevation {key} values not found: {missing}")
        ids = [resolved[v] for v in vals]
    else:
        ids = [int(v) for v in elevated]
    if len(set(ids)) != len(ids):
        raise ValueError("duplicate ids in elevation list")

    elev_df = local_frame(
        spark,
        [(d, i) for i, d in enumerate(ids)],
        "doc_id long, elev_rank int",
    )
    # over-fetch by |elevated|: after removing elevated rows from the
    # organic ranking there must still be k rows left to fill the page
    organic = search(
        index, query, k=k + len(ids), with_meta=False, mode=mode, **search_kw
    ).join(F.broadcast(elev_df.select("doc_id")), "doc_id", "left_anti")
    pinned = search(
        index,
        query,
        k=max(len(ids), 1),
        with_meta=False,
        mode="full",
        require=elev_df.select("doc_id"),
        **search_kw,
    )
    pinned = F.broadcast(elev_df).join(pinned, "doc_id", "left")
    if not force:
        pinned = pinned.filter(F.col("score").isNotNull())
    pinned = pinned.withColumn("score", F.coalesce("score", F.lit(0.0)))

    out = (
        organic.withColumn("elev_rank", F.lit(None).cast("int"))
        .select("doc_id", "score", "elev_rank")
        .unionByName(pinned.select("doc_id", "score", "elev_rank"))
        .withColumn("elevated", F.col("elev_rank").isNotNull())
        .orderBy(
            F.asc_nulls_last("elev_rank"), F.desc("score"), F.asc("doc_id")
        )
        .limit(k)
    )
    if with_meta:
        out = out.join(
            index.docmap.select("doc_id", "conv_id", "turn_idx", "role"),
            "doc_id",
            "left",
        ).orderBy(
            F.asc_nulls_last("elev_rank"), F.desc("score"), F.asc("doc_id")
        )
    return out


def cluster_results(
    index: Index,
    query: str,
    k: int = 20,
    *,
    clusters: int = 5,
    mode: str = "full",
    **search_kw,
) -> DataFrame:
    """ClusteringComponent twin (the ``/clustering`` handler,
    ``conf/solr/docs/conf/solrconfig.xml:1297-1366``): group the top-k
    search results under descriptive term labels.

    DOCUMENTED SIMPLIFICATION: the reference registers Carrot2's Lingo
    algorithm (Java-only, not available here). This implements the
    label-driven spirit of Carrot2's STC/Lingo family with a
    deterministic one-pass rule — each result doc is labeled by its most
    DISTINCTIVE term (argmax tf·ln(N/df) over the doc's term vector,
    query terms excluded since they describe the whole result set, ties
    broken by term asc), the ``clusters``-1 largest labels become
    clusters and the remainder fold into Carrot2's ``Other Topics``
    bucket. Deterministic, exact-testable, and honest about not being
    Lingo.

    Returns (label, doc_id, size) — one row per result doc, ``size`` the
    doc-count of its cluster; ordered by (size desc, label asc, doc_id).
    Plan shape: one search + one k-row term-vector job; everything after
    the top-k is broadcast-sized."""
    from ..functions.analyzer import analyze_text

    top = search(index, query, k=k, with_meta=False, mode=mode, **search_kw)
    ids = [int(r["doc_id"]) for r in top.select("doc_id").collect()]
    if not ids:
        return local_frame(
            index.spark, [], "label string, doc_id long, size long"
        )
    qterms = set(analyze_text(query))
    tv = term_vectors(index, ids, with_df=True, with_positions=False)
    n = float(index.n_docs)
    scored = (
        tv.filter(~F.col("term").isin(list(qterms)))
        .withColumn(
            "w", F.col("tf").cast("double") * F.log(F.lit(n) / F.col("df"))
        )
    )
    # deterministic argmax per doc: min over struct(-w, term) picks the
    # largest w and, on ties, the alphabetically first term
    best = (
        scored.groupBy("doc_id")
        .agg(
            F.min(
                F.struct((-F.col("w")).alias("nw"), F.col("term"))
            ).alias("b")
        )
        .select("doc_id", F.col("b.term").alias("label"))
    )
    # a doc whose every term is a query term has no candidate label —
    # it goes straight to the Other Topics bucket. The page ids were
    # already collected above; reuse them instead of re-executing the
    # search inside this plan
    ids_df = local_frame(index.spark, [(int(d),) for d in ids], "doc_id long")
    best = (
        ids_df.join(best, "doc_id", "left")
        .withColumn("label", F.coalesce("label", F.lit("Other Topics")))
    )
    from pyspark.sql import Window

    # rank labels by raw size; ≤k rows reach this window — the
    # single-partition sort is bounded by the page size, not the corpus
    sizes = best.groupBy("label").agg(F.count("*").alias("sz"))
    rnk = F.row_number().over(Window.orderBy(F.desc("sz"), F.asc("label")))
    keep = (
        sizes.withColumn("rnk", rnk)
        .filter(F.col("rnk") < clusters)
        .select("label", F.lit(True).alias("_keep"))
    )
    folded = (
        best.join(F.broadcast(keep), "label", "left")
        .withColumn(
            "label",
            F.when(F.col("_keep"), F.col("label")).otherwise(
                F.lit("Other Topics")
            ),
        )
        .select("doc_id", "label")
    )
    fsz = folded.groupBy("label").agg(F.count("*").alias("size"))
    return (
        folded.join(F.broadcast(fsz), "label")
        .select("label", "doc_id", "size")
        .orderBy(F.desc("size"), F.asc("label"), F.asc("doc_id"))
    )


def _prefix_upper(p: str) -> str | None:
    """Smallest string ordering above every string prefixed by ``p`` (the
    right edge of the prefix range), or None at the codepoint ceiling.
    Skips the surrogate block so the literal stays valid UTF-8."""
    for i in range(len(p) - 1, -1, -1):
        c = ord(p[i]) + 1
        if 0xD800 <= c <= 0xDFFF:
            c = 0xE000
        if c <= 0x10FFFF:
            return p[:i] + chr(c)
    return None


def build_suggest_dict(
    dictionary: DataFrame,
    out: str,
    *,
    field: str = "text",
    weight_field: str | None = None,
    n_partitions: int | None = None,
) -> None:
    """Build the suggester's lookup structure once — Solr's
    ``buildOnStartup=true`` / ``suggest.build`` analog
    (``conf/solr/docs/conf/solrconfig.xml:1249``; Lucene builds the FST at
    commit, not per lookup). Writes ``(suggestion, analyzed, weight)``
    parquet, deduped, RANGE-partitioned and sorted by ``analyzed`` so
    every file's parquet min/max tightly brackets one analyzed-prefix
    range — a :func:`suggest` lookup with ``prebuilt=True`` turns its
    non-fuzzy-prefix guard into a pushed string-range predicate and scans
    only the files whose range intersects the query prefix, instead of
    re-analyzing the whole corpus per keystroke."""
    from ..functions.analyzer import tokens_expr

    w = (
        F.col(weight_field).cast("long")
        if weight_field is not None
        else F.lit(0).cast("long")
    )
    d = (
        dictionary.select(
            F.col(field).alias("suggestion"),
            F.array_join(tokens_expr(F.col(field)), " ").alias("analyzed"),
            w.alias("weight"),
        )
        .filter(F.length("analyzed") > 0)
        .groupBy("suggestion", "analyzed")
        .agg(F.max("weight").alias("weight"))
    )
    if n_partitions is None:
        n_partitions = dictionary.sparkSession.sparkContext.defaultParallelism
    (
        d.repartitionByRange(n_partitions, "analyzed")
        .sortWithinPartitions("analyzed")
        .write.mode("overwrite")
        .parquet(out)
    )


def suggest(
    dictionary: DataFrame,
    q: str,
    *,
    field: str = "text",
    weight_field: str | None = None,
    count: int = 20,
    max_edits: int = 1,
    non_fuzzy_prefix: int = 1,
    min_fuzzy_length: int = 3,
    exact_first: bool = True,
    prebuilt: bool = False,
    transpositions: bool = False,
) -> DataFrame:
    """SuggestComponent twin: the ``/suggest`` handler's
    ``FuzzyLookupFactory`` over a ``DocumentDictionaryFactory``
    (``conf/solr/docs/conf/solrconfig.xml:1241-1264`` — field ``name``
    weighted by ``price``; here any ``field``/``weight_field`` of the
    ``dictionary`` DataFrame). Returns ``(suggestion, weight)`` — the top
    ``count`` full field values whose ANALYZED form begins with a fuzzy
    match of the analyzed query, ranked weight desc (suggestion asc
    tie-break; Lucene compares weight then surface bytes).

    Lucene FuzzySuggester semantics, with its defaults:

    - the query and each dictionary entry are analyzed with the engine
      analyzer (the ``suggestAnalyzerFieldType=text_general`` line) and
      space-joined; a dictionary entry matches when SOME PREFIX of its
      analyzed form is within ``max_edits`` (default 1) Levenshtein edits
      of the analyzed query,
    - the first ``non_fuzzy_prefix`` (default 1) characters must match
      exactly and edits never span into them (the distance is computed on
      the remainders, exactly like Lucene's automaton construction),
    - queries shorter than ``min_fuzzy_length`` (default 3) analyzed
      chars are matched by exact prefix only,
    - ``exact_first``: an entry whose whole analyzed form equals the
      query outranks everything (AnalyzingSuggester's exactFirst=true).

    ``transpositions=True`` (round-5f) evaluates the prefix distance
    with true Damerau-Levenshtein — FuzzySuggester's own default, where
    an adjacent swap is one edit. Default False keeps the pinned
    plain-Levenshtein baseline (the oracled ``suggest_fuzzy`` driver
    query; same flag convention as spell.py / boolean_search). The
    Damerau branch keeps the identical candidate envelope (npf exact
    prefix + the length-window ``least(levenshtein)`` as a 2x
    prefilter — lev <= 2*DL always) and decides with one Arrow-batched
    DP over the surviving remainders.

    Determinism: duplicate surface forms collapse to one row keeping the
    max weight (Lucene's DocumentDictionary may emit duplicates whose
    relative order is segment-dependent — not reproducible, so not
    mirrored).

    Scale shape: the prefix-of-analyzed distance needs only prefixes
    whose length is within ``max_edits`` of the query's (longer or
    shorter prefixes are already > ``max_edits`` away by the length
    bound), so the match predicate is a constant-size ``least()`` of
    ``levenshtein`` calls on short substrings — whole-stage-codegen'd,
    no UDF, no join. The exact-prefix guard filters BEFORE the dedup
    groupBy, so the shuffle carries only matching suggestions, and the
    final top-``count`` is a TakeOrderedAndProject.

    ``prebuilt=True``: ``dictionary`` is a :func:`build_suggest_dict`
    output (read back from parquet) instead of raw documents. The
    analysis projection and the dedup groupBy are skipped (done at build
    time), and the non-fuzzy-prefix guard is expressed as a string RANGE
    predicate ``head <= analyzed < next(head)`` — pushed to the parquet
    scan, where the build's range-partition-and-sort layout lets row-group
    min/max statistics prune every file outside the prefix range. That is
    the per-keystroke serving path: touched bytes ∝ matching prefix
    range, not corpus size."""
    from ..functions.analyzer import analyze_text, tokens_expr

    qa = " ".join(analyze_text(q))
    if not qa:
        raise ValueError("suggest: query analyzes to nothing")
    if max_edits not in (0, 1, 2):
        raise ValueError("max_edits must be 0, 1 or 2 (Lucene's hard cap)")

    if prebuilt:
        d = dictionary.select("suggestion", "analyzed", "weight")
    else:
        w = (
            F.col(weight_field).cast("long")
            if weight_field is not None
            else F.lit(0).cast("long")
        )
        d = dictionary.select(
            F.col(field).alias("suggestion"),
            F.array_join(tokens_expr(F.col(field)), " ").alias("analyzed"),
            w.alias("weight"),
        ).filter(F.length("analyzed") > 0)

    def _range_guard(df: DataFrame, prefix: str) -> DataFrame:
        """Prefix guard as a sarg-able range — pushed to parquet when the
        analyzed column is stored (prebuilt); plain codegen filter when
        it is computed (raw mode)."""
        hi = _prefix_upper(prefix)
        guard = F.col("analyzed") >= prefix
        if hi is not None:
            guard = guard & (F.col("analyzed") < hi)
        else:  # codepoint ceiling: range is one-sided, add exact check
            guard = guard & F.col("analyzed").startswith(prefix)
        return df.filter(guard)

    if len(qa) < min_fuzzy_length or max_edits == 0:
        d = _range_guard(d, qa)
        cond = F.col("analyzed").startswith(qa)
    else:
        npf = min(non_fuzzy_prefix, len(qa))
        head, rem = qa[:npf], qa[npf:]
        m = len(rem)
        if npf:
            d = _range_guard(d, head)
        s_rem = F.substring(F.col("analyzed"), npf + 1, m + max_edits)
        dists = [
            F.levenshtein(F.substring(s_rem, 1, L), F.lit(rem))
            for L in range(max(0, m - max_edits), m + max_edits + 1)
        ]
        dist = dists[0] if len(dists) == 1 else F.least(*dists)
        if transpositions:
            from .boolean import _damerau_dist

            lo_len = max(0, m - max_edits)

            @F.pandas_udf("boolean")
            def _dl_keep(rems: pd.Series) -> pd.Series:
                def ok(sv: str) -> bool:
                    return any(
                        _damerau_dist(rem, sv[:L]) <= max_edits
                        for L in range(lo_len, min(len(sv), m + max_edits) + 1)
                    )

                return rems.map(ok)

            cond = (dist <= 2 * max_edits) & _dl_keep(s_rem)
        else:
            cond = dist <= max_edits
    d = d.filter(cond)

    if not prebuilt:
        # duplicate surface forms -> one row, max weight (determinism
        # note); prebuilt dictionaries are deduped at build time
        d = d.groupBy("suggestion").agg(
            F.max("weight").alias("weight"),
            F.max("analyzed").alias("analyzed"),
        )
    order = [F.desc("weight"), F.asc("suggestion")]
    if exact_first:
        order = [F.desc(F.col("analyzed") == qa)] + order
    return d.orderBy(*order).limit(count).select("suggestion", "weight")
