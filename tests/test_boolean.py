"""Lucene classic-syntax parser + boolean evaluation + /select facade.

Gates:
- parser units: occur flags, AND promotion, phrases/slop, fielded
  clauses (equality / IN / range / negation), match-all, loud errors on
  the unsupported constructs;
- engine boolean top-k (docIDs AND scores) == pure-Python oracle
  bit-for-bit across every clause-type combination;
- consistency with the dedicated paths: a bare-OR string equals
  search(), an AND string equals search(conjunctive=True), a lone quoted
  phrase equals search(phrase=True) — the boolean layer adds no scoring
  of its own;
- /select facade: pagination slices the boolean order, facets count the
  FULL match set, text-fq restricts without changing scores.
"""

import pytest

from parser_indexer_py_spark.datagen import generate_transcripts
from parser_indexer_py_spark.functions.queryparser import (
    MUST,
    MUST_NOT,
    SHOULD,
    RangeValue,
    parse_query,
)
from parser_indexer_py_spark.index.boolean import boolean_search, select
from parser_indexer_py_spark.index.build import build_index
from parser_indexer_py_spark.index.oracle import BM25Oracle
from parser_indexer_py_spark.index.search import load_index, search

N_CONVS = 100


# ---------------------------------------------------------------- parser

def test_parser_bare_terms_default_or():
    pq = parse_query("alpha beta")
    assert pq.should_terms == ("alpha", "beta")
    assert not pq.must_terms and not pq.must_not_terms and not pq.phrases


def test_parser_prefixes():
    pq = parse_query("+alpha -beta gamma")
    assert pq.must_terms == ("alpha",)
    assert pq.must_not_terms == ("beta",)
    assert pq.should_terms == ("gamma",)


def test_parser_and_promotes_both_sides():
    pq = parse_query("alpha AND beta")
    assert set(pq.must_terms) == {"alpha", "beta"}
    assert not pq.should_terms
    # OR stays optional; AND only promotes its neighbors
    pq = parse_query("alpha OR beta AND gamma")
    assert pq.should_terms == ("alpha",)
    assert set(pq.must_terms) == {"beta", "gamma"}


def test_parser_not():
    pq = parse_query("alpha NOT beta !gamma")
    assert pq.should_terms == ("alpha",)
    assert set(pq.must_not_terms) == {"beta", "gamma"}


def test_parser_phrases():
    pq = parse_query('"alpha beta" +"gamma delta"~3 -"eps zeta"')
    occ = {p.tokens: (p.slop, p.occur) for p in pq.phrases}
    assert occ[("alpha", "beta")] == (0, SHOULD)
    assert occ[("gamma", "delta")] == (3, MUST)
    assert occ[("eps", "zeta")] == (0, MUST_NOT)


def test_parser_single_token_phrase_degrades_to_term():
    pq = parse_query('"alpha"')
    assert pq.should_terms == ("alpha",) and not pq.phrases


def test_parser_fields():
    pq = parse_query('role:user turn_idx:[3 TO 7] -tool:search conv_id:"c 1"')
    assert pq.filters["role"] == "user"
    assert pq.filters["turn_idx"] == RangeValue(3, 7)
    assert pq.filters["conv_id"] == "c 1"
    assert pq.not_filters["tool"] == "search"
    # repeated positive field -> IN
    pq = parse_query("role:user role:tool")
    assert pq.filters["role"] == ["user", "tool"]


def test_parser_range_brackets():
    """Round-5e Lucene TermRangeQuery surface: exclusive {} / mixed
    brackets, * open endpoints (the solrconfig.xml:824-825 facet.query
    shapes price:[* TO 500] / price:[500 TO *]), and loud errors on
    malformed ranges (never the old silent term-misread)."""
    assert parse_query("price:{10 TO 500}").filters["price"] == RangeValue(
        10, 500, lo_inc=False, hi_inc=False
    )
    assert parse_query("price:[10 TO 500}").filters["price"] == RangeValue(
        10, 500, lo_inc=True, hi_inc=False
    )
    assert parse_query("price:[* TO 500]").filters["price"] == RangeValue(
        None, 500
    )
    assert parse_query("price:[500 TO *]").filters["price"] == RangeValue(
        500, None
    )
    assert parse_query("ts:[* TO *]").filters["ts"] == RangeValue(None, None)
    pq = parse_query("-turn_idx:{3 TO *]")
    assert pq.not_filters["turn_idx"] == RangeValue(
        3, None, lo_inc=False, hi_inc=True
    )
    # field:* = Lucene FieldExistsQuery, sugar for [* TO *]
    assert parse_query("role:* cedi").filters["role"] == RangeValue(
        None, None
    )
    assert parse_query("-tool:*").not_filters["tool"] == RangeValue(
        None, None
    )
    for bad in ("price:{10 TO 500", "price:[oops]", "price:[10 TO]"):
        with pytest.raises(ValueError, match="malformed range"):
            parse_query(bad)


def test_parser_and_with_field():
    pq = parse_query("alpha AND role:user")
    assert pq.must_terms == ("alpha",)
    assert pq.filters["role"] == "user"


def test_range_brackets_end_to_end(bindex, qterms):
    """Engine semantics of the round-5e brackets over an integer field:
    exclusive/open forms must equal their manually-shifted inclusive
    twins (turn_idx:{3 TO 7] == [4 TO 7]; [* TO 5] == [min TO 5]), on
    both the full and delegated paths."""
    t1, _, _ = qterms

    def rows(q):
        return _rows(boolean_search(bindex, q, k=50, with_meta=False))

    got = rows(f"{t1} turn_idx:{{3 TO 7]")
    want = rows(f"{t1} turn_idx:[4 TO 7]")
    assert got == want and got
    got = rows(f"{t1} turn_idx:[* TO 5}}")
    want = rows(f"{t1} turn_idx:[0 TO 4]")
    assert got == want and got
    got = rows(f"{t1} turn_idx:[7 TO *]")
    want = rows(f"{t1} turn_idx:[7 TO 1000000]")
    assert got == want and got


def test_parser_match_all():
    assert parse_query("*:*").match_all


def test_parser_boosts():
    pq = parse_query('alpha^2 "beta gamma"^1.5 +delta^3')
    assert pq.boost_of("alpha") == 2.0
    assert pq.boost_of("delta") == 3.0
    assert pq.boost_of("nope") == 1.0
    assert pq.phrases[0].boost == 1.5
    # phrase slop and boost compose: "a b"~2^3
    pq = parse_query('"alpha beta"~2^3')
    assert pq.phrases[0].slop == 2 and pq.phrases[0].boost == 3.0


def test_parser_prefix():
    pq = parse_query("alp* -bet*^2 +gam*")
    occ = {p.prefix: (p.occur, p.boost) for p in pq.prefixes}
    assert occ["alp"] == (SHOULD, 1.0)
    assert occ["bet"] == (MUST_NOT, 2.0)
    assert occ["gam"] == (MUST, 1.0)
    # AND promotes a prefix clause too
    pq = parse_query("alp* AND beta")
    assert pq.prefixes[0].occur == MUST


def test_parser_rejects_unsupported():
    for bad in [
        "*te", "fuzzy~0.8", "fuzzy~3",
        # (role:* is LEGAL since round-5f — FieldExistsQuery sugar for
        # [* TO *], asserted in test_parser_range_brackets)
        "(a b", "a b)",
        "pre*~1", "pre*~",        # wildcard+fuzzy don't compose (r4 review)
        "te?t~1",                 # same for ?-wildcards
        "field:doc~1", "role:user~",  # fielded fuzzy is not a literal
        "(a b) ^2", "(a b)^2x", "a ^2",  # detached/malformed boost is not
                                         # a term (round-4 ADVICE)
        "role:(a AND b)", "role:(", "role:()", "role: x",  # field-group
        "te%t*",                  # wildcard charset restricted (round-5)
    ]:
        with pytest.raises(ValueError):
            parse_query(bad)
    # the legal forms stay legal (incl. the round-5 wildcard tail)
    assert parse_query("(a b)^2").subs[0].boost == 2.0
    assert parse_query("a^2").boosts
    assert parse_query("te?t").wildcards[0].pattern == "te?t"
    assert parse_query("t*st^2").wildcards[0].boost == 2.0
    assert parse_query("role:(user tool)").filters == {
        "role": ["user", "tool"]
    }


def test_parser_groups():
    """Round-4: parenthesized boolean groups — nested BooleanQuery
    clauses with occur flags, boosts, AND-promotion, and Lucene's
    empty-group drop."""
    pq = parse_query("(alpha OR beta) AND gamma")
    assert len(pq.subs) == 1 and pq.subs[0].occur == MUST
    assert pq.subs[0].sub.should_terms == ("alpha", "beta")
    assert pq.must_terms == ("gamma",)

    pq = parse_query("-(alpha beta) gamma")
    assert pq.subs[0].occur == MUST_NOT
    assert pq.should_terms == ("gamma",)

    pq = parse_query("(alpha (beta OR delta))^2")
    assert pq.subs[0].boost == 2.0
    inner = pq.subs[0].sub
    assert inner.should_terms == ("alpha",)
    assert inner.subs[0].sub.should_terms == ("beta", "delta")

    pq = parse_query("() alpha")  # empty group dropped like Lucene
    assert not pq.subs and pq.should_terms == ("alpha",)

    pq = parse_query("(role:user alpha)")  # fielded clauses scope to group
    assert pq.subs[0].sub.filters == {"role": "user"}
    assert not pq.filters

    pq = parse_query("(a b) OR c", default_op="AND")  # q.op inside parens
    assert pq.subs[0].sub.must_terms == ("a", "b")
    assert pq.subs[0].occur == SHOULD  # OR demoted the group
    assert pq.should_terms == ("c",)


def test_parser_fuzzy():
    """Round-4: fuzzy terms — term~ (maxEdits 2 default), term~N,
    boosts, occur prefixes; fractional similarity and >2 edits raise."""
    pq = parse_query("fuzzy~ exact~0 one~1^3 -bad~2")
    assert pq.fuzzies[0].term == "fuzzy" and pq.fuzzies[0].max_edits == 2
    assert pq.fuzzies[1].max_edits == 0
    assert pq.fuzzies[2].max_edits == 1 and pq.fuzzies[2].boost == 3.0
    assert pq.fuzzies[3].occur == MUST_NOT
    pq = parse_query("a~1 AND b")  # AND promotes the fuzzy neighbor
    assert pq.fuzzies[0].occur == MUST and pq.must_terms == ("b",)


def test_parser_fielded_boost_stripped():
    """`field:value^2` is legal Lucene; field clauses are score-neutral
    filters here, so the boost is accepted and discarded — never folded
    into the filter value, never lexed as a stray term (round-3 ADVICE)."""
    pq = parse_query('type:doc^2 role:"user"^3 turn_idx:[1 TO 5]^1.5')
    assert pq.filters == {
        "type": "doc",
        "role": "user",
        "turn_idx": RangeValue(1, 5),
    }
    assert not pq.should_terms and not pq.must_terms and not pq.boosts
    pq = parse_query("-type:doc^2")
    assert pq.not_filters == {"type": "doc"} and not pq.should_terms


def test_parser_and_promotes_only_immediate_neighbor():
    """AND must not reach past an intervening non-SHOULD clause (review
    finding): 'a -b AND c' promotes only c; 'a role:user AND c' ditto."""
    pq = parse_query("alpha -beta AND gamma")
    assert pq.should_terms == ("alpha",)
    assert pq.must_terms == ("gamma",)
    assert pq.must_not_terms == ("beta",)
    pq = parse_query("alpha role:user AND gamma")
    assert pq.should_terms == ("alpha",)
    assert pq.must_terms == ("gamma",)


def test_parser_or_demotes_under_qop_and():
    """With q.op=AND, an explicit OR makes both neighbors optional —
    unless the left neighbor's MUST was explicit (+ always wins)."""
    pq = parse_query("alpha OR beta", default_op="AND")
    assert pq.should_terms == ("alpha", "beta") and not pq.must_terms
    pq = parse_query("+alpha OR beta", default_op="AND")
    assert pq.must_terms == ("alpha",) and pq.should_terms == ("beta",)
    pq = parse_query("alpha OR beta gamma", default_op="AND")
    assert pq.should_terms == ("alpha", "beta")
    assert pq.must_terms == ("gamma",)
    # an AND-promoted MUST is explicit — the following OR can't demote it
    pq = parse_query("alpha AND beta OR gamma")
    assert set(pq.must_terms) == {"alpha", "beta"}
    assert pq.should_terms == ("gamma",)


def test_parser_or_demotes_whole_multitoken_clause():
    """A word that analyzes to several tokens flips as ONE clause
    (review finding: 'foo-bar OR c' left 'foo' required)."""
    pq = parse_query("foo-bar OR c", default_op="AND")
    assert pq.should_terms == ("foo", "bar", "c") and not pq.must_terms


def test_parser_and_promotion_is_explicit():
    """An OR immediately after AND must not undo the promotion."""
    pq = parse_query("alpha AND OR beta")
    assert set(pq.must_terms) == {"alpha", "beta"} and not pq.should_terms


def test_parser_pending_occur_consumed_by_match_all():
    """A +/-/NOT aimed at *:* must not leak onto the next clause."""
    pq = parse_query("NOT *:* alpha")
    assert pq.match_all
    assert pq.should_terms == ("alpha",)
    assert not pq.must_not_terms
    pq = parse_query("+*:* alpha")
    assert pq.should_terms == ("alpha",) and not pq.must_terms


# ------------------------------------------------------------- fixtures

@pytest.fixture(scope="module")
def bindex(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("bidx"))
    df = generate_transcripts(spark, N_CONVS, partitions=4)
    build_index(
        spark, df, out, n_partitions=6, n_buckets=8, salt=4, n_chunks=2,
        positions=True,
    )
    return load_index(spark, out)


@pytest.fixture(scope="module")
def boracle(bindex):
    pdf = bindex.docmap.select("doc_id", "text", "role").toPandas()
    return BM25Oracle.from_pandas(pdf)


def _pick_terms(oracle):
    """(t1, t2, t3): t1,t2 = the corpus's most frequent adjacent bigram
    (so phrase clauses actually match), t3 = another high-df term."""
    from collections import Counter, defaultdict

    seqs: dict = defaultdict(dict)
    for t, dd in oracle.positions.items():
        for d, ps in dd.items():
            for p in ps:
                seqs[d][p] = t
    bg: Counter = Counter()
    for pm in seqs.values():
        toks = [pm[p] for p in sorted(pm)]
        for a, b in zip(toks, toks[1:]):
            bg[(a, b)] += 1
    (t1, t2), _ = bg.most_common(1)[0]
    df_sorted = sorted(
        oracle.postings.items(), key=lambda kv: (-len(kv[1]), kv[0])
    )
    t3 = next(t for t, _ in df_sorted if t not in (t1, t2))
    return t1, t2, t3


@pytest.fixture(scope="module")
def qterms(boracle):
    return _pick_terms(boracle)


def _rows(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


# -------------------------------------------------- engine == oracle

def test_boolean_rank_identity_vs_oracle(bindex, boracle, qterms):
    t1, t2, t3 = qterms
    queries = [
        f"{t1} {t2}",
        f"{t1} +{t2}",
        f"{t1} -{t2}",
        f"{t1} AND {t2}",
        f'"{t1} {t2}"',
        f'{t3} "{t1} {t2}"',
        f'{t3} +"{t1} {t2}"',
        f'{t3} -"{t1} {t2}"',
        f'"{t1} {t2}"~2 {t3}',
        f"{t1} role:user",
        f"-{t1} role:user",
        f"{t3} AND role:user",
    ]
    for q in queries:
        eng = _rows(boolean_search(bindex, q, k=10, with_meta=False))
        assert eng == boracle.boolean_search(q, k=10), q


def test_wildcard_and_field_grouping_vs_oracle(bindex, boracle, qterms):
    """Round-5 wildcard tail: ``te?t`` / ``t*st`` (constant-score
    WildcardQuery rewrite, every occur flag, boosts) and ``field:(a b)``
    field-grouping sugar — engine == pure-Python oracle exactly."""
    t1, t2, t3 = qterms
    pat_q = t3[:1] + "?" + t3[2:]            # ? at position 1
    pat_s = t3[:1] + "*" + t3[-1]            # mid-string *
    queries = [
        f"{t1} {pat_q}",
        f"{t1} {pat_s}",
        f"+{pat_q} {t2}",
        f"{t1} -{pat_s}",
        f"{pat_q}^2 AND {t2}",
        f"{pat_q} {pat_s} {t1}",
    ]
    for q in queries:
        eng = _rows(boolean_search(bindex, q, k=10, with_meta=False))
        assert eng == boracle.boolean_search(q, k=10), q
        if " -" not in q:  # negatives may legitimately empty the set
            assert eng, q  # non-vacuous: the pattern really matched
    # field-grouping == the same query written as repeated field clauses
    for grouped, flat in [
        (f"{t1} role:(user tool)", f"{t1} role:user role:tool"),
        (f"{t1} -role:(user OR tool)", f"{t1} -role:user -role:tool"),
    ]:
        a = _rows(boolean_search(bindex, grouped, k=10, with_meta=False))
        b = _rows(boolean_search(bindex, flat, k=10, with_meta=False))
        assert a == b and a, grouped


def test_boolean_boost_prefix_mm_vs_oracle(bindex, boracle, qterms):
    t1, t2, t3 = qterms
    queries = [
        f"{t1}^2 {t3}",                       # term boost
        f'{t3} "{t1} {t2}"^2.5',              # phrase boost
        f"{t1[:2]}* {t3}",                    # SHOULD prefix (const score)
        f"+{t1[:2]}* -{t3}",                  # MUST prefix + NOT term
        f"{t3} -{t1[:2]}*",                   # MUST_NOT prefix
        f"{t1[:2]}*^2 AND {t3}",              # boosted prefix, AND promote
    ]
    for q in queries:
        eng = _rows(boolean_search(bindex, q, k=10, with_meta=False))
        assert eng == boracle.boolean_search(q, k=10), q


def test_boolean_min_should_match(bindex, boracle, qterms):
    t1, t2, t3 = qterms
    q = f"{t1} {t2} {t3}"
    for mm in (0, 1, 2, 3):
        eng = _rows(
            boolean_search(
                bindex, q, k=10, min_should_match=mm, with_meta=False
            )
        )
        assert eng == boracle.boolean_search(q, k=10, min_should_match=mm), mm
    # mm over a mixed term+phrase query (the phrase counts as one clause)
    q2 = f'{t3} "{t1} {t2}"'
    eng = _rows(
        boolean_search(bindex, q2, k=10, min_should_match=2, with_meta=False)
    )
    assert eng == boracle.boolean_search(q2, k=10, min_should_match=2)
    # mm beyond the SHOULD clause count matches nothing
    assert (
        boolean_search(bindex, q, k=10, min_should_match=4).count() == 0
    )


def test_boolean_boost_one_is_identity(bindex, qterms):
    t1, _, t3 = qterms
    assert _rows(
        boolean_search(bindex, f"{t1}^1 {t3}", k=10, with_meta=False)
    ) == _rows(boolean_search(bindex, f"{t1} {t3}", k=10, with_meta=False))


def test_boolean_delegation_pruned_identity(bindex, boracle, qterms):
    """Pure-term queries delegate to search() — including the WAND path.
    The delegated pruned result must equal the independent oracle across
    OR / AND / fielded shapes."""
    t1, t2, t3 = qterms
    for q in [
        f"{t1} {t2} {t3}",
        f"{t1} AND {t3}",
        f"+{t1} +{t3}",
        f"{t1} {t3} role:user",
    ]:
        eng = _rows(
            boolean_search(bindex, q, k=10, mode="pruned", with_meta=False)
        )
        assert eng == boracle.boolean_search(q, k=10), q


def test_boolean_wand_delegation_negation_boost(bindex, boracle, qterms):
    """Round-4: negation / boost / mixed MUST+SHOULD queries delegate to
    the WAND path too (negatives = one excluded doc set, MUST containment
    = required doc set, boosts scale block bounds). Identity with the
    oracle AND between full/pruned modes, with the pruning machinery
    FORCED on (full_cutover=0) so the bound/candidate logic actually
    runs on this small corpus."""
    t1, t2, t3 = qterms
    for q in [
        f"{t1} -{t2}",                      # SHOULD + negative term
        f"{t1}^2 {t3}",                     # boosted SHOULD
        f"+{t1} {t3}",                      # mixed MUST+SHOULD
        f"{t1} {t3} -{t2}",
        f"+{t3} {t1}^1.5 -role:tool",       # mixed + boost + neg field
        f'{t1} {t3} -"{t1} {t2}"',          # negative phrase clause
        f"+{t1} +{t3} -{t2}",               # pure-MUST + negative
    ]:
        full = _rows(boolean_search(bindex, q, k=10, with_meta=False))
        assert full == boracle.boolean_search(q, k=10), q
        pr = _rows(
            boolean_search(
                bindex, q, k=10, mode="pruned", full_cutover=0,
                with_meta=False,
            )
        )
        assert pr == full, q


def test_boolean_groups_vs_oracle(bindex, boracle, qterms):
    """Round-4: parenthesized groups evaluate as nested BooleanQueries —
    engine == oracle bit-for-bit across occur/boost/nesting shapes, and
    a distributivity sanity check holds on matching doc sets."""
    t1, t2, t3 = qterms
    for q in [
        f"({t1} OR {t2}) AND {t3}",
        f"({t1} {t2}) {t3}",
        f"-({t1} {t2}) {t3}",
        f"({t1} +{t2})^2 {t3}",
        f"(({t1} OR {t2}) +{t3})",
        f'({t1} "{t1} {t2}") AND {t3}',
        f"({t1} role:user) {t3}",
        f"+({t1} {t2}) +{t3}",
    ]:
        eng = _rows(boolean_search(bindex, q, k=10, with_meta=False))
        assert eng == boracle.boolean_search(q, k=10), q
    # (a OR b) AND c matches exactly the docs of (a AND c) OR (b AND c)
    lhs = {
        d
        for d, _ in _rows(
            boolean_search(
                bindex, f"({t1} OR {t2}) AND {t3}", k=10**6, with_meta=False
            )
        )
    }
    rhs = {
        d
        for d, _ in _rows(
            boolean_search(
                bindex,
                f"({t1} AND {t3}) OR ({t2} AND {t3})",
                k=10**6,
                with_meta=False,
            )
        )
    }
    assert lhs == rhs and lhs


def test_boolean_fuzzy_vs_oracle(bindex, boracle, qterms):
    """Round-4: fuzzy terms (constant-score edit-distance expansion) —
    engine == oracle, a typo'd hot term matches docs containing the
    original, and ~0 means exact-only."""
    t1, _, t3 = qterms
    typo = t1[:-1] + ("x" if t1[-1] != "x" else "y")
    for q in [
        f"{typo}~ {t3}",
        f"{typo}~1",
        f"+{t1} {typo}~2^3",
        f"{t1} -{typo}~1",
        f"({typo}~ {t3}) AND {t1}",
    ]:
        eng = _rows(boolean_search(bindex, q, k=10, with_meta=False))
        assert eng == boracle.boolean_search(q, k=10), q
    # the typo'd expansion really reaches t1's docs
    hits = {
        d for d, _ in _rows(
            boolean_search(bindex, f"{typo}~1", k=10**6, with_meta=False)
        )
    }
    assert set(boracle.postings[t1]) <= hits
    # ~0 is exact-only: equals the plain term's doc set (constant score)
    exact = {
        d for d, _ in _rows(
            boolean_search(bindex, f"{t1}~0", k=10**6, with_meta=False)
        )
    }
    assert exact == set(boracle.postings[t1])


def test_boolean_wand_delegation_fq_and_mm(bindex, boracle, qterms):
    """Round-4b: fq strings (score-neutral match-set restrictions) chain
    into the delegated require semi-join, and pure-SHOULD mm delegates
    as an n_terms filter — identity with the oracle and across modes
    with pruning forced on."""
    t1, t2, t3 = qterms
    # fq composes with delegation: equals the clause-path fq behavior
    for q, fqs in [
        (f"{t1} {t3}", t2),                     # text fq
        (f"{t1} {t3}", ["role:user", t2]),      # repeated fq params
        (f"+{t1} {t3} -{t2}", "role:assistant"),
    ]:
        full = _rows(
            boolean_search(bindex, q, k=10, fq=fqs, with_meta=False)
        )
        pr = _rows(
            boolean_search(
                bindex, q, k=10, fq=fqs, mode="pruned", full_cutover=0,
                with_meta=False,
            )
        )
        assert pr == full, (q, fqs)
    # mm over pure-SHOULD terms delegates; identity with the oracle
    q3 = f"{t1} {t2} {t3}"
    for mm in (1, 2, 3):
        want = boracle.boolean_search(q3, k=10, min_should_match=mm)
        got = _rows(
            boolean_search(
                bindex, q3, k=10, min_should_match=mm, mode="pruned",
                full_cutover=0, with_meta=False,
            )
        )
        assert got == want, mm
    assert (
        boolean_search(
            bindex, q3, k=10, min_should_match=4, mode="pruned",
            full_cutover=0, with_meta=False,
        ).count()
        == 0
    )


def test_boolean_pruning_knobs_rejected_on_clause_path(bindex, qterms):
    t1, t2, _ = qterms
    with pytest.raises(ValueError, match="WAND-delegable"):
        boolean_search(bindex, f'"{t1} {t2}" {t1}', k=5, full_cutover=0)


def test_boolean_match_all(bindex, boracle):
    eng = _rows(boolean_search(bindex, "*:*", k=7, with_meta=False))
    assert eng == boracle.boolean_search("*:*", k=7)
    assert all(s == 1.0 for _, s in eng) and len(eng) == 7


def test_boolean_empty_query(bindex):
    assert boolean_search(bindex, "", k=5).count() == 0
    # empty results keep the documented with_meta schema (review finding:
    # a caller selecting conv_id on an empty result must not crash)
    df = boolean_search(bindex, "", k=5, with_meta=True)
    assert df.columns == ["doc_id", "score", "conv_id", "turn_idx", "role"]
    assert df.select("conv_id").count() == 0


# ------------------------------------- consistency with dedicated paths

def test_bare_or_equals_search(bindex, qterms):
    t1, t2, _ = qterms
    q = f"{t1} {t2}"
    assert _rows(boolean_search(bindex, q, k=10, with_meta=False)) == _rows(
        search(bindex, q, k=10, with_meta=False)
    )


def test_and_equals_conjunctive_search(bindex, qterms):
    t1, t2, _ = qterms
    assert _rows(
        boolean_search(bindex, f"{t1} AND {t2}", k=10, with_meta=False)
    ) == _rows(
        search(bindex, f"{t1} {t2}", k=10, conjunctive=True, with_meta=False)
    )


def test_lone_phrase_equals_phrase_search(bindex, qterms):
    t1, t2, _ = qterms
    eng = _rows(
        boolean_search(bindex, f'"{t1} {t2}"', k=10, with_meta=False)
    )
    ref = [
        (r["doc_id"], r["score"])
        for r in search(
            bindex, f"{t1} {t2}", k=10, phrase=True, with_meta=False
        ).collect()
    ]
    assert eng == ref


# --------------------------------------------------------- /select

def test_select_pagination(bindex, qterms):
    t1, t2, _ = qterms
    q = f"{t1} {t2}"
    full = _rows(boolean_search(bindex, q, k=9, with_meta=False))
    page = select(bindex, q, rows=3, start=3)["response"]
    assert [(r["doc_id"], r["score"]) for r in page.collect()] == full[3:6]


def test_select_facets_count_full_match_set(bindex, boracle, qterms):
    t1, _, _ = qterms
    facets = select(bindex, t1, rows=0, facet_field="role")["facets"]
    got = {r["role"]: r["n"] for r in facets.collect()}
    want: dict = {}
    for d in boracle.postings[t1]:
        want[boracle.roles[d]] = want.get(boracle.roles[d], 0) + 1
    assert got == dict(sorted(want.items(), key=lambda kv: (-kv[1], kv[0]))[:10])


def test_select_text_fq_is_score_neutral(bindex, boracle, qterms):
    t1, _, t3 = qterms
    res = select(bindex, t1, fq=t3, rows=1000)["response"]
    got = [(r["doc_id"], r["score"]) for r in res.collect()]
    base = dict(boracle.boolean_search(t1, k=10**6))
    with_t3 = set(boracle.postings[t3])
    want = sorted(
        ((d, s) for d, s in base.items() if d in with_t3),
        key=lambda x: (-x[1], x[0]),
    )[:1000]
    assert got == want


def test_select_rejects_unknown_facet_field(bindex):
    with pytest.raises(ValueError):
        select(bindex, "*:*", facet_field="nope")


def test_default_op_and(bindex, qterms):
    """q.op=AND: bare clauses become required (Solr defaultOperator)."""
    t1, _, t3 = qterms
    assert _rows(
        boolean_search(
            bindex, f"{t1} {t3}", k=10, default_op="AND", with_meta=False
        )
    ) == _rows(
        boolean_search(bindex, f"{t1} AND {t3}", k=10, with_meta=False)
    )
    with pytest.raises(ValueError):
        boolean_search(bindex, "a b", default_op="NOR")


def test_select_sort_and_fl(bindex, qterms):
    t1, _, _ = qterms
    res = select(bindex, t1, rows=5, sort="turn_idx asc, score desc")
    got = [
        (r["turn_idx"], r["doc_id"]) for r in res["response"].collect()
    ]
    assert got == sorted(got, key=lambda x: x[0])[: len(got)] and got
    # fl selects exactly the requested columns, in order
    res = select(bindex, t1, rows=3, fl=["conv_id", "score"])
    assert res["response"].columns == ["conv_id", "score"]
    with pytest.raises(ValueError, match="sort"):
        select(bindex, t1, sort="turn_idx sideways")
    with pytest.raises(ValueError, match="fl"):
        select(bindex, t1, fl=["nope"])


def test_boolean_on_segments(spark, tmp_path_factory):
    """The boolean layer composes with the streaming merged view for free
    (MergedSegmentsView implements the Index API the clause pieces use):
    engine over 2 positional segments == pure-Python oracle built from the
    merged view's own docmap, across every clause type."""
    from pyspark.sql import functions as F

    from parser_indexer_py_spark.streaming.incremental import SegmentedIndex
    from parser_indexer_py_spark.streaming.merged import MergedSegmentsView

    root = str(tmp_path_factory.mktemp("bseg"))
    seg = SegmentedIndex(spark, root, positions=True)
    src = generate_transcripts(spark, 60, partitions=2)
    seg.append_batch(
        src.filter(F.pmod(F.crc32(F.col("conv_id")), F.lit(2)) == 0), 0
    )
    seg.append_batch(
        src.filter(F.pmod(F.crc32(F.col("conv_id")), F.lit(2)) == 1), 1
    )
    view = MergedSegmentsView(seg)
    o = BM25Oracle.from_pandas(
        view.docmap.select("doc_id", "text", "role").toPandas()
    )
    t1, t2, t3 = _pick_terms(o)
    typo = t1[:-1] + ("x" if t1[-1] != "x" else "y")
    for q in [
        f"{t1} {t3}",
        f"{t3} +{t1} -{t2}",
        f'{t3} "{t1} {t2}"',
        f'"{t1} {t2}"~2 AND {t3}',
        f"{t1} role:user",
        f"({t1} OR {t2}) AND {t3}",   # round-4: groups over segments
        f"{t3} {typo}~1",             # round-4: fuzzy over segments
        f"{t1}^2 {t3} -{t2}",         # round-4: delegated boost+negation
    ]:
        eng = _rows(boolean_search(view, q, k=10, with_meta=False))
        assert eng == o.boolean_search(q, k=10), q
        # the delegated WAND path over the merged view agrees too
        pr = _rows(
            boolean_search(view, q, k=10, mode="pruned", with_meta=False)
        )
        assert pr == eng, (q, "pruned")
    # the /select facade runs over the merged view as well (fast path +
    # facets over the full cross-segment match set)
    res = select(view, q=t1, rows=3, facet_field="role")
    assert res["response"].count() == 3
    n_match = len(o.boolean_search(t1, k=10**6))
    assert sum(r["n"] for r in res["facets"].collect()) == n_match


def test_select_facet_range(bindex, boracle, qterms):
    t1, _, _ = qterms
    res = select(
        bindex, t1, rows=0, facet_range=("turn_idx", 0, 40, 10)
    )["range_facets"]
    got = {int(r["bucket"]): r["n"] for r in res.collect()}
    match = set(boracle.postings[t1])
    meta = {
        int(r["doc_id"]): int(r["turn_idx"])
        for r in bindex.docmap.select("doc_id", "turn_idx").collect()
    }
    want: dict = {}
    for d in match:
        v = meta[d]
        if 0 <= v < 40:
            b = (v // 10) * 10
            want[b] = want.get(b, 0) + 1
    assert got == want and got
    with pytest.raises(ValueError):
        select(bindex, t1, facet_range=("turn_idx", 40, 0, 10))


def test_select_facet_mincount_and_missing(bindex, boracle, qterms):
    """facet.mincount prunes ranked values, facet.missing appends the
    NULL bucket AFTER them (Solr /browse wires mincount=1+missing=true,
    solrconfig.xml facet defaults). `tool` is NULL on non-tool turns, so
    both branches exercise real data."""
    from collections import Counter

    t1, _, _ = qterms
    match = set(boracle.postings[t1])
    meta = {
        int(r["doc_id"]): r["tool"]
        for r in bindex.docmap.select("doc_id", "tool").collect()
    }
    vals = Counter(meta[d] for d in match)
    n_null = vals.pop(None, 0)
    assert n_null > 0  # fixture sanity: tool IS null on most turns
    mc = 2
    res = select(
        bindex, t1, rows=0, facet_field="tool", facet_limit=100,
        facet_mincount=mc, facet_missing=True,
    )
    rows = [(r["tool"], r["n"]) for r in res["facets"].collect()]
    want_ranked = sorted(
        ((v, n) for v, n in vals.items() if n >= mc),
        key=lambda t: (-t[1], t[0]),
    )
    assert rows[:-1] == want_ranked
    assert rows[-1] == (None, n_null)  # missing bucket, appended last
    # a never-null field still surfaces an n=0 missing bucket at
    # mincount=0 and drops it at mincount=1 (Solr returns null:0)
    r0 = select(
        bindex, t1, rows=0, facet_field="role", facet_missing=True
    )["facets"].collect()
    assert (r0[-1]["role"], r0[-1]["n"]) == (None, 0)
    r1 = select(
        bindex, t1, rows=0, facet_field="role", facet_mincount=1,
        facet_missing=True,
    )["facets"].collect()
    assert all(r["role"] is not None for r in r1)


def test_select_facet_range_other(bindex, boracle, qterms):
    """facet.range.other: before/after/between companions of
    facet.range, counted over the full match set in one aggregate."""
    t1, _, _ = qterms
    match = set(boracle.postings[t1])
    meta = {
        int(r["doc_id"]): int(r["turn_idx"])
        for r in bindex.docmap.select("doc_id", "turn_idx").collect()
    }
    lo, hi = 5, 15
    want = {
        "before": sum(1 for d in match if meta[d] < lo),
        "after": sum(1 for d in match if meta[d] >= hi),
        "between": sum(1 for d in match if lo <= meta[d] < hi),
    }
    assert want["before"] and want["after"] and want["between"]
    res = select(
        bindex, t1, rows=0, facet_range=("turn_idx", lo, hi, 5),
        facet_range_other="all",
    )["range_other"]
    rows = [(r["other"], r["n"]) for r in res.collect()]
    assert rows == [(s, want[s]) for s in ("before", "after", "between")]
    sub = select(
        bindex, t1, rows=0, facet_range=("turn_idx", lo, hi, 5),
        facet_range_other=["after"],
    )["range_other"].collect()
    assert [(r["other"], r["n"]) for r in sub] == [("after", want["after"])]
    with pytest.raises(ValueError):
        select(bindex, t1, rows=0, facet_range_other="all")
    with pytest.raises(ValueError):
        select(
            bindex, t1, rows=0, facet_range=("turn_idx", lo, hi, 5),
            facet_range_other=["sideways"],
        )


def test_select_grouping(bindex, boracle, qterms):
    t1, _, _ = qterms
    res = select(bindex, t1, rows=0, group_field="role", group_limit=2)
    got = [
        (r["role"], r["rank_in_group"], r["doc_id"], r["score"])
        for r in res["groups"].collect()
    ]
    scores = dict(boracle.boolean_search(t1, k=10**6))
    roles = {
        int(r["doc_id"]): r["role"]
        for r in bindex.docmap.select("doc_id", "role").collect()
    }
    want = []
    by_role: dict = {}
    for d, s in sorted(scores.items(), key=lambda x: (-x[1], x[0])):
        by_role.setdefault(roles[d], []).append((d, s))
    for role in sorted(by_role):
        for i, (d, s) in enumerate(by_role[role][:2], 1):
            want.append((role, i, d, s))
    assert got == want
    # group_limit=1 takes the max_by fast path (no window sort) — must
    # equal the window semantics exactly
    res1 = select(bindex, t1, rows=0, group_field="role", group_limit=1)
    got1 = [
        (r["role"], r["rank_in_group"], r["doc_id"], r["score"])
        for r in res1["groups"].collect()
    ]
    want1 = [w for w in want if w[1] == 1]
    assert got1 == want1
    # and the fast-path plan really avoids the window sort
    from parser_indexer_py_spark.plans.explain_audit import plan_string

    assert "Window" not in plan_string(res1["groups"])


def test_boolean_with_excerpt_smoke(bindex, qterms):
    t1, t2, _ = qterms
    rows = boolean_search(
        bindex, f'{t1} "{t1} {t2}"', k=3, with_excerpt=True
    ).collect()
    assert rows and all(r["excerpt"] for r in rows)


def test_edismax(bindex, boracle, qterms):
    """edismax-lite (the /browse parser shape): mm=100% requires every
    term and pf adds the whole-query phrase boost — equivalent to the
    composed classic query, gated against the oracle; percentage mm
    floors like Solr; operator queries fall through unchanged."""
    from parser_indexer_py_spark.index.boolean import edismax_search

    t1, t2, t3 = qterms
    q = f"{t1} {t2}"
    # mm=100% + pf == '+t1 +t2 "t1 t2"'
    eng = _rows(edismax_search(bindex, q, k=10, with_meta=False))
    assert eng == boracle.boolean_search(f'+{t1} +{t2} "{t1} {t2}"', k=10)
    # pf=False == conjunctive search
    assert _rows(
        edismax_search(bindex, q, k=10, pf=False, with_meta=False)
    ) == _rows(search(bindex, q, k=10, conjunctive=True, with_meta=False))
    # mm='34%' of 3 terms -> floor(1.02) = 1 -> plain disjunctive w/ mm=1
    q3 = f"{t1} {t2} {t3}"
    assert _rows(
        edismax_search(bindex, q3, k=10, mm="34%", with_meta=False)
    ) == boracle.boolean_search(q3, k=10, min_should_match=1)
    # operator-bearing query falls through to the classic parser
    assert _rows(
        edismax_search(bindex, f"{t1} -{t2}", k=10, with_meta=False)
    ) == boracle.boolean_search(f"{t1} -{t2}", k=10)


def test_edismax_qf_multifield_vs_oracle(spark, tmp_path_factory):
    """Round-4: multi-field qf edismax (the /browse handler's real
    qf=title^10 ... shape). Two field indexes built from the same rows
    (stable docIDs align), per-field BM25 statistics, DisjunctionMax
    per term with tie, mm over any-field matches — bit-identical to the
    pure-Python dismax twin; the single-field degenerate case equals
    plain BM25 search."""
    import pyspark.sql.functions as F

    from parser_indexer_py_spark.index.boolean import edismax_qf
    from parser_indexer_py_spark.index.oracle import dismax_search

    base = generate_transcripts(spark, 60, partitions=3)
    title = F.array_join(F.slice(F.split(F.col("text"), " "), 1, 2), " ")
    idxs = {}
    for fname, df in [
        ("text", base), ("title", base.withColumn("text", title)),
    ]:
        out = str(tmp_path_factory.mktemp(f"qf_{fname}"))
        build_index(spark, df, out, n_chunks=1)
        idxs[fname] = load_index(spark, out)
    # stable docID assignment aligns the two docmaps row-for-row
    a = idxs["text"].docmap.select(
        "doc_id", "conv_id", "turn_idx"
    ).orderBy("doc_id").toPandas()
    b = idxs["title"].docmap.select(
        "doc_id", "conv_id", "turn_idx"
    ).orderBy("doc_id").toPandas()
    assert a.equals(b)

    oracles = {
        f: BM25Oracle.from_pandas(
            idxs[f].docmap.select("doc_id", "text", "role").toPandas()
        )
        for f in idxs
    }
    ttop = max(
        oracles["title"].postings,
        key=lambda t: len(oracles["title"].postings[t]),
    )
    xtop = max(
        (t for t in oracles["text"].postings if t != ttop),
        key=lambda t: len(oracles["text"].postings[t]),
    )
    q = f"{ttop} {xtop}"
    qf = {"text": 0.5, "title": 10.0}
    for tie, mm, mm_n in [(0.0, "100%", 2), (0.1, 1, 1), (0.25, 0, 0)]:
        eng = _rows(
            edismax_qf(idxs, q, qf, k=10, tie=tie, mm=mm, with_meta=False)
        )
        want = dismax_search(oracles, q, qf, k=10, tie=tie, mm_n=mm_n)
        assert eng == want, (tie, mm)
        assert eng  # non-vacuous
    # single-field degenerate case == plain BM25 (bit-identical)
    single = _rows(
        edismax_qf(
            {"text": idxs["text"]}, q, {"text": 1.0}, k=10, mm=0,
            with_meta=False,
        )
    )
    assert single == _rows(
        search(idxs["text"], q, k=10, with_meta=False)
    )
    # operator syntax refuses loudly; mismatched qf field too
    with pytest.raises(ValueError, match="bare term"):
        edismax_qf(idxs, f"+{ttop}", qf, k=5)
    with pytest.raises(ValueError, match="no index"):
        edismax_qf(idxs, q, {"nope": 1.0}, k=5)


def test_fielded_scoring_clause(spark, tmp_path_factory):
    """Round-5: ``field:value`` as a SCORING TermQuery when the field has
    its own index (boolean_search(field_indexes=...)) — closes the last
    documented classic-parser deviation. The fielded piece must carry the
    FIELD's BM25 statistics and fold into the clause sum exactly like any
    other piece; without field_indexes behavior is unchanged (docmap
    filter / unknown-field error)."""
    import pyspark.sql.functions as F

    from parser_indexer_py_spark.index.boolean import boolean_search

    base = generate_transcripts(spark, 60, partitions=3)
    title = F.array_join(F.slice(F.split(F.col("text"), " "), 1, 2), " ")
    idxs = {}
    for fname, df in [
        ("text", base), ("title", base.withColumn("text", title)),
    ]:
        out = str(tmp_path_factory.mktemp(f"fs_{fname}"))
        build_index(spark, df, out, n_chunks=1)
        idxs[fname] = load_index(spark, out)
    idx, tidx = idxs["text"], idxs["title"]
    tt = tidx.termstats.orderBy(F.desc("df"), "term").limit(1).collect()[0][
        "term"
    ]
    xt = [
        r["term"]
        for r in idx.termstats.orderBy(F.desc("df"), "term").limit(2).collect()
        if r["term"] != tt
    ][0]
    big = idx.n_docs
    s_title = {
        r["doc_id"]: r["score"]
        for r in search(tidx, tt, k=big, with_meta=False).collect()
    }
    s_text = {
        r["doc_id"]: r["score"]
        for r in search(idx, xt, k=big, with_meta=False).collect()
    }
    # engine: title:tt scores (required) + xt optional — piece fold is
    # term piece then fielded piece, mirrored here in the same float order
    got = [
        (r["doc_id"], r["score"])
        for r in boolean_search(
            idx, f"title:{tt} {xt}", k=big, with_meta=False,
            field_indexes={"title": tidx},
        ).collect()
    ]
    want = sorted(
        (
            (d, s_text.get(d, 0.0) + s_title[d])
            for d in s_title
        ),
        key=lambda r: (-r[1], r[0]),
    )
    assert got == want
    assert got  # non-vacuous
    # pure fielded query == plain BM25 over the title index
    got1 = [
        (r["doc_id"], r["score"])
        for r in boolean_search(
            idx, f"title:{tt}", k=big, with_meta=False,
            field_indexes={"title": tidx},
        ).collect()
    ]
    assert got1 == sorted(
        ((d, 0.0 + s) for d, s in s_title.items()), key=lambda r: (-r[1], r[0])
    )
    # negative fielded clause excludes docs whose TITLE contains the token
    neg = {
        r["doc_id"]
        for r in boolean_search(
            idx, f"{xt} -title:{tt}", k=big, with_meta=False,
            field_indexes={"title": tidx},
        ).collect()
    }
    assert neg == set(s_text) - set(s_title) and neg
    # OOV fielded value: required piece matches nothing
    assert (
        boolean_search(
            idx, f"title:zzzqqq {xt}", k=5, with_meta=False,
            field_indexes={"title": tidx},
        ).count()
        == 0
    )
    # fq on an indexed field: score-neutral CONTAINMENT restriction —
    # same docs as the scored query, but scores are xt's alone
    fq_rows = {
        r["doc_id"]: r["score"]
        for r in boolean_search(
            idx, xt, k=big, fq=f"title:{tt}", with_meta=False,
            field_indexes={"title": tidx},
        ).collect()
    }
    assert set(fq_rows) == set(s_text) & set(s_title)
    assert all(fq_rows[d] == s_text[d] for d in fq_rows)
    # without field_indexes the old contract stands: unknown docmap field
    with pytest.raises(ValueError, match="unknown field"):
        boolean_search(idx, f"title:{tt}", k=5)


# Settings of the pruned edismax_qf matrix — call keywords, forced
# index.wand caps — with the Spark jobs one two-field call may launch for
# the hot-term and the mid-df query: the counts the test below measures
# (job counts do not depend on the host, so an added driver round-trip
# fails here). DRIVER_CAND_CAP=0 puts every selection over the phase-2
# cap, so those settings are answered by full evaluation.
QF_PRUNED_SETTINGS = {
    "driver": ({}, {}, {"hot": 7, "mid": 8}),
    "tiny_pool": ({"pool_target": 2}, {}, {"hot": 7, "mid": 8}),
    "all_blocks": ({"pool_target": 10**9}, {}, {"hot": 7, "mid": 8}),
    "distributed_selection": (
        {}, {"DRIVER_META_ROW_CAP": 0}, {"hot": 10, "mid": 11},
    ),
    "over_cap": ({}, {"DRIVER_CAND_CAP": 0}, {"hot": 6, "mid": 6}),
    "distributed_over_cap": (
        {}, {"DRIVER_META_ROW_CAP": 0, "DRIVER_CAND_CAP": 0},
        {"hot": 9, "mid": 9},
    ),
}


def test_edismax_qf_pruned_equals_full(spark, tmp_path_factory, forced_run):
    """Round-5: block-max WAND over DisjunctionMax (wand.block_max_topk
    with one block source per qf field). Every branch combination —
    driver/distributed phase 1, a selection over the phase-2 cap (full
    evaluation), tiny pool (the completeness check), all-blocks pool
    (R == 0, certifies the pruned phase 3 itself) — returns EXACTLY the full
    path's (doc_id, score) rows within its Spark job budget: phase 3
    rescoring runs the same _qf_union/_qf_score expressions, so candidate
    scores are bit-identical, and the completeness check makes pruning
    lossless. The hot-term query trips the candidate guard (fallback);
    the mid-df query is answered by the pruning itself. With one field
    (qf text^1, tie 0, mm 0) every setting answers exactly like keyword
    search(mode="pruned"), by the same path."""
    import pyspark.sql.functions as F

    from parser_indexer_py_spark.index.boolean import edismax_qf

    base = generate_transcripts(spark, 60, partitions=3)
    title = F.array_join(F.slice(F.split(F.col("text"), " "), 1, 2), " ")
    idxs = {}
    for fname, df in [
        ("text", base), ("title", base.withColumn("text", title)),
    ]:
        out = str(tmp_path_factory.mktemp(f"qfp_{fname}"))
        build_index(spark, df, out, n_chunks=1)
        idxs[fname] = load_index(spark, out)
    by_df = [
        r["term"]
        for r in idxs["text"].termstats.orderBy(F.desc("df"), "term").collect()
    ]
    queries = {
        "hot": f"{by_df[0]} {by_df[1]}",
        "mid": f"{by_df[len(by_df) // 20]} {by_df[len(by_df) // 20 + 1]}",
    }
    qf = {"text": 0.5, "title": 10.0}
    pruned_paths = set()
    for qname, tie, mm in [
        ("hot", 0.0, 0), ("hot", 0.1, "100%"), ("mid", 0.1, 0),
    ]:
        q = queries[qname]
        full = _rows(
            edismax_qf(
                idxs, q, qf, k=5, tie=tie, mm=mm, mode="full",
                with_meta=False,
            )
        )
        assert full  # non-vacuous
        for name, (kw, caps, budget) in QF_PRUNED_SETTINGS.items():
            n_jobs, got, moved = forced_run(
                lambda: edismax_qf(
                    idxs, q, qf, k=5, tie=tie, mm=mm, mode="pruned",
                    full_cutover=0, with_meta=False, **kw
                ),
                **caps,
            )
            assert got == full, (qname, tie, mm, name)
            assert n_jobs <= budget[qname], (qname, tie, name, n_jobs)
            pruned_paths |= moved & {"pass1", "pass2"}
    # the matrix would pass vacuously if every setting fell back
    assert pruned_paths, "no two-field setting was answered by pruning"
    # keyword search is the one-field case of the same engine
    text = idxs["text"]
    for q in queries.values():
        for name, (kw, caps, _) in QF_PRUNED_SETTINGS.items():
            dismax = forced_run(
                lambda: edismax_qf(
                    {"text": text}, q, {"text": 1.0}, k=5, tie=0.0, mm=0,
                    mode="pruned", full_cutover=0, with_meta=False, **kw
                ),
                **caps,
            )
            keyword = forced_run(
                lambda: search(
                    text, q, k=5, mode="pruned", full_cutover=0,
                    with_meta=False, **kw
                ),
                **caps,
            )
            assert dismax[1:] == keyword[1:], (q, name)
    # auto mode on a tiny corpus rides the cutover to full — same rows
    q = queries["hot"]
    assert _rows(
        edismax_qf(idxs, q, qf, k=5, mode="auto", with_meta=False)
    ) == _rows(edismax_qf(idxs, q, qf, k=5, mode="full", with_meta=False))
    with pytest.raises(ValueError, match="mode"):
        edismax_qf(idxs, q, qf, k=5, mode="bogus")


def test_edismax_default_on_positionless_index(
    spark, tmp_path_factory, qterms
):
    """pf degrades away (like Solr's pf on a positions-less field) instead
    of raising on a default-built positions=False index (round-3 ADVICE):
    default edismax == conjunctive search there."""
    from parser_indexer_py_spark.index.boolean import edismax_search

    out = str(tmp_path_factory.mktemp("np_idx"))
    df = generate_transcripts(spark, 30, partitions=2)
    build_index(spark, df, out, n_chunks=1)  # positions=False default
    idx = load_index(spark, out)
    t1, t2, _ = qterms
    q = f"{t1} {t2}"
    eng = _rows(edismax_search(idx, q, k=10, with_meta=False))
    assert eng == _rows(
        search(idx, q, k=10, conjunctive=True, with_meta=False)
    )


def test_build_fielded_indexes_helper(spark, tmp_path_factory):
    """build_fielded_indexes produces aligned per-field indexes usable by
    edismax_qf directly."""
    import pyspark.sql.functions as F

    from parser_indexer_py_spark.index.boolean import edismax_qf
    from parser_indexer_py_spark.index.build import build_fielded_indexes

    base = generate_transcripts(spark, 30, partitions=2)
    root = str(tmp_path_factory.mktemp("fielded"))
    dirs = build_fielded_indexes(
        spark, base, root,
        {
            "text": "text",
            "title": F.array_join(
                F.slice(F.split(F.col("text"), " "), 1, 2), " "
            ),
        },
        n_chunks=1,
    )
    idxs = {f: load_index(spark, d) for f, d in dirs.items()}
    assert idxs["text"].n_docs == idxs["title"].n_docs
    rows = edismax_qf(
        idxs, "the", {"text": 1.0, "title": 5.0}, k=5, mm=0,
        with_meta=False,
    )
    rows.collect()  # runs end-to-end on the helper's output


def test_boolean_empty_query_with_role_is_filtered_match_all(
    bindex, boracle
):
    """An empty q plus a role param behaves like the filtered match-all
    rewrite (the role/filters params feed allowed_docs) — engine and
    oracle agree (restored in the round-4 oracle refactor)."""
    eng = _rows(
        boolean_search(bindex, "", k=5, role="user", with_meta=False)
    )
    assert eng == boracle.boolean_search("", k=5, role="user")
    assert eng and all(s == 1.0 for _, s in eng)


def test_select_fast_path_equals_match_set_path(bindex, qterms):
    """Round-4: a facet-less relevance-paged select rides boolean_search
    (and WAND delegation under mode='pruned'); rows must equal the
    match-set path bit-for-bit (forced here by requesting a facet)."""
    t1, t2, _ = qterms

    def page_rows(resp):
        return [
            (r["doc_id"], r["score"], r["conv_id"], r["turn_idx"])
            for r in resp.select(
                "doc_id", "score", "conv_id", "turn_idx"
            ).collect()
        ]

    for q in [t1, f"{t1} -{t2}", f"+{t1} {t2}", "*:*"]:
        fast = select(bindex, q=q, rows=5, start=2)["response"]
        slow = select(bindex, q=q, rows=5, start=2, facet_field="role")[
            "response"
        ]
        assert page_rows(fast) == page_rows(slow), q
        pruned = select(bindex, q=q, rows=5, start=2, mode="pruned")[
            "response"
        ]
        assert page_rows(pruned) == page_rows(fast), q
    # empty q still raises loudly on the fast path
    with pytest.raises(ValueError, match="empty query"):
        select(bindex, q="", rows=5)
    # fl + hl compose on the fast path — and the highlighting section
    # still resolves even when fl projects doc_id out of the response
    r = select(bindex, q=t1, rows=3, hl=True, fl=["conv_id", "excerpt"])
    resp = r["response"]
    assert resp.columns == ["conv_id", "excerpt"] and resp.count() == 3
    assert r["highlighting"].count() == 3
    # same composition on the (facet-forced) match-set path
    r = select(
        bindex, q=t1, rows=3, hl=True, fl=["conv_id", "excerpt"],
        facet_field="role",
    )
    assert r["response"].columns == ["conv_id", "excerpt"]
    assert r["highlighting"].count() == 3


def test_flatten_query_units():
    """Round-4b: Lucene-rewrite flattening — simple groups fold into the
    enclosing level; MUST groups leave a must_any containment; conflicts
    and complex groups stay nested."""
    from parser_indexer_py_spark.functions.queryparser import flatten_query

    pq = flatten_query(parse_query("(alpha OR beta) AND gamma"))
    assert not pq.subs
    assert set(pq.should_terms) == {"alpha", "beta"}
    assert pq.must_terms == ("gamma",)
    assert pq.must_any == (("alpha", "beta"),)

    pq = flatten_query(parse_query("-(alpha beta) gamma"))
    assert not pq.subs and set(pq.must_not_terms) == {"alpha", "beta"}

    pq = flatten_query(parse_query("(alpha beta^2)^3 gamma"))
    assert not pq.subs
    assert pq.boost_of("alpha") == 3.0 and pq.boost_of("beta") == 6.0

    # nested simple groups flatten bottom-up
    pq = flatten_query(parse_query("((alpha OR beta) delta) gamma"))
    assert not pq.subs and pq.must_any == ()
    assert set(pq.should_terms) == {"alpha", "beta", "delta", "gamma"}

    # duplicate term -> group kept nested (folding would change scoring)
    pq = flatten_query(parse_query("alpha (alpha beta)"))
    assert len(pq.subs) == 1

    # phrase-bearing group stays nested
    pq = flatten_query(parse_query('("alpha beta" gamma) delta'))
    assert len(pq.subs) == 1


def test_boolean_flattened_groups_delegate(bindex, boracle, qterms):
    """Flattened '(a OR b) AND c' delegates to WAND (forced pruned) and
    stays oracle-identical; conflict shapes stay clausal but equal too."""
    t1, t2, t3 = qterms
    for q in [
        f"({t1} OR {t2}) AND {t3}",
        f"({t1} {t2}) -{t3}",
        f"({t1}^2 {t2})^2 +{t3}",
        f"(({t1} OR {t2})) {t3}",
        f"{t1} ({t1} {t2})",          # conflict: stays nested, still equal
    ]:
        want = boracle.boolean_search(q, k=10)
        assert _rows(
            boolean_search(bindex, q, k=10, with_meta=False)
        ) == want, q
        try:
            pr = _rows(
                boolean_search(
                    bindex, q, k=10, mode="pruned", full_cutover=0,
                    with_meta=False,
                )
            )
        except ValueError:
            continue  # clause-path shape rejects the knob (conflict case)
        assert pr == want, (q, "pruned")


def test_pruned_empty_result_keeps_meta_schema(bindex):
    """Round-4 review: an OOV query through the delegated pruned path
    must return the documented with_meta schema (select's fast path
    projects conv_id from it)."""
    df = boolean_search(bindex, "zzzznotaterm", k=5, mode="pruned")
    assert df.columns == ["doc_id", "score", "conv_id", "turn_idx", "role"]
    assert df.count() == 0
    resp = select(
        bindex, q="zzzznotaterm", rows=5, mode="pruned", fl=["conv_id"]
    )["response"]
    assert resp.columns == ["conv_id"] and resp.count() == 0


def test_pruned_empty_after_filter_keeps_meta_schema(bindex, boracle):
    """Round-4 review (second pass): the pruned path completing with ZERO
    survivors (filters emptied the candidates, R == 0) must still return
    the with_meta schema — not just the OOV early-return."""
    from parser_indexer_py_spark.index.search import search

    # two terms that never co-occur: mm=2 then matches nothing
    terms = sorted(boracle.postings, key=lambda t: len(boracle.postings[t]))
    pair = None
    for i, a in enumerate(terms):
        for b in terms[i + 1:]:
            if not (
                set(boracle.postings[a]) & set(boracle.postings[b])
            ):
                pair = (a, b)
                break
        if pair:
            break
    assert pair, "corpus unexpectedly has no disjoint term pair"
    df = search(
        bindex, f"{pair[0]} {pair[1]}", k=5, mode="pruned",
        full_cutover=0, min_match=2,
    )
    assert df.columns == ["doc_id", "score", "conv_id", "turn_idx", "role"]
    assert df.count() == 0


def test_browse_facade(spark, tmp_path_factory):
    """Round-5: the /browse handler twin (solrconfig.xml:859-925) —
    edismax_qf page + match-set facets + facet.range + spellcheck +
    per-result MLT composed into one response; q.alt=*:* landing state.
    Sections must agree exactly with their standalone components."""
    import pyspark.sql.functions as F

    from parser_indexer_py_spark.index.boolean import edismax_qf
    from parser_indexer_py_spark.index.browse import browse

    base = generate_transcripts(spark, 60, partitions=3)
    title = F.array_join(F.slice(F.split(F.col("text"), " "), 1, 2), " ")
    idxs = {}
    for fname, df in [
        ("text", base), ("title", base.withColumn("text", title)),
    ]:
        out = str(tmp_path_factory.mktemp(f"br_{fname}"))
        build_index(spark, df, out, n_chunks=1)
        idxs[fname] = load_index(spark, out)
    qf = {"text": 0.5, "title": 10.0}
    ts = idxs["text"].termstats.orderBy(F.desc("df"), "term").limit(2)
    t1, t2 = [r["term"] for r in ts.collect()]
    q = f"{t1} {t2}"

    r = browse(
        idxs, q, qf, rows=5, tie=0.1, mm=0,
        facet_field="role", facet_range=("turn_idx", 0, 40, 10),
        spell=True, mlt_docs=1, mlt_count=3,
    )
    # page == standalone edismax_qf top-5
    want_page = [
        (x["doc_id"], x["score"])
        for x in edismax_qf(
            idxs, q, qf, k=5, tie=0.1, mm=0, with_meta=False
        ).collect()
    ]
    got_page = [
        (x["doc_id"], x["score"]) for x in r["response"].collect()
    ]
    assert got_page == want_page and got_page
    # facets: exact counts over the FULL match set
    all_hits = edismax_qf(
        idxs, q, qf, k=10**9, tie=0.1, mm=0, with_meta=True
    ).select("doc_id", "role").toPandas()
    want_counts = all_hits["role"].value_counts().to_dict()
    got_counts = {
        x["role"]: x["n"] for x in r["facets"]["role"].collect()
    }
    assert got_counts == want_counts
    rf = {int(x["lo"]): x["n"] for x in r["range_facets"].collect()}
    assert sum(rf.values()) <= len(all_hits) and rf
    # spellcheck section present (in-vocab hot terms -> no suggestions)
    assert r["spellcheck"] is not None
    # per-result MLT: top doc's neighbors, source excluded
    assert set(r["mlt"]) == {got_page[0][0]}
    mrows = r["mlt"][got_page[0][0]].collect()
    assert len(mrows) <= 3
    assert all(x["doc_id"] != got_page[0][0] for x in mrows)
    # q.alt=*:* landing state: constant-score page + corpus facets
    r0 = browse(idxs, None, qf, rows=3, facet_field="role")
    page0 = r0["response"].collect()
    assert len(page0) == 3 and all(x["score"] == 1.0 for x in page0)
    assert (
        sum(x["n"] for x in r0["facets"]["role"].collect())
        == idxs["text"].n_docs
    )
    assert r0["spellcheck"] is None and r0["mlt"] == {}
    # hl=true (solrconfig.xml:916-928): page gains an excerpt column whose
    # snippet contains a query term; ranking unchanged
    rh = browse(idxs, q, qf, rows=5, tie=0.1, mm=0, hl=True)
    hrows = rh["response"].collect()
    assert [(x["doc_id"], x["score"]) for x in hrows] == want_page
    assert all(
        x["excerpt"] and (t1 in x["excerpt"] or t2 in x["excerpt"])
        for x in hrows
    )
    # the REAL highlighting section rides the /browse defaults
    # (hl.simple.pre=<b>, snippets=3, fragsize=200, alternateField)
    hl_rows = rh["highlighting"].collect()
    assert {x["doc_id"] for x in hl_rows} == {x["doc_id"] for x in hrows}
    assert all(len(x["snippets"]) >= 1 for x in hl_rows)  # alternate=True
    assert any("<b>" in s for x in hl_rows for s in x["snippets"])
    assert browse(idxs, q, qf, rows=5, mm=0)["highlighting"] is None
    with pytest.raises(ValueError, match="unknown facet"):
        browse(idxs, q, qf, facet_field="nope")


def test_select_facet_pivot_two_level(bindex, boracle, qterms):
    import collections

    t1, _, _ = qterms
    piv = select(
        bindex, t1, rows=0, facet_pivot=("role", "tool"), facet_limit=20
    )["pivot_facets"]
    got = [(r["role"], r["n1"], r["tool"], r["n2"]) for r in piv.collect()]
    dm = {
        r["doc_id"]: (r["role"], r["tool"])
        for r in bindex.docmap.select("doc_id", "role", "tool").collect()
    }
    match = list(boracle.postings[t1])
    n2 = collections.Counter(dm[d] for d in match)
    n1 = collections.Counter(dm[d][0] for d in match)
    want = sorted(
        ((r, n1[r], t, c) for (r, t), c in n2.items()),
        key=lambda x: (-x[1], x[0], -x[3], x[2]),
    )
    assert got == want
    # hierarchy invariant: child counts sum to the parent count
    sums = collections.Counter()
    for r, _, _, c in got:
        sums[r] += c
    assert all(sums[r] == n1[r] for r in sums)


def test_select_facet_pivot_limit_per_level(bindex, boracle, qterms):
    t1, _, _ = qterms
    piv = select(
        bindex, t1, rows=0, facet_pivot=("role", "tool"), facet_limit=1
    )["pivot_facets"]
    rows = piv.collect()
    # one parent value survives, with exactly its single top child
    assert len(rows) == 1
    full = select(
        bindex, t1, rows=0, facet_pivot=("role", "tool"), facet_limit=20
    )["pivot_facets"].collect()
    assert (
        rows[0]["role"] == full[0]["role"]
        and rows[0]["tool"] == full[0]["tool"]
    )


def test_select_facet_pivot_contracts(bindex):
    with pytest.raises(ValueError):
        select(bindex, "*:*", facet_pivot=("role",))
    with pytest.raises(ValueError):
        select(bindex, "*:*", facet_pivot=("role", "role"))
    with pytest.raises(ValueError):
        select(bindex, "*:*", facet_pivot=("role", "nope"))


def test_round5c_surfaces_on_segments(spark, tmp_path_factory):
    """Segments parity for the round-5c surfaces: explain(), cursor_page()
    and facet.pivot run over a MergedSegmentsView exactly as over a
    monolithic index (the view implements the Index API they consume)."""
    import collections

    from pyspark.sql import functions as F

    from parser_indexer_py_spark.index.debug import explain
    from parser_indexer_py_spark.streaming.incremental import SegmentedIndex
    from parser_indexer_py_spark.streaming.merged import MergedSegmentsView

    root = str(tmp_path_factory.mktemp("r5cseg"))
    seg = SegmentedIndex(spark, root, positions=False)
    src = generate_transcripts(spark, 40, partitions=2)
    for i in range(2):
        seg.append_batch(
            src.filter(F.pmod(F.crc32(F.col("conv_id")), F.lit(2)) == i), i
        )
    view = MergedSegmentsView(seg)
    o = BM25Oracle.from_pandas(
        view.docmap.select("doc_id", "text", "role").toPandas()
    )
    t1, t2, _ = _pick_terms(o)
    q = f"{t1} {t2}"

    # explain: contribs decoded across segments sum to the search score
    page = dict(o.boolean_search(q, k=5))
    ex = explain(view, q, k=5).toPandas()
    assert set(ex.doc_id) == set(page)
    for d, grp in ex.groupby("doc_id"):
        assert abs(grp.contrib.sum() - page[d]) < 1e-6

    # cursorMark walk over segments == offset pagination over segments
    from parser_indexer_py_spark.index.boolean import cursor_page

    mark, walked = "*", []
    for _ in range(50):
        out = cursor_page(view, q, rows=4, cursor_mark=mark)
        ids = [r.doc_id for r in out["response"].collect()]
        nxt = out["next_cursor_mark"]()
        if not ids:
            assert nxt == mark
            break
        walked += ids
        mark = nxt
        if len(walked) >= 12:  # three pages is enough evidence
            break
    want = [d for d, _ in o.boolean_search(q, k=len(walked))]
    assert walked == want

    # facet.pivot over the cross-segment match set
    piv = select(view, q, rows=0, facet_pivot=("role", "tool"))[
        "pivot_facets"
    ]
    got = [(r["role"], r["n1"], r["tool"], r["n2"]) for r in piv.collect()]
    dm = {
        r["doc_id"]: (r["role"], r["tool"])
        for r in view.docmap.select("doc_id", "role", "tool").collect()
    }
    match = [d for d, _ in o.boolean_search(q, k=10**6)]
    n2 = collections.Counter(dm[d] for d in match)
    n1 = collections.Counter(dm[d][0] for d in match)
    want_piv = sorted(
        ((r, n1[r], t, c) for (r, t), c in n2.items()),
        key=lambda x: (-x[1], x[0], -x[3], x[2]),
    )
    assert got == want_piv


def test_select_facet_query(bindex, boracle, qterms):
    t1, t2, t3 = qterms
    qf = select(
        bindex, t1, rows=0, facet_query=[t2, f"+{t2} +{t3}", "role:user"]
    )["query_facets"]
    got = {r["facet_query"]: r["n"] for r in qf.collect()}
    base = set(boracle.postings[t1])
    want = {
        t2: len(base & set(boracle.postings[t2])),
        f"+{t2} +{t3}": len(
            base & set(boracle.postings[t2]) & set(boracle.postings[t3])
        ),
        "role:user": len(
            {d for d in base if boracle.roles[d] == "user"}
        ),
    }
    assert got == want


def test_select_facet_query_ranges(bindex, boracle, qterms):
    """The solrconfig.xml:824-825 facet.query shapes — range sub-queries
    (open * endpoints, exclusive brackets) through select(): counts of
    the base match set intersected with the range's docmap slice."""
    t1, _, _ = qterms
    fqs = ["turn_idx:[* TO 5]", "turn_idx:[6 TO *]", "turn_idx:{5 TO 10}"]
    qf = select(bindex, t1, rows=0, facet_query=fqs)["query_facets"]
    got = {r["facet_query"]: r["n"] for r in qf.collect()}
    tix = {
        r["doc_id"]: r["turn_idx"]
        for r in bindex.docmap.select("doc_id", "turn_idx").collect()
    }
    base = set(boracle.postings[t1])
    want = {
        fqs[0]: sum(1 for d in base if tix[d] <= 5),
        fqs[1]: sum(1 for d in base if tix[d] >= 6),
        fqs[2]: sum(1 for d in base if 5 < tix[d] < 10),
    }
    assert got == want and sum(want.values()) > 0


def test_select_facet_query_contracts(bindex):
    with pytest.raises(ValueError):
        select(bindex, "*:*", facet_query="not a list")
    with pytest.raises(ValueError):
        select(bindex, "*:*", facet_query=[""])


def test_select_highlighting_section(bindex, qterms):
    """hl=True adds the REAL HighlightComponent section: per-page-doc
    tagged snippets, exact-equal to the pure-Python twin on the stored
    text; fast path and match-set path agree."""
    from pyspark.sql import functions as F

    from parser_indexer_py_spark.index.highlight import highlight_text

    t1, t2, _ = qterms
    out = select(
        bindex, q=f"{t1} {t2}", rows=5, hl=True, hl_fragsize=40,
        hl_snippets=2,
    )
    page_ids = [r["doc_id"] for r in out["response"].collect()]
    hl_rows = {
        r["doc_id"]: list(r["snippets"])
        for r in out["highlighting"].collect()
    }
    assert set(hl_rows) == set(page_ids)
    texts = {
        r["doc_id"]: r["text"]
        for r in bindex.docmap.filter(F.col("doc_id").isin(page_ids))
        .select("doc_id", "text")
        .collect()
    }
    for did, snips in hl_rows.items():
        want = highlight_text(
            texts[did], sorted({t1, t2}), fragsize=40, snippets=2
        )
        assert snips == want, did
    assert any("<em>" in s for snips in hl_rows.values() for s in snips)
    # match-set path (forced by a facet) produces the identical section
    out2 = select(
        bindex, q=f"{t1} {t2}", rows=5, hl=True, hl_fragsize=40,
        hl_snippets=2, facet_field="role",
    )
    hl2 = {
        r["doc_id"]: list(r["snippets"])
        for r in out2["highlighting"].collect()
    }
    assert hl2 == hl_rows
    # hl=False: no section
    assert select(bindex, q=t1, rows=3)["highlighting"] is None


def test_facet_sort_index_and_ngroups(bindex):
    """Round-5d completeness: facet.sort=index (value order) and
    group.ngroups (distinct matching groups, NULL counts as one)."""
    r_count = select(bindex, q="bace", rows=0, facet_field="role")
    r_index = select(
        bindex, q="bace", rows=0, facet_field="role", facet_sort="index"
    )
    by_count = [(x["role"], x["n"]) for x in r_count["facets"].collect()]
    by_index = [(x["role"], x["n"]) for x in r_index["facets"].collect()]
    assert sorted(by_count) == by_index  # same buckets, value order
    assert by_count == sorted(by_count, key=lambda t: (-t[1], t[0]))
    with pytest.raises(ValueError, match="facet_sort"):
        select(bindex, q="bace", rows=0, facet_field="role",
               facet_sort="alpha")
    r = select(
        bindex, q="bace", rows=0, group_field="role", group_ngroups=True
    )
    n = r["ngroups"].collect()[0]["ngroups"]
    distinct = (
        boolean_search(bindex, "bace", k=10_000_000, with_meta=True)
        .select("role").distinct().count()
    )
    assert n == distinct
    # ngroups stays None when not requested (and on the fast path)
    assert select(bindex, q="bace", rows=5)["ngroups"] is None


def test_group_sort_and_offset(bindex, boracle, qterms):
    """round-5f Solr group.sort + group.offset: within-group ordering by
    the group's own sort string, offset skipping the first N per group,
    rank_in_group = 1-based position under that ordering."""
    t1, _, _ = qterms
    out = select(
        bindex, t1, rows=0, group_field="role", group_limit=2,
        group_sort="turn_idx asc", group_offset=1,
    )["groups"].collect()
    got = [
        (r["role"], r["rank_in_group"], r["doc_id"]) for r in out
    ]

    meta = {
        r["doc_id"]: (r["role"], r["turn_idx"])
        for r in bindex.docmap.select(
            "doc_id", "role", "turn_idx"
        ).collect()
    }
    per_role: dict = {}
    for d in boracle.postings[t1]:
        role, tix = meta[d]
        per_role.setdefault(role, []).append((tix, d))
    want = []
    for role in sorted(per_role):
        ranked = sorted(per_role[role])
        want += [
            (role, i + 1, d)
            for i, (_, d) in enumerate(ranked)
            if 1 <= i < 3  # offset 1, limit 2 -> ranks 2..3
        ]
    assert got == want and got
    # offset past the group's size yields nothing for that group;
    # contracts stay loud
    deep = select(
        bindex, t1, rows=0, group_field="role", group_limit=2,
        group_offset=10**6,
    )["groups"].collect()
    assert deep == []
    with pytest.raises(ValueError, match="group_offset"):
        select(bindex, t1, rows=0, group_field="role", group_offset=-1)
    with pytest.raises(ValueError, match="not sortable|unknown"):
        select(bindex, t1, rows=0, group_field="role",
               group_sort="nope asc")["groups"].collect()


def test_funcquery_parser_unit(spark):
    """functions/funcquery.py: expression values vs NumPy-free Python
    math on a literal row; loud errors on the unsupported tail."""
    import math

    from parser_indexer_py_spark.functions.funcquery import (
        parse_func_query,
    )

    df = spark.createDataFrame([(7, 3.0)], "a long, b double")
    cases = [
        ("sum(a,1)", 8.0),
        ("log(sum(a,3))", 1.0),
        ("ln(b)", math.log(3.0)),
        ("sqrt(sum(a,2))", 3.0),
        ("recip(a,1,2,3)", 2.0 / 10.0),
        ("linear(b,2,0.5)", 6.5),
        ("div(product(a,b),sub(a,b))", 21.0 / 4.0),
        ("max(a,b,10)", 10.0),
        ("abs(sub(b,a))", 4.0),
        ("pow(b,2)", 9.0),
        ("0.25", 0.25),
    ]
    for expr, want in cases:
        col, _ = parse_func_query(expr, {"a", "b"})
        got = df.select(col.alias("v")).first()["v"]
        assert got == pytest.approx(want, abs=1e-12), expr
    assert parse_func_query("sum(a,b,1)", {"a", "b"})[1] == ["a", "b"]
    # ms(): the canonical recency-boost date function
    from datetime import datetime, timezone

    NOW = datetime(2026, 1, 2, tzinfo=timezone.utc)
    df2 = spark.createDataFrame(
        [(datetime(2026, 1, 1),)], "ts timestamp"
    )
    col, flds = parse_func_query("ms(NOW,ts)", {"ts"}, now=NOW)
    assert flds == ["ts"]
    assert df2.select(col.alias("v")).first()["v"] == 86400000.0
    col, _ = parse_func_query(
        "recip(ms(NOW/DAY,ts),1,86400000,86400000)", {"ts"}, now=NOW
    )
    assert df2.select(col.alias("v")).first()["v"] == pytest.approx(0.5)
    col, _ = parse_func_query(
        "ms(2026-01-02T00:00:00Z,2026-01-01T00:00:00Z)", {"ts"}, now=NOW
    )
    assert df2.select(col.alias("v")).first()["v"] == 86400000.0
    for bad in ("nope(a)", "c", "sum(a)", "recip(a,1,2)", "sum(a,1))x",
                "ord(a)", "ms()", "ms(nope)"):
        with pytest.raises(ValueError):
            parse_func_query(bad, {"a", "b"})


def test_boost_funcs_and_queries(bindex, boracle, qterms):
    """edismax bf/bq through boolean_search: score == base + bf(fields)
    (+ bq score for docs matching the bq), rank reordered accordingly;
    the pure-Python recomputation is the oracle."""
    import math

    t1, t2, _ = qterms
    base = dict(boracle.search(t1, k=10**9))
    tix = {
        r["doc_id"]: r["turn_idx"]
        for r in bindex.docmap.select("doc_id", "turn_idx").collect()
    }
    got = _rows(
        boolean_search(
            bindex, t1, k=20, with_meta=False,
            boost_funcs="log(sum(turn_idx,1))",
        )
    )
    want = sorted(
        (
            (d, s + math.log10(tix[d] + 1))
            for d, s in base.items()
        ),
        key=lambda x: (-x[1], x[0]),
    )[:20]
    assert [(d, pytest.approx(s, abs=1e-9)) for d, s in want] == got

    # boolean_search parses the boost syntax; plain .search would
    # ANALYZE the caret into garbage tokens
    bq_scores = dict(boracle.boolean_search(f"{t2}^2", k=10**9))
    got2 = _rows(
        boolean_search(
            bindex, t1, k=20, with_meta=False, boost_queries=f"{t2}^2",
        )
    )
    want2 = sorted(
        ((d, s + bq_scores.get(d, 0.0)) for d, s in base.items()),
        key=lambda x: (-x[1], x[0]),
    )[:20]
    assert [(d, pytest.approx(s, abs=1e-9)) for d, s in want2] == got2
    # multiplicative recency boost (Solr's canonical boost= shape) at a
    # fixed NOW — engine == driver-side recomputation over collected ts
    from datetime import datetime, timezone

    NOW = datetime(2026, 1, 1, tzinfo=timezone.utc)
    ts = {
        r["doc_id"]: r["ts"].replace(tzinfo=timezone.utc)
        for r in bindex.docmap.select("doc_id", "ts").collect()
    }
    got3 = _rows(
        boolean_search(
            bindex, t1, k=20, with_meta=False, now=NOW,
            multiplicative_boost="recip(ms(NOW,ts),1,86400000,86400000)",
        )
    )

    def rb(d):
        msdiff = (NOW - ts[d]).total_seconds() * 1000.0
        return 86400000.0 / (1.0 * msdiff + 86400000.0)

    want3 = sorted(
        ((d, s * rb(d)) for d, s in base.items()),
        key=lambda x: (-x[1], x[0]),
    )[:20]
    assert [(d, pytest.approx(s, rel=1e-9)) for d, s in want3] == got3

    # the pruned knobs stay loud on the forced-full path
    with pytest.raises(ValueError, match="full_cutover"):
        boolean_search(
            bindex, t1, k=5, boost_funcs="log(sum(turn_idx,1))",
            full_cutover=0,
        )


def test_select_boost_params(bindex, qterms):
    """select(bf=/bq=/boost=): the facade's page equals boolean_search
    with the same boosts, on both the page-only shape (which must SKIP
    the fast path when boosted) and with a facet section attached."""
    t1, t2, _ = qterms
    kw = dict(bf="log(sum(turn_idx,1))", bq=f"{t2}^2")
    direct = _rows(
        boolean_search(
            bindex, t1, k=5, with_meta=False,
            boost_funcs=kw["bf"], boost_queries=kw["bq"],
        )
    )
    page = select(bindex, t1, rows=5, **kw)["response"]
    assert [(r["doc_id"], r["score"]) for r in page.collect()] == direct
    out = select(bindex, t1, rows=5, facet_field="role", **kw)
    assert [
        (r["doc_id"], r["score"]) for r in out["response"].collect()
    ] == direct
    assert out["facets"].count() > 0


def test_select_sort_by_function(bindex):
    """Solr sort-by-function: sort="recip(ms(NOW,ts),1,1,1) desc" orders
    most-recent-first at the fixed NOW (== plain ts desc on this corpus,
    since recip is monotone-decreasing in age), and function sorts
    compose with a field clause after a top-level comma."""
    from datetime import datetime, timezone

    NOW = datetime(2026, 1, 1, tzinfo=timezone.utc)
    a = select(
        bindex, "*:*", rows=8,
        sort="recip(ms(NOW,ts),1,1,1) desc", now=NOW,
    )["response"].collect()
    b = select(bindex, "*:*", rows=8, sort="ts desc")["response"].collect()
    assert [r["doc_id"] for r in a] == [r["doc_id"] for r in b]
    c = select(
        bindex, "*:*", rows=8,
        sort="role asc, recip(ms(NOW,ts),1,1,1) desc", now=NOW,
    )["response"].collect()
    assert len(c) == 8 and c[0]["role"] <= c[-1]["role"]
    with pytest.raises(ValueError, match="sort clause|unknown"):
        select(bindex, "*:*", rows=2, sort="recip(ms(NOW,ts),1,1,1)")


def test_fl_star_glob(bindex, qterms):
    """fl=*,score — the /browse handler's own fl (solrconfig.xml:878):
    '*' expands to the response columns, deduped, order stable."""
    t1, _, _ = qterms
    out = select(bindex, t1, rows=3, fl=["*", "score"])["response"]
    assert out.columns == ["doc_id", "score", "conv_id", "turn_idx",
                           "role"]
    out2 = select(bindex, t1, rows=3, fl=["score", "*"])["response"]
    assert out2.columns[0] == "score"
    with pytest.raises(ValueError, match="fl column"):
        select(bindex, t1, rows=3, fl=["nope"])["response"].collect()


def test_facet_field_repeated(bindex, boracle, qterms):
    """Repeated facet.field params (Solr allows any number): a list
    returns the facet_fields MAP shape {field: DataFrame}, each entry
    identical to the single-field call."""
    t1, _, _ = qterms
    multi = select(
        bindex, t1, rows=0, facet_field=["role", "turn_idx"],
        facet_limit=5,
    )["facets"]
    assert set(multi) == {"role", "turn_idx"}
    for ff in ("role", "turn_idx"):
        single = select(
            bindex, t1, rows=0, facet_field=ff, facet_limit=5
        )["facets"].collect()
        assert multi[ff].collect() == single
    with pytest.raises(ValueError, match="unknown facet field"):
        select(bindex, t1, rows=0, facet_field=["role", "nope"])
